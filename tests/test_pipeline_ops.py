"""Dedup / similarity / text / multimodal operators, each against an exact
or deterministic oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kwage_spark.operators.dedup import (
    embedding_near_duplicates, minhash_lsh_pairs, minhash_signatures,
    simhash_near_duplicates, simhash_signatures)
from kwage_spark.operators.multimodal import (
    decode_and_featurize, frame_sample, make_media_table)
from kwage_spark.operators.similarity import (build_vector_index,
                                              cosine_topk, vector_topk)
from kwage_spark.operators.text import (
    language_id, quality_scores, token_count_bpe, winnowing_fingerprints)


@pytest.fixture(scope="module")
def docs(spark):
    """Docs with planted near-duplicates: pairs (i, i+100) share ~90% text."""
    rng = np.random.default_rng(3)
    vocab = [f"tok{j}" for j in range(300)]
    rows = []
    for i in range(40):
        toks = list(rng.choice(vocab, size=120))
        rows.append((i, " ".join(toks)))
        dup = toks.copy()
        for _ in range(8):                      # ~7% token edits
            dup[int(rng.integers(0, len(dup)))] = str(rng.choice(vocab))
        rows.append((i + 100, " ".join(dup)))
        rows.append((i + 200, " ".join(rng.choice(vocab, size=120))))  # unrelated
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    """Embeddings with planted near-dups: (i, i+500) differ by tiny noise."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        v = rng.standard_normal(32)
        v /= np.linalg.norm(v)
        rows.append((i, v.astype(np.float32).tolist(), i % 4))
        w = v + rng.standard_normal(32) * 0.02
        w /= np.linalg.norm(w)
        rows.append((i + 500, w.astype(np.float32).tolist(), i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


# ------------------------------------------------------------------ minhash
def _exact_jaccard(a: str, b: str, k: int = 5) -> float:
    sa = {a[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b[i:i + k] for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def test_minhash_signature_estimates_jaccard(spark, docs):
    pdf = docs.filter(F.col("doc_id").isin(0, 100, 200)).toPandas().set_index("doc_id")
    sigs = minhash_signatures(docs.filter(F.col("doc_id").isin(0, 100, 200)),
                              "doc_id", "text", k=5, num_perm=128).toPandas()
    sigs = sigs.set_index("doc_id")["sig"]
    est = np.mean(np.asarray(sigs[0]) == np.asarray(sigs[100]))
    true = _exact_jaccard(pdf.loc[0, "text"], pdf.loc[100, "text"])
    assert abs(est - true) <= 0.15          # 128 perms => sigma ~ 0.044
    est_far = np.mean(np.asarray(sigs[0]) == np.asarray(sigs[200]))
    true_far = _exact_jaccard(pdf.loc[0, "text"], pdf.loc[200, "text"])
    assert abs(est_far - true_far) <= 0.15


def test_minhash_lsh_finds_planted_dups(spark, docs):
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=5, num_perm=64,
                              bands=16, threshold=0.5).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    planted = {(i, i + 100) for i in range(40)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}"
    # precision: unrelated docs (id >= 200) should not pair with anything
    fp = [p for p in found if p[0] >= 200 or p[1] >= 200]
    assert not fp, fp


# ------------------------------------------------------------------ simhash
def test_simhash_matches_scalar_reference(spark):
    """Operator output == an independent scalar recomputation (per-token
    exact-length 64-bit murmur, weighted ±1 bit sums) — pins the batched
    kernel's semantics."""
    from kwage_spark.kernels.murmur3 import murmur3_32
    from kwage_spark.operators.dedup import SIMHASH_SEED

    text = "the quick brown fox jumps over the lazy dog the end"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = simhash_signatures(df, "doc_id", "text").collect()[0]["simhash"]

    from collections import Counter
    counts = Counter(text.split())
    sums = [0] * 64
    for tok, w in counts.items():
        b = tok.encode()
        h = (murmur3_32(b, SIMHASH_SEED) << 32) | murmur3_32(b, SIMHASH_SEED + 1)
        for i in range(64):
            sums[i] += w if (h >> i) & 1 else -w
    expect = sum(1 << i for i in range(64) if sums[i] > 0)
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert got == expect


def test_simhash_token_hash_is_document_independent(spark):
    """A token's hash must not depend on the document's longest token:
    doc B = doc A + one long token should sit at SMALL hamming distance
    (the old per-doc padding sent this pair to ~random distance)."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " supercalifragilisticexpialidocious"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_signatures(df, "doc_id", "text").collect()}
    ham = bin((sigs[1] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 12, f"shared tokens contributed differently (hamming {ham})"


def test_signatures_skip_a_null_text(spark):
    """A null text is an empty one: SimHash and MinHash both return a row
    for the non-null document only, and the same signature as without
    the null row."""
    rows = [(1, "alpha beta gamma delta epsilon"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    alone = spark.createDataFrame(rows[:1], "doc_id long, text string")
    for sign in (simhash_signatures, minhash_signatures):
        got = sign(df, "doc_id", "text").collect()
        assert [r["doc_id"] for r in got] == [1], sign.__name__
        assert got == sign(alone, "doc_id", "text").collect(), sign.__name__


def test_simhash_partitioning_invariant(spark, docs):
    """Signatures are a pure per-document function — identical across
    Arrow batch boundaries / partitionings."""
    one = {(r["doc_id"], r["simhash"]) for r in
           simhash_signatures(docs.coalesce(1), "doc_id", "text").collect()}
    many = {(r["doc_id"], r["simhash"]) for r in
            simhash_signatures(docs.repartition(13), "doc_id", "text").collect()}
    assert one == many


def test_simhash_near_duplicates(spark, docs):
    sigs = simhash_signatures(docs, "doc_id", "text").toPandas()
    assert sigs.doc_id.nunique() == docs.count()
    pairs = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=10).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    planted = {(i, i + 100) for i in range(40)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.7, f"recall {recall}"
    fp = [p for p in found if p not in planted]
    assert len(fp) <= 2, fp                 # unrelated docs stay far in hamming


# ------------------------------------------------------------- embeddings
def test_embedding_near_duplicates(spark, vectors):
    pairs = embedding_near_duplicates(vectors, threshold=0.98).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    planted = {(i, i + 500) for i in range(60)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.6, f"recall {recall}"  # single-probe LSH recall
    assert (pairs.cosine >= 0.98).all()


def test_cosine_rejects_ragged_vectors(spark):
    """Dims 4 and 8 in separate partitions: each task's bucket UDF sees one
    dim, and with one plane v and -v fall on opposite sides, so each bucket
    pairs a dim-4 with a dim-8 vector. The cosine raises, naming both
    lengths, and so does a brute-force query of the wrong length."""
    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [-1.0, -2.0, -3.0, -4.0]),
            (2, [1.0] * 8), (3, [-1.0] * 8)]
    rag = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dim (4 and 8|8 and 4)"):
        embedding_near_duplicates(rag, threshold=0.0, n_planes=1).collect()
    with pytest.raises(Exception, match="dim 4 and 3"):
        cosine_topk(rag.filter(F.col("vec_id") < 2), [1.0, 0.0, 0.0]).collect()


def test_cosine_topk_and_ann_agree(spark, vectors, tmp_path):
    qv = vectors.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = cosine_topk(vectors.filter(F.col("vec_id") != 0), qv, k=5).toPandas()
    # its planted twin must be rank 1 with cosine ~1
    assert exact.vec_id.iloc[0] == 500
    assert exact.cosine.iloc[0] > 0.99
    path = str(tmp_path / "lsh")
    build_vector_index(vectors.filter(F.col("vec_id") != 0), path)
    approx = vector_topk(spark, path, qv, k=5).toPandas()
    assert approx.vec_id.iloc[0] == 500     # multi-probe must find the twin
    # every ANN result's cosine matches brute-force scoring (same math)
    ref = dict(zip(exact.vec_id, exact.cosine))
    for r in approx.itertuples():
        if r.vec_id in ref:
            assert abs(r.cosine - ref[r.vec_id]) < 1e-9


# ------------------------------------------------------------------ text
def test_token_count_bpe_matches_python(spark, docs):
    import re
    got = token_count_bpe(docs, "doc_id", "text").toPandas().set_index("doc_id")
    pdf = docs.toPandas().set_index("doc_id")
    for did in list(pdf.index)[:10]:
        toks = re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", pdf.loc[did, "text"])
        assert got.loc[did, "n_bpe_tokens"] == len(toks)


def test_quality_scores_shape_and_ranges(spark, docs):
    q = quality_scores(docs, "doc_id", "text").toPandas()
    assert (q.n_chars > 0).all()
    for c in ("punct_ratio", "digit_ratio", "stopword_ratio", "uniq_token_ratio"):
        assert q[c].between(0, 1).all(), c


def test_language_id_heuristic(spark):
    rows = [(0, "the cat sat on the mat and it is warm in the sun"),
            (1, "der hund und die katze das ist nicht ein problem zu haben"),
            (2, "le chat est dans la maison et les oiseaux que nous aimons"),
            (3, "el perro y el gato es una casa en que vivimos"),
            (4, "这 是 中文 文本 的 一个 例子 它 应该 被 识别 出来")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = language_id(df, "doc_id", "text").toPandas().set_index("doc_id")
    assert got.loc[0, "pred_lang"] == "en"
    assert got.loc[1, "pred_lang"] == "de"
    assert got.loc[2, "pred_lang"] == "fr"
    assert got.loc[3, "pred_lang"] == "es"
    assert got.loc[4, "pred_lang"] == "zh"


def test_winnowing_fingerprints_overlap_for_dups(spark, docs):
    sub = docs.filter(F.col("doc_id").isin(0, 100, 200))
    fp = winnowing_fingerprints(sub, "doc_id", "text").toPandas().set_index("doc_id")
    f0, f100, f200 = (set(fp.loc[i, "fingerprints"]) for i in (0, 100, 200))
    sim_dup = len(f0 & f100) / len(f0 | f100)
    sim_far = len(f0 & f200) / len(f0 | f200)
    assert sim_dup > 0.5 > sim_far
    assert sim_far < 0.2


# ------------------------------------------------------------- multimodal
def test_multimodal_stub_raises_without_fake(spark):
    media = make_media_table(spark, 6)
    with pytest.raises(Exception, match="NotImplementedError|decode requires"):
        decode_and_featurize(media).collect()


def test_multimodal_fake_decode_plumbing(spark):
    media = make_media_table(spark, 12)
    feats = decode_and_featurize(media, fake=True).toPandas()
    assert len(feats) == 12
    assert feats.features.map(len).eq(16).all()
    assert feats.width.gt(0).all()
    # determinism: same payload -> same features
    again = decode_and_featurize(media, fake=True).toPandas()
    a = feats.sort_values("media_id").features.map(tuple).tolist()
    b = again.sort_values("media_id").features.map(tuple).tolist()
    assert a == b


def test_multimodal_frame_sample(spark):
    media = make_media_table(spark, 9)
    frames = frame_sample(media, every_n_bytes=64, fake=True).toPandas()
    n_videos = media.filter(F.col("modality") == "video").count()
    assert frames.media_id.nunique() == n_videos
    assert (frames.groupby("media_id").frame_idx.max() >= 1).all()


def test_connected_components_known_graph(spark):
    """Chains, a triangle, an isolated edge — labels are each
    component's min id; singleton-free output (only vertices with
    edges)."""
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import (connected_components,
                                                  dedup_representatives)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21),                      # lone edge
         (7, 5), (5, 6)],               # chain given out of order
        "src long, dst long")
    comp = {r["v"]: r["comp"]
            for r in connected_components(edges).collect()}
    release_caches()
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20,
                    5: 5, 6: 5, 7: 5}
    keep = {r["doc_id"]: r["keep"]
            for r in dedup_representatives(
                edges, id_a="src", id_b="dst").collect()}
    release_caches()
    assert keep[4] == 1 and keep[12] == 10 and keep[21] == 20


def test_connected_components_long_path_converges(spark):
    """A 40-vertex path exercises many propagation rounds (diameter-
    bound convergence, not a fixed small iteration count)."""
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "src long, dst long")
    comp = {r["v"]: r["comp"]
            for r in connected_components(edges, max_iter=64).collect()}
    release_caches()
    assert set(comp.values()) == {100}
    assert len(comp) == 41


def test_quantize_roundtrip_error_and_topk(spark):
    """int8 quantization: per-component reconstruction error <= scale/2
    (+ float32 eps), qvals within int8 range, and cosine top-10 over the
    DEQUANTIZED store still finds the exact top-10 almost entirely."""
    from kwage_spark.operators.similarity import (cosine_topk,
                                                  dequantize_embeddings,
                                                  quantize_embeddings)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings(emb)
    deq = dequantize_embeddings(q)
    joined = (emb.alias("a").join(deq.alias("b"), "vec_id")
              .join(q.select("vec_id", "scale"), "vec_id"))
    err = joined.select(
        "vec_id", "scale",
        F.expr("array_max(zip_with(a.embedding, b.embedding,"
               " (x, y) -> abs(cast(x as double) - cast(y as double))))")
        .alias("max_err"))
    bad = err.filter(F.col("max_err") > F.col("scale") * 0.5 + 1e-6).count()
    assert bad == 0
    qr = q.select(F.expr("array_min(qvec)").alias("lo"),
                  F.expr("array_max(qvec)").alias("hi")).agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
    assert -127 <= qr["lo"] and qr["hi"] <= 127
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()}
    approx = {r["vec_id"] for r in cosine_topk(deq, qv, k=10).collect()}
    assert len(exact & approx) >= 9


def test_quantize_edge_battery(spark):
    """Edge vectors: all-zero (scale 0 -> zero qvec, no div-by-zero),
    constant, negative, tiny and large magnitudes — qvals stay in
    [-127, 127] and reconstruction error <= scale/2 everywhere."""
    from kwage_spark.operators.similarity import quantize_embeddings
    vecs = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [5.0, 5.0, 5.0, 5.0]),
        (2, [-1.0, 1.0, -0.5, 0.25]),
        (3, [1e-6, -1e-6, 5e-7, 0.0]),
        (4, [3.4e38, -3.4e38, 1.0, 0.0]),
        (5, [-127.0, 127.0, 63.5, -63.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[0]["scale"] == 0.0 and rows[0]["qvec"] == [0, 0, 0, 0]
    for vid, vec in vecs:
        r = rows[vid]
        assert all(-127 <= q <= 127 for q in r["qvec"]), (vid, r["qvec"])
        for x, q in zip(vec, r["qvec"]):
            assert abs(float(np.float32(x)) - q * r["scale"]) \
                <= r["scale"] / 2 + 1e-9 * abs(x), (vid, x, q)
    assert rows[1]["qvec"] == [127, 127, 127, 127]
    assert rows[5]["qvec"][:2] == [-127, 127]


@pytest.mark.parametrize("assign", ["lsh", "ivf"])
def test_vector_index_rejects_empty_input(spark, tmp_path, assign):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="cannot index an empty table"):
        build_vector_index(empty, str(tmp_path / "idx"), assign=assign)


def test_vector_index_rejects_ragged_column(spark, tmp_path):
    """One dim per partition: each task sees one dim, so only the build's
    observed min/max length can tell, and no sidecar is written."""
    from kwage_spark.operators.similarity import SIDECAR
    rag = spark.createDataFrame(
        [(i, [1.0 + i] * (4 if i < 50 else 8)) for i in range(100)],
        "vec_id long, embedding array<float>").repartitionByRange(2, "vec_id")
    path = tmp_path / "rag"
    with pytest.raises(ValueError, match="dim 4 and 8"):
        build_vector_index(rag, str(path), n_planes=4)
    assert not (path / SIDECAR).exists()


def test_ivf_index_rejects_ragged_column(spark, tmp_path):
    """The IVF build's k-means sees one dim per partition too: each batch's
    dim is checked against the centroids' before the matmul, and the
    driver raises naming both dims, with no sidecar written."""
    from kwage_spark.operators.similarity import SIDECAR
    rag = spark.createDataFrame(
        [(i, [1.0 + i] * (4 if i < 50 else 8)) for i in range(100)],
        "vec_id long, embedding array<float>").repartitionByRange(2, "vec_id")
    path = tmp_path / "rag"
    with pytest.raises(ValueError, match="dim 4 and 8"):
        build_vector_index(rag, str(path), assign="ivf", k=4)
    assert not (path / SIDECAR).exists()


def test_vector_topk_rejects_mismatched_query_and_sidecar(spark, tmp_path):
    from kwage_spark.operators.similarity import SIDECAR
    emb = spark.createDataFrame([(i, [float(i), 1.0, 0.5]) for i in range(8)],
                                "vec_id long, embedding array<float>")
    path = str(tmp_path / "idx")
    build_vector_index(emb, path, n_planes=4)
    with pytest.raises(ValueError, match=r"dim 2\b.*dim 3"):
        vector_topk(spark, path, [1.0, 0.0])
    # the probe takes its params from the sidecar; nprobe is IVF-only
    with pytest.raises(ValueError, match="nprobe"):
        vector_topk(spark, path, [1.0, 0.0, 0.0], nprobe=2)
    top = vector_topk(spark, path, [7.0, 1.0, 0.5], k=1).first()
    assert top["vec_id"] == 7
    (tmp_path / "bare").mkdir()
    with pytest.raises(ValueError, match="sidecar"):
        vector_topk(spark, str(tmp_path / "bare"), [1.0, 0.0, 0.0])
    (tmp_path / "blank").mkdir()
    (tmp_path / "blank" / SIDECAR).write_text("{}")
    with pytest.raises(ValueError, match="sidecar"):
        vector_topk(spark, str(tmp_path / "blank"), [1.0, 0.0, 0.0])


def test_ivf_guards_empty_sidecar_and_small_table(spark, tmp_path):
    """An empty/missing centroid sidecar raises a clear error (not
    IndexError), and a table smaller than k clamps the quantizer so the
    sidecar records the EFFECTIVE k — nprobe >= k_eff still degenerates
    to brute force as documented."""
    import pytest as _pt

    import json

    from kwage_spark.operators.similarity import SIDECAR
    (tmp_path / "ivf0").mkdir()
    (tmp_path / "ivf0" / SIDECAR).write_text("")
    with _pt.raises(ValueError, match="sidecar"):
        vector_topk(spark, str(tmp_path / "ivf0"), [0.0, 1.0], k=3)

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_small")
    cents = np.asarray(build_vector_index(emb, path, assign="ivf", k=16,
                                          iters=2)["centroids"])
    assert cents.shape[0] == 5  # clamped to the table size
    with open(f"{path}/{SIDECAR}") as f:
        assert len(json.load(f)["centroids"]) == 5
    res = vector_topk(spark, path, [4.0, 1.0], k=3, nprobe=5).collect()
    assert res[0]["vec_id"] == 4  # exact answer at nprobe >= k_eff


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The reliable-checkpoint path (setCheckpointDir + checkpoint()
    per round — survives executor loss on a real cluster, unlike
    localCheckpoint's executor-resident blocks) yields the identical
    labeling and actually writes checkpoint data."""
    import os

    from kwage_spark.operators.components import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long")
    ckpt_dir = str(tmp_path / "ckpt")
    comp = {r["v"]: r["comp"]
            for r in connected_components(
                edges, reliable_checkpoint_dir=ckpt_dir).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # reliable checkpoints were actually written through the dir
    found = [os.path.join(dp, f) for dp, _dn, fn in os.walk(ckpt_dir)
             for f in fn]
    assert found, "no reliable checkpoint files written"


def test_ivf_index_recall_and_pruning(spark, tmp_path):
    """IVF with learned centroids: k-means is deterministic, the probe
    scan is partition-pruned, recall@10 beats the nprobe/k floor and
    hits 1.0 at nprobe=k (brute-force equivalence)."""
    from kwage_spark.plans.inspect import partition_filters
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    path = str(tmp_path / "ivf")
    c1 = build_vector_index(emb, path, assign="ivf", k=8, iters=4)
    c2 = build_vector_index(emb, str(tmp_path / "ivf2"), assign="ivf", k=8,
                            iters=4)
    assert c1["centroids"] == c2["centroids"], "k-means must be deterministic"

    res = vector_topk(spark, path, qv, k=10, nprobe=2)
    pf = partition_filters(res)
    assert "centroid" in pf, f"probe scan not partition-pruned:\n{pf}"
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    got = [r["vec_id"] for r in res.collect()]
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.5, f"nprobe=2 recall {recall}"
    # nprobe = k degenerates to exact brute force
    full = [r["vec_id"] for r in
            vector_topk(spark, path, qv, k=10, nprobe=8).collect()]
    assert full == exact


def test_connected_components_random_graph_vs_union_find(spark):
    """Dual-implementation oracle (the reference's own test practice,
    bloom_test.cpp): a seeded random graph checked against an
    independent pure-Python union-find."""
    import numpy as np
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import connected_components
    rng = np.random.default_rng(7)
    n, m = 80, 70
    pairs = {(int(min(p)), int(max(p)))
             for p in rng.integers(0, n, size=(m, 2)) if p[0] != p[1]}
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    touched = {v for p in pairs for v in p}
    want = {}
    for v in touched:
        root = find(v)
        want.setdefault(root, []).append(v)
    expect = {v: min(vs) for vs in want.values() for v in vs}

    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    got = {r["v"]: r["comp"] for r in connected_components(edges).collect()}
    release_caches()
    assert got == expect


def test_unigram_topn_oov_floor_semantics(spark):
    """top_n caps the vocabulary deterministically (count desc, token
    asc) and every out-of-vocabulary token scores the count-1 floor
    ln(1/n_total); n_total still counts ALL tokens."""
    import math

    rows = [(1, "a a a b b c"), (2, "zz qq"), (3, "a zz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from kwage_spark.operators.text import unigram_logprob_score
    out = {r["doc_id"]: r for r in
           unigram_logprob_score(df, "doc_id", "text", top_n=2,
                                 round_dp=6).collect()}
    n_total = 10  # all tokens, OOV included
    lp = {"a": math.log(4 / n_total), "b": math.log(2 / n_total)}
    floor = math.log(1 / n_total)  # c, zz, qq are OOV (vocab = {a, b})
    exp = {
        1: (6, (3 * lp["a"] + 2 * lp["b"] + floor) / 6),
        2: (2, floor),
        3: (2, (lp["a"] + floor) / 2),
    }
    for doc, (n, want) in exp.items():
        assert out[doc]["n_tokens"] == n
        assert abs(out[doc]["logprob"] - round(want, 6)) < 1e-6


def test_unigram_topn_tie_break_is_deterministic(spark):
    """Boundary ties resolve by token ascending: with top_n=1 and equal
    counts, 'a' enters the vocabulary and 'b' takes the floor."""
    import math

    df = spark.createDataFrame([(1, "b a")], "doc_id long, text string")
    from kwage_spark.operators.text import unigram_logprob_score
    row = unigram_logprob_score(df, "doc_id", "text", top_n=1,
                                round_dp=6).collect()[0]
    want = (math.log(1 / 2) + math.log(1 / 2)) / 2  # a in-vocab == floor here
    assert abs(row["logprob"] - round(want, 6)) < 1e-6
    # distinguishable case: counts a=2, b=1 -> floor for b only
    df2 = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    row2 = unigram_logprob_score(df2, "doc_id", "text", top_n=1,
                                 round_dp=6).collect()[0]
    want2 = (2 * math.log(2 / 3) + math.log(1 / 3)) / 3
    assert abs(row2["logprob"] - round(want2, 6)) < 1e-6


def test_minhash_batched_signatures_byte_identical(spark, docs):
    """The batched stack+reduceat path must produce EXACTLY the per-doc
    signatures (same kernel, same widths — no padding ambiguity), also
    when the MAX_STACKED_WINDOWS flush splits a batch mid-stream."""
    import kwage_spark.operators.dedup as dd
    from kwage_spark.kernels.murmur3 import murmur3_32_multiseed
    from kwage_spark.kernels.shingle import windows_of

    sub = docs.filter(F.col("doc_id") < 30)
    pdf = sub.toPandas()
    seeds = (dd.MINHASH_SEED_BASE + np.arange(32)).astype(np.uint32)
    want = {}
    for rid, text in zip(pdf["doc_id"], pdf["text"]):
        w = windows_of(text, 5)
        if w.shape[0]:
            want[rid] = murmur3_32_multiseed(w, seeds).min(axis=0) \
                .astype(np.int64).tolist()

    # default (auto) path — native fused kernel where available
    got = {r["doc_id"]: r["sig"] for r in
           dd.minhash_signatures(sub, "doc_id", "text", k=5,
                                 num_perm=32).collect()}
    assert got == want

    # numpy batched fallback, with a tiny flush threshold so every
    # Arrow batch splits mid-stream (closure-captured: reaches workers)
    got_np = {r["doc_id"]: r["sig"] for r in
              dd.minhash_signatures(sub, "doc_id", "text", k=5,
                                    num_perm=32, use_native=False,
                                    max_stacked=37).collect()}
    assert got_np == want


def _uf_oracle(edge_list):
    """Union-find reference labeling (component = min id)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_star_components_direct_matches_union_find(spark):
    """large-star/small-star on a mixed graph (chains, triangle, lone
    edge, self-loop, out-of-order ids) == union-find oracle."""
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import star_components
    edge_list = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
                 (20, 21), (7, 5), (5, 6), (30, 30)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    comp = {r["v"]: r["comp"] for r in star_components(edges).collect()}
    release_caches()
    want = _uf_oracle([(a, b) for a, b in edge_list if a != b])
    want[30] = 30  # self-loop-only vertex labels itself
    assert comp == want


def test_cc_falls_back_to_star_past_doubling_budget(spark):
    """A path longer than 2^max_iter defeats pointer doubling; the
    operator must DEGRADE to the star variant (same labels as the
    union-find oracle), not abort — and with star_fallback=False it
    still raises the old loud error."""
    import pytest

    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import connected_components
    edge_list = [(i, i + 1) for i in range(500, 540)]  # diameter 40 > 2^2
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    comp = {r["v"]: r["comp"]
            for r in connected_components(edges, max_iter=2).collect()}
    release_caches()
    assert comp == _uf_oracle(edge_list)
    assert set(comp.values()) == {500}

    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=2, star_fallback=False)
    release_caches()


def test_star_components_random_graph_matches_union_find(spark):
    """Randomized cross-check on a sparse 300-vertex graph."""
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.operators.components import star_components
    rng = np.random.default_rng(11)
    edge_list = [(int(a), int(b)) for a, b in
                 rng.integers(0, 300, size=(180, 2)) if a != b]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    comp = {r["v"]: r["comp"] for r in star_components(edges).collect()}
    release_caches()
    assert comp == _uf_oracle(edge_list)


def test_quantized_ann_recall_matches_float_path(spark, vectors, tmp_path):
    """The int8-store ANN probe (dequantize-on-read) must not lose
    recall vs the float index beyond quantization-boundary noise: for
    every planted-twin query, recall@10 of the quantized path >= the
    float path's recall - 0.1, and both find the twin at rank 1."""
    fpath = str(tmp_path / "float_idx")
    qpath = str(tmp_path / "q8_idx")
    build_vector_index(vectors, fpath)
    build_vector_index(vectors, qpath, storage="int8")

    hits_f = hits_q = twins_f = twins_q = 0
    queries = [0, 7, 13, 21, 34]
    for qi in queries:
        qv = vectors.filter(F.col("vec_id") == qi).toPandas() \
            .embedding.iloc[0]
        qv = [float(x) for x in qv]
        rest = vectors.filter(F.col("vec_id") != qi)
        exact = [r["vec_id"] for r in cosine_topk(rest, qv, k=10).collect()]
        fl = [r["vec_id"] for r in
              vector_topk(spark, fpath, qv, k=11).collect()
              if r["vec_id"] != qi][:10]
        qz = [r["vec_id"] for r in
              vector_topk(spark, qpath, qv, k=11).collect()
              if r["vec_id"] != qi][:10]
        # when an index path surfaces the planted twin it must be rank 1
        # (the twin's cosine ~1 dominates); whether the probe REACHES the
        # twin's bucket is an LSH property shared by both paths
        twins_f += fl and fl[0] == qi + 500
        twins_q += qz and qz[0] == qi + 500
        hits_f += len(set(fl) & set(exact))
        hits_q += len(set(qz) & set(exact))
    rec_f = hits_f / (10 * len(queries))
    rec_q = hits_q / (10 * len(queries))
    assert rec_q >= rec_f - 0.1, (rec_q, rec_f)
    assert twins_q >= twins_f - 1, (twins_q, twins_f)
    assert twins_f >= 3  # the float baseline itself finds most twins
    # and the quantized store really is int8: qvec tinyint, no float col
    stored = spark.read.parquet(qpath)
    assert dict(stored.dtypes)["qvec"] == "array<tinyint>"
    assert "embedding" not in stored.columns


def test_duplicate_ngram_coverage_oracle(spark, docs):
    """Exact DuckDB value oracle over the planted-dup corpus: per-doc
    duplicated-k-gram fraction, plus the semantic check that planted
    near-dup pairs score high coverage and unrelated docs score low."""
    import duckdb

    from kwage_spark.operators.dedup import duplicate_ngram_coverage

    got = duplicate_ngram_coverage(docs, "doc_id", "text", k=20).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute("""
        WITH dg AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, unnest(list_transform(
                     generate_series(1, length(text) - 19),
                     i -> substring(text, i, 20))) AS gram
            FROM documents WHERE length(text) >= 20)
        ), gd AS (
          SELECT gram, count(*) AS ndocs FROM dg GROUP BY gram
        )
        SELECT dg.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(*) FILTER (WHERE gd.ndocs > 1) AS BIGINT)
                 AS n_dup_grams,
               round(count(*) FILTER (WHERE gd.ndocs > 1) * 1.0
                     / count(*), 5) AS dup_coverage
        FROM dg JOIN gd USING (gram)
        GROUP BY dg.doc_id ORDER BY dg.doc_id
    """).df()
    pd.testing.assert_frame_equal(
        got.astype({"n_grams": "int64", "n_dup_grams": "int64"}),
        want.astype({"n_grams": "int64", "n_dup_grams": "int64"}))

    cov = dict(zip(got.doc_id, got.dup_coverage))
    # planted pairs (i, i+100) share ~90% of text -> high coverage both ways
    assert np.mean([cov[i] for i in range(40)]) > 0.5
    assert np.mean([cov[i + 100] for i in range(40)]) > 0.5
    # unrelated docs (id >= 200) mostly unique at k=20
    assert np.mean([cov[i + 200] for i in range(40)]) < 0.2


def test_repetition_scores_oracle(spark):
    """Exact DuckDB replay of both repetition signals, plus semantics:
    a templated doc scores high, varied prose scores low."""
    import duckdb

    from kwage_spark.operators.text import repetition_scores

    rows = [
        (1, "buy now\nbuy now\nbuy now\nlimited offer"),
        (2, "a quiet morning\nthe river bends east\nbirds over water"),
        (3, "spam spam spam spam spam ham"),
        (4, "one two three four five six seven eight"),
        (5, "   \n\nonly one real line\n \n"),
        (6, "single"),  # 1 token: bigram array must be EMPTY, not crash
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (repetition_scores(df, "doc_id", "text").toPandas()
           .sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = con.execute(r"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)),
                             l -> length(trim(l)) > 0) AS lines,
                 regexp_split_to_array(text, '\s+') AS toks
          FROM docs
        ), bg AS (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM base
        ), bgc AS (
          SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2
        ), bga AS (
          SELECT doc_id, max(n) AS top, sum(n) AS tot FROM bgc GROUP BY 1
        )
        SELECT b.doc_id,
               CAST(len(b.lines) AS BIGINT) AS n_lines,
               round((len(b.lines) - len(list_distinct(b.lines))) * 1.0
                     / greatest(len(b.lines), 1), 5) AS dup_line_ratio,
               round(coalesce(a.top * 1.0 / a.tot, 0.0), 5)
                 AS top_bigram_frac
        FROM base b LEFT JOIN bga a USING (doc_id)
        ORDER BY b.doc_id
    """).df()
    pd.testing.assert_frame_equal(
        got.astype({"n_lines": "int64"}),
        want.astype({"n_lines": "int64"}))
    byid = got.set_index("doc_id")
    assert byid.loc[1, "dup_line_ratio"] == 0.5      # 2 of 4 lines repeat
    assert byid.loc[3, "top_bigram_frac"] >= 0.5     # 'spam spam' dominates
    assert byid.loc[2, "dup_line_ratio"] == 0.0
    assert byid.loc[4, "top_bigram_frac"] < 0.2
    assert byid.loc[5, "n_lines"] == 1
    assert byid.loc[6, "top_bigram_frac"] == 0.0


def test_pii_pattern_counts_oracle(spark):
    import duckdb

    from kwage_spark.operators.text import PII_PATTERNS, pii_pattern_counts

    rows = [
        (1, "contact me at jane.doe+x@example.org or bob@sub.host.net"),
        (2, "see https://example.com/a?b=1 and http://t.co plain text"),
        (3, "card 12345678901234 pin 99 ok 1234567"),
        (4, "nothing suspicious here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (pii_pattern_counts(df, "doc_id", "text").toPandas()
           .sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.register("docs", df.toPandas())
    sel = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS {n}"
        for n, p in PII_PATTERNS.items())
    want = con.execute(
        f"SELECT doc_id, {sel} FROM docs ORDER BY doc_id").df()
    cast = {n: "int64" for n in PII_PATTERNS}
    pd.testing.assert_frame_equal(got.astype(cast), want.astype(cast))
    byid = got.set_index("doc_id")
    assert byid.loc[1, "n_emails"] == 2
    assert byid.loc[2, "n_urls"] == 2
    assert byid.loc[3, "n_long_digit_runs"] == 1
    assert (byid.loc[4] == 0).all()


def test_chunk_documents_oracle_and_overlap(spark):
    """Exact DuckDB replay of token-window chunking, plus the packing
    invariants: consecutive full chunks share exactly `overlap` tokens,
    chunk 0 starts the doc, and no pure-suffix chunk is emitted."""
    import duckdb

    from kwage_spark.operators.text import chunk_documents

    rng = np.random.default_rng(9)
    rows = [(i, " ".join(f"w{int(x)}" for x in rng.integers(0, 50, n)))
            for i, n in enumerate([5, 16, 17, 40, 100])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    C, O = 16, 4
    got = (chunk_documents(df, "doc_id", "text", chunk_tokens=C, overlap=O)
           .toPandas().sort_values(["doc_id", "chunk_idx"])
           .reset_index(drop=True))

    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = con.execute(rf"""
        WITH base AS (
          SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                 len(regexp_split_to_array(text, '\s+')) AS n
          FROM docs
        ), s AS (
          SELECT doc_id, toks, n,
                 unnest(range(1, greatest(n - {O}, 1) + 1, {C - O})) AS st
          FROM base
        )
        SELECT doc_id,
               CAST((st - 1) / {C - O} AS INTEGER) AS chunk_idx,
               CAST(least({C}, n - st + 1) AS BIGINT) AS n_chunk_tokens,
               array_to_string(list_slice(toks, st, st + {C} - 1), ' ')
                 AS chunk_text
        FROM s ORDER BY doc_id, chunk_idx
    """).df()
    pd.testing.assert_frame_equal(
        got.astype({"chunk_idx": "int32", "n_chunk_tokens": "int64"}),
        want.astype({"chunk_idx": "int32", "n_chunk_tokens": "int64"}))

    texts = dict(rows)
    for doc_id, grp in got.groupby("doc_id"):
        toks = texts[doc_id].split()
        chunks = [c.split() for c in grp.sort_values("chunk_idx").chunk_text]
        assert chunks[0][0] == toks[0]
        # every token appears in some chunk (coverage)
        covered = set()
        for i, ch in enumerate(chunks):
            covered.update(range(i * (C - O), i * (C - O) + len(ch)))
        assert covered == set(range(len(toks)))
        for a, b in zip(chunks, chunks[1:]):
            if len(a) == C:
                assert a[-O:] == b[:O]       # exact overlap
        # no pure-suffix chunk: every chunk past 0 adds new tokens
        assert all(len(ch) > O for ch in chunks[1:]) or len(chunks) == 1
