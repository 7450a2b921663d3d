"""Physical-plan quality gates: pushdown, pruning, broadcast, shuffle count.

These tests encode the scale contract: at 100 TB the wrong plan is a
correctness bug. They run on sf0.001 (plan shape is sf-invariant)."""

import pytest

from kwage_spark.config import SketchConfig
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.search import containment_search
from kwage_spark.plans.inspect import (
    count_exchanges, has_broadcast_join, has_wholestage_codegen,
    physical_plan, pushed_filters, scan_read_schema)
from kwage_spark.queries import spark_queries
from kwage_spark.queries_sketch import DOC_CFG

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    q = spark_queries()["filter_lang_isin"](spark, SF)
    pf = pushed_filters(q)
    assert "lang" in pf and "In" in pf, pf


def test_column_pruning_on_projection(spark):
    q = spark_queries()["filter_min_length"](spark, SF)
    rs = scan_read_schema(q)
    assert "text" not in rs, f"scan reads text for a doc_id projection: {rs}"


def test_ingest_prunes_unused_columns(spark):
    """The sketch build must scan only group cols + content, never e.g.
    commit/path/content_sha256 (SURVEY: column pruning into the UDF)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = build_sketches(docs, DOC_CFG)
    rs = scan_read_schema(sk)
    assert "doc_id" not in rs and "n_chars" not in rs, rs


def test_partial_build_merges_in_one_arrow_pass(spark):
    """combine='partial' merges its partial states with one hash exchange
    on (group cols, kind) between the partial MapInArrow and the merge
    MapInArrow, and no per-group pandas call (FlatMapGroupsInPandas)."""
    import re
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = build_sketches(docs, DOC_CFG, combine="partial")
    plan = sk._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    assert "FlatMapGroupsInPandas" not in plan.toString(), plan.toString()
    chain = []  # the merge MapInArrow down to the partial MapInArrow
    node = plan
    while node.nodeName() != "MapInArrow":
        node = node.children().apply(0)
    chain.append(node)
    node = node.children().apply(0)
    while node.nodeName() != "MapInArrow":
        chain.append(node)
        assert node.children().size() == 1, plan.toString()
        node = node.children().apply(0)
    exchanges = [re.sub(r"#\d+", "", n.outputPartitioning().toString())
                 for n in chain if n.nodeName() == "Exchange"]
    keys = ", ".join([*DOC_CFG.group_cols, "kind"])
    assert len(exchanges) == 1, plan.toString()
    assert exchanges[0].startswith(f"hashpartitioning({keys}, "), exchanges


def test_search_has_no_shuffle(spark):
    """Query-time scan is partition-local: broadcast query + mapInPandas,
    zero shuffle exchanges before the final result sort (SURVEY §4.2)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = build_sketches(docs, DOC_CFG)
    res = containment_search(sk, [(0, "table value part hash")], DOC_CFG,
                             threshold=0.5)
    # the only exchange allowed is the one feeding the global orderBy of
    # the (tiny) result set, plus the ingest's own state merge
    plan = physical_plan(res)
    n_ex = count_exchanges(res)
    assert n_ex <= 2, f"unexpected shuffles ({n_ex}):\n{plan}"


def test_ordered_search_scans_store_once(spark):
    """The ordered search sorts its filtered result in one partition: no
    range-partition exchange (whose sampling job re-runs the Python scan)
    in the executed plan, and the scan node handles each bloom row once —
    one query with emit_all returns exactly one row per bloom row."""
    from kwage_spark.plans.inspect import executed_nodes
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = build_sketches(docs, DOC_CFG).cache()
    try:
        n_bloom = sk.filter("kind = 'bloom'").count()
        res = containment_search(sk, [(0, "table value part hash")], DOC_CFG,
                                 threshold=0.5, emit_all=True)
        assert len(res.collect()) == n_bloom
        executed = res._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in executed.lower(), executed
        scans = [m for name, m in executed_nodes(res)
                 if name.startswith("MapIn")]
        assert len(scans) == 1, executed
        assert scans[0]["pythonNumRowsReceived"] == n_bloom, scans[0]
    finally:
        sk.unpersist()


def test_small_dim_join_broadcasts(spark):
    q = spark_queries()["metadata_lookup_join"](spark, SF)
    assert has_broadcast_join(q), physical_plan(q)


def test_semi_join_broadcasts_small_side(spark):
    q = spark_queries()["semi_join_include"](spark, SF)
    # AQE/stats should broadcast at this scale; assert no full sort-merge
    plan = physical_plan(q)
    assert "SortMergeJoin" not in plan or "Broadcast" in plan, plan


def test_relational_queries_use_codegen(spark):
    q = spark_queries()["q1_pricing_summary"](spark, SF)
    assert has_wholestage_codegen(q)


def test_exact_containment_has_no_shingle_join(spark):
    """r6: the flagship probes the tiny literal gram set with
    contains(text, gram) per document — the plan must contain NO join
    and NO shingle fan-out (the old shape exploded ~len(text) gram rows
    per doc through two Generate nodes into a broadcast join; the only
    Generate left is the ≤31-element matched-gram array explode), and
    the only exchanges are the (source, gram) distinct + final agg."""
    q = spark_queries()["exact_containment_flagship"](spark, SF)
    plan = physical_plan(q)
    assert "Join" not in plan, plan
    # one Generate node: formatted plans print it twice (tree + detail)
    assert plan.count("- Generate") == 1, plan
    assert count_exchanges(q) <= 3, plan


def test_band_join_shuffle_excludes_signatures(spark):
    """The LSH band self-join must shuffle (id, band, bkey) rows only —
    carrying the num_perm-element sig xbands x2 through that shuffle is the
    scale regression flagged in round 1 (operators/dedup.py band_keys)."""
    from kwage_spark.operators.dedup import band_keys, minhash_signatures
    df = spark.createDataFrame(
        [(i, f"some text body number {i} with shared tokens") for i in range(20)],
        "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", k=5, num_perm=16)
    banded = band_keys(sigs, "doc_id", bands=4, r=4)
    assert "sig" not in banded.columns
    assert set(banded.columns) == {"doc_id", "band", "bkey"}


def test_chunk_binpack_has_no_single_partition_exchange(spark):
    """A12 packing must range-shuffle, never Exchange SinglePartition
    (the unpartitioned row_number window regression). Inspects the
    operator directly — the registered query localCheckpoints (scoped
    cache release), which truncates the inspectable plan."""
    from kwage_spark.operators.binpack import chunked_ids
    from kwage_spark.operators.caching import release_caches
    from kwage_spark.plans.inspect import physical_plan
    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey")
    df = chunked_ids(o, "o_orderkey", chunk_size=2048)
    plan = physical_plan(df)
    release_caches()
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_store_group_read_prunes_partitions(spark, tmp_path):
    """read_sketch_group's bucket predicate must reach the scan as a
    PARTITION filter (directory pruning, ≙ KWAGE's per-file metadata
    offsets kwage.h:34-44) — not just a row filter after a full read."""
    from kwage_spark.plans.inspect import partition_filters
    from kwage_spark.sources.store import read_sketch_group, write_sketch_store
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = build_sketches(docs, DOC_CFG)
    path = str(tmp_path / "store")
    write_sketch_store(sk, path, group_col="source", buckets=16)
    grp = read_sketch_group(spark, path, "source", "src1", buckets=16)
    pf = partition_filters(grp)
    assert "_bucket" in pf, f"no partition pruning on _bucket:\n{pf}"
    # and the lookup actually returns the group's rows
    rows = grp.select("source").distinct().collect()
    assert [r["source"] for r in rows] == ["src1"]


def test_ann_indexed_probe_prunes_partitions(spark, tmp_path):
    """vector_topk's bucket .isin(probes) must be a PartitionFilter on
    the LSH index layout — the scan reads n_planes+1 of 2^n_planes
    directories, the IVF-probe contract."""
    from kwage_spark.operators.similarity import (build_vector_index,
                                                  vector_topk)
    from kwage_spark.plans.inspect import partition_filters
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    first = emb.orderBy("vec_id").first()
    path = str(tmp_path / "ann")
    build_vector_index(emb, path, n_planes=6)
    res = vector_topk(spark, path, first["embedding"], k=5)
    pf = partition_filters(res)
    assert "bucket" in pf and ("IN" in pf or "In" in pf), \
        f"no partition pruning on bucket:\n{pf}"
    top = res.collect()
    assert top and top[0]["vec_id"] == first["vec_id"]  # self is its own NN


def test_entry_reads_persisted_store_pruned(spark):
    """The driver flagship `entry()` must BE the persisted-store search:
    its plan reads the hash-bucketed store back with a PartitionFilter on
    `_bucket` (the reference's flagship is a stored-DB read,
    `kwage.cpp:98-113` — not an in-memory rebuild)."""
    import __spark_entry__ as entry_mod
    from kwage_spark.plans.inspect import partition_filters
    df = entry_mod.entry(spark)
    pf = partition_filters(df)
    assert "_bucket" in pf, f"entry() is not a pruned store read:\n{pf}"


def test_shingle_rel_widens_thin_inputs(spark):
    """A one-split input must not serialize the explode-by-hundreds
    shingle pipeline on a single task (the r3 profiling find: the whole
    exact-containment cost was one task reading one 6 MB parquet split)."""
    from kwage_spark.queries import shingle_rel
    docs = (spark.read.parquet(f"{SF}/documents.parquet").coalesce(1))
    assert docs.rdd.getNumPartitions() == 1
    grams = shingle_rel(docs, ["doc_id"], "text", 8)
    target = spark.sparkContext.defaultParallelism
    assert grams.rdd.getNumPartitions() >= target, \
        "shingle inherited the single input partition"
    # and the widen is a no-op when the input is already wide
    wide = spark.read.parquet(f"{SF}/documents.parquet").repartition(target * 2)
    grams2 = shingle_rel(wide, ["doc_id"], "text", 8)
    assert grams2.rdd.getNumPartitions() == target * 2
    # widen=False skips the repartition for scoped-tiny inputs
    grams3 = shingle_rel(docs, ["doc_id"], "text", 8, widen=False)
    assert grams3.rdd.getNumPartitions() == 1


def test_ensure_parallelism_passes_streaming_through(spark):
    """The widen helper must be usable inside operators that also serve
    readStream pipelines: streaming plans pass through untouched
    (df.rdd is undefined for them)."""
    from kwage_spark.operators.util import ensure_parallelism
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", 1).load())
    out = ensure_parallelism(stream)
    assert out is stream


def test_unigram_vocab_broadcast_is_limit_bounded(spark):
    """The unigram model must broadcast AT MOST top_n vocabulary rows:
    the plan's vocabulary branch is a TakeOrderedAndProject (per-partition
    top-N + O(N) driver merge), never a full-vocabulary broadcast — the
    r4-flagged 100-TB scale-killer."""
    from kwage_spark.operators.text import unigram_logprob_score
    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = unigram_logprob_score(d, "doc_id", "text", top_n=24)
    plan = physical_plan(q)
    assert "TakeOrderedAndProject" in plan, plan
    # the exploded token side stays the streamed (non-broadcast) side
    assert has_broadcast_join(q)


def test_embedding_paths_launch_no_eager_probe_job(spark, monkeypatch):
    """r4 verdict item 4: no registered embedding path may run an eager
    .first()/.head()/.take() probe job at construction. The ban is
    enforced by monkeypatch while the full query (index build included)
    runs end-to-end; hyperplanes now derive executor-side from the batch
    dim, and the demo query vector comes from a driver-side pyarrow
    row-group read, not a Spark job."""
    from pyspark.sql import DataFrame

    from kwage_spark.operators.dedup import embedding_near_duplicates

    def boom(self, *a, **kw):
        raise AssertionError("eager probe job at operator construction")

    for name in ("first", "head", "take"):
        monkeypatch.setattr(DataFrame, name, boom)

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    nd = embedding_near_duplicates(e, "vec_id", "embedding",
                                   threshold=0.2, n_planes=6)
    assert nd.count() >= 0  # executes fully without a probe

    import kwage_spark.queries_pipeline  # noqa: F401 — registers ann/ivf
    for qname in ("ann_topk_lsh", "ivf_topk_learned"):
        out = spark_queries()[qname](spark, SF)
        assert len(out.collect()) > 0


def test_quantized_ann_probe_prunes_partitions(spark, tmp_path):
    """The int8-store probe keeps the same PartitionFilters contract as
    the float index: bucket .isin(probes) prunes at the scan, and the
    dequantize transform is fused into the scan projection (no Python
    stage between scan and re-rank)."""
    from kwage_spark.operators.similarity import (build_vector_index,
                                                  vector_topk)
    from kwage_spark.plans.inspect import partition_filters
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    first = emb.orderBy("vec_id").first()
    path = str(tmp_path / "annq8")
    build_vector_index(emb, path, storage="int8", n_planes=6)
    res = vector_topk(spark, path, first["embedding"], k=5)
    pf = partition_filters(res)
    assert "bucket" in pf and ("IN" in pf or "In" in pf), \
        f"no partition pruning on bucket:\n{pf}"
    plan = physical_plan(res)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    top = res.collect()
    assert top and top[0]["vec_id"] == first["vec_id"]  # self ~ its own NN


def test_vector_topk_starts_no_jobs(spark, tmp_path):
    """The probe reads with the sidecar's schema and lists the bucket dirs
    on the driver: building its DataFrame starts no Spark job, even above
    Spark's parallel-listing threshold of 32 dirs."""
    from pathlib import Path

    from kwage_spark.operators.similarity import (build_vector_index,
                                                  vector_topk)
    from conftest import new_jobs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    first = emb.orderBy("vec_id").first()
    path = str(tmp_path / "lsh")
    build_vector_index(emb, path, n_planes=8)
    assert len(list(Path(path).glob("bucket=*"))) > 32
    res, jobs = new_jobs(spark,
                         lambda: vector_topk(spark, path, first["embedding"]))
    assert jobs == 0
    assert res.first()["vec_id"] == first["vec_id"]
