"""End-to-end: fixture corpus -> sketches -> containment search, checked
against exact oracles (the reference's dual-implementation test pattern,
`bloom_test.cpp:112-218` / SriRachA exact verifier)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels import BloomParams, BloomState, CMSState, HLLState, KLLState
from kwage_spark.kernels.registry import state_from_bytes
from kwage_spark.operators.ingest import build_sketches, sketch_metrics
from kwage_spark.operators.search import containment_search, exact_containment
from kwage_spark.sources.fixtures import make_query_snippets, make_source_files

CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=16, num_hash=3),
                   hll_p=12, cms_log2_w=12, cms_depth=4, kll_k=200)


@pytest.fixture(scope="module")
def corpus():
    return make_source_files(n_repos=4, files_per_repo=12, mega_repo_factor=3)


@pytest.fixture(scope="module")
def sketches(spark, corpus):
    df = spark.createDataFrame(corpus)
    return build_sketches(df, CFG).cache()


def _states_by_key(sketches_df):
    rows = sketches_df.collect()
    return {tuple(r[c] for c in CFG.group_cols) + (r["kind"],): r for r in rows}


def test_ingest_produces_all_kinds_per_group(sketches, corpus):
    got = _states_by_key(sketches)
    n_groups = corpus.groupby(["repo", "lang"]).ngroups
    assert len(got) == n_groups * 4
    for key, r in got.items():
        st = state_from_bytes(bytes(r["state"]))
        kind = key[-1]
        assert {"bloom": BloomState, "hll": HLLState,
                "cms": CMSState, "kll": KLLState}[kind] is type(st)


def test_ingest_accounting_matches_exact(sketches, corpus):
    got = _states_by_key(sketches)
    exact = corpus.assign(
        n_kgrams=corpus.content.str.encode("utf-8").str.len().clip(lower=CFG.k - 1) - (CFG.k - 1)
    ).groupby(["repo", "lang"]).agg(n_rows=("path", "count"), n_kgrams=("n_kgrams", "sum"))
    for (repo, lang), row in exact.iterrows():
        r = got[(repo, lang, "bloom")]
        assert r["n_rows"] == row.n_rows
        assert r["n_kgrams"] == row.n_kgrams


def test_partitioning_invariance(spark, corpus, sketches):
    """sketch(all rows) == merge(sketch(partition_i)) for any layout."""
    df7 = spark.createDataFrame(corpus).repartition(7)
    alt = _states_by_key(build_sketches(df7, CFG))
    base = _states_by_key(sketches)
    assert base.keys() == alt.keys()
    for key in base:
        if key[-1] == "kll":
            continue  # KLL state is merge-order dependent; bound checked below
        a = state_from_bytes(bytes(base[key]["state"]))
        b = state_from_bytes(bytes(alt[key]["state"]))
        assert a == b, key


def test_hll_estimates_match_exact_distinct(sketches, corpus):
    got = _states_by_key(sketches)
    for (repo, lang), g in corpus.groupby(["repo", "lang"]):
        grams = set()
        for c in g.content:
            b = c.encode()
            grams.update(b[i:i + CFG.k] for i in range(len(b) - CFG.k + 1))
        st = state_from_bytes(bytes(got[(repo, lang, "hll")]["state"]))
        est = st.estimate()
        assert abs(est - len(grams)) / len(grams) <= 4 * st.rel_error()


def test_cms_frequencies_vs_exact(sketches, corpus):
    got = _states_by_key(sketches)
    (repo, lang), g = next(iter(corpus.groupby(["repo", "lang"])))
    from collections import Counter
    cnt = Counter()
    for c in g.content:
        b = c.encode()
        for i in range(len(b) - CFG.k + 1):
            cnt[b[i:i + CFG.k]] += 1
    st = state_from_bytes(bytes(got[(repo, lang, "cms")]["state"]))
    top = cnt.most_common(50)
    wins = np.stack([np.frombuffer(w, dtype=np.uint8) for w, _ in top])
    est = st.query_windows(wins)
    true = np.asarray([c for _, c in top], dtype=np.uint64)
    assert (est >= true).all()
    assert ((est - true) <= st.eps() * st.n_total).all()


def test_kll_quantiles_vs_exact(sketches, corpus):
    got = _states_by_key(sketches)
    for (repo, lang), g in corpus.groupby(["repo", "lang"]):
        sizes = np.sort(g.content.str.len().to_numpy(dtype=float))
        st = state_from_bytes(bytes(got[(repo, lang, "kll")]["state"]))
        n = sizes.shape[0]
        tol = max(2.0 / st.k, 1.5 / n)
        for q in (0.25, 0.5, 0.75):
            est = st.quantile(q)
            # with ties, any rank in [left, right] of est is attainable
            r_lo = np.searchsorted(sizes, est, side="left") / n
            r_hi = np.searchsorted(sizes, est, side="right") / n
            assert r_lo - tol <= q <= r_hi + tol, (q, est, r_lo, r_hi)


def test_search_exact_query_hits_source_repo(spark, sketches, corpus):
    queries = make_query_snippets(corpus, CFG.k)
    qlist = list(zip(queries.query_id, queries.snippet))
    res = containment_search(sketches, qlist, CFG, threshold=1.0).toPandas()
    for _, q in queries.iterrows():
        hits = res[res.query_id == q.query_id]
        if q.expected_class == "exact":
            assert q.src_repo in set(hits.repo), f"q{q.query_id} missed its source repo"
            src_hits = hits[hits.repo == q.src_repo]
            assert (src_hits.num_kmers_found == src_hits.num_kmers).all()
        elif q.expected_class == "short":
            assert hits.empty  # F10 silent no-match


def test_search_partial_mosaic_threshold_behavior(spark, sketches, corpus):
    queries = make_query_snippets(corpus, CFG.k)
    partial = queries[queries.expected_class == "partial"].iloc[0]
    qlist = [(int(partial.query_id), partial.snippet)]
    at_1 = containment_search(sketches, qlist, CFG, threshold=1.0).toPandas()
    at_04 = containment_search(sketches, qlist, CFG, threshold=0.4).toPandas()
    # mosaic of two repos: full containment in neither, partial in both
    assert partial.src_repo not in set(at_1.repo)
    assert partial.src_repo in set(at_04.repo)


def test_search_no_false_negatives_vs_exact_oracle(spark, sketches, corpus):
    """Bloom hits ⊇ exact hits; FP rate within bound (Q11 oracle)."""
    queries = make_query_snippets(corpus, CFG.k)
    qlist = [(int(r.query_id), r.snippet) for r in queries.itertuples()
             if r.expected_class in ("exact", "partial")]
    files = spark.createDataFrame(corpus)
    exact = exact_containment(files, qlist, CFG).toPandas()
    got = containment_search(sketches, qlist, CFG, threshold=0.3,
                             emit_all=True).toPandas()
    merged = exact.merge(got, on=["repo", "lang", "query_id"],
                         suffixes=("_exact", "_bloom"), how="left")
    assert merged.num_kmers_found_bloom.notna().all()
    # no false negatives: bloom count >= exact count, totals equal
    assert (merged.num_kmers_found_bloom >= merged.num_kmers_found_exact).all()
    assert (merged.num_kmers_bloom == merged.num_kmers_exact).all()


def test_threshold_truncation_semantics(spark, sketches):
    """query_threshold = int(t * n) — float->uint truncation (kwage.cpp:388)."""
    # craft: n_unique known, choose t so t*n is non-integral
    snippet = "abcdefghijklmnop"  # 9 unique 8-byte windows
    qlist = [(0, snippet)]
    res = containment_search(sketches, qlist, CFG, threshold=0.35,
                             emit_all=True).toPandas()
    n = res.num_kmers.iloc[0]
    assert n == 9
    q_threshold = int(0.35 * n)  # == 3, not ceil(3.15)=4
    assert q_threshold == 3


def test_search_result_ordering(spark, sketches, corpus):
    queries = make_query_snippets(corpus, CFG.k)
    qlist = [(int(r.query_id), r.snippet) for r in queries.itertuples()]
    res = containment_search(sketches, qlist, CFG, threshold=0.2,
                             emit_all=True).toPandas()
    # ascending query_id; within query, descending num_kmers_found (Q8/Q9)
    assert list(res.query_id) == sorted(res.query_id)
    for qid, g in res.groupby("query_id"):
        assert list(g.num_kmers_found) == sorted(g.num_kmers_found, reverse=True)


def test_metrics(sketches, corpus):
    m = sketch_metrics(sketches).toPandas().set_index("kind")
    n_groups = corpus.groupby(["repo", "lang"]).ngroups
    assert (m.n_groups == n_groups).all()
    assert (m.loc["bloom"].n_rows == len(corpus))


def test_search_rejects_mismatched_filter_params(spark, sketches):
    """A store built with different (log2_m, num_hash) must raise, not
    scan with the wrong mask (silently wrong counts)."""
    bad = SketchConfig(group_cols=CFG.group_cols, content_col=CFG.content_col,
                       bloom=BloomParams(k=CFG.bloom.k,
                                         log2_m=CFG.bloom.log2_m + 2,
                                         num_hash=CFG.bloom.num_hash))
    res = containment_search(sketches, [(0, "the quick brown fox jumps")],
                             bad, threshold=0.1)
    with pytest.raises(Exception, match="fold|param"):
        res.collect()


@pytest.mark.parametrize("reader", ["search", "bloom_contains"])
def test_bloom_readers_reject_another_k(spark, sketches, reader):
    """k is a filter param like log2_m and num_hash: probing a store built
    at k=8 with k=6 hashes other grams, so it must raise, not return no
    rows (search) or 0 found k-grams (bloom_contains)."""
    from kwage_spark import functions as fx
    other = BloomParams(k=CFG.bloom.k - 2, log2_m=CFG.bloom.log2_m,
                        num_hash=CFG.bloom.num_hash)
    snippet = "the quick brown fox jumps"
    if reader == "search":
        bad = SketchConfig(group_cols=CFG.group_cols,
                           content_col=CFG.content_col, bloom=other)
        res = containment_search(sketches, [(0, snippet)], bad, threshold=0.1)
    else:
        res = (sketches.filter(F.col("kind") == "bloom")
               .select(fx.bloom_contains("state", snippet, other)))
    with pytest.raises(Exception, match="ValueError") as e:
        res.collect()
    assert "param mismatch" in str(e.value)
    assert f"k={CFG.bloom.k}, " in str(e.value)
    assert f"k={other.k}, " in str(e.value)


def test_ingest_handles_null_and_empty_edges(spark):
    """0-kgram rows, null content, and null group keys must not kill tasks
    (Arrow data buffer can be None; null keys are keyed as '')."""
    cfg = SketchConfig(group_cols=("repo", "lang"), content_col="content")
    rows = [("r1", "py", None), ("r1", "py", ""), (None, "py", "hello world content"),
            ("r2", None, "another file body here"), ("r2", "go", "x" * 7)]
    df = spark.createDataFrame(rows, "repo string, lang string, content string")
    for combine in ("partial", "raw"):
        out = {(r["repo"], r["lang"]): (r["n_rows"], r["n_kgrams"])
               for r in build_sketches(df, cfg, combine=combine)
               .filter("kind = 'bloom'").collect()}
        assert out[("r1", "py")] == (2, 0)
        assert out[("", "py")] == (1, 12)
        assert out[("r2", "")] == (1, 15)
        assert out[("r2", "go")] == (1, 0)


def test_containment_counts_matches_search(spark, sketches, corpus):
    """The count-aggregate form must agree with the per-group emit form:
    n_matches == number of match rows per query."""
    from collections import Counter
    from kwage_spark.operators.search import containment_counts
    snippets = [(0, corpus.iloc[0]["content"][:60]),
                (1, corpus.iloc[5]["content"][:40]),
                (2, "zzzz-not-in-corpus-" * 4),
                (3, "abc")]  # F10: too short, no row
    full = containment_search(sketches, snippets, CFG, threshold=0.5).collect()
    want = Counter(r["query_id"] for r in full)
    got = {r["query_id"]: r["n_matches"]
           for r in containment_counts(sketches, snippets, CFG,
                                       threshold=0.5).collect()}
    assert got.pop(3, None) is None  # empty query emits nothing
    for qid, n in got.items():
        assert n == want.get(qid, 0), qid
    assert set(want) <= set(got)


def test_searches_leave_no_temp_files(spark, sketches, corpus):
    """The query set travels in the scan's closure: five small searches
    leave the number of files in the driver's temp dir unchanged (an
    explicit broadcast per search left one file each until the session
    stopped)."""
    import os
    sketches.count()
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    for i in range(5):
        snippet = corpus.content.iloc[i][:60]
        assert containment_search(sketches, [(i, snippet)], CFG,
                                  threshold=0.5).collect()
    assert len(os.listdir(temp_dir)) == before


def test_search_ordered_equals_sorted_unordered(spark, sketches, corpus):
    """The ordered result is exactly the unordered rows sorted by
    (query_id asc, num_kmers_found desc, group cols asc) — tie-break
    included — on a multi-partition input."""
    queries = make_query_snippets(corpus, CFG.k)
    qlist = [(int(r.query_id), r.snippet) for r in queries.itertuples()]
    multi = sketches.repartition(5)
    got = containment_search(multi, qlist, CFG, threshold=0.2,
                             emit_all=True).collect()
    unordered = containment_search(multi, qlist, CFG, threshold=0.2,
                                   emit_all=True, ordered=False).collect()
    want = sorted(unordered, key=lambda r: (r.query_id, -r.num_kmers_found,
                                            r.repo, r.lang))
    assert got == want
    # the group-col tie-break is exercised: equal (query, count) neighbours
    assert any((a.query_id, a.num_kmers_found) == (b.query_id, b.num_kmers_found)
               for a, b in zip(got, got[1:]))


_REFOLD = "fold\\(\\) the store or search with the matching SketchConfig"


def _bloom_only(df):
    return df.filter("kind = 'bloom'")


@pytest.mark.parametrize("op", ["search", "counts"])
@pytest.mark.parametrize("case", ["cfg_log2_m", "cfg_num_hash",
                                  "mixed_log2_m", "non_bloom"])
def test_scan_rejects_unreadable_bloom_rows(spark, sketches, corpus, op, case):
    """Rows the configured scan cannot read fail the query with one
    detailed ValueError, whichever operator scans them: a store built with
    another log2_m (other width) or num_hash (same width, other header), a
    single batch mixing filter widths, or a non-bloom state labelled
    kind='bloom'. Never a mis-read or a worker crash."""
    from kwage_spark.operators.search import containment_counts
    cfg, rows = CFG, _bloom_only(sketches)
    if case.startswith("cfg_"):
        l2m, nh = CFG.bloom.log2_m, CFG.bloom.num_hash
        cfg = SketchConfig(group_cols=CFG.group_cols, content_col=CFG.content_col,
                           bloom=BloomParams(k=CFG.bloom.k,
                                             log2_m=l2m + 2 * (case == "cfg_log2_m"),
                                             num_hash=nh + (case == "cfg_num_hash")))
    elif case == "mixed_log2_m":
        small = SketchConfig(bloom=BloomParams(k=CFG.bloom.k, log2_m=12,
                                               num_hash=CFG.bloom.num_hash))
        other = _bloom_only(build_sketches(
            spark.createDataFrame(corpus.head(6)), small))
        rows = rows.unionByName(other).coalesce(1)  # one Arrow batch
    else:
        hll = sketches.filter("kind = 'hll'").withColumn("kind", F.lit("bloom"))
        rows = rows.unionByName(hll).coalesce(1)
    snippets = [(0, corpus.iloc[0]["content"][:60])]
    fn = containment_search if op == "search" else containment_counts
    with pytest.raises(Exception, match=_REFOLD):
        fn(rows, snippets, cfg, threshold=0.5).collect()


@pytest.mark.parametrize("n_input_parts,target", [(8, 4), (2, 4)],
                         ids=["wide-input", "widened"])
def test_driver_group_stats_matches_counter(tmp_path, n_input_parts, target):
    """The driver-side (n_groups, n_span) equal a per-row Counter over each
    parquet row group, null group keys included, with and without the
    widen model."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwage_spark.operators.ingest import _group_spans, _span_stats
    rng = np.random.default_rng(11)
    paths = []
    for f in range(2):
        n = 2500
        repo = [None if i == 0 else f"r{i}" for i in rng.zipf(1.6, n) % 30]
        lang = [None if i % 9 == 0 else f"l{i % 3}"
                for i in rng.integers(0, 60, n)]
        path = str(tmp_path / f"part-{f}.parquet")
        pq.write_table(pa.table({"repo": repo, "lang": lang,
                                 "content": ["x"] * n}),
                       path, row_group_size=400)
        paths.append(path)
    counts: collections.Counter = collections.Counter()
    span = 0
    for path in paths:
        pf = pq.ParquetFile(path)
        assert pf.metadata.num_row_groups > 1
        for g in range(pf.metadata.num_row_groups):
            rg = pf.read_row_group(g, columns=["repo", "lang"])
            rg_counts = collections.Counter(zip(rg.column("repo").to_pylist(),
                                                rg.column("lang").to_pylist()))
            span += len(rg_counts)
            counts.update(rg_counts)
    if n_input_parts < target:
        span = sum(min(r, target) for r in counts.values())
    assert any(None in k for k in counts)
    assert _span_stats(_group_spans(paths, CFG), n_input_parts, target) == \
        (len(counts), span)
