"""Partitioned sketch store: pruning + roundtrip (SURVEY §7.1 step 6)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels.bloom import BloomParams
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.search import containment_search
from kwage_spark.plans.inspect import physical_plan
from kwage_spark.sources.fixtures import make_source_files
from kwage_spark.sources.store import (
    MANIFEST, read_sketch_group, read_sketch_store, write_sketch_store)

from conftest import new_jobs

CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=12, num_hash=3))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    pdf = make_source_files(n_repos=8, files_per_repo=4, tokens_per_file=30)
    sk = build_sketches(spark.createDataFrame(pdf), CFG)
    path = str(tmp_path_factory.mktemp("store") / "sketches")
    write_sketch_store(sk, path, "repo", buckets=16)
    return pdf, path


def test_store_roundtrip_preserves_rows(spark, store):
    pdf, path = store
    back = read_sketch_store(spark, path)
    n_groups = len(pdf.groupby(["repo", "lang"]))
    assert back.count() == n_groups * len(CFG.kinds)
    assert "_bucket" not in back.columns


def test_group_lookup_prunes_partitions(spark, store):
    pdf, path = store
    repo = sorted(pdf.repo.unique())[2]
    df = read_sketch_group(spark, path, "repo", repo, buckets=16)
    rows = df.toPandas()
    assert set(rows.repo) == {repo}
    # the bucket predicate must reach the scan as a partition filter
    plan = physical_plan(df)
    assert "PartitionFilters" in plan
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("_bucket" in ln for ln in pf_lines), plan


def test_lookup_results_search_equivalent(spark, store):
    """Searching a pruned single-repo slice equals filtering the full
    search output — the store changes I/O, not semantics."""
    pdf, path = store
    repo = sorted(pdf.repo.unique())[1]
    snippet = pdf.loc[pdf.repo == repo, "content"].iloc[0][:60]
    full = containment_search(
        read_sketch_store(spark, path), [(0, snippet)], CFG, threshold=0.5
    ).toPandas()
    pruned = containment_search(
        read_sketch_group(spark, path, "repo", repo, buckets=16),
        [(0, snippet)], CFG, threshold=0.5).toPandas()
    want = full[full.repo == repo].reset_index(drop=True)
    assert pruned[["repo", "lang", "num_kmers_found"]].equals(
        want[["repo", "lang", "num_kmers_found"]])


def test_discover_and_union_stores(spark, tmp_path):
    """S9 recursive discovery: nested store roots found by layout, read
    back as one table."""
    from kwage_spark.sources.store import (discover_sketch_stores,
                                           read_all_sketch_stores,
                                           write_sketch_store)
    from kwage_spark.operators.ingest import build_sketches
    from kwage_spark.sources.fixtures import make_source_files
    pdf = make_source_files(n_repos=4, files_per_repo=4, seed=21)
    df = spark.createDataFrame(pdf)
    sk = build_sketches(df, CFG).cache()
    half_a = sk.filter(F.col("repo") < "org2")
    half_b = sk.filter(F.col("repo") >= "org2")
    root = tmp_path / "stores"
    write_sketch_store(half_a, str(root / "a" / "part1"), "repo", buckets=4)
    write_sketch_store(half_b, str(root / "deep" / "nested" / "part2"),
                       "repo", buckets=4)
    found = discover_sketch_stores(spark, str(root))
    assert len(found) == 2
    assert all("part" in p for p in found)
    back = read_all_sketch_stores(spark, str(root))
    assert back.count() == sk.count()


def test_compaction_binpacks_and_preserves_results(spark, tmp_path):
    """N incremental appends -> compaction -> same lookup results, fewer
    files, pruning intact, and duplicate (group, kind) rows from
    re-ingests of the same group fold through the state merge
    (merge_db.cpp:215-248 smallest-first analog). A second compaction is
    a no-op."""
    from kwage_spark.sources.store import (_bucket_file_counts,
                                           compact_sketch_store,
                                           write_sketch_store)
    pdf = make_source_files(n_repos=6, files_per_repo=3, seed=5)
    sk = build_sketches(spark.createDataFrame(pdf), CFG).cache()
    path = str(tmp_path / "store")
    # 3 incremental waves: two disjoint repo halves + a re-ingest of one
    # repo (creates duplicate group rows the merge must fold)
    write_sketch_store(sk.filter(F.col("repo") < "org3"), path, "repo",
                       buckets=4)
    write_sketch_store(sk.filter(F.col("repo") >= "org3"), path, "repo",
                       buckets=4, mode="append")
    dup_repo = sorted(pdf.repo.unique())[0]
    write_sketch_store(sk.filter(F.col("repo") == dup_repo), path, "repo",
                       buckets=4, mode="append")

    before = _bucket_file_counts(spark, path)
    assert sum(before.values()) > len(before), "appends made no small files"
    dup_rows = read_sketch_group(spark, path, "repo", dup_repo, buckets=4)
    langs = {r["lang"] for r in dup_rows.collect()}
    assert dup_rows.count() == 2 * len(langs) * len(CFG.kinds)  # duplicated

    stats = compact_sketch_store(spark, path, group_cols=["repo", "lang"])
    assert stats["buckets_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    after = _bucket_file_counts(spark, path)
    assert all(n == 1 for n in after.values()), after
    assert set(after) == set(before), "compaction changed the bucket set"

    # duplicate group rows folded to one mergeable row per (group, kind)
    merged = read_sketch_group(spark, path, "repo", dup_repo, buckets=4)
    assert merged.count() == len(langs) * len(CFG.kinds)
    # a search over the compacted store equals one over a fresh build
    # (merging a sketch with itself is idempotent for bloom/hll/cms)
    snippet = pdf.loc[pdf.repo == dup_repo, "content"].iloc[0][:60]
    got = containment_search(merged, [(0, snippet)], CFG,
                             threshold=0.5).toPandas()
    want = containment_search(
        build_sketches(spark.createDataFrame(pdf[pdf.repo == dup_repo]),
                       CFG), [(0, snippet)], CFG, threshold=0.5).toPandas()
    assert got[["repo", "lang", "num_kmers_found"]].equals(
        want[["repo", "lang", "num_kmers_found"]])
    # pruning still plan-asserted after the rewrite
    plan = physical_plan(merged)
    assert any("_bucket" in ln for ln in plan.splitlines()
               if "PartitionFilters" in ln), plan
    # idempotent: a compact store is left alone
    again = compact_sketch_store(spark, path, group_cols=["repo", "lang"])
    assert again["buckets_compacted"] == 0
    assert again["files_after"] == stats["files_after"]


def test_group_delta_upsert_via_append_and_compact(spark, tmp_path):
    """The store's UPSERT path for a growing group: build states for the
    group's NEW files only, append, compact — the duplicate-group merge
    folds delta + base into states BYTE-IDENTICAL to a full rebuild over
    all files (bloom OR / hll max / cms add are associative over
    disjoint file sets; KLL is order-dependent so its counters are
    compared instead)."""
    from kwage_spark.sources.store import (compact_sketch_store,
                                           write_sketch_store)
    pdf = make_source_files(n_repos=3, files_per_repo=6, seed=9)
    repo = sorted(pdf.repo.unique())[0]
    grp = pdf[pdf.repo == repo].reset_index(drop=True)
    old = pdf[(pdf.repo != repo) | (pdf.path.isin(grp.path[:3]))]
    delta = grp[~grp.path.isin(grp.path[:3])]

    path = str(tmp_path / "store")
    write_sketch_store(build_sketches(spark.createDataFrame(old), CFG),
                       path, "repo", buckets=4)
    write_sketch_store(build_sketches(spark.createDataFrame(delta), CFG),
                       path, "repo", buckets=4, mode="append")
    compact_sketch_store(spark, path, group_cols=["repo", "lang"])

    got = (read_sketch_group(spark, path, "repo", repo, buckets=4)
           .select("lang", "kind", "n_rows", "n_kgrams", "state")
           .collect())
    want = (build_sketches(spark.createDataFrame(grp), CFG)
            .filter(F.col("repo") == repo)
            .select("lang", "kind", "n_rows", "n_kgrams", "state")
            .collect())
    gmap = {(r["lang"], r["kind"]): r for r in got}
    wmap = {(r["lang"], r["kind"]): r for r in want}
    assert set(gmap) == set(wmap)
    for key, w in wmap.items():
        g = gmap[key]
        assert (g["n_rows"], g["n_kgrams"]) == (w["n_rows"], w["n_kgrams"]), key
        if key[1] != "kll":  # KLL compaction is order-dependent
            assert bytes(g["state"]) == bytes(w["state"]), key


def test_icontains_function(spark):
    from kwage_spark import functions as fx
    df = spark.createDataFrame([("Hello World",), ("goodbye",), (None,)],
                               "s string")
    got = df.select(fx.icontains("s", "WORLD").alias("m")).collect()
    assert [r["m"] for r in got] == [True, False, None]


def test_iceberg_format_contract(spark, tmp_path):
    """SURVEY §7.1 item 6: the format='iceberg' branch is a real, tested
    contract even without the runtime jar — it must raise a clear
    RuntimeError (never silently fall back to parquet), and unknown
    formats must be rejected. With an Iceberg runtime on the classpath
    (spark.jars.packages org.apache.iceberg:iceberg-spark-runtime + a
    catalog config) the same call path does createOrReplace/append on the
    table identifier with identical bucket-partitioned pruning."""
    from kwage_spark.sources.store import iceberg_available, write_sketch_store
    df = spark.range(4).selectExpr("cast(id as string) AS grp", "id AS v")
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present: error contract not reachable")
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        write_sketch_store(df, "cat.db.t", group_col="grp", format="iceberg")
    # nothing must have been written anywhere as a side effect
    assert not (tmp_path / "cat.db.t").exists()
    with pytest.raises(ValueError, match="unknown store format"):
        write_sketch_store(df, str(tmp_path / "x"), group_col="grp",
                           format="orc2")


def test_store_roundtrip_through_scheme_uri(spark, tmp_path):
    """S10 evidence within the sandbox: the store write/discover/read path
    is URI-scheme-agnostic — it goes through the Hadoop FileSystem API, so
    an explicit file:// URI exercises the same resolution layer an
    s3a:// bucket would (minus the connector jar). The reference shells
    out `aws s3 mv` per DB file (`worker_main.cpp:182-218`); here the
    committer writes straight to the destination scheme."""
    from kwage_spark.sources.store import (discover_sketch_stores,
                                           read_sketch_group,
                                           read_sketch_store,
                                           write_sketch_store)
    df = spark.createDataFrame(
        [(f"g{i % 4}", i) for i in range(32)], "grp string, v long")
    uri = f"file://{tmp_path}/nested/store"
    write_sketch_store(df, uri, group_col="grp", buckets=8)
    found = discover_sketch_stores(spark, f"file://{tmp_path}")
    assert len(found) == 1 and found[0].endswith("/nested/store")
    back = read_sketch_store(spark, uri)
    assert back.count() == 32 and set(back.columns) == {"grp", "v"}
    one = read_sketch_group(spark, uri, "grp", "g2", buckets=8)
    assert one.count() == 8
    assert {r["grp"] for r in one.collect()} == {"g2"}


# ------------------------------------------------ manifest and page layout
def _session_confs(spark):
    return {r["key"]: r["value"] for r in spark.sql("SET").collect()}


def _old_layout_store(sk, path, group_col, buckets):
    """A store as written before the manifest: the plain partitioned
    writer, no sort, no page cap, no ``_kwage_store.json``."""
    (sk.withColumn("_bucket", F.pmod(F.xxhash64(group_col), F.lit(buckets))
                   .cast("int"))
     .write.mode("overwrite").partitionBy("_bucket").parquet(path))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def dense(spark, tmp_path_factory):
    """~120 groups in 2 buckets from one input partition: every bucket
    file holds many rows of each kind."""
    pdf = make_source_files(n_repos=30, files_per_repo=8, tokens_per_file=30,
                            seed=17)
    sk = build_sketches(spark.createDataFrame(pdf), CFG).coalesce(1) \
        .localCheckpoint(eager=True)
    root = tmp_path_factory.mktemp("dense")
    new, old = str(root / "new"), str(root / "old")
    write_sketch_store(sk, new, "repo", buckets=2)
    _old_layout_store(sk, old, "repo", 2)
    return pdf, sk, new, old


def test_manifest_read_starts_no_jobs_and_restores_confs(spark, dense,
                                                          tmp_path):
    """More bucket dirs than Spark's parallel-listing threshold (32), so
    both discovery jobs would start without the manifest."""
    _, sk, _, _ = dense
    sk = sk.withColumn("g", F.concat_ws("/", "repo", "lang"))  # ~120 keys
    g = sk.first()["g"]
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    write_sketch_store(sk, new, "g", buckets=48)
    _old_layout_store(sk, old, "g", 48)
    assert len(list(Path(new).glob("_bucket=*"))) > 32
    assert (Path(new) / MANIFEST).exists() and not (Path(old) / MANIFEST).exists()
    confs = _session_confs(spark)
    _, jobs = new_jobs(spark, lambda: read_sketch_store(spark, new))
    assert jobs == 0
    grp, jobs = new_jobs(spark,
                         lambda: read_sketch_group(spark, new, "g", g))
    assert jobs == 0
    assert _session_confs(spark) == confs
    # buckets defaulted to the manifest's 48, so the lookup finds the group
    assert {r["g"] for r in grp.collect()} == {g}
    # the counter does see discovery work: the old layout lists its dirs
    # and infers its schema from footers in jobs
    _, jobs = new_jobs(spark, lambda: read_sketch_store(spark, old))
    assert jobs >= 2


def test_bloom_first_pages_skip_other_kinds_at_the_scan(spark, dense):
    """The pushed-down kind = 'bloom' filter meets the kind column's page
    index: the scan emits fewer rows than the store holds, and the search
    returns exactly what it returns over the old layout."""
    from kwage_spark.plans.inspect import executed_nodes
    pdf, sk, new, old = dense
    queries = [(i, pdf.content[i * 37][:70]) for i in range(4)]
    found = {}
    for name, path in (("new", new), ("old", old)):
        res = containment_search(read_sketch_store(spark, path), queries, CFG,
                                 threshold=0.5)
        found[name] = [tuple(r) for r in res.collect()]
        scans = [m for n, m in executed_nodes(res) if n.startswith("Scan")]
        found[name + "_scan"] = sum(m["numOutputRows"] for m in scans)
    from kwage_spark.sources.store import _page_row_cap
    total = sk.count()
    n_bloom = sk.filter(F.col("kind") == "bloom").count()
    n_files = len(list(Path(new).glob("_bucket=*/*.parquet")))
    # the bloom rows plus at most one capped page of others per file
    assert n_bloom <= found["new_scan"] <= (
        n_bloom + n_files * _page_row_cap(len(sk.columns)))
    assert found["old_scan"] == total > found["new_scan"]
    assert found["new"] == found["old"] and found["new"]


def test_store_without_manifest_reads_identically_and_compaction_migrates(
        spark, dense, tmp_path):
    import shutil
    from kwage_spark.sources.store import compact_sketch_store
    pdf, _, new, old = dense
    path = str(tmp_path / "old")
    shutil.copytree(old, path)
    repo = pdf.repo[5]
    want_all = _rows(read_sketch_store(spark, new))
    want_one = _rows(read_sketch_group(spark, new, "repo", repo))
    assert _rows(read_sketch_store(spark, path)) == want_all
    assert _rows(read_sketch_group(spark, path, "repo", repo,
                                   buckets=2)) == want_one

    stats = compact_sketch_store(spark, path)
    assert stats["buckets_compacted"] == 2  # every bucket re-laid out
    manifest = json.loads((Path(path) / MANIFEST).read_text())
    assert manifest["group_col"] is None and manifest["buckets"] is None
    assert _rows(read_sketch_store(spark, path)) == want_all
    assert _rows(read_sketch_group(spark, path, "repo", repo,
                                   buckets=2)) == want_one
    _, jobs = new_jobs(spark, lambda: read_sketch_store(spark, path))
    assert jobs == 0
    again = compact_sketch_store(spark, path)
    assert again["buckets_compacted"] == 0


def test_manifest_rejects_conflicting_buckets_and_schema(spark, dense,
                                                         tmp_path):
    import shutil
    from kwage_spark.sources.store import _bucket_file_counts
    pdf, sk, new, _ = dense
    with pytest.raises(ValueError, match=MANIFEST):
        read_sketch_group(spark, new, "repo", pdf.repo[0], buckets=16)
    path = str(tmp_path / "store")
    shutil.copytree(new, path)
    before = _bucket_file_counts(spark, path)
    for bad, kw in ((sk.withColumn("extra", F.lit(1)), {"buckets": 2}),
                    (sk.withColumn("n_rows", F.col("n_rows").cast("int")),
                     {"buckets": 2}),
                    (sk, {"buckets": 4})):
        with pytest.raises(ValueError, match=MANIFEST):
            write_sketch_store(bad, path, "repo", mode="append", **kw)
    assert _bucket_file_counts(spark, path) == before
    # a matching append (here: the store read back, all columns nullable)
    # goes through
    write_sketch_store(read_sketch_store(spark, new), path, "repo",
                       buckets=2, mode="append")
    assert read_sketch_store(spark, path).count() == 2 * sk.count()


def test_store_pruned_bloom_search_matches_in_memory_and_exact(spark):
    """Oracle for the persisted flagship: the bucket-pruned store read
    returns what the in-memory search returns for src1, and a Bloom
    filter never reports fewer k-grams than the exact count."""
    from kwage_spark.operators.search import exact_containment
    from kwage_spark.queries import FLAGSHIP_SNIPPET
    from kwage_spark.queries_sketch import (DOC_CFG, STORE_GROUP,
                                            doc_sketches,
                                            store_pruned_bloom_search)
    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in store_pruned_bloom_search(spark, sf)
                 .collect())
    mem = doc_sketches(spark, sf).filter(F.col("source") == STORE_GROUP)
    want = containment_search(mem, [(0, FLAGSHIP_SNIPPET)], DOC_CFG,
                              threshold=0.3, emit_all=True)
    assert got and got == sorted(tuple(r) for r in want.collect())

    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .filter(F.col("source") == STORE_GROUP)
    exact = {(r["source"], r["lang"]): r for r in exact_containment(
        docs, [(0, FLAGSHIP_SNIPPET)], DOC_CFG).collect()}
    k = DOC_CFG.k
    n_grams = len({FLAGSHIP_SNIPPET[i:i + k]
                   for i in range(len(FLAGSHIP_SNIPPET) - k + 1)})
    cols = store_pruned_bloom_search(spark, sf).columns
    for row in got:
        r = dict(zip(cols, row))
        e = exact.get((r["source"], r["lang"]))
        assert r["num_kmers"] == n_grams
        if e is not None:
            assert r["num_kmers"] == e["num_kmers"]
        assert r["num_kmers_found"] >= (e["num_kmers_found"] if e else 0)


# ------------------------------------------------ one file per bucket
@pytest.fixture(scope="module")
def spread(spark):
    """Sketches of 40 repos from a 7-partition input, checkpointed so every
    write below sees the same rows in the same several partitions."""
    pdf = make_source_files(n_repos=40, files_per_repo=3, tokens_per_file=30,
                            seed=29)
    sk = build_sketches(spark.createDataFrame(pdf).repartition(7), CFG) \
        .localCheckpoint(eager=True)
    assert sk.rdd.getNumPartitions() > 1
    return pdf, sk


@pytest.mark.parametrize("shuffle_partitions", [3, 32])
def test_overwrite_writes_one_file_per_bucket(spark, spread, tmp_path,
                                              shuffle_partitions):
    """An overwrite exchanges rows on _bucket before the write, below and
    above the bucket count alike, so it leaves the compact layout; an
    append adds no exchange and leaves file waves for compaction."""
    from kwage_spark.sources.store import (_bucket_file_counts,
                                           _session_conf,
                                           compact_sketch_store)
    _, sk = spread
    path = str(tmp_path / "store")
    with _session_conf(spark, "spark.sql.shuffle.partitions",
                       str(shuffle_partitions)):
        write_sketch_store(sk, path, "repo", buckets=16)
    counts = _bucket_file_counts(spark, path)
    assert len(counts) > 1 and set(counts.values()) == {1}, counts
    assert compact_sketch_store(spark, path)["buckets_compacted"] == 0
    assert _rows(read_sketch_store(spark, path)) == _rows(sk)

    write_sketch_store(sk, path, "repo", buckets=16, mode="append")
    appended = _bucket_file_counts(spark, path)
    assert max(appended.values()) > 1, appended
    stats = compact_sketch_store(spark, path)
    assert stats["buckets_compacted"] == sum(n > 1 for n in appended.values())
    assert set(_bucket_file_counts(spark, path).values()) == {1}
    assert _rows(read_sketch_store(spark, path)) == sorted(_rows(sk) * 2)


def test_packed_store_search_matches_unpacked_and_in_memory(spark, spread,
                                                            tmp_path):
    """The packing exchange changes files, not results: an ordered search
    over the packed store returns the rows, in order, of one over the
    same sketches written without the exchange and of one in memory."""
    from kwage_spark.sources.store import (_bucket_file_counts, _with_bucket,
                                           _write_bucketed)
    pdf, sk = spread
    packed, unpacked = str(tmp_path / "packed"), str(tmp_path / "unpacked")
    write_sketch_store(sk, packed, "repo", buckets=16)
    _write_bucketed(_with_bucket(sk, "repo", 16), unpacked, "overwrite")
    assert (sum(_bucket_file_counts(spark, unpacked).values())
            > sum(_bucket_file_counts(spark, packed).values()))
    queries = [(i, pdf.content[i * 23][:70]) for i in range(5)]

    def search(df):
        return [tuple(r) for r in containment_search(
            df, queries, CFG, threshold=0.5, ordered=True).collect()]

    want = search(sk)
    assert want
    assert search(read_sketch_store(spark, packed)) == want
    assert search(spark.read.parquet(unpacked).drop("_bucket")) == want


# ------------------------------------------------------------ page codec
def _codecs(root):
    """The codec of every column chunk of every parquet file under root."""
    import pyarrow.parquet as pq
    out = set()
    for f in Path(root).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        out |= {md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)}
    return out


def test_every_state_writer_writes_zstd(spark, dense, tmp_path):
    """Store overwrite, append and compaction, checkpoint states and
    stream partials all leave ZSTD column chunks only."""
    from kwage_spark.operators.checkpoint import write_checkpoint
    from kwage_spark.sources.store import compact_sketch_store
    from kwage_spark.streaming.ingest_stream import stream_ingest
    pdf, sk, _, _ = dense
    path = str(tmp_path / "store")
    write_sketch_store(sk, path, "repo", buckets=2)
    assert _codecs(path) == {"ZSTD"}
    write_sketch_store(sk.limit(20), path, "repo", buckets=2, mode="append")
    assert _codecs(path) == {"ZSTD"}
    assert compact_sketch_store(spark, path)["buckets_compacted"] > 0
    assert _codecs(path) == {"ZSTD"}

    ckpt = str(tmp_path / "ckpt")
    write_checkpoint(sk, ckpt)
    assert _codecs(f"{ckpt}/states") == {"ZSTD"}

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    spark.createDataFrame(pdf.head(24)).write.parquet(src)
    q = stream_ingest(spark, src, ", ".join(
        f"{c} string" for c in pdf.columns), CFG, state,
        str(tmp_path / "stream_ckpt"))
    q.awaitTermination(120)
    assert _codecs(state) == {"ZSTD"}


def test_snappy_store_reads_appends_and_compacts(spark, dense, tmp_path,
                                                  monkeypatch):
    """A store written with snappy pages reads as before, takes a zstd
    append and compacts, with every row and state byte unchanged; the
    compacted files are ZSTD."""
    from kwage_spark.sources import store as store_mod
    from kwage_spark.sources.store import compact_sketch_store
    pdf, sk, _, _ = dense
    more = build_sketches(spark.createDataFrame(make_source_files(
        n_repos=12, files_per_repo=3, tokens_per_file=30, seed=18)), CFG)
    path = str(tmp_path / "store")
    with monkeypatch.context() as m:
        m.setattr(store_mod, "STATE_CODEC_OPTIONS", {"compression": "snappy"})
        write_sketch_store(sk, path, "repo", buckets=2)
    assert _codecs(path) == {"SNAPPY"}
    assert _rows(read_sketch_store(spark, path)) == _rows(sk)

    write_sketch_store(more, path, "repo", buckets=2, mode="append")
    assert _codecs(path) == {"SNAPPY", "ZSTD"}
    want = sorted(_rows(sk) + _rows(more))
    assert _rows(read_sketch_store(spark, path)) == want

    assert compact_sketch_store(spark, path)["buckets_compacted"] == 2
    assert _codecs(path) == {"ZSTD"}
    assert _rows(read_sketch_store(spark, path)) == want
