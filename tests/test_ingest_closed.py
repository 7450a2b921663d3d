"""The closed ingest plan: on a parquet input clustered by the group key,
each group is owned by the first row group it is in, a row group's piece
(its owned groups, also where they continue into later row groups) is
built whole by one task into FINAL states in one Python stage, and
nothing is merged. Its states must equal the partial and raw plans', and
it must decline (and say why) wherever a piece could not be built by one
task as cheaply as a raw-mode task builds its partition."""

import logging

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels import BloomParams
from kwage_spark.operators import ingest
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.plans.inspect import executed_nodes
from kwage_spark.sources.store import write_sketch_store

from conftest import new_jobs

CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=14, num_hash=3),
                   hll_p=10, cms_log2_w=10, cms_depth=4, kll_k=64)
ROWS_PER_RG = 48
LOGGER = "kwage_spark.operators.ingest"


def _write(path, sizes, seed=1, content_len=(0, 80), null_keys=True,
           row_group_size=ROWS_PER_RG, prefix="r", content_type=pa.string()):
    """One parquet file of groups laid out one after another (clustered),
    ``sizes[g]`` rows for group g (repo ``{prefix}{g // 2}``), cut into
    row groups of ``row_group_size`` rows. Content lengths are drawn from
    ``content_len`` (inclusive). With ``null_keys`` group 5's repo is null
    on its even rows and "" on its odd ones (one group: every mode keys a
    null as "") and group 7 has a null lang; every group has a null and an
    empty content row when it has 5 rows or more. ``content_type`` is the
    content column's stored Arrow type."""
    rng = np.random.default_rng(seed)
    repo, lang, content = [], [], []
    for g, n in enumerate(sizes):
        for i in range(n):
            repo.append(("" if i % 2 else None) if null_keys and g == 5
                        else f"{prefix}{g // 2}")
            lang.append(None if null_keys and g == 7 else f"l{g % 2}")
            ln = int(rng.integers(content_len[0], content_len[1] + 1))
            text = "".join(rng.choice(list("abcdefgh "), ln))
            content.append(None if i == 3 else "" if i == 4 else text)
    content = pa.array(content, pa.string()).cast(content_type)
    pq.write_table(pa.table({"repo": repo, "lang": lang, "content": content,
                             "path": [f"f{i}" for i in range(len(repo))]}),
                   str(path), row_group_size=row_group_size)
    return str(path)


#: 10 row groups of 48 rows: group 3 (rows 36-59) spans row groups 0 and
#: 1, every other group sits inside one, so row group 0's piece holds
#: ~5/40 of the content and row group 1 is read by two pieces
CLUSTERED = [12, 12, 12, 24] + [12] * 35


@pytest.fixture(scope="module")
def clustered(tmp_path_factory):
    return _write(tmp_path_factory.mktemp("closed") / "c.parquet", CLUSTERED)


def _decisions(caplog):
    return [r.decision for r in caplog.records if hasattr(r, "decision")]


def _rows(sk, kinds=("bloom", "hll", "cms")):
    """Sorted (key, kind, state, n_rows, n_kgrams); states only of
    ``kinds`` (KLL compaction depends on feed order)."""
    return sorted((r.repo, r.lang, r.kind,
                   bytes(r.state) if r.kind in kinds else None,
                   r.n_rows, r.n_kgrams) for r in sk.collect())


@pytest.mark.parametrize("content_type", ["string", "large_string",
                                          "large_binary"])
def test_closed_states_match_partial_and_raw(spark, clustered, tmp_path,
                                             caplog, content_type):
    """Also when the content is stored as a type with 64-bit offsets,
    which pyarrow hands the kernels as stored and Spark does not."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    if content_type != "string":
        clustered = _write(tmp_path / "c.parquet", CLUSTERED,
                           content_type=getattr(pa, content_type)())
        assert str(pq.read_schema(clustered).field("content").type) \
            == content_type
    df = spark.read.parquet(clustered)
    closed = _rows(build_sketches(df, CFG))
    rec = _decisions(caplog)[-1]
    assert rec["mode"] == "closed", rec
    assert rec["n_units"] == spark.sparkContext.defaultParallelism
    assert rec["n_pieces"] == 10
    assert 1 < rec["read_ratio"] < 1.2  # row group 1 is read twice
    partial = _rows(build_sketches(df, CFG, combine="partial"))
    raw = _rows(build_sketches(df, CFG, combine="raw"))
    assert closed == partial == raw
    # null keys are keyed "" in every mode, also where a null and a ""
    # share a group; the spanning group is whole
    keys = {(r[0], r[1]): (r[4], r[5]) for r in closed}
    assert keys[("", "l1")][0] == 12 and ("r3", "") in keys
    assert keys[("r1", "l1")][0] == 24
    assert len(closed) == len(CLUSTERED) * len(CFG.kinds)


def test_closed_kll_is_independent_of_parallelism(spark, clustered):
    """Every piece is read in file order by one task, so even the
    order-dependent KLL state is the same however units are packed."""
    src = ingest._select_inputs(spark.read.parquet(clustered), CFG)
    _, layout = ingest._corpus_stats(src, CFG)
    out = {}
    for p in (2, 3):
        sk, rec = ingest._closed_plan(src, CFG, *layout, p)
        assert rec["n_units"] == p, rec
        out[p] = _rows(sk, kinds=CFG.kinds)
    assert out[2] == out[3]


def _hive(spark, tmp_path, clustered):
    path = str(tmp_path / "hive")
    spark.read.parquet(clustered).write.partitionBy("lang").parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("layout,reason", [
    ("round-robin", "largest piece"),
    ("single-row-group", "largest piece"),
    ("filtered", "Filter"),
    ("hive-partitioned", "'lang' is not stored in the files"),
    ("dictionary-content", "'content' is stored as dictionary"),
])
def test_closed_declines(spark, tmp_path, clustered, caplog, layout, reason):
    caplog.set_level(logging.INFO, logger=LOGGER)
    if layout == "round-robin":
        # every group in every row group: row group 0 owns them all
        sizes = [48] * 10
        path = _write(tmp_path / "c.parquet", sizes)
        t = pq.read_table(path)
        order = np.argsort(np.arange(t.num_rows) % 48, kind="stable")
        pq.write_table(t.take(order), path, row_group_size=ROWS_PER_RG)
        df = spark.read.parquet(path)
    elif layout == "single-row-group":
        df = spark.read.parquet(_write(tmp_path / "c.parquet", CLUSTERED,
                                       row_group_size=10 ** 6))
    elif layout == "dictionary-content":
        # pyarrow restores a dictionary-typed column from the stored schema
        path = _write(tmp_path / "c.parquet", CLUSTERED)
        t = pq.read_table(path)
        i = t.schema.get_field_index("content")
        pq.write_table(t.set_column(i, "content",
                                    t.column(i).dictionary_encode()),
                       path, row_group_size=ROWS_PER_RG)
        df = spark.read.parquet(path)
    elif layout == "filtered":
        df = spark.read.parquet(clustered).filter(F.col("path") != "f0")
    else:
        df = _hive(spark, tmp_path, clustered)
    sk = build_sketches(df, CFG)
    rec = _decisions(caplog)[-1]
    assert rec["mode"] in ("partial", "raw"), rec
    assert reason in rec["reason"], rec
    if layout in ("round-robin", "single-row-group"):
        assert rec["largest_share"] > rec["fair_share"], rec
    sk.collect()
    names = [n for n, _ in executed_nodes(sk)]
    assert "Range" not in names and "Scan parquet " in names, names


def test_closed_decision_boundary(spark, tmp_path, caplog):
    """The plan is closed while the largest piece holds at most the
    fair share 1/defaultParallelism of the content, and declines above
    it. Rows have equal content length, so a row group's share is
    1/n_row_groups."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    p = spark.sparkContext.defaultParallelism
    n_rg = 3 * p
    got = {}
    for span in (2, 4):  # 2/(3p) < 1/p < 4/(3p)
        # one group of ``span`` whole row groups, then one group per row group
        sizes = [ROWS_PER_RG * span] + [ROWS_PER_RG] * (n_rg - span)
        path = _write(tmp_path / f"b{span}.parquet", sizes,
                      content_len=(40, 40), null_keys=False)
        build_sketches(spark.read.parquet(path), CFG)
        got[span] = _decisions(caplog)[-1]
    assert got[2]["mode"] == "closed", got
    assert got[2]["largest_share"] <= got[2]["fair_share"] == round(1 / p, 4)
    assert got[2]["n_units"] == p
    assert got[4]["mode"] in ("partial", "raw"), got
    assert got[4]["largest_share"] > got[4]["fair_share"], got
    assert "fair share" in got[4]["reason"]


def test_closed_builds_groups_cut_by_row_group_boundaries(spark, tmp_path,
                                                         caplog):
    """Groups of unequal sizes in one sorted file: every row-group
    boundary cuts a group, and some groups span three row groups. Each is
    built whole by the piece of its first row group, and the states equal
    the partial and raw plans'."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    sizes = np.random.default_rng(7).integers(5, 70, 40).tolist()
    ends = set(np.cumsum(sizes).tolist())
    bounds = range(ROWS_PER_RG, sum(sizes), ROWS_PER_RG)
    assert not ends.intersection(bounds)
    df = spark.read.parquet(_write(tmp_path / "u.parquet", sizes))
    closed = _rows(build_sketches(df, CFG))
    rec = _decisions(caplog)[-1]
    assert rec["mode"] == "closed", rec
    assert 1.5 < rec["read_ratio"] <= ingest.CLOSED_MAX_READ_RATIO, rec
    assert closed == _rows(build_sketches(df, CFG, combine="partial")) \
        == _rows(build_sketches(df, CFG, combine="raw"))
    assert len(closed) == len(sizes) * len(CFG.kinds)
    assert sorted(r[4] for r in closed[::len(CFG.kinds)]) == sorted(sizes)


def test_closed_piece_holds_no_more_groups_than_a_raw_partition(
        spark, clustered, monkeypatch, caplog):
    """A task holds the states of its piece's groups until the piece ends,
    as a raw-mode task holds those of its partition of RAW_PARTITION_BYTES.
    Sized so a raw partition holds exactly the largest piece's 4 groups
    the plan is closed; one group fewer and it declines."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    src = ingest._select_inputs(spark.read.parquet(clustered), CFG)
    footers, spans = ingest._corpus_stats(src, CFG)[1]
    content, n_groups = int(footers.rg_content.sum()), len(spans[3])
    got = {}
    for g in (4, 3):
        monkeypatch.setattr(ingest, "RAW_PARTITION_BYTES",
                            g * content // n_groups)
        build_sketches(spark.read.parquet(clustered), CFG)
        got[g] = _decisions(caplog)[-1]
    assert got[4]["mode"] == "closed", got
    assert got[4]["largest_groups"] == got[4]["raw_partition_groups"] == 4
    assert got[3]["mode"] in ("partial", "raw"), got
    assert "raw partition" in got[3]["reason"], got


def test_closed_declines_over_the_read_ratio(spark, clustered, monkeypatch,
                                             caplog):
    """Row group 1 is read by two pieces, so a read-ratio limit of 1
    declines the plan."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    monkeypatch.setattr(ingest, "CLOSED_MAX_READ_RATIO", 1.0)
    build_sketches(spark.read.parquet(clustered), CFG)
    rec = _decisions(caplog)[-1]
    assert rec["mode"] in ("partial", "raw"), rec
    assert "READ_RATIO" in rec["reason"] and rec["read_ratio"] > 1, rec


def test_footer_stats_kept_when_a_meta_column_is_partitioned(spark, tmp_path,
                                                             clustered,
                                                             caplog):
    """A meta column kept in partition dirs only rules out the closed plan:
    the cost stats still come from the footers and start no Spark job."""
    import dataclasses
    caplog.set_level(logging.INFO, logger=LOGGER)
    cfg = dataclasses.replace(CFG, meta_cols=("src",))
    path = str(tmp_path / "hive")
    (spark.read.parquet(clustered)
     .withColumn("src", F.lit("a")).write.partitionBy("src").parquet(path))
    df = spark.read.parquet(path)
    _, jobs = new_jobs(spark, lambda: build_sketches(df, cfg))
    rec = _decisions(caplog)[-1]
    assert rec["mode"] in ("partial", "raw"), rec
    assert "'src' is not stored in the files" in rec["reason"], rec
    assert jobs == 0


def test_closed_plan_has_no_exchange_and_sends_no_content(spark, clustered):
    """One Python node over one row per unit: no Exchange below the sketch
    rows, and only the unit ids cross into Python."""
    sk = build_sketches(spark.read.parquet(clustered), CFG)
    sk.collect()
    nodes = executed_nodes(sk)
    names = [n for n, _ in nodes]
    assert not [n for n in names if "Exchange" in n], names
    python = [m for n, m in nodes if n == "MapInArrow"]
    assert len(python) == 1, names
    assert "Range" in names and not [n for n in names if "Scan" in n], names
    content = pq.read_table(clustered, columns=["content"]).nbytes
    assert python[0]["pythonDataSent"] < 4096 < content, python


def test_closed_build_and_store_write_take_one_job_fewer(spark, clustered,
                                                         tmp_path):
    """Build + store write start one job fewer than the partial plan: the
    merge stage's. The scan is split into defaultParallelism partitions
    or more, so the partial plan does not widen its input either."""
    import os

    from kwage_spark.sources.store import _session_conf
    p = spark.sparkContext.defaultParallelism
    split = str(os.path.getsize(clustered) // (p + 1))

    def jobs(combine):
        df = spark.read.parquet(clustered)
        assert df.rdd.getNumPartitions() >= p
        return new_jobs(spark, lambda: write_sketch_store(
            build_sketches(df, CFG, combine=combine),
            str(tmp_path / combine), "repo", buckets=8))[1]

    with _session_conf(spark, "spark.sql.files.maxPartitionBytes", split), \
            _session_conf(spark, "spark.sql.files.openCostInBytes", "0"):
        jobs("auto")  # warm-up: the first write of a session plans extra jobs
        assert jobs("auto") == jobs("partial") - 1


def test_footer_cap_opens_no_footer(spark, tmp_path, monkeypatch, caplog):
    """Above FOOTER_FILE_CAP files the driver opens no parquet footer, the
    stats come from Spark, and the sketches equal those built under it."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    d = tmp_path / "files"
    d.mkdir()
    for f in range(3):
        _write(d / f"part-{f}.parquet", [12] * 8, seed=f, null_keys=False,
               prefix=f"f{f}r")
    df = spark.read.parquet(str(d))
    under = _rows(build_sketches(df, CFG))
    assert _decisions(caplog)[-1]["mode"] == "closed"

    opened = []
    real = pq.ParquetFile

    def counting(*a, **kw):
        opened.append(a[0] if a else kw)
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    monkeypatch.setattr(ingest, "FOOTER_FILE_CAP", 2)
    above = _rows(build_sketches(df, CFG))
    rec = _decisions(caplog)[-1]
    assert opened == []
    assert rec["mode"] in ("partial", "raw") and "footer cap" in rec["reason"]
    assert above == under


def test_footer_bytes_name_the_content_leaf(spark, tmp_path):
    """Footer byte counts come from the content column's own leaf, also
    when a struct column before it adds leaves to the parquet schema."""
    n = 96
    t = pa.table({"repo": [f"r{i // 12}" for i in range(n)],
                  "info": [{"x": i, "y": i} for i in range(n)],
                  "lang": ["py"] * n,
                  "content": ["abcdefgh" * (1 + i % 7) for i in range(n)]})
    path = str(tmp_path / "nested.parquet")
    pq.write_table(t, path, row_group_size=ROWS_PER_RG)
    src = ingest._select_inputs(spark.read.parquet(path), CFG)
    footers = ingest._footer_scan(src, CFG)
    md = pq.ParquetFile(path).metadata
    want = [md.row_group(g).column(4).total_uncompressed_size
            for g in range(md.num_row_groups)]
    assert md.row_group(0).column(4).path_in_schema == "content"
    assert footers.rg_content.tolist() == want
