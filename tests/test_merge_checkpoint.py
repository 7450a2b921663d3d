"""Merge-tool, fold-table, and checkpoint/resume semantics (A13, A4, T1-T4)."""

import contextlib
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels import BloomParams
from kwage_spark.kernels.bloom import BloomState
from kwage_spark.kernels.cms import CMSState
from kwage_spark.kernels.hll import HLLState
from kwage_spark.kernels.kll import KLLState
from kwage_spark.kernels.kmv import KMVState
from kwage_spark.kernels.mg import MGState
from kwage_spark.kernels.registry import merge_state_blobs, state_from_bytes
from kwage_spark.kernels.tdigest import TDigestState
from kwage_spark.operators.checkpoint import (
    resume_ingest, verify_manifest, write_checkpoint, read_checkpoint)
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.merge import (
    fold_bloom_table, merge_grouped_states, merge_sketch_tables,
    merge_states_global, verify_states)
from kwage_spark.operators.text import frequent_tokens_mg, kmv_token_sketches
from kwage_spark.plans.inspect import executed_nodes, physical_plan
from kwage_spark.sources.fixtures import make_source_files
from kwage_spark.sources.store import compact_sketch_store, write_sketch_store

CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=14, num_hash=3),
                   kinds=("bloom", "hll", "cms"))


@pytest.fixture(scope="module")
def corpus():
    return make_source_files(n_repos=6, files_per_repo=8)


def _states(df, gcols=("repo", "lang")):
    return {tuple(r[c] for c in gcols) + (r["kind"],):
            state_from_bytes(bytes(r["state"])) for r in df.collect()}


def test_merge_tables_equals_whole(spark, corpus):
    """merge(sketch(half1), sketch(half2)) == sketch(all) — A13/O1."""
    files = spark.createDataFrame(corpus)
    half1 = files.filter(F.crc32(F.col("path")) % 2 == 0)
    half2 = files.filter(F.crc32(F.col("path")) % 2 == 1)
    a = build_sketches(half1, CFG)
    b = build_sketches(half2, CFG)
    merged = _states(merge_sketch_tables(a, b, list(CFG.group_cols)))
    whole = _states(build_sketches(files, CFG))
    assert merged.keys() == whole.keys()
    for k in whole:
        assert merged[k] == whole[k], k


def test_fold_table_matches_direct_build(spark, corpus):
    """fold(table@2^14 -> 2^10) == build at 2^10 — A4 at table level."""
    files = spark.createDataFrame(corpus)
    big = build_sketches(files, CFG)
    folded = _states(fold_bloom_table(big, 10))
    small_cfg = SketchConfig(bloom=BloomParams(k=8, log2_m=10, num_hash=3),
                             kinds=("bloom",))
    direct = _states(build_sketches(files, small_cfg))
    for key, st in direct.items():
        assert folded[key] == st, key


def test_verify_states_counts_all(spark, corpus):
    files = spark.createDataFrame(corpus)
    sk = build_sketches(files, CFG)
    assert verify_states(sk) == sk.count()


def test_checkpoint_roundtrip_and_manifest(spark, corpus, tmp_path):
    files = spark.createDataFrame(corpus)
    sk = build_sketches(files, CFG)
    path = str(tmp_path / "ckpt")
    write_checkpoint(sk, path)
    states, manifest = read_checkpoint(spark, path)
    assert states.count() == sk.count()
    assert manifest.filter(~F.col("complete")).count() == 0
    assert set(manifest.columns) >= {"kind", "state_crc32", "complete",
                                     "n_rows", "n_kgrams"}
    # integrity sweep: no crc mismatches
    bad = verify_manifest(states, manifest, list(CFG.group_cols))
    assert bad.empty
    # state_crc32 is zlib's CRC-32 of the state, the value manifests
    # written by earlier versions hold, so those still verify
    rows = states.join(manifest, [*CFG.group_cols, "kind"]).collect()
    assert len(rows) == sk.count()
    for r in rows:
        assert r["state_crc32"] == zlib.crc32(bytes(r["state"])), r["kind"]
    # a tampered state is the one row returned
    victim = rows[0]
    hit = ((F.col("repo") == victim["repo"]) & (F.col("lang") == victim["lang"])
           & (F.col("kind") == victim["kind"]))
    tampered = states.withColumn(
        "state", F.when(hit, F.concat("state", F.lit(bytearray(b"\x00"))))
        .otherwise(F.col("state")))
    bad = verify_manifest(tampered, manifest, list(CFG.group_cols))
    assert [tuple(r) for r in bad[["repo", "lang", "kind"]].itertuples(
        index=False)] == [(victim["repo"], victim["lang"], victim["kind"])]
    assert bad["actual_crc32"].iloc[0] == zlib.crc32(
        bytes(victim["state"]) + b"\x00")


def test_checkpoint_crc_plans_run_no_python(spark, corpus, tmp_path,
                                             monkeypatch):
    """The manifest write and verify_manifest's check are JVM-only plans."""
    sk = build_sketches(spark.createDataFrame(corpus), CFG).localCheckpoint()
    seen = {}
    writer = type(sk.write)
    parquet = writer.parquet

    def record_parquet(self, path, *a, **kw):
        seen[path.rsplit("/", 1)[-1]] = self._df
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(writer, "parquet", record_parquet)
    path = str(tmp_path / "ckpt")
    write_checkpoint(sk, path)
    states, manifest = read_checkpoint(spark, path)
    frame = type(states)
    to_pandas = frame.toPandas

    def record_to_pandas(self):
        seen["verify"] = self
        return to_pandas(self)

    monkeypatch.setattr(frame, "toPandas", record_to_pandas)
    assert verify_manifest(states, manifest, list(CFG.group_cols)).empty
    for name in ("manifest", "verify"):
        plan = physical_plan(seen[name])
        assert "Python" not in plan and "InPandas" not in plan \
            and "InArrow" not in plan, (name, plan)


def test_resume_equals_clean_run(spark, corpus, tmp_path):
    """Kill-after-partial-checkpoint then resume == one-shot run (T3)."""
    files = spark.createDataFrame(corpus)
    clean = _states(build_sketches(files, CFG))
    # simulate crash: checkpoint holds only 2 of the repos' groups
    partial = build_sketches(
        files.filter(F.col("repo").isin("org0/repo0", "org1/repo1")), CFG)
    path = str(tmp_path / "partial_ckpt")
    write_checkpoint(partial, path)
    resumed = _states(resume_ingest(spark, files, CFG, path))
    assert resumed.keys() == clean.keys()
    for k in clean:
        assert resumed[k] == clean[k], k
    # n_rows lineage must also match the clean run
    clean_rows = {(r["repo"], r["lang"], r["kind"]): r["n_rows"]
                  for r in build_sketches(files, CFG).collect()}
    res_rows = {(r["repo"], r["lang"], r["kind"]): r["n_rows"]
                for r in resume_ingest(spark, files, CFG, path).collect()}
    assert clean_rows == res_rows


def test_resume_cold_start_without_checkpoint(spark, corpus, tmp_path):
    files = spark.createDataFrame(corpus)
    out = resume_ingest(spark, files, CFG, str(tmp_path / "missing"))
    assert out.count() == build_sketches(files, CFG).count()


def test_attempt_lineage_across_resume(spark, corpus, tmp_path):
    """Manifest attempt counters (maestro.h:8-45 analog): groups carried
    from a complete prior checkpoint keep attempt=1; groups (re)built on
    the resume run get prior attempts + 1."""
    files = spark.createDataFrame(corpus)
    partial = build_sketches(
        files.filter(F.col("repo").isin("org0/repo0", "org1/repo1")), CFG)
    path = str(tmp_path / "attempt_ckpt")
    write_checkpoint(partial, path)
    _, manifest1 = read_checkpoint(spark, path)
    assert {r["attempt"] for r in manifest1.collect()} == {1}

    resumed = resume_ingest(spark, files, CFG, path)
    path2 = str(tmp_path / "attempt_ckpt2")
    write_checkpoint(resumed, path2, prior_manifest=manifest1)
    _, manifest2 = read_checkpoint(spark, path2)
    att = {(r["repo"], r["kind"]): r["attempt"] for r in manifest2.collect()}
    assert att[("org0/repo0", "bloom")] == 1      # carried through
    assert att[("org2/repo2", "bloom")] == 1      # first build on run 2
    # a third run rebuilding everything bumps only the incomplete ones;
    # simulate a failed group by marking it incomplete in manifest2
    m2_edit = manifest2.withColumn(
        "complete", F.when(F.col("repo") == "org2/repo2", F.lit(False))
        .otherwise(F.col("complete")))
    path3 = str(tmp_path / "attempt_ckpt3")
    write_checkpoint(resumed, path3, prior_manifest=m2_edit)
    _, manifest3 = read_checkpoint(spark, path3)
    att3 = {(r["repo"], r["kind"]): r["attempt"] for r in manifest3.collect()}
    assert att3[("org2/repo2", "bloom")] == 2     # failed once, retried
    assert att3[("org0/repo0", "bloom")] == 1


def test_config_for_corpus_meets_fp_target(spark, corpus):
    from kwage_spark.operators.ingest import config_for_corpus
    files = spark.createDataFrame(corpus)
    cfg = config_for_corpus(files, CFG, p_target=0.1)
    sk = build_sketches(files, cfg).filter(F.col("kind") == "bloom")
    for r in sk.collect():
        st = state_from_bytes(bytes(r["state"]))
        # the sizing headroom (4x mean) must hold the bound for typical
        # groups; assert the published bound at each group's actual n
        assert st.params.fp_rate(st.n_items) <= 0.1 * 4 or st.n_items == 0


def test_resume_shuffle_join_path(spark, corpus, tmp_path):
    """broadcast_limit=0 drops the explicit broadcast hints (the 10^8-group
    regime where a forced broadcast would OOM the driver); resume must
    still equal the clean run through the shuffle/AQE join path."""
    files = spark.createDataFrame(corpus)
    clean = _states(build_sketches(files, CFG))
    partial = build_sketches(
        files.filter(F.col("repo").isin("org0/repo0", "org1/repo1")), CFG)
    path = str(tmp_path / "shuffle_ckpt")
    write_checkpoint(partial, path, broadcast_limit=0)
    resumed = _states(resume_ingest(spark, files, CFG, path,
                                    broadcast_limit=0))
    assert resumed.keys() == clean.keys()
    for k in clean:
        assert resumed[k] == clean[k], k


def test_planned_worklist_records_failed_groups(spark, corpus, tmp_path):
    """With a planned work-list, groups that produced no states get
    complete=False manifest rows, so a repeatedly-failing group
    accumulates attempts instead of restarting at 1 when it finally
    succeeds (ADVICE r2: lineage previously relied on the caller
    injecting incomplete rows)."""
    files = spark.createDataFrame(corpus)
    planned = files.select("repo", "lang").distinct()
    ok = files.filter(F.col("repo") != "org3/repo3")
    partial = build_sketches(ok, CFG)

    path1 = str(tmp_path / "plan_ckpt1")
    write_checkpoint(partial, path1, planned=planned)
    _, m1 = read_checkpoint(spark, path1)
    failed1 = m1.filter(~F.col("complete"))
    assert {r["repo"] for r in failed1.collect()} == {"org3/repo3"}
    assert {r["attempt"] for r in failed1.collect()} == {1}
    assert failed1.filter(F.col("kind").isNotNull()).count() == 0

    # run 2: org3/repo3 fails AGAIN -> attempt accumulates to 2
    path2 = str(tmp_path / "plan_ckpt2")
    write_checkpoint(partial, path2, planned=planned, prior_manifest=m1)
    _, m2 = read_checkpoint(spark, path2)
    failed2 = {r["repo"]: r["attempt"]
               for r in m2.filter(~F.col("complete")).collect()}
    assert failed2 == {"org3/repo3": 2}
    # completed groups keep attempt=1
    assert {r["attempt"] for r in m2.filter(F.col("complete")).collect()} \
        == {1}

    # run 3: it finally succeeds -> attempt = prior fails + 1 = 3
    full = build_sketches(files, CFG)
    path3 = str(tmp_path / "plan_ckpt3")
    write_checkpoint(full, path3, planned=planned, prior_manifest=m2)
    _, m3 = read_checkpoint(spark, path3)
    att = {(r["repo"], r["kind"]): r["attempt"] for r in m3.collect()}
    assert att[("org3/repo3", "bloom")] == 3
    assert att[("org0/repo0", "bloom")] == 1
    assert m3.filter(~F.col("complete")).count() == 0


def test_corrupt_manifest_fails_loudly_not_cold_start(spark, corpus, tmp_path):
    """A manifest dir that EXISTS but cannot be read must raise — treating
    it as cold start would rebuild everything and double-append any
    downstream store (only the Bloom OR is idempotent; counters and
    CMS/KLL/HLL mass are not)."""
    import pytest

    from kwage_spark.operators.checkpoint import (checkpoint_exists,
                                                  resume_ingest)
    ck = str(tmp_path / "ck")
    assert not checkpoint_exists(spark, ck)  # genuinely cold
    (tmp_path / "ck" / "manifest").mkdir(parents=True)
    (tmp_path / "ck" / "manifest" / "part-00000.parquet").write_bytes(
        b"not a parquet file")
    assert checkpoint_exists(spark, ck)
    with pytest.raises(Exception) as ei:
        resume_ingest(spark, corpus, CFG, ck).collect()
    assert "cold" not in str(ei.value).lower()


# merges whose result bytes do not depend on the order of a group's partials
ORDER_FREE = ("bloom", "hll", "cms", "kmv")
ALL_KINDS = ORDER_FREE + ("kll", "tdigest", "mg")
PARTIAL_SCHEMA = ("repo string, lang string, kind string, state binary, "
                  "n_rows long, n_kgrams long, meta map<string,string>")


def _kind_state(kind, rng) -> bytes:
    H = rng.integers(0, 1 << 32, size=(40, 4), dtype=np.uint32)
    v = rng.normal(size=40)
    return {"bloom": lambda: BloomState(CFG.bloom).add_hashes(H[:, :3]),
            "hll": lambda: HLLState(8).add_hash_lanes(H),
            "cms": lambda: CMSState(6, 4).add_hashes(H),
            "kmv": lambda: KMVState(16).add_hash_lanes(H),
            "kll": lambda: KLLState(16).add_values(v),
            "tdigest": lambda: TDigestState(20).add_values(v),
            "mg": lambda: MGState(4).add_items(
                [bytes([int(b)]) for b in H[:, 0] % 9]),
            }[kind]().to_bytes()


def _partial_rows(kinds, copies=1, distinct=1, n_groups=6, seed=0):
    """Shuffled partial rows for ``n_groups`` (repo, lang) groups, the last
    with a null lang: per group and kind, ``distinct`` different states,
    each repeated ``copies`` times. A group's meta is the same on all its
    rows, so first-row-wins is order-free."""
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n_groups):
        repo = f"org{g % 3}/repo{g // 3}"
        lang = None if g == n_groups - 1 else f"lang{g % 2}"
        for kind in kinds:
            for d in range(distinct):
                blob = _kind_state(kind, rng)
                rows += [(repo, lang, kind, blob, d + 1, 10 * (d + 1),
                          {"src": repo})] * copies
    rng.shuffle(rows)
    return rows


def _reference_merge(rows) -> dict:
    """Per-group merge_state_blobs of partial rows, on the driver."""
    runs: dict = {}
    for r in rows:
        runs.setdefault(r[:3], []).append(r)
    return {k: (merge_state_blobs([r[3] for r in rs]),
                sum(r[4] for r in rs), sum(r[5] for r in rs), rs[0][6])
            for k, rs in runs.items()}


def _merged_rows(df) -> dict:
    got = df.collect()
    out = {(r["repo"], r["lang"], r["kind"]):
           (bytes(r["state"]), r["n_rows"], r["n_kgrams"], r["meta"])
           for r in got}
    assert len(out) == len(got), "more than one row for a (group, kind)"
    return out


@contextlib.contextmanager
def _arrow_batch_rows(spark, n):
    """Scope spark.sql.execution.arrow.maxRecordsPerBatch to ``n`` rows
    (None leaves the session value)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if n is not None:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("kinds,copies,distinct,n_groups,batch_rows", [
    (ALL_KINDS, 1, 1, 6, None),    # one partial per group, every kind
    (ALL_KINDS, 3, 1, 6, 2),       # equal partials: run order cannot matter
    (ORDER_FREE, 1, 4, 6, None),   # many different partials per group
    (ORDER_FREE, 2, 3, 6, 2),      # ... with runs split across Arrow batches
    (("hll",), 2, 1, 700, None),   # more groups than one output batch
    (("hll",), 1, 2, 700, 3),
], ids=["one-per-group", "copies-split", "many-per-group",
        "many-split", "wide", "wide-split"])
def test_merge_grouped_states_matches_per_group_reference(
        spark, kinds, copies, distinct, n_groups, batch_rows):
    """The Arrow run merge returns, per (group, kind), the bytes of
    merge_state_blobs over the group's partials, the summed counters and
    the first row's other columns — in the input's schema."""
    rows = _partial_rows(kinds, copies, distinct, n_groups)
    partials = spark.createDataFrame(rows, PARTIAL_SCHEMA).repartition(3)
    with _arrow_batch_rows(spark, batch_rows):
        merged = merge_grouped_states(partials, ["repo", "lang"])
        assert merged.schema == partials.schema
        assert _merged_rows(merged) == _reference_merge(rows)


def test_merge_states_global_matches_reference(spark):
    """group_cols=[]: every kind's states fold into one row."""
    rows = _partial_rows(ORDER_FREE, 1, 3)
    df = spark.createDataFrame(rows, PARTIAL_SCHEMA).repartition(4)
    with _arrow_batch_rows(spark, 2):
        for kind in ORDER_FREE:
            (out,) = merge_states_global(df, kind).collect()
            mine = [r for r in rows if r[2] == kind]
            assert bytes(out["state"]) == merge_state_blobs(
                [r[3] for r in mine]), kind
            assert out["n_rows"] == sum(r[4] for r in mine)
            assert out["n_kgrams"] == sum(r[5] for r in mine)



def _merge_inputs(spark, op):
    if op == "merge_states_global":
        df = spark.createDataFrame(_partial_rows(ORDER_FREE, 1, 3),
                                   PARTIAL_SCHEMA).repartition(4)
        return merge_states_global(df, "hll")
    docs = spark.createDataFrame(
        [(f"g{i % 3}", f"tok{i} tok{i % 5} shared") for i in range(40)],
        "grp string, text string").repartition(4)
    if op == "kmv_token_sketches":
        return kmv_token_sketches(docs, "text", "grp", k=16)
    return frequent_tokens_mg(docs, "text", k=4)


@pytest.mark.parametrize("op", ["merge_states_global", "kmv_token_sketches",
                                "frequent_tokens_mg"])
def test_state_merges_run_through_the_arrow_run_merge(spark, op):
    """Every Python node after the state exchange reads Arrow: the merge
    is merge_grouped_states' MapInArrow, never a grouped or mapped pandas
    pass; merge_states_global's per-partition level 1 is one too."""
    df = _merge_inputs(spark, op)
    df.collect()
    names = [n for n, _ in executed_nodes(df)]
    assert not any("FlatMapGroups" in n for n in names), names
    after_exchange = names[:names.index("Exchange")]
    assert "MapInArrow" in after_exchange, names
    assert not any("Pandas" in n for n in after_exchange), names
    if op == "merge_states_global":
        assert names.count("MapInArrow") == 2, names
        assert not any("Pandas" in n for n in names), names


def test_compact_store_merges_appended_groups(spark, tmp_path):
    """compact_sketch_store merges on (group…, _bucket, kind): two appends
    of the same rows fold to the reference merge, bucket kept."""
    rows = _partial_rows(ALL_KINDS)
    sk = spark.createDataFrame(rows, PARTIAL_SCHEMA)
    path = str(tmp_path / "store")
    write_sketch_store(sk, path, "repo", buckets=4)
    write_sketch_store(sk, path, "repo", buckets=4, mode="append")
    with _arrow_batch_rows(spark, 2):
        stats = compact_sketch_store(spark, path, group_cols=["repo", "lang"])
    assert stats["buckets_compacted"] >= 1
    store = spark.read.parquet(path)
    assert _merged_rows(store) == _reference_merge(rows + rows)
    rebucketed = store.withColumn(
        "_want", F.pmod(F.xxhash64("repo"), F.lit(4)).cast("int"))
    assert rebucketed.filter(F.col("_want") != F.col("_bucket")).count() == 0


def test_merge_rejects_corrupt_partial(spark):
    """Every state is decoded with its crc check, also a group's only one."""
    rows = _partial_rows(("hll",))
    bad = bytearray(rows[0][3])
    bad[len(bad) // 2] ^= 0xFF
    rows[0] = rows[0][:3] + (bytes(bad),) + rows[0][4:]
    partials = spark.createDataFrame(rows, PARTIAL_SCHEMA)
    with pytest.raises(Exception, match="crc32 mismatch"):
        merge_grouped_states(partials, ["repo", "lang"]).collect()
