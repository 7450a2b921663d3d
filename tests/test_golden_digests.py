"""Golden state digests: the sha256 of the sorted output rows of every
state builder and state reader on one fixed corpus.

A change to how states are built, merged, stored or read must leave every
digest below unchanged: the bytes are the contract between the builders,
the store and the readers. The corpus is ``make_source_files`` with one
repo keyed null on its even rows and "" on its odd ones (every build mode
keys both as ""), written clustered by (repo, lang) into row groups that
cut one group, so ``build_sketches``' auto mode takes the closed plan.

KLL and t-digest bytes depend on the order their rows are fed and merged,
so they are digested only where that order is fixed: the closed plan
(each group read in file order by one task) and merges of a one-partition
input. Partial and raw builds are digested for bloom/HLL/CMS."""

import hashlib
import logging

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kwage_spark import functions as fx
from kwage_spark.config import SketchConfig
from kwage_spark.kernels.bloom import BloomParams
from kwage_spark.operators.diff import dump_states, sketch_diff
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.merge import fold_bloom_table, merge_states_global
from kwage_spark.operators.text import (frequent_tokens_mg, kmv_group_overlap,
                                        kmv_token_sketches,
                                        winnowing_fingerprints)
from kwage_spark.sources.fixtures import make_source_files
from kwage_spark.sources.store import (compact_sketch_store,
                                       read_sketch_store, write_sketch_store)

KINDS = ("bloom", "hll", "cms", "kll", "tdigest")
ORDER_FREE = ("bloom", "hll", "cms")
CFG = SketchConfig(group_cols=("repo", "lang"), content_col="content",
                   kinds=KINDS, bloom=BloomParams(k=8, log2_m=12, num_hash=3),
                   hll_p=10, cms_log2_w=10, cms_depth=4, kll_k=64)
GCOLS = list(CFG.group_cols)
STATE_COLS = [*GCOLS, "kind", "state", "n_rows", "n_kgrams"]
ROWS_PER_RG = 8
NULL_REPO = "org1/repo1"  # keyed null on even rows, "" on odd rows

GOLDEN = {
    "build_closed":
        "842bbffe474398b1a0ac47c8edd3e9d23eb5e374205bbc610b89023a428eab33",
    "build_partial":
        "a96e7b0ea08ffce8df3e3c62397142b2688b75f7f247d11418e37d782042c7ff",
    "build_raw":
        "a96e7b0ea08ffce8df3e3c62397142b2688b75f7f247d11418e37d782042c7ff",
    "dump_states":
        "c4b5252fb4ff1979fc3f208c58b74a70b06918207d3bd55095debc9d4207a0ff",
    "fold_bloom_10":
        "89d1c4803c0514b5ee357e09f3d04e073290d93947e25bdb1f8d35eff0831949",
    "frequent_tokens_mg":
        "ac5b580419d8f31e376309eebaa3296f5e69ba48f82944722333dfa0e9312b14",
    "functions":
        "8df4796cf233f6ec7ffb16415352d168794aeeb605adf31549af9d9336d66cf2",
    "kmv_estimate":
        "6b3cb83283a87661af97db95fbf20e51f4358c01980214084f036a81cbe7c3aa",
    "kmv_group_overlap":
        "a8ead0e224c06edf800987cd543f2035eb9293c8f245e19e19b8bc8e9555b794",
    "kmv_token_sketches":
        "d30eac632fe829998fd3102acea54e96464bf2e7fbc564e1f58e95f9bfe09601",
    "merge_global_bloom":
        "f99c8b55f0b02234f0ebcdef2b1649bbab91d456fdbcbecf01bba24a198cb627",
    "merge_global_cms":
        "7b69ed792edf0bc7b8ddf5000666030a8ed6467090de41642859ed98ebe9487b",
    "merge_global_hll":
        "ceb3030e8a9fcbef17a96b4d2e1aed0b33fb1b878858e95761f03ae582e68ec6",
    "merge_global_kll":
        "763ad1ffa65928a03a6e2b52f22e60481f069c65fffdd4f802317b9de8fec612",
    "merge_global_tdigest":
        "bdeacb14a6b4dd4a16de6d92fe63d9eb6e8458c90e349205ee75e329adfd598e",
    "sketch_diff":
        "a65b2a16426b66ebe572cb3e14ab775287405d13485b3f710e8aab0a1725a3b9",
    "store_append":
        "d4c7e286be581025cab6ab38a9be5fda4ad88727eeda8c53e8ba86f724c323c2",
    "store_compact":
        "d4c7e286be581025cab6ab38a9be5fda4ad88727eeda8c53e8ba86f724c323c2",
    "store_write":
        "842bbffe474398b1a0ac47c8edd3e9d23eb5e374205bbc610b89023a428eab33",
    "winnowing":
        "5e7408aa2cc32c7e6cfcf18c9f73b28cca1329452ccadaad9c922265040ac2dd",
}


def _digest(rows) -> str:
    """sha256 over the sorted reprs of the rows' values (bytes, None and
    floats have exact, stable reprs)."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _states(df, kinds=KINDS):
    return (df.filter(F.col("kind").isin(*kinds)).select(*STATE_COLS)
            .collect())


def _corpus():
    pdf = make_source_files(n_repos=6, files_per_repo=12, seed=23)
    own = pdf["repo"] == NULL_REPO
    pdf["repo"] = pdf["repo"].astype(object)
    pdf.loc[own, "repo"] = [None if i % 2 == 0 else ""
                            for i in range(int(own.sum()))]
    pdf["_key"] = pdf["repo"].fillna("")
    pdf = (pdf.sort_values(["_key", "lang", "path"], kind="stable")
           .drop(columns="_key").reset_index(drop=True))
    pdf.insert(0, "id", range(len(pdf)))
    return pdf


def compute_digests(spark, tmp) -> dict:
    """{name: digest} of every builder's and reader's output."""
    pdf = _corpus()
    path = str(tmp / "corpus.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=ROWS_PER_RG)
    # a group is cut by a row-group boundary
    keys = list(zip(pdf["repo"].fillna(""), pdf["lang"]))
    assert any(keys[i - 1] == keys[i]
               for i in range(ROWS_PER_RG, len(keys), ROWS_PER_RG))
    df = spark.read.parquet(path)

    records = []
    handler = logging.Handler()
    handler.emit = lambda r: records.append(getattr(r, "decision", None))
    log = logging.getLogger("kwage_spark.operators.ingest")
    log.addHandler(handler)
    old_level = log.level
    log.setLevel(logging.INFO)
    try:
        closed = build_sketches(df, CFG).cache()
        rows = _states(closed)
        out = {"build_closed": _digest(rows)}
    finally:
        log.removeHandler(handler)
        log.setLevel(old_level)
    assert records and records[-1]["mode"] == "closed", records
    # the null and "" repo rows build one group per lang
    own = [r.n_rows for r in rows if r.repo == "" and r.kind == "bloom"]
    assert sum(own) == int((pdf["repo"].fillna("") == "").sum())
    assert not any(r.repo is None for r in rows)

    # 3-row Arrow batches: a group's partials reach the merge in runs
    # that cross batch boundaries
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_rows = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        partial = build_sketches(df, CFG, combine="partial")
        out["build_partial"] = _digest(_states(partial, ORDER_FREE))
    finally:
        spark.conf.set(key, old_rows)
    raw = build_sketches(df, CFG, combine="raw").cache()
    out["build_raw"] = _digest(_states(raw, ORDER_FREE))

    store = str(tmp / "store")
    write_sketch_store(closed, store, "repo", buckets=4)
    out["store_write"] = _digest(_states(read_sketch_store(spark, store)))
    # a raw build of two thirds of the rows: appended to the store, and
    # diffed against the closed states (bit diffs and one-sided groups)
    extra = build_sketches(df.filter(F.col("id") % 3 != 0), CFG,
                           combine="raw").cache()
    write_sketch_store(extra, store, "repo", buckets=4, mode="append")
    out["store_append"] = _digest(_states(read_sketch_store(spark, store),
                                          ORDER_FREE))
    compact_sketch_store(spark, store)
    out["store_compact"] = _digest(_states(read_sketch_store(spark, store),
                                           ORDER_FREE))

    for kind in KINDS:
        src = closed if kind in ORDER_FREE else closed.coalesce(1)
        out[f"merge_global_{kind}"] = _digest(
            merge_states_global(src, kind).collect())
    out["fold_bloom_10"] = _digest(_states(fold_bloom_table(closed, 10)))
    kmv = kmv_token_sketches(df, "content", "lang").cache()
    out["kmv_token_sketches"] = _digest(kmv.collect())
    out["frequent_tokens_mg"] = _digest(
        frequent_tokens_mg(df.coalesce(1), "content", k=16).collect())

    # the state readers, over the same states
    n_items = closed.select(*GCOLS, "kind", fx.sketch_n_items("state"))
    per_kind = {
        "hll": fx.hll_estimate("state"),
        "cms": fx.cms_query("state", F.col("lang"), k=CFG.k),
        "kll": fx.sketch_quantiles("state", [0.1, 0.5, 0.9]),
        "tdigest": fx.sketch_quantiles("state", [0.1, 0.5, 0.9]),
        "bloom": F.struct(fx.bloom_stats("state"),
                          fx.bloom_contains("state", pdf["content"][0][:40],
                                            CFG.bloom)),
    }
    out["functions"] = _digest(n_items.collect() + [
        r for kind, col in per_kind.items()
        for r in closed.filter(F.col("kind") == kind)
        .select(*GCOLS, col).collect()])
    out["kmv_estimate"] = _digest(
        kmv.select("lang", fx.kmv_estimate("state")).collect())
    out["dump_states"] = _digest(dump_states(closed, GCOLS).collect())
    order_free = F.col("kind").isin(*ORDER_FREE)
    out["sketch_diff"] = _digest(sketch_diff(
        closed.filter(order_free), extra.filter(order_free), GCOLS).collect())
    out["kmv_group_overlap"] = _digest(kmv_group_overlap(kmv, "lang")
                                       .collect())
    out["winnowing"] = _digest(
        winnowing_fingerprints(df, "id", "content").collect())
    for d in (closed, raw, extra, kmv):
        d.unpersist()
    return out


@pytest.fixture(scope="module")
def digests(spark, tmp_path_factory):
    return compute_digests(spark, tmp_path_factory.mktemp("golden"))


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_digest(digests, name):
    assert digests[name] == GOLDEN[name]


def test_golden_digests_cover_every_output(digests):
    assert sorted(digests) == sorted(GOLDEN)
