"""Per-layer metrics of the traced run.

After the traced op loop, ``layer_metrics`` runs one probe block on the
workload's own input and store. Each probe calls one module's public
functions, inside spans, as each metric is defined in README.md:
a lazy call is timed as driver planning and its action (``collect`` or a
write to Spark's ``noop`` sink) as execution. Spark counters are the
median over the traced ops; kernel rates come from Spark-free calls on
fixed buffers cut from the workload's corpus and store.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from gen import GROUP_COLS, snippets
from workloads import Ctx, Workload, store_data_bytes

PROBE_SEED = 9999  # query batch of the search probe, apart from the ops' batches
MERGE_GROUPS = 500  # groups the merge probe merges


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _timed(ctx: Ctx, layer: str, name: str, fn):
    t0 = time.perf_counter()
    with ctx.tracer.span(layer, name):
        out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rate(fn, min_s: float = 0.2) -> float:
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def ingest_probe(wl: Workload, ctx: Ctx) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from kwage_spark.operators.ingest import build_sketches
    src = wl.probe_input(ctx.spark)
    sk, plan_s = _timed(ctx, "operators.ingest", "build_sketches",
                        lambda: build_sketches(src, ctx.cfg))
    partial = "FlatMapGroupsInPandas" in sk._jdf.queryExecution().optimizedPlan().toString()
    obs = Observation("ingest")
    _, exec_s = _timed(ctx, "operators.ingest", "noop_write", lambda: _noop(
        sk.observe(obs, F.count(F.lit(1)).alias("rows"),
                   F.sum(F.length("state")).alias("bytes"))))
    got = obs.get
    groups = got["rows"] / len(ctx.cfg.kinds)
    return {"ingest.plan_s": _m(plan_s, "s"), "ingest.exec_s": _m(exec_s, "s"),
            "ingest.combine_partial": _m(int(partial), "count"),
            "ingest.state_bytes": _m(got["bytes"] / groups, "bytes")}


def merge_probe(wl: Workload, ctx: Ctx) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from kwage_spark.operators.merge import merge_grouped_states
    from kwage_spark.sources.store import read_sketch_store
    tbl = read_sketch_store(ctx.spark, str(wl.store))
    # about MERGE_GROUPS groups: a hash-selected share of a larger store
    share = max(1, round(wl.n_groups / MERGE_GROUPS))
    tbl = tbl.filter(F.pmod(F.xxhash64("repo", "lang"), F.lit(share)) == 0)
    rows_in, rows_out = Observation("merge_in"), Observation("merge_out")
    two = tbl.unionByName(tbl).observe(rows_in, F.count(F.lit(1)).alias("n"))
    merged = merge_grouped_states(two, list(GROUP_COLS)).observe(
        rows_out, F.count(F.lit(1)).alias("n"))
    _, grouped_s = _timed(ctx, "operators.merge", "merge_grouped_states", lambda: _noop(merged))
    return {"merge.grouped_s": _m(grouped_s, "s"),
            "merge.rows_in": _m(rows_in.get["n"], "count"),
            "merge.rows_out": _m(rows_out.get["n"], "count")}


def store_probe(wl: Workload, ctx: Ctx) -> dict:
    """Scan of the workload's store, then write / append / compact /
    lookup of a probe store holding one thin slice's sketches."""
    from pyspark.sql import functions as F
    from kwage_spark.operators.ingest import build_sketches
    from kwage_spark.sources.store import (compact_sketch_store, read_sketch_group,
                                           read_sketch_store, write_sketch_store)
    spark = ctx.spark
    _, scan_s = _timed(ctx, "sources.store", "read_sketch_store", lambda: _noop(
        read_sketch_store(spark, str(wl.store)).filter(F.col("kind") == "bloom")))
    n_files, n_bytes = store_data_bytes(wl.store)

    path = str(wl.work / "probe_store")
    sk = build_sketches(wl.probe_slice(spark), ctx.cfg).localCheckpoint(eager=True)
    _, write_s = _timed(ctx, "sources.store", "write_sketch_store",
                        lambda: write_sketch_store(sk, path, "repo"))
    _, append_s = _timed(ctx, "sources.store", "write_sketch_store_append",
                         lambda: write_sketch_store(sk, path, "repo", mode="append"))
    _, compact_s = _timed(ctx, "sources.store", "compact_sketch_store",
                          lambda: compact_sketch_store(spark, path, group_cols=list(GROUP_COLS)))
    repos = sorted({r.repo for r in sk.select("repo").distinct().limit(3).collect()})
    lookups = [_timed(ctx, "sources.store", "read_sketch_group",
                      lambda r=r: read_sketch_group(spark, path, "repo", r).collect())[1]
               for r in repos]
    return {"store.write_s": _m(write_s, "s"), "store.append_s": _m(append_s, "s"),
            "store.compact_s": _m(compact_s, "s"),
            "store.lookup_s": _m(statistics.median(lookups), "s"),
            "store.scan_s": _m(scan_s, "s"), "store.files": _m(n_files, "count"),
            "store.bytes": _m(n_bytes, "bytes")}


def search_probe(wl: Workload, ctx: Ctx, counters) -> dict:
    from kwage_spark.operators.search import containment_search
    from kwage_spark.sources.store import read_sketch_store
    rng = np.random.default_rng([wl.seed, PROBE_SEED])
    queries = [(q, s) for q, s, _ in snippets(wl.table, wl.queries_per_op, 96, rng)]
    st = read_sketch_store(ctx.spark, str(wl.store))
    res, plan_s = _timed(ctx, "operators.search", "containment_search",
                         lambda: containment_search(st, queries, ctx.cfg, threshold=0.5))
    counters.begin("probe-search")
    rows, exec_s = _timed(ctx, "operators.search", "collect", res.collect)
    sent = counters.end()["python_rows_in"]
    unordered = containment_search(st, queries, ctx.cfg, threshold=0.5, ordered=False)
    _, unordered_s = _timed(ctx, "operators.search", "collect_unordered", unordered.collect)
    return {"search.plan_s": _m(plan_s, "s"), "search.exec_s": _m(exec_s, "s"),
            "search.unordered_s": _m(unordered_s, "s"),
            "search.result_rows": _m(len(rows), "count"),
            "search.scan_passes": _m(sent / wl.n_groups, "ratio")}


def kernel_probe(wl: Workload, ctx: Ctx) -> dict:
    """Spark-free kernel rates on buffers cut from the corpus and store."""
    from kwage_spark.kernels import _native
    from kwage_spark.kernels.bloom import BloomState
    from kwage_spark.kernels.cms import CMSState
    from kwage_spark.kernels.hll import HLLState
    from kwage_spark.kernels.murmur3 import murmur3_32_sliding
    from kwage_spark.kernels.registry import merge_state_blobs, state_from_bytes
    from kwage_spark.operators.search import prepare_queries
    cfg = ctx.cfg
    native = bool(_native.HAVE_NATIVE)

    col = wl.table.column("content").slice(0, 4000).combine_chunks()
    offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset:col.offset + len(col) + 1]
    buf = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    starts, lens = offs[:-1].astype(np.int64), np.diff(offs).astype(np.int64)
    mb = float(lens.sum()) / 1e6
    seeds = np.arange(max(cfg.bloom.num_hash, cfg.cms_depth, 2), dtype=np.uint32)
    if native:
        def hash_all():
            return _native.sliding_ranges_multiseed(buf, starts, lens, cfg.k, seeds)
    else:
        def hash_all():
            return np.concatenate([murmur3_32_sliding(buf[s:s + n], cfg.k, seeds)
                                   for s, n in zip(starts.tolist(), lens.tolist()) if n >= cfg.k])
    H = hash_all()

    def feed():
        BloomState(cfg.bloom).add_hashes(H[:, :cfg.bloom.num_hash])
        HLLState(cfg.hll_p).add_hash_lanes(H)
        CMSState(cfg.cms_log2_w, cfg.cms_depth).add_hashes(H)

    out = {"kernels.hash_mb_s": _m(mb / _rate(hash_all), "MB/s"),
           "kernels.feed_mb_s": _m(mb / _rate(feed), "MB/s")}

    blobs: dict[str, list[bytes]] = {}
    for f in sorted(wl.store.rglob("*.parquet")):
        t = pq.read_table(f, columns=["kind", "state"])
        for kind, state in zip(t.column("kind").to_pylist(), t.column("state").to_pylist()):
            if len(blobs.setdefault(kind, [])) < 256:
                blobs[kind].append(state)
    n_bytes = cfg.bloom.n_bytes
    B = np.stack([np.frombuffer(b, dtype=np.uint8)[len(b) - n_bytes:] for b in blobs["bloom"]])
    rng = np.random.default_rng([wl.seed, PROBE_SEED])
    mask = np.uint32(cfg.bloom.m - 1)
    prepared = prepare_queries([(q, s) for q, s, _ in snippets(wl.table, 64, 96, rng)], cfg)
    idx = [(h.astype(np.uint32) & mask).ravel() for _, h in prepared]
    flat = np.concatenate(idx)
    qoff = np.concatenate(([0], np.cumsum([i.size for i in idx]))).astype(np.int64)
    if native:
        def sliced():
            return _native.bloom_scan_count_sliced(_native.transpose_bits(B), B.shape[0],
                                                   flat, qoff, cfg.bloom.num_hash)

        def rowmajor():
            return _native.bloom_scan_count(B, idx[0], qoff[:2], cfg.bloom.num_hash)
        out["kernels.scan_sliced_rows_s"] = _m(B.shape[0] / _rate(sliced), "rows/s")
        out["kernels.scan_rowmajor_rows_s"] = _m(B.shape[0] / _rate(rowmajor), "rows/s")
    else:
        out["kernels.scan_sliced_rows_s"] = _m(0.0, "rows/s")
        out["kernels.scan_rowmajor_rows_s"] = _m(0.0, "rows/s")

    for kind in ("bloom", "hll", "cms", "kll"):
        pairs = list(zip(blobs[kind][0::2], blobs[kind][1::2]))
        per = _rate(lambda: [merge_state_blobs(p) for p in pairs]) / len(pairs)
        out[f"kernels.merge_{kind}_s"] = _m(per, "s")
    every = [b for bs in blobs.values() for b in bs]
    out["kernels.decode_states_s"] = _m(
        _rate(lambda: [state_from_bytes(b) for b in every]) / len(every), "s")
    out["kernels.native"] = _m(int(native), "count")
    return out


def layer_metrics(wl: Workload, ctx: Ctx, stats, per_op: list[dict], counters) -> tuple[dict, dict]:
    """(per-layer metrics, detail for the trace file)."""
    tr = ctx.tracer
    start = next(s for s in tr.spans if s.layer == "sources.session")
    metrics = {"session.start_s": _m(start.dur, "s")}
    tr.op = "probe"
    tr.enabled = True
    with tr.span("probe", wl.name):
        metrics.update(ingest_probe(wl, ctx))
        metrics.update(merge_probe(wl, ctx))
        metrics.update(store_probe(wl, ctx))
        metrics.update(search_probe(wl, ctx, counters))
        with tr.span("kernels", "microbench"):
            metrics.update(kernel_probe(wl, ctx))

    ok_ops = [p for p in per_op if p["ok"]]
    for key, unit in (("python_init_s", "s"), ("python_exec_s", "s"),
                      ("bytes_to_python", "bytes"), ("bytes_from_python", "bytes"),
                      ("shuffle_bytes", "bytes"), ("jobs", "count")):
        vals = [p[key] for p in ok_ops] or [0.0]
        metrics[f"spark.{key}"] = _m(statistics.median(vals), unit)

    breakdown = {p["op"]: tr.op_breakdown(p["op"]) for p in ok_ops}
    shares = [b["uncovered_share"] for b in breakdown.values()] or [0.0]
    metrics["op.uncovered_share"] = _m(statistics.median(shares), "ratio")
    overhead = (statistics.median(stats.traced) - statistics.median(stats.untraced)
                if stats.traced and stats.untraced else 0.0)
    metrics["trace.overhead_s"] = _m(overhead, "s")
    detail = {"op_breakdown": breakdown, "spark_per_op": per_op,
              "traced_op_p50_s": statistics.median(stats.traced) if stats.traced else None,
              "untraced_op_p50_s": statistics.median(stats.untraced) if stats.untraced else None,
              "setup_breakdown": tr.op_breakdown("setup"),
              "probe_breakdown": tr.op_breakdown("probe")}
    return metrics, detail
