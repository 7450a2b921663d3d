"""Sketch-engine benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload {ingest,serve,refresh} --seed N \
        --seconds S --trace {0,1}

Run from the repository root (the directory holding ``kwage_spark/``).
Inputs come from the seed; the run starts a local Spark session with
nproc-1 task slots, sets the workload up, warms its op up, then times ops
back to back for ``--seconds``. Every op's output is checked. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Scratch files live in a fresh directory under
``.bench_build/perfbench/`` that is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import SparkCounters, Tracer                       # noqa: E402
from workloads import WORKLOADS, Ctx, Workload                # noqa: E402

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ok_rate": "ratio",
             "store_bytes_per_content_byte": "ratio"}


def task_slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) - 1)


def prepare_env(build: Path, work: Path, slots: int) -> None:
    """Point every scratch and cache path of Spark, its Python workers and
    the native-kernel build at directories inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (build / "cache").mkdir(exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        # executors import kwage_spark from the checkout, not site-packages
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        "XDG_CACHE_HOME": str(build / "cache"),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def stamp(seed: int, slots: int) -> dict:
    """Provenance printed with every result."""
    import pyarrow
    import pyspark
    from kwage_spark.kernels import _native
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha1()
    for p in sorted((ROOT / "kwage_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return {"commit": commit, "source_sha1": h.hexdigest()[:12], "seed": seed,
            "nproc": len(os.sched_getaffinity(0)), "task_slots": slots,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "have_native": bool(_native.HAVE_NATIVE),
            "loadavg_1m": os.getloadavg()[0]}


@dataclass
class OpStats:
    """Closed-loop op accounting: every op is attempted once; a raised
    exception or failed check counts it as failed and the loop goes on."""

    attempted: int = 0
    failed: int = 0
    times: list[float] = field(default_factory=list)      # timed, successful ops
    traced: list[float] = field(default_factory=list)     # traced-run split
    untraced: list[float] = field(default_factory=list)


def run_op(wl: Workload, ctx: Ctx, i: int, stats: OpStats) -> float | None:
    """Prepare, time and check op ``i``. Returns its wall time, or None
    when it raised or failed its check."""
    stats.attempted += 1
    ctx.tracer.op = f"op{i}"
    try:
        inp = wl.prepare(i)
        t0 = time.perf_counter()
        with ctx.tracer.span("op", wl.name):
            out = wl.op(ctx, inp)
        dt = time.perf_counter() - t0
        wl.check(ctx, inp, out)
        return dt
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        stats.failed += 1
        print(f"op {i} failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None
    finally:
        ctx.tracer.op = None


def timed_loop(wl: Workload, ctx: Ctx, first: int, seconds: float, stats: OpStats,
               counters: SparkCounters | None = None) -> list[dict]:
    """Run ops back to back until ``seconds`` have passed. With
    ``counters`` (the traced run) odd ops are traced and even ops not,
    and each traced op's Spark counters are returned."""
    per_op = []
    t_end = time.perf_counter() + seconds
    i = first
    while time.perf_counter() < t_end:
        traced = counters is not None and (i - first) % 2 == 1
        ctx.tracer.enabled = traced
        if traced:
            counters.begin(f"op{i}")
        dt = run_op(wl, ctx, i, stats)
        if dt is not None:
            stats.times.append(dt)
            if counters is not None:
                (stats.traced if traced else stats.untraced).append(dt)
        if traced:
            per_op.append({"op": f"op{i}", "ok": dt is not None, **counters.end()})
        i += 1
    return per_op


def run(workload: str, seed: int, seconds: float, trace: bool, build: Path) -> tuple[dict, OpStats]:
    slots = task_slots()
    work = Path(tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=build))
    spark = None
    try:
        prepare_env(build, work, slots)
        wl = WORKLOADS[workload](seed, work)
        wl.generate()
        from kwage_spark.config import SketchConfig
        from kwage_spark.sources.session import get_spark
        info = stamp(seed, slots)
        print("stamp " + json.dumps(info), flush=True)

        tracer = Tracer(trace)
        tracer.op = "setup"
        stats = OpStats()
        t0 = time.perf_counter()
        with tracer.span("setup", workload):
            with tracer.span("sources.session", "get_spark"):
                spark = get_spark(app=f"perfbench-{workload}")
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Ctx(spark=spark, cfg=SketchConfig(), tracer=tracer, work=work)
            wl.setup(ctx)
        tracer.enabled = False
        warm = [run_op(wl, ctx, i, stats) for i in range(wl.n_warm)]
        setup_s = time.perf_counter() - t0
        ratio = wl.store_ratio()

        counters = SparkCounters(spark) if trace else None
        per_op = timed_loop(wl, ctx, wl.n_warm, seconds, stats, counters)
        if not stats.times:
            raise RuntimeError(f"no timed op succeeded ({stats.attempted} attempted): "
                               "no op time to report")
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(stats.times),
            "ok_rate": (stats.attempted - stats.failed) / stats.attempted,
            "store_bytes_per_content_byte": ratio,
        }
        report = {"stamp": info, "e2e": e2e, "samples": len(stats.times),
                  "op_times_s": stats.times, "warm_times_s": warm}
        share = wl.match_share()
        if share is not None:
            report["match_share"] = share
        if trace:
            from layers import layer_metrics
            report["layers"], report["layer_detail"] = layer_metrics(wl, ctx, stats, per_op,
                                                                     counters)
            report["trace_file"] = str(write_trace(build, workload, seed, tracer, report))
        return report, stats
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then shut the py4j gateway and wait for the JVM
    it launched to exit, so no process outlives the run."""
    from pyspark import SparkContext
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def write_trace(build: Path, workload: str, seed: int, tracer: Tracer, report: dict) -> Path:
    out = build / "traces" / f"{workload}-seed{seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    spans = [{"layer": s.layer, "name": s.name, "start": s.start, "end": s.end,
              "parent": s.parent, "op": s.op} for s in tracer.spans]
    out.write_text(json.dumps({**report, "spans": spans}, indent=1))
    return out


def metric_table(metrics: dict) -> list[str]:
    return [f"{name:<34} {m['value']:>14.6g} {m['unit']}" for name, m in metrics.items()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / "kwage_spark" / "__init__.py").is_file():
        print(f"perfbench: no kwage_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    build = ROOT / ".bench_build" / "perfbench"
    build.mkdir(parents=True, exist_ok=True)

    report, stats = run(args.workload, args.seed, args.seconds, bool(args.trace), build)
    e2e = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in report["e2e"].items()}
    print(f"# {args.workload} seed={args.seed} ops={report['samples']} timed, "
          f"{stats.attempted} attempted, {stats.failed} failed")
    print("\n".join(metric_table(e2e)) + f"   (op_p50_s over n={report['samples']} ops)")
    print("warm-up op times (s): " + " ".join(f"{t:.3f}" if t else "failed"
                                              for t in report["warm_times_s"]))
    print("timed op times (s): " + " ".join(f"{t:.3f}" for t in report["op_times_s"]))
    if "match_share" in report:
        print(f"serve match share at t=0.5: {report['match_share']:.6f} of query x group pairs")
    metrics = e2e
    if args.trace:
        metrics = report["layers"]
        print("\n".join(metric_table(metrics)))
        for op, b in report["layer_detail"]["op_breakdown"].items():
            print(f"{op}: wall {b['wall_s']:.3f} s, uncovered {b['uncovered_share']:.4f}, self "
                  + ", ".join(f"{k} {v:.3f} s" for k, v in sorted(b["self_s"].items())))
        print(f"trace written to {report['trace_file']}")
    print(json.dumps({"correct": stats.failed == 0, "attempted": stats.attempted,
                      "failed": stats.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
