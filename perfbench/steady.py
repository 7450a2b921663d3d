"""Steadiness report: run one workload repeatedly, one seed per run, and
print each end-to-end metric's median and quartiles across the runs.

    python3 perfbench/steady.py --workload serve --runs 10 [--first-seed 1]
        [--seconds S] [--out perfbench/baseline/steady_serve.json]
        [--compare perfbench/baseline/steady_serve.json]

The spread of a metric is (q3 - q1) / median over the runs (quartiles as
``statistics.quantiles(values, n=4)`` gives them). A metric is flagged
when its spread exceeds the bound ``BENCHMARK.json`` gives it; ``setup_s``
is reported but, like the acceptance rule, only its median is compared
between sets. ``--compare`` takes an earlier report of the same workload
and flags a metric whose median moved by more than its bound, as a share
of the earlier median. Runs are sequential: never run two benchmark
processes at once on one host.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed} exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    stamp = next((json.loads(ln[6:]) for ln in lines if ln.startswith("stamp ")), {})
    ops = next((ln.split(":", 1)[1].split() for ln in lines if ln.startswith("timed op times")), [])
    return {"seed": seed, "wall_s": wall, "stamp": stamp, "op_times_s": [float(t) for t in ops],
            "result": json.loads(lines[-1])}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    names = runs[0]["result"]["metrics"].keys()
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        limit = bounds.get(name)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                     "bound": bounds.get(name), "values": vals,
                     "flagged": bool(limit is not None and name != "setup_s" and spread > limit)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--out", type=Path, default=None)
    ap.add_argument("--compare", type=Path, default=None,
                    help="earlier report of this workload whose medians this set must match")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        runs.append(one_run(args.workload, seed, seconds))
        r = runs[-1]
        print(f"seed {seed}: wall {r['wall_s']:.1f} s, correct={r['result']['correct']}, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in r["result"]["metrics"].items())
              + f", ops {r['op_times_s']}", flush=True)
    summary = summarize(runs, bounds)
    print(f"\n{args.workload}: {len(runs)} runs of {seconds} s")
    for name, s in summary.items():
        flag = "  <-- spread above bound" if s["flagged"] else ""
        print(f"  {name:<30} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}"
              f"  spread {s['spread']:.3f} (bound {s['bound']}){flag}")
    changes = compare(summary, json.loads(args.compare.read_text()), bounds) if args.compare else {}
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        report = {
            "workload": args.workload, "seconds": seconds, "runs": len(runs),
            "stamp": runs[0]["stamp"], "loadavg_1m": [r["stamp"].get("loadavg_1m") for r in runs],
            "wall_s": [round(r["wall_s"], 2) for r in runs],
            "op_times_s": [r["op_times_s"] for r in runs], "metrics": summary}
        if args.compare:
            report["median_change_vs"] = {"report": args.compare.name, "change": changes}
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    moved = [name for name, c in changes.items() if abs(c) > bounds[name]]
    return 1 if moved or any(s["flagged"] for s in summary.values()) else 0


def compare(summary: dict, earlier: dict, bounds: dict[str, float]) -> dict[str, float]:
    """Print and return how far each metric's median moved from
    ``earlier``'s, as a share of the earlier median, flagging a move
    larger than the metric's bound."""
    print(f"\nagainst {earlier['runs']} earlier runs (first seed {earlier['stamp'].get('seed')}):")
    changes = {}
    for name, s in summary.items():
        before = earlier["metrics"][name]["median"]
        changes[name] = (s["median"] - before) / before if before else 0.0
        flag = "  <-- moved more than bound" if abs(changes[name]) > bounds[name] else ""
        print(f"  {name:<30} median {before:.4g} -> {s['median']:.4g}"
              f"  change {changes[name]:+.3f} (bound {bounds[name]}){flag}")
    return changes

if __name__ == "__main__":
    sys.exit(main())
