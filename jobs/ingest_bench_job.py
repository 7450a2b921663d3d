"""spark-submit entry: sketch ingest + containment-search benchmark.

Launched by tools/bench_scaling.py as
  spark-submit --master local[N] --py-files kwage_spark.zip \
      jobs/ingest_bench_job.py --input DIR --searches Q
mirroring the north-rule's multi-executor `spark-submit --py-files`
launch path (local[N] stands in for an N-executor cluster in this
sandbox). Prints one JSON line with phase timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from kwage_spark.config import SketchConfig
from kwage_spark.kernels.bloom import BloomParams
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.search import containment_counts
from kwage_spark.queries import FLAGSHIP_SNIPPET


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--searches", type=int, default=16)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--log2-m", type=int, default=16)
    # CMS width sized to the bench corpus vocabulary (~e/w error per cell)
    # — statistics-driven sizing, the make_bloom.cpp:109-129 analog
    ap.add_argument("--cms-log2-w", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3,
                    help="ingest repetitions (min-of-N)")
    ap.add_argument("--search-reps", type=int, default=6,
                    help="search repetitions (cheap; more reps stabilize "
                         "the min on a noisy host)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("kwage_ingest_bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    cfg = SketchConfig(bloom=BloomParams(k=args.k, log2_m=args.log2_m, num_hash=3),
                       cms_log2_w=args.cms_log2_w)
    files = spark.read.parquet(args.input)
    n_files = files.count()

    # Warm the Python worker pool: real clusters run long-lived executors,
    # so per-worker interpreter spawn + numpy/pyarrow import is not part of
    # steady-state throughput. One tiny pass per core touches every worker.
    warm = spark.range(cores * 4).repartition(cores * 2)

    def _touch(batches):
        import numpy as _np  # noqa: F401  (forces the heavy imports)
        import kwage_spark.kernels as _k  # noqa: F401
        yield from batches

    warm.mapInArrow(_touch, schema="id long").count()

    # min over reps: the cleanest estimator of achievable time on a
    # noisy shared host (same practice as JMH/criterion)
    t_ingest = float("inf")
    for _rep in range(args.reps):
        t0 = time.perf_counter()
        n_states = build_sketches(files, cfg).count()
        t_ingest = min(t_ingest, time.perf_counter() - t0)

    sk = build_sketches(files, cfg).persist()
    sk.count()
    queries = [(i, FLAGSHIP_SNIPPET + f" probe {i}") for i in range(args.searches)]
    t_search = float("inf")
    # The timed form is the COUNT-aggregate search (per-query match
    # counts): every (group x query) pair is scanned — the scans/sec
    # metric — but result traffic is O(n_queries) rows, so the timing
    # measures the scan kernel, not Arrow emission of millions of match
    # rows nobody reads. Search reps are cheap; min-of-more stabilizes.
    # Build the query plan ONCE (driver-side query digestion + broadcast
    # happen here); the timed region is the distributed execution — the
    # part that must scale with executors. Each count() re-runs the scan.
    res = containment_counts(sk, queries, cfg, threshold=0.3)
    for _rep in range(args.search_reps):
        t0 = time.perf_counter()
        n_out = res.count()
        t_search = min(t_search, time.perf_counter() - t0)
    # scans performed per rep = groups x queries (derived, not an output
    # row count — the count-aggregate form emits one row per query)
    n_scans = n_states // len(cfg.kinds) * len(queries)
    _ = n_out
    n_groups = n_states // len(cfg.kinds)

    print(json.dumps({
        "cores": cores,
        "n_files": n_files,
        "n_groups": n_groups,
        "ingest_sec": round(t_ingest, 3),
        "search_sec": round(t_search, 3),
        "ingest_files_per_sec": round(n_files / t_ingest, 2),
        "search_scans_per_sec": round(n_scans / t_search, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
