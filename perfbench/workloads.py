"""The three benchmark workloads: ``ingest``, ``serve`` and ``refresh``.

Each workload has four steps the runner drives:

* ``generate()`` makes the input files from the seed (before Spark starts);
* ``setup(ctx)`` builds whatever the ops read (counted in ``setup_s``);
* ``prepare(i)`` makes op ``i``'s input, untimed; ``op(ctx, inp)`` is the
  timed call sequence, made only of public ``kwage_spark`` functions;
* ``check(ctx, inp, out)`` raises ``CheckFailed`` if op ``i``'s output is
  wrong (untimed).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import CorpusSpec, GROUP_COLS, Vocab, group_counts, make_files, snippets


class CheckFailed(Exception):
    """An op finished but its output is wrong."""


@dataclass
class Ctx:
    spark: object
    cfg: object      # kwage_spark SketchConfig (library defaults)
    tracer: object   # spans.Tracer
    work: Path


def store_data_bytes(path: Path) -> tuple[int, int]:
    """(parquet data files, their bytes) under a store directory."""
    files = [Path(d) / f for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(f.stat().st_size for f in files)


def content_bytes(table: pa.Table) -> int:
    return int(pc.sum(pc.binary_length(table.column("content"))).as_py() or 0)


class Workload:
    name = ""
    n_warm = 2            # untimed ops after setup, counted in setup_s
    queries_per_op = 64   # snippets per search batch (serve ops, search probe)
    k = 8                 # SketchConfig().k; checked against the config in setup

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.store = work / "store"
        self.ingested_bytes = 0

    def corpus_path(self) -> Path:
        """Parquet input the workload's store was (or is) built from."""
        return self.work / "corpus.parquet"

    def probe_input(self, spark):
        """Input of the traced run's ingest probe: the workload's corpus."""
        return spark.read.parquet(str(self.corpus_path()))

    def probe_slice(self, spark):
        """A thin (~1%) filtered slice of the corpus for the store probe."""
        from pyspark.sql import functions as F
        return self.probe_input(spark).filter(
            F.pmod(F.xxhash64("path"), F.lit(100)) == 0)

    def match_share(self) -> float | None:
        """Result rows per query x group pair, where the op searches."""
        return None

    def store_ratio(self) -> float:
        files, size = store_data_bytes(self.store)
        if not files:
            raise RuntimeError(f"no store at {self.store} after the warm-up ops")
        return size / self.ingested_bytes

    def _check_k(self, ctx: Ctx) -> None:
        if ctx.cfg.k != self.k:
            raise CheckFailed(f"generator assumes k={self.k}, config has k={ctx.cfg.k}")


class Ingest(Workload):
    """Build sketches of ~10^5 files in ~100 repos and write the store
    (overwrite). Few, large groups on a repo-clustered file: the
    auto-combine picks ``partial`` from parquet-footer stats."""

    name = "ingest"
    spec = CorpusSpec(n_repos=100, langs_per_repo=2, files_per_group=500,
                      tokens_per_file=(30, 120))

    def generate(self) -> None:
        self.table = make_files(Vocab(self.seed, self.spec.n_repos),
                                self.spec, self.seed)
        pq.write_table(self.table, self.corpus_path(),
                       row_group_size=-(-self.table.num_rows // 8))
        self.expected = group_counts(self.table, self.k)
        self.n_groups = len(self.expected)
        self.ingested_bytes = content_bytes(self.table)

    def setup(self, ctx: Ctx) -> None:
        self._check_k(ctx)

    def prepare(self, i: int):
        return None

    def op(self, ctx: Ctx, inp):
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.sources.store import write_sketch_store
        tr = ctx.tracer
        df = ctx.spark.read.parquet(str(self.corpus_path()))
        with tr.span("operators.ingest", "build_sketches"):
            sk = build_sketches(df, ctx.cfg)
        with tr.span("sources.store", "write_sketch_store"):
            write_sketch_store(sk, str(self.store), "repo", mode="overwrite")

    def check(self, ctx: Ctx, inp, out) -> None:
        from kwage_spark.sources.store import read_sketch_store
        rows = (read_sketch_store(ctx.spark, str(self.store))
                .select(*GROUP_COLS, "kind", "n_rows", "n_kgrams").collect())
        seen = {}
        for r in rows:
            key = (r.repo, r.lang, r.kind)
            if key in seen:
                raise CheckFailed(f"duplicate store row {key}")
            seen[key] = (r.n_rows, r.n_kgrams)
        want = {(g[0], g[1], kind): v for g, v in self.expected.items() for kind in ctx.cfg.kinds}
        if seen != want:
            bad = sorted(set(seen.items()) ^ set(want.items()))[:3]
            raise CheckFailed(f"store rows differ from generator counts, e.g. {bad}")


class Serve(Workload):
    """Batched containment queries against a persisted store of ~4000
    (repo, lang) groups: read the store, search 64 snippets at t=0.5
    (ordered), collect."""

    name = "serve"
    n_warm = 4            # the scan+sort op keeps speeding up over ~5 ops
    threshold = 0.5
    snippet_len = 96
    spec = CorpusSpec(n_repos=1000, langs_per_repo=4, files_per_group=4,
                      tokens_per_file=(40, 160))

    def generate(self) -> None:
        self.table = make_files(Vocab(self.seed, self.spec.n_repos),
                                self.spec, self.seed)
        pq.write_table(self.table, self.corpus_path())
        self.n_groups = self.spec.n_repos * self.spec.langs_per_repo
        self.ingested_bytes = content_bytes(self.table)
        self.match_rows: list[int] = []

    def setup(self, ctx: Ctx) -> None:
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.sources.store import write_sketch_store
        self._check_k(ctx)
        df = ctx.spark.read.parquet(str(self.corpus_path()))
        with ctx.tracer.span("operators.ingest", "build_sketches"):
            sk = build_sketches(df, ctx.cfg)
        with ctx.tracer.span("sources.store", "write_sketch_store"):
            write_sketch_store(sk, str(self.store), "repo")

    def prepare(self, i: int):
        rng = np.random.default_rng([self.seed, 1000 + i])
        return snippets(self.table, self.queries_per_op, self.snippet_len, rng)

    def op(self, ctx: Ctx, inp):
        from kwage_spark.operators.search import containment_search
        from kwage_spark.sources.store import read_sketch_store
        tr = ctx.tracer
        with tr.span("sources.store", "read_sketch_store"):
            st = read_sketch_store(ctx.spark, str(self.store))
        with tr.span("operators.search", "containment_search"):
            res = containment_search(st, [(q, s) for q, s, _ in inp], ctx.cfg,
                                     threshold=self.threshold)
        with tr.span("operators.search", "collect"):
            return res.collect()

    def check(self, ctx: Ctx, inp, out) -> None:
        full = {(r.query_id, r.repo, r.lang) for r in out if r.num_kmers_found == r.num_kmers}
        missing = [(q, g) for q, _, g in inp if (q, *g) not in full]
        if missing:
            raise CheckFailed(f"{len(missing)} snippets miss their source group, e.g. {missing[0]}")
        self.match_rows.append(len(out))

    def match_share(self) -> float | None:
        if not self.match_rows:
            return None
        return sum(self.match_rows) / (len(self.match_rows) * self.queries_per_op * self.n_groups)


class Refresh(Workload):
    """Append a thin slice (~1% of files, spread over all repos) to a
    ~500-group store, compact it, then do point lookups, each followed by
    a one-snippet containment search."""

    name = "refresh"
    spec = CorpusSpec(n_repos=250, langs_per_repo=2, files_per_group=4)
    slice_files = 20
    max_slices = 64
    lookups = 2
    lookup_len = 64

    def generate(self) -> None:
        vocab = Vocab(self.seed, self.spec.n_repos)
        self.table = base = make_files(vocab, self.spec, self.seed)
        pq.write_table(base, self.corpus_path())
        groups = np.array([(r, s) for r in range(self.spec.n_repos)
                           for s in range(self.spec.langs_per_repo)], dtype=np.int64)
        rng = np.random.default_rng([self.seed, 0xB47C])
        slices = []
        for b in range(self.max_slices):
            pick = rng.integers(0, len(groups), size=self.slice_files)
            counts = np.bincount(pick, minlength=len(groups))
            t = make_files(vocab, self.spec, self.seed, stream=1 + b,
                           files_per_group=counts[counts > 0], groups=groups[counts > 0])
            slices.append(t.append_column("batch", pa.array(np.full(t.num_rows, b, np.int32))))
        self.pending = pa.concat_tables(slices)
        pq.write_table(self.pending, self.work / "pending.parquet")
        self.batch_bytes = [content_bytes(t) for t in slices]
        self.batch_rows = [t.num_rows for t in slices]
        self.n_groups = len(groups)
        self.ingested_bytes = content_bytes(base)
        self.ingested_rows = base.num_rows

    def setup(self, ctx: Ctx) -> None:
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.sources.store import write_sketch_store
        self._check_k(ctx)
        df = ctx.spark.read.parquet(str(self.corpus_path()))
        with ctx.tracer.span("operators.ingest", "build_sketches"):
            sk = build_sketches(df, ctx.cfg)
        with ctx.tracer.span("sources.store", "write_sketch_store"):
            write_sketch_store(sk, str(self.store), "repo")

    def slice_df(self, spark, b: int):
        """Batch ``b`` of the pending files: a filtered scan, so ingest
        has no footer statistics for it."""
        from pyspark.sql import functions as F
        return (spark.read.parquet(str(self.work / "pending.parquet"))
                .filter(F.col("batch") == b))

    def probe_input(self, spark):
        return self.probe_slice(spark)

    def probe_slice(self, spark):
        """The last pending slice, which no op appends."""
        return self.slice_df(spark, self.max_slices - 1)

    def prepare(self, i: int):
        if i >= self.max_slices - 1:
            raise CheckFailed(f"refresh ran out of pending slices at op {i}")
        rows = np.flatnonzero(self.pending.column("batch").to_numpy() == i)
        rng = np.random.default_rng([self.seed, 2000 + i])
        return i, snippets(self.pending.take(pa.array(rows)), self.lookups, self.lookup_len, rng)

    def op(self, ctx: Ctx, inp):
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.operators.search import containment_search
        from kwage_spark.sources.store import (compact_sketch_store, read_sketch_group,
                                               write_sketch_store)
        tr = ctx.tracer
        b, lookups = inp
        with tr.span("operators.ingest", "build_sketches"):
            sk = build_sketches(self.slice_df(ctx.spark, b), ctx.cfg)
        with tr.span("sources.store", "write_sketch_store"):
            write_sketch_store(sk, str(self.store), "repo", mode="append")
        self.ingested_bytes += self.batch_bytes[b]
        self.ingested_rows += self.batch_rows[b]
        with tr.span("sources.store", "compact_sketch_store"):
            compact_sketch_store(ctx.spark, str(self.store), group_cols=list(GROUP_COLS))
        found = []
        for qid, snippet, (repo, lang) in lookups:
            with tr.span("sources.store", "read_sketch_group"):
                g = read_sketch_group(ctx.spark, str(self.store), "repo", repo)
            with tr.span("operators.search", "containment_search"):
                res = containment_search(g, [(qid, snippet)], ctx.cfg, threshold=1.0)
            with tr.span("operators.search", "collect"):
                found.append(res.collect())
        return found

    def check(self, ctx: Ctx, inp, out) -> None:
        from pyspark.sql import functions as F
        from kwage_spark.sources.store import read_sketch_store
        for (qid, _, (repo, lang)), rows in zip(inp[1], out):
            if not any(r.repo == repo and r.lang == lang and r.num_kmers_found == r.num_kmers
                       for r in rows):
                raise CheckFailed(f"lookup {qid} misses ({repo}, {lang}) at t=1.0")
        per_kind = (read_sketch_store(ctx.spark, str(self.store)).groupBy("kind")
                    .agg(F.count("*").alias("rows"),
                         F.countDistinct(*GROUP_COLS).alias("groups"),
                         F.sum("n_rows").alias("files")).collect())
        if sorted(r.kind for r in per_kind) != sorted(ctx.cfg.kinds):
            raise CheckFailed(f"store kinds {[r.kind for r in per_kind]}")
        for r in per_kind:
            if r.rows != r.groups or r.groups != self.n_groups:
                raise CheckFailed(f"{r.kind}: {r.rows} rows for {r.groups} groups after compaction")
            if r.files != self.ingested_rows:
                raise CheckFailed(f"{r.kind}: n_rows sums to {r.files}, ingested {self.ingested_rows}")


WORKLOADS = {w.name: w for w in (Ingest, Serve, Refresh)}
