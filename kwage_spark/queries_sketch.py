"""Sketch-backed queries over the driver testdata (rows-only checked).

These are the non-SQL-expressible operators (custom mergeable sketch
aggregates); the driver records row-count/schema only. Their *accuracy* is
asserted in pytest against exact oracles, and `exact_containment_flagship`
in queries.py is the SQL-checked twin of the Bloom search.

The `documents` table plays the role of the source_files input
(source ≙ repo, text ≙ content).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as fx
from .config import SketchConfig
from .kernels.bloom import BloomParams
from .operators.ingest import build_sketches, sketch_metrics
from .operators.merge import merge_states_global
from .operators.search import containment_search
from .queries import FLAGSHIP_SNIPPET, KGRAM_K, register
from .sources.store import read_sketch_group, write_sketch_store

DOC_CFG = SketchConfig(group_cols=("source", "lang"), content_col="text",
                       bloom=BloomParams(k=KGRAM_K, log2_m=16, num_hash=3),
                       hll_p=12, cms_log2_w=12, cms_depth=4, kll_k=200)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def doc_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_sketches(_docs(spark, sf_dir), DOC_CFG)


@register("bloom_containment_search")  # flagship: SURVEY Q2-Q5/S12
def bloom_containment_search(spark, sf_dir):
    sk = doc_sketches(spark, sf_dir)
    return containment_search(sk, [(0, FLAGSHIP_SNIPPET)], DOC_CFG, threshold=0.5)


# ----------------------------------------------------- persisted-store reads
# The reference's flagship is a read of a PERSISTED DB (`kwage.cpp:98-113`,
# per-file metadata offsets `kwage.h:34-44`); these two queries make that
# the scorecard path too: sketches round-trip through write_sketch_store's
# hash-bucketed layout and come back via read_sketch_group, whose bucket
# predicate prunes partitions at the scan (plan-asserted in
# tests/test_plans.py::test_store_group_read_prunes_partitions).
STORE_GROUP = "src1"          # present at every sf in the driver testdata
STORE_BUCKETS = 16


def _store_path(sf_dir: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/kwage_spark_scratch/{sf}/doc_sketch_store"


def _pruned_store_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _store_path(sf_dir)
    write_sketch_store(doc_sketches(spark, sf_dir), path,
                       group_col="source", buckets=STORE_BUCKETS)
    return read_sketch_group(spark, path, "source", STORE_GROUP,
                             buckets=STORE_BUCKETS)


@register("store_group_lookup", f"""
SELECT source, lang, kind,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(greatest(length(text) - {KGRAM_K - 1}, 0)) AS BIGINT)
         AS n_kgrams
FROM documents
CROSS JOIN (SELECT unnest(['bloom', 'hll', 'cms', 'kll']) AS kind)
WHERE source = 'src1'
GROUP BY source, lang, kind
""")
def store_group_lookup(spark, sf_dir):
    """S8/S9 as the scorecard sees them: persist the sketch table with
    write_sketch_store, point-look-up one group with read_sketch_group
    (partition-pruned), and return its EXACT per-row counters — which a
    DuckDB twin recomputes from the raw documents table."""
    grp = _pruned_store_group(spark, sf_dir)
    return (grp.select("source", "lang", "kind", "n_rows", "n_kgrams")
            .orderBy("lang", "kind"))


@register("store_pruned_bloom_search")  # rows-only (murmur-based)
def store_pruned_bloom_search(spark, sf_dir):
    """The reference's actual flagship shape: containment search over a
    PERSISTED, bucket-pruned sketch store read — not freshly built
    in-memory sketches. Exact twin: exact_containment_flagship; pytest
    checks it against the in-memory search and ``exact_containment``
    (tests/test_store.py).

    ``emit_all`` reports every scanned group's containment stats (the
    reference's --all CSV mode, `output.h:35-59`) so the flagship always
    returns one row per (source, lang) in the pruned group even at tiny
    sf where no group clears a threshold."""
    grp = _pruned_store_group(spark, sf_dir)
    return containment_search(grp, [(0, FLAGSHIP_SNIPPET)], DOC_CFG,
                              threshold=0.3, emit_all=True)


@register("sketch_build_metrics", f"""
WITH agg AS (
  SELECT CAST(count(DISTINCT source || chr(10) || lang) AS BIGINT) AS n_groups,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(greatest(length(text) - {KGRAM_K - 1}, 0)) AS BIGINT) AS n_kgrams
  FROM documents
)
SELECT kind, n_groups, n_rows, n_kgrams
FROM agg CROSS JOIN (SELECT unnest(['bloom', 'hll', 'cms', 'kll']) AS kind)
""")
def sketch_build_metrics(spark, sf_dir):
    """A14 running totals. n_groups / n_rows / n_kgrams are EXACT counters
    carried through the sketch build (`maestro_main.cpp:956-983` analog),
    so they get a DuckDB twin; state_bytes (serialization-dependent) stays
    on the library `sketch_metrics` surface only."""
    return (sketch_metrics(doc_sketches(spark, sf_dir))
            .select("kind", "n_groups", "n_rows", "n_kgrams")
            .orderBy("kind"))


@register("hll_distinct_kgrams")  # A15 — HLL estimate per group
def hll_distinct_kgrams(spark, sf_dir):
    """Estimates computed EXECUTOR-SIDE via the fx.hll_estimate Arrow UDF
    — no state blob ever reaches the driver (at 10⁶ groups the old
    toPandas() decode was ~GBs through one process)."""
    sk = doc_sketches(spark, sf_dir).filter(F.col("kind") == "hll")
    return (sk.select("source", "lang",
                      F.floor(fx.hll_estimate("state")).cast("long")
                       .alias("est_distinct_kgrams"))
            .orderBy("source", "lang"))


@register("cms_token_frequencies")  # A2 — CMS point queries for fixed tokens
def cms_token_frequencies(spark, sf_dir):
    """Global CMS = two-level distributed tree merge (partition partials →
    one tiny final merge, merge_states_global); probes join against the
    single merged row and evaluate executor-side via fx.cms_query."""
    sk = doc_sketches(spark, sf_dir)
    whole = merge_states_global(sk, "cms")
    probes = ["table va", "hash val", "row scan", "filter d", "zz-never"]
    pdf_probes = spark.createDataFrame([(p,) for p in probes], "probe string")
    return (whole.crossJoin(F.broadcast(pdf_probes))
            .select("probe",
                    fx.cms_query("state", "probe", k=KGRAM_K).alias("est_count"))
            .orderBy("probe"))


@register("size_quantile_sketches")  # A16 — per-lang file-size quantiles
def size_quantile_sketches(spark, sf_dir):
    """Per-lang size quantiles from BOTH A16 sketch families in one
    scorecard entry (the former kll_/tdigest_size_quantiles pair, merged
    so the driver's 50-query window holds every oracle-backed query):
    KLL for rank-uniform error, t-digest for tail accuracy (max-size
    admission policies, F6 / `README.md:224`). Exact twin:
    quantiles_exact in queries.py."""
    out = None
    for method, kinds, extra in (("kll", ("kll",), {"kll_k": 200}),
                                 ("tdigest", ("tdigest",),
                                  {"tdigest_delta": 100})):
        cfg = SketchConfig(group_cols=("lang",), content_col="text",
                           size_col="n_chars", kinds=kinds,
                           bloom=DOC_CFG.bloom, **extra)
        sk = build_sketches(_docs(spark, sf_dir), cfg)
        qs = (sk.select("lang", fx.sketch_quantiles(
                  "state", [0.25, 0.5, 0.75]).alias("qs"))
              .select("lang", F.lit(method).alias("method"),
                      F.col("qs")[0].alias("p25"),
                      F.col("qs")[1].alias("p50"),
                      F.col("qs")[2].alias("p75")))
        out = qs if out is None else out.unionByName(qs)
    return out.orderBy("lang", "method")


@register("bloom_fp_audit")  # error-bound conformance as a query
def bloom_fp_audit(spark, sf_dir):
    """Per-group measured FP stats vs the published bound (bloom.cpp:47),
    computed executor-side by the fx.bloom_stats struct UDF."""
    sk = doc_sketches(spark, sf_dir).filter(F.col("kind") == "bloom")
    st = sk.select("source", "lang", fx.bloom_stats("state").alias("bs"))
    return (st.select("source", "lang",
                      F.col("bs.n_items").alias("n_items"),
                      F.round("bs.fill_ratio", 6).alias("fill_ratio"),
                      F.round("bs.fp_bound", 6).alias("fp_bound"))
            .orderBy("source", "lang"))
