"""Checkpoint / resume — ≙ KWAGE's status array + two-phase .bloom writes.

The reference keeps a per-accession state machine flushed to a status file
(`maestro.h:8-45`, `file_io.cpp:201-260`) and recovers by rescanning
scratch for filters whose completeness magic is set, rolling back the rest
(`maestro_main.cpp:699-802`, magic check 750-776). Spark-first equivalents:

  * sketch rows land in a checkpoint parquet dataset; the job committer's
    atomic rename + the manifest rows are the "complete magic".
  * the manifest carries per-group lineage + metrics (n_rows, n_kgrams,
    state crc32) — ≙ the status array entries.
  * resume = anti-join the work list against complete manifest groups and
    recompute only the remainder (`restore_bloom` semantics), then union
    with the checkpointed states; every restored state is crc-verified
    (`bloom.cpp:328-348` analog) at decode time.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..sources.store import state_writer
from .ingest import build_sketches
from .merge import merge_grouped_states

if TYPE_CHECKING:
    import pandas as pd

#: above this many rows on the small side, resume/lineage joins skip the
#: explicit broadcast hint and let AQE/stats pick the strategy — at 10⁸+
#: group keys a forced broadcast would OOM the driver
BROADCAST_ROW_LIMIT = 2_000_000


def _hint_small(df: DataFrame, n_rows: int,
                limit: int = BROADCAST_ROW_LIMIT) -> DataFrame:
    return F.broadcast(df) if n_rows <= limit else df


def write_checkpoint(sketches: DataFrame, path: str,
                     prior_manifest: DataFrame | None = None,
                     planned: DataFrame | None = None,
                     broadcast_limit: int = BROADCAST_ROW_LIMIT) -> None:
    """Persist sketch rows + manifest. Data first, manifest last — a group
    is 'complete' only once its manifest row exists (two-phase ordering,
    ≙ `binary_io.cpp:188-205`).

    Attempt lineage (≙ maestro's DOWNLOAD_FAIL_1..10 counters,
    `maestro.h:8-45`): each manifest row carries ``attempt``. Pass the
    previous run's manifest on resume — groups already complete there keep
    their count; groups (re)built this run get prior attempts + 1. Pass
    ``planned`` (the run's work-list of group keys) to also record
    ``complete=False`` rows for planned groups that produced NO states
    this run — without it a failed group leaves no manifest row and its
    attempt count restarts when it finally succeeds.

    The prior-manifest join is broadcast only while the prior manifest
    stays under ``broadcast_limit`` rows; beyond that AQE/statistics pick
    the join strategy (a forced broadcast of 10⁸ group keys kills the
    driver).
    """
    state_writer(sketches).mode("overwrite").parquet(f"{path}/states")
    written = sketches.sparkSession.read.parquet(f"{path}/states")

    # F.crc32 is zlib's CRC-32: the value manifests have always held
    manifest = written.select(
        *[c for c in written.columns if c != "state"],
        F.crc32("state").alias("state_crc32"),
        F.lit(True).alias("complete"))
    keys = [c for c in written.columns
            if c not in ("state", "n_rows", "n_kgrams", "meta",
                         "state_crc32", "complete")]
    gkeys = [k for k in keys if k != "kind"]
    if planned is not None:
        # planned groups with NO state rows this run -> complete=False
        # manifest rows (kind/counters null), so their attempt history
        # accumulates across retries instead of resetting
        failed = (planned.select(*gkeys).distinct()
                  .join(written.select(*gkeys).distinct(), gkeys,
                        "left_anti"))
        fill = [F.col(f.name) if f.name in gkeys
                else (F.lit(False).alias("complete")
                      if f.name == "complete"
                      else F.lit(None).cast(f.dataType).alias(f.name))
                for f in manifest.schema.fields]
        manifest = manifest.unionByName(
            failed.select(*fill))
    if prior_manifest is None:
        manifest = manifest.withColumn("attempt", F.lit(1).cast("long"))
    else:
        prior = prior_manifest.select(
            *keys, F.col("attempt").alias("_prior_attempt"),
            F.col("complete").alias("_prior_complete"))
        # failed-group rows have kind=null and would never equi-join on
        # kind; carry the group's max prior attempt for those instead
        prior_grp = (prior_manifest.groupBy(*gkeys)
                     .agg(F.max("attempt").alias("_prior_gattempt")))
        n_prior = prior_manifest.count()
        manifest = (manifest
                    .join(_hint_small(prior, n_prior, broadcast_limit),
                          keys, "left")
                    .join(_hint_small(prior_grp, n_prior, broadcast_limit),
                          gkeys, "left")
                    .withColumn(
                        "attempt",
                        F.when(F.col("complete")
                               & F.col("_prior_complete"),
                               F.col("_prior_attempt"))
                        .otherwise(F.coalesce("_prior_attempt",
                                              "_prior_gattempt",
                                              F.lit(0)) + 1)
                        .cast("long"))
                    .drop("_prior_attempt", "_prior_complete",
                          "_prior_gattempt"))
    manifest.write.mode("overwrite").parquet(f"{path}/manifest")


def checkpoint_exists(spark: SparkSession, path: str) -> bool:
    """Explicit FS-API existence probe for the checkpoint's manifest dir —
    the ONLY condition treated as cold start. A transient FS error or a
    corrupt manifest must FAIL LOUDLY, never silently rebuild: with an
    existing store a phantom cold start re-appends every state, and the
    compaction merge then doubles each group's counters and CMS/KLL/HLL
    mass (only the Bloom OR is idempotent)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/manifest")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def read_checkpoint(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Returns (states, manifest); only states whose manifest row is
    complete AND whose crc matches are trusted."""
    states = spark.read.parquet(f"{path}/states")
    manifest = spark.read.parquet(f"{path}/manifest")
    return states, manifest


def completed_groups(manifest: DataFrame, group_cols: list[str]) -> DataFrame:
    """Groups with a complete manifest row for every kind they carry."""
    return (manifest.filter(F.col("complete"))
            .select(*group_cols).distinct())


def resume_ingest(spark: SparkSession, files: DataFrame, cfg: SketchConfig,
                  checkpoint_path: str,
                  broadcast_limit: int = BROADCAST_ROW_LIMIT) -> DataFrame:
    """Recompute only groups missing from the checkpoint; union the rest.

    The anti-join is the `restore_status`/`restore_bloom` pattern: the
    checkpointed groups are never re-read (their raw rows are pruned by the
    semi-join before shingling, which at 100 TB skips entire partitions of
    the source table when group keys align with its partitioning).

    The completed-group set is broadcast only below ``broadcast_limit``
    rows; past that (10⁸+ group keys) the hint is dropped and AQE/stats
    choose — a shuffled semi-join is slower but never OOMs the driver.
    """
    gcols = list(cfg.group_cols)
    if not checkpoint_exists(spark, checkpoint_path):
        return build_sketches(files, cfg)  # genuine cold start
    # past here any read failure (transient FS error, corrupt parquet)
    # PROPAGATES: treating it as cold start would silently rebuild and
    # double-append downstream stores
    states, manifest = read_checkpoint(spark, checkpoint_path)
    done = completed_groups(manifest, gcols)
    n_done = done.count()  # one tiny manifest aggregate, reused both joins
    done_h = _hint_small(done, n_done, broadcast_limit)
    todo_rows = files.join(done_h, gcols, "left_anti")
    fresh = build_sketches(todo_rows, cfg)
    kept = states.join(done_h, gcols, "left_semi")
    # defensive: if both sides somehow carry a group, states merge (assoc.)
    return merge_grouped_states(kept.unionByName(fresh), gcols)


def verify_manifest(states: DataFrame, manifest: DataFrame,
                    group_cols: list[str]) -> pd.DataFrame:
    """Cross-check state crc32 against the manifest (end-to-end integrity,
    ≙ `build_db.cpp:144-159` re-verification). Returns mismatches."""
    actual = states.select(*group_cols, "kind",
                           F.crc32("state").alias("actual_crc32"))
    joined = actual.join(manifest, group_cols + ["kind"], "inner")
    return (joined.filter(F.col("actual_crc32") != F.col("state_crc32"))
            .toPandas())
