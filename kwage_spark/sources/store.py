"""Persistent sketch store with partition-pruned lookups.

The reference packs filters into .db files and discovers them by directory
walk (S7/S9, `build_db.cpp:24-456`, `options.cpp:74-137`); its query
engine then reads only filter bytes, found through per-file metadata
offsets (`kwage.h:34-44`). Our store hash-buckets sketch rows by the
leading group column so that group-restricted reads PRUNE partitions at
the scan, and makes the store describe itself so that reads need no
discovery work:

* **Manifest.** ``write_sketch_store`` and ``compact_sketch_store`` write
  ``_kwage_store.json`` at the store root: the Spark schema (with
  ``_bucket``), the bucketing group column, the bucket count and a layout
  version. The leading underscore keeps it out of Spark's file listing.
  Reads take the schema from it (no footer schema-inference job) and list
  the bucket dirs on the driver (no partition-listing job), so creating
  the DataFrame starts 0 Spark jobs. ``read_sketch_group`` takes its
  bucket count from it, and an append whose schema, group column or
  bucket count differs from it raises before anything is written.
* **Bloom-first, page-bounded, zstd files.** Each bucket file's rows are
  sorted by (``_bucket``, ``kind != 'bloom'``, ``length(state)``) and
  parquet pages are capped at a few rows, so the ``kind`` column's page
  index maps ``kind = 'bloom'`` to row ranges and the vectorized reader
  skips the ``state`` pages of every other kind (most store bytes are CMS
  state). Pages are zstd-compressed at level 1 (``state_writer``, shared
  by every writer of sketch-state files): CMS counters and sparse blooms
  are mostly zero runs, and zstd-1 cuts a store to about 40% of Spark's
  default snappy at no measured cost to the write or the scan. Parquet
  records the codec per column chunk, so snappy files of an older store
  still read, append and compact. The files, the ``_bucket=N`` dirs and
  a plain ``spark.read.parquet`` are unchanged.
* **One file per bucket.** An overwrite and a compaction exchange the
  rows on ``_bucket`` before the write, so each bucket dir holds one data
  file and a scan opens as few files as there are buckets. An append adds
  no exchange: it writes one file wave per (task, bucket), which
  ``compact_sketch_store`` folds back to one file per bucket.
* **Old stores.** A store without a manifest is read exactly as before
  (listing and schema inference); ``compact_sketch_store`` migrates it
  by rewriting every bucket in the new layout and writing a manifest.
  Such a store never recorded its group column and bucket count, so the
  migrated manifest leaves them unset and ``read_sketch_group`` takes the
  caller's ``buckets`` as before; the next overwrite records them.

Iceberg is used when the runtime catalog is configured (format name
"iceberg"); otherwise hive-style partitioned parquet gives the same
pruning semantics. Both are written through the same API, so callers
never branch. Iceberg tables keep their own metadata and get no manifest.
"""

from __future__ import annotations

import contextlib
import json
import math

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import KIND_BLOOM, SketchConfig

BUCKET_COL = "_bucket"
MANIFEST = "_kwage_store.json"
LAYOUT_VERSION = 1
DEFAULT_BUCKETS = 64

# Parquet closes a page at 1 MiB or at this many rows, whichever comes
# first, and a page is what the `kind` page index can skip. Every page
# costs about PAGE_OVERHEAD_BYTES per column (page header plus column- and
# offset-index entries); the cap is the smallest power of two at which
# that cost, summed over a row's columns and spread over the page's rows,
# stays under 1% of the smallest fixed-width state (an HLL at the default
# precision: 2**hll_p register bytes). The 1% is of RAW state bytes: zstd
# shrinks the pages, not their headers and index entries, so against the
# compressed bytes the share is larger.
PAGE_ROW_LIMIT_KEY = "parquet.page.row.count.limit"
PAGE_CHECK_MIN_KEY = "parquet.page.size.row.check.min"
PAGE_OVERHEAD_BYTES = 64
SMALLEST_STATE_BYTES = 2 ** SketchConfig().hll_p
LISTING_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# page codec of every sketch-state file (module docstring); writer options,
# so no session conf changes and a reader needs nothing
STATE_CODEC_OPTIONS = {"compression": "zstd",
                       "parquet.compression.codec.zstd.level": "1"}


def _with_bucket(df: DataFrame, group_col: str, buckets: int) -> DataFrame:
    # xxhash64 is Spark-native (no Python), stable across sessions — the
    # same expression is reused at read time for pruning predicates
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(group_col)), F.lit(buckets))
        .cast("int"))


def _page_row_cap(n_cols: int) -> int:
    rows = math.ceil(n_cols * PAGE_OVERHEAD_BYTES
                     / (0.01 * SMALLEST_STATE_BYTES))
    return 1 << max(rows - 1, 0).bit_length()


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the block, then restore (or unset) it."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _manifest_path(path: str, name: str = MANIFEST) -> str:
    return f"{path.rstrip('/')}/{name}"


def _read_manifest(spark: SparkSession, path: str,
                   name: str = MANIFEST) -> dict | None:
    """The JSON sidecar ``name`` at the root of ``path``, or None."""
    fs, p = _fs_path(spark, _manifest_path(path, name))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(spark._jvm.org.apache.commons.io.IOUtils
                          .toString(stream, "UTF-8"))
    finally:
        stream.close()


def _write_manifest(spark: SparkSession, path: str, body: dict,
                    name: str = MANIFEST) -> None:
    """Write ``body`` as the JSON sidecar ``name`` at the root of ``path``."""
    fs, p = _fs_path(spark, _manifest_path(path, name))
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(body, indent=1).encode()))
    finally:
        out.close()


def _store_manifest(schema: StructType, group_col: str | None,
                    buckets: int | None) -> dict:
    return {"layout_version": LAYOUT_VERSION, "group_col": group_col,
            "buckets": buckets, "schema": schema.jsonValue()}


def _stored_schema(df: DataFrame) -> StructType:
    """``df``'s schema as a read of its files returns it: data columns in
    order, then the ``_bucket`` partition column."""
    fields = [f for f in df.schema.fields if f.name != BUCKET_COL]
    return StructType(fields + [df.schema[BUCKET_COL]])


def _check_manifest(path: str, manifest: dict, what: str, group_col: str,
                    buckets: int | None,
                    schema: StructType | None = None) -> None:
    """Raise if a caller's view of the store contradicts its manifest."""
    where = f"the store manifest {_manifest_path(path)}"
    if manifest["group_col"] is not None and group_col != manifest["group_col"]:
        raise ValueError(f"{what}: group_col={group_col!r} conflicts with "
                         f"{where} (group_col={manifest['group_col']!r})")
    if (buckets is not None and manifest["buckets"] is not None
            and buckets != manifest["buckets"]):
        raise ValueError(f"{what}: buckets={buckets} conflicts with "
                         f"{where} (buckets={manifest['buckets']})")
    if schema is None:
        return
    want = StructType.fromJson(manifest["schema"])
    # nullability is not compared: a file-source read makes every column
    # nullable, so a store read back and appended again must pass
    if ([(f.name, f.dataType.simpleString()) for f in schema.fields]
            != [(f.name, f.dataType.simpleString()) for f in want.fields]):
        raise ValueError(f"{what}: schema {schema.simpleString()} differs "
                         f"from {where} ({want.simpleString()})")


def _pack_buckets(df: DataFrame) -> DataFrame:
    """Hash-exchange ``df``'s rows on ``_bucket``, so a bucket's rows reach
    one write task and the writer leaves one file per bucket."""
    return df.repartition(F.col(BUCKET_COL))


def state_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` with the zstd page codec that every file of sketch
    states is written with: the store, checkpoint states and stream
    partials."""
    return df.write.options(**STATE_CODEC_OPTIONS)


def _write_bucketed(df: DataFrame, path: str, mode: str) -> None:
    """Write ``df`` (with ``_bucket``) as one parquet file wave per bucket.
    Sketch rows go bloom first, then the other kinds by state width, in
    row-capped zstd pages (see the module docstring)."""
    pages = {}
    if {"kind", "state"} <= set(df.columns):
        # the sort's leading _bucket key satisfies the partitioned
        # writer's own required ordering, so this adds no second sort
        df = df.sortWithinPartitions(BUCKET_COL,
                                     F.col("kind") != KIND_BLOOM,
                                     F.length("state"))
        cap = _page_row_cap(len(df.columns) - 1)
        # the writer's first page check comes at check.min rows (100 by
        # default) whatever the row limit, so the first page would span it
        pages = {PAGE_ROW_LIMIT_KEY: cap, PAGE_CHECK_MIN_KEY: cap}
    (state_writer(df).options(**pages).mode(mode).partitionBy(BUCKET_COL)
     .parquet(path))


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def write_sketch_store(sketches: DataFrame, path: str, group_col: str,
                       buckets: int = DEFAULT_BUCKETS, mode: str = "overwrite",
                       format: str = "parquet") -> None:
    """Persist sketch rows bucketed by hash(group_col).

    ~64 buckets keeps files large at 100 TB-derived sketch volumes while
    making single-group reads touch 1/64th of the data (≙ KWAGE's ≤2048
    filters/file packing, `options.h:137-138`, but pruned by layout).
    Every mode but ``'append'`` first exchanges the rows on their bucket,
    so the write leaves one file per bucket and at most ``buckets`` write
    tasks hold rows. An append writes without that exchange, one file
    wave per (task, bucket), for ``compact_sketch_store`` to fold.

    Parquet stores are written bloom-first in row-capped pages and carry
    a ``_kwage_store.json`` manifest (module docstring). An overwrite, or
    the first write to a new path, writes the manifest; an append to a
    store with a manifest must match its schema, group column and bucket
    count, else ``ValueError`` is raised before anything is written. An
    append to an old store without a manifest leaves it without one until
    ``compact_sketch_store`` migrates it.

    ``format`` is EXPLICIT ('parquet' | 'iceberg'), never inferred from
    classpath + path shape: an 's3a://' or relative parquet path must not
    silently route to a catalog lookup. With 'iceberg', ``path`` is a
    table identifier and ``mode`` maps to append / createOrReplace.
    """
    out = _with_bucket(sketches, group_col, buckets)
    if format == "iceberg":
        if not iceberg_available(sketches.sparkSession):
            raise RuntimeError("format='iceberg' but no Iceberg runtime "
                               "on the classpath")
        w = out.writeTo(path).partitionedBy(F.col(BUCKET_COL))
        if mode == "append":
            w.append()
        else:
            w.createOrReplace()
        return
    if format != "parquet":
        raise ValueError(f"unknown store format {format!r}")
    spark = sketches.sparkSession
    schema = _stored_schema(out)
    overwrite = mode.lower() == "overwrite"
    manifest = None if overwrite else _read_manifest(spark, path)
    if manifest is not None:
        _check_manifest(path, manifest, f"write_sketch_store(mode={mode!r})",
                        group_col, buckets, schema)
    fresh = overwrite or (manifest is None
                          and not _bucket_file_counts(spark, path))
    if mode.lower() != "append":
        out = _pack_buckets(out)
    _write_bucketed(out, path, mode)
    if fresh:
        _write_manifest(spark, path,
                        _store_manifest(schema, group_col, buckets))


def _read_parquet(spark: SparkSession, path: str,
                  manifest: dict | None) -> DataFrame:
    """The partitioned parquet dir with its partition column. With a
    manifest (or any sidecar with a ``schema``): its schema, and the
    partition dirs listed on the driver, so no Spark job starts."""
    if manifest is None:
        return spark.read.parquet(path)
    reader = spark.read.schema(StructType.fromJson(manifest["schema"]))
    # the listing happens while the DataFrame is created and is bounded
    # by the bucket count; the threshold only decides where it runs
    with _session_conf(spark, LISTING_THRESHOLD_KEY, str(2 ** 31 - 1)):
        return reader.parquet(path)


def _read_store(spark: SparkSession, path: str,
                format: str) -> tuple[DataFrame, dict | None]:
    if format == "iceberg":
        return spark.read.format("iceberg").load(path), None
    if format != "parquet":
        raise ValueError(f"unknown store format {format!r}")
    manifest = _read_manifest(spark, path)
    return _read_parquet(spark, path, manifest), manifest


def read_sketch_store(spark: SparkSession, path: str,
                      format: str = "parquet") -> DataFrame:
    """Every sketch row of the store (0 Spark jobs when it has a
    manifest; an old store is listed and schema-inferred as before)."""
    return _read_store(spark, path, format)[0].drop(BUCKET_COL)


def discover_sketch_stores(spark: SparkSession, root: str,
                           max_depth: int = 8) -> list[str]:
    """Recursive store discovery (S9, ≙ KWAGE's directory walk for .db
    files, `options.cpp:74-137`): return every directory under ``root``
    that looks like a sketch store (contains ``{BUCKET_COL}=*`` partition
    dirs). Uses the Hadoop FileSystem API, so it works on hdfs:///
    s3a:// paths as well as local ones."""
    fs, start = _fs_path(spark, root)
    found: list[str] = []

    def walk(p, depth: int) -> None:
        if depth > max_depth or not fs.isDirectory(p):
            return
        children = fs.listStatus(p)
        names = [c.getPath().getName() for c in children]
        if any(n.startswith(f"{BUCKET_COL}=") for n in names):
            found.append(p.toString())
            return  # a store's partition dirs aren't themselves stores
        for c in children:
            if c.isDirectory():
                walk(c.getPath(), depth + 1)

    if fs.exists(start):
        walk(start, 0)
    return sorted(found)


def read_all_sketch_stores(spark: SparkSession, root: str,
                           format: str = "parquet") -> DataFrame:
    """Union every discovered store under ``root`` (the read side of the
    reference's recursive .db ingestion; merge duplicate groups afterwards
    with merge_sketch_tables if stores overlap)."""
    paths = discover_sketch_stores(spark, root)
    if not paths:
        raise FileNotFoundError(f"no sketch stores under {root}")
    dfs = [read_sketch_store(spark, p, format=format) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _bucket_file_counts(spark: SparkSession, path: str) -> dict[int, int]:
    """data-file count per ``{BUCKET_COL}=n`` partition directory."""
    fs, root = _fs_path(spark, path)
    counts: dict[int, int] = {}
    if not fs.exists(root):
        return counts
    for child in fs.listStatus(root):
        name = child.getPath().getName()
        if not (child.isDirectory() and name.startswith(f"{BUCKET_COL}=")):
            continue
        bucket = int(name.split("=", 1)[1])
        n = sum(1 for f in fs.listStatus(child.getPath())
                if not f.getPath().getName().startswith(("_", ".")))
        counts[bucket] = n
    return counts


def compact_sketch_store(spark: SparkSession, path: str,
                         group_cols: list[str] | None = None) -> dict:
    """Bin-pack a store's small files after many incremental writes —
    the A13 analog of the reference's smallest-first .db merge pass
    (`merge_db.cpp:215-248`): every ``mode='append'`` ingest adds a file
    wave per bucket, and a store that accrues N increments makes every
    group lookup open N files.

    Only OVER-FRAGMENTED buckets (more than one data file) are
    rewritten, via dynamic partition overwrite — already-compact buckets
    are untouched and the call is a no-op on a compact store, which is
    what a fresh overwrite leaves (one file per bucket), so after appends
    only the buckets they touched are rewritten. A store without a
    manifest is migrated: every bucket is rewritten in the bloom-first
    layout and a manifest is written (module docstring). When
    ``group_cols`` is given, duplicate (group…, kind) rows from
    incremental appends of the SAME group are folded through the state
    merge (merge_grouped_states), so lookups return one mergeable row per
    group again.

    Returns {"buckets_compacted", "files_before", "files_after"}.
    """
    from ..operators.merge import merge_grouped_states

    manifest = _read_manifest(spark, path)
    counts = _bucket_file_counts(spark, path)
    files_before = sum(counts.values())
    # a store without a manifest predates the bloom-first layout: rewrite
    # every bucket in it, then record a manifest
    migrate = manifest is None
    hot = sorted(b for b, n in counts.items()
                 if migrate or n > 1)
    if not hot:
        return {"buckets_compacted": 0, "files_before": files_before,
                "files_after": files_before}

    df = _read_parquet(spark, path, manifest).filter(
        F.col(BUCKET_COL).isin(hot))
    if group_cols:
        df = merge_grouped_states(df, [*group_cols, BUCKET_COL]) \
            if BUCKET_COL not in group_cols else merge_grouped_states(
                df, group_cols)
    # cut the plan's file-source dependency so the overwrite of the path
    # being read is legal; blocks stay on executors (only hot buckets)
    packed = _pack_buckets(df).localCheckpoint(eager=True)

    with _session_conf(spark, "spark.sql.sources.partitionOverwriteMode",
                       "dynamic"):
        _write_bucketed(packed, path, "overwrite")
    if migrate:
        _write_manifest(spark, path,
                        _store_manifest(_stored_schema(packed), None, None))
    after = _bucket_file_counts(spark, path)
    return {"buckets_compacted": len(hot),
            "files_before": files_before,
            "files_after": sum(after.values())}


def read_sketch_group(spark: SparkSession, path: str, group_col: str,
                      value: str, buckets: int | None = None,
                      format: str = "parquet") -> DataFrame:
    """Point lookup of one group's sketch rows.

    The bucket predicate is computed from the SAME hash expression used
    at write time, so the scan prunes to one partition directory before
    the row filter applies (verify via PartitionFilters in the plan).

    ``buckets`` defaults to the store manifest's count (64 for a store
    without one, or for Iceberg). A ``buckets`` or ``group_col`` that
    conflicts with the manifest raises ``ValueError``: it would prune to
    the wrong bucket and return nothing.
    """
    df, manifest = _read_store(spark, path, format)
    if manifest is not None:
        _check_manifest(path, manifest, "read_sketch_group", group_col,
                        buckets)
        if buckets is None:
            buckets = manifest["buckets"]
    if buckets is None:
        buckets = DEFAULT_BUCKETS
    bucket = F.pmod(F.xxhash64(F.lit(value)), F.lit(buckets)).cast("int")
    return (df.filter((F.col(BUCKET_COL) == bucket)
                      & (F.col(group_col) == value))
            .drop(BUCKET_COL))
