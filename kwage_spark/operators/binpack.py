"""Global ordering / chunked bin-packing without a single-partition window.

KWAGE packs ≤2048 filters per DB file in key order (A12,
`options.h:137-138`, `build_db.cpp:24-456`). The naive Spark expression —
``row_number() OVER (ORDER BY key)`` with no partitionBy — funnels the
ENTIRE table through one task: correct at sf0.1, a scale-killer at 100 TB.

The scalable form is the classic two-pass global rank:

  1. range-partition by the key and sort within partitions (the same
     shuffle a global sort needs — parallel, skew-handled by the range
     sampler) and pin the layout with persist();
  2. count rows per partition (a tiny n_partitions-row action), prefix-sum
     the counts driver-side, broadcast the offsets;
  3. per partition, rank = partition_offset + local position, appended to
     each Arrow batch with every other column passed through untouched
     (mapInArrow, zero further shuffle).

Rows with equal keys may order arbitrarily among themselves (same contract
as row_number); with unique keys the result equals the window exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caching import persist_tracked


def global_row_number(df: DataFrame, key_col: str,
                      rank_col: str = "rn",
                      partitions: int | None = None) -> DataFrame:
    """Append a 0-based global rank by ``key_col`` ascending, computed with
    a range shuffle + broadcast prefix offsets (never one partition).

    The returned DataFrame is backed by a persisted range layout (the
    count pass and the rank pass must see identical partitioning); the
    cache is registered with ``operators.caching`` — call
    ``release_caches()`` once the result is materialized.
    """
    spark = df.sparkSession
    n_part = int(partitions
                 or spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = persist_tracked(df.repartitionByRange(n_part, F.col(key_col))
                             .sortWithinPartitions(key_col))
    counts = dict(
        ranged.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid").count().collect())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(max(counts, default=-1) + 1):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    boff = spark.sparkContext.broadcast(offsets)
    # fresh StructType: .add() would mutate the cached plan's schema object
    schema = T.StructType(list(ranged.schema.fields)
                          + [T.StructField(rank_col, T.LongType())])

    def add_rank(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pos = boff.value.get(ctx.partitionId() if ctx else 0, 0)
        for batch in batches:
            n = batch.num_rows
            yield batch.append_column(
                rank_col, pa.array(np.arange(pos, pos + n, dtype=np.int64)))
            pos += n

    return ranged.mapInArrow(add_rank, schema=schema)


def chunked_ids(df: DataFrame, key_col: str, chunk_size: int = 2048,
                partitions: int | None = None) -> DataFrame:
    """Assign ``chunk_id = floor(global_rank / chunk_size)`` in key order —
    the ≤2048-filters-per-DB-file packing (A12) as a distributed plan."""
    ranked = global_row_number(df, key_col, rank_col="_rn",
                               partitions=partitions)
    return (ranked
            .withColumn("chunk_id",
                        F.floor(F.col("_rn") / chunk_size).cast("long"))
            .drop("_rn"))
