"""Small shared operator utilities."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def string_ranges(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, starts, lens) of a non-empty Arrow string or binary array,
    read in place: its data buffer as uint8 and each row's int64 (start,
    length) in it, from the int32 offsets (int64 for the large types). A
    column of only empty or null rows has no data buffer and yields an
    empty ``data``; a null row has length 0."""
    large = pa.types.is_large_string(col.type) or \
        pa.types.is_large_binary(col.type)
    _, off_buf, data_buf = col.buffers()
    offs = np.frombuffer(off_buf, dtype=np.int64 if large else np.int32)[
        col.offset:col.offset + len(col) + 1]
    data = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
            else np.empty(0, dtype=np.uint8))
    return data, offs[:-1].astype(np.int64), np.diff(offs).astype(np.int64)


def vector_matrix(vecs: pa.Array) -> tuple[np.ndarray | None, np.ndarray]:
    """(matrix, lens) of a non-empty Arrow list<float|double> array: its
    rows as one (n, dim) float64 matrix, and each row's length. The
    matrix is None when the lengths differ (a ragged column)."""
    offs = vecs.offsets.to_numpy()
    lens = np.diff(offs)
    if (lens != lens[0]).any():
        return None, lens
    values = vecs.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]
    return values.astype(np.float64).reshape(lens.size, int(lens[0])), lens


def matrix_list(mat: np.ndarray) -> pa.ListArray:
    """A (rows, width) numpy matrix as an Arrow list array of its rows."""
    rows, width = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(rows + 1, dtype=np.int32) * width),
        pa.array(mat.ravel()))


def cosine(a: str, b: str) -> Column:
    """Cosine of two array columns named by SQL expressions ``a`` and
    ``b``, summed in double with built-ins (zip_with / aggregate): JVM-side,
    no Python in the path. Two non-null vectors of different lengths raise,
    naming both lengths (zip_with would pad the shorter with nulls and the
    cosine would silently be null)."""
    def norm(v: str) -> Column:
        return F.expr(f"sqrt(aggregate({v}, cast(0.0 as double), (acc, x)"
                      " -> acc + cast(x as double) * cast(x as double)))")
    dot = F.expr(f"aggregate(zip_with({a}, {b},"
                 " (x, y) -> cast(x as double) * cast(y as double)),"
                 " cast(0.0 as double), (acc, v) -> acc + v)")
    ragged = F.expr(f"{a} is not null and {b} is not null"
                    f" and size({a}) != size({b})")
    msg = F.expr(f"concat('cosine of vectors of dim ', size({a}), ' and ',"
                 f" size({b}))")
    return F.when(ragged, F.raise_error(msg)).otherwise(
        dot / (norm(a) * norm(b)))


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None,
                       key_cols: list[str] | None = None) -> DataFrame:
    """Widen thin inputs before work-amplifying stages.

    Operators whose per-row cost is large (mapInArrow signature passes,
    explode-by-hundreds shingles) inherit the INPUT partitioning — a
    compact table read as one parquet split serializes the whole stage
    on one task no matter how many cores the session has (measured: the
    exact-containment query spent ~90% of its time this way). At real
    scale inputs arrive in thousands of splits and this returns ``df``
    unchanged; the repartition only fires below the session parallelism.

    Safety: streaming DataFrames pass through untouched (``df.rdd`` is
    undefined for them, and micro-batch parallelism is the source's
    concern), and a partition probe that fails for any reason degrades
    to no widening rather than breaking the operator. Callers whose
    input is KNOWN to be trivially small (a scoped test query) should
    skip the widen at the call site — the probe itself can cost a
    hidden job under AQE when the plan has upstream shuffles.

    ``key_cols``: when the caller knows a (near-)unique key, widen by
    HASH partitioning on it instead of round-robin — a keyless
    ``repartition(n)`` first pays a local sort of its input
    (spark.sql.execution.sortBeforeRepartition, needed so retried tasks
    reproduce the row→partition assignment), while hash partitioning on
    a deterministic column needs no sort and stays retry-safe
    (guide §2.5: derive synthetic keys deterministically).
    """
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — plan not probe-able; keep as-is
        return df
    if n < target:
        if key_cols:
            return df.repartition(target, *key_cols)
        return df.repartition(target)
    return df
