"""Sketch-table inspection tools — diff and dump.

The reference ships `bloom_diff.cpp:14-255` (pairwise XOR + popcount of
two filter sets) and `dump_db.cpp:23-326` / `db_debug.cpp` (decode and
print filter headers). DataFrame analogs:

  * sketch_diff(a, b)  — full-outer join on (group, kind); Bloom rows get
    an XOR-popcount bit diff (A6's XOR half), every kind gets a payload
    equality verdict; one-sided groups are flagged. The first tool to
    reach for when two sketch stores disagree.
  * dump_states(df)    — per-row header decode (kind, params, n_items,
    payload bytes), crc-verified, without materializing payloads anywhere.

Both run executor-side, in one mapInArrow pass over the joined/selected
rows that decodes each state once (``registry.decode_column``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.bloom import BloomState
from ..kernels.registry import decode_column, state_n_items


def _xor_popcount(st_a, st_b) -> int | None:
    """Differing bits of two Bloom states of one length, else None."""
    if (isinstance(st_a, BloomState) and isinstance(st_b, BloomState)
            and st_a.params.log2_m == st_b.params.log2_m):
        return int(np.unpackbits(np.bitwise_xor(st_a.bits, st_b.bits)).sum())
    return None


def _params(st) -> str:
    """A decoded state's parameters, as dump_db prints a header."""
    if isinstance(st, BloomState):
        return (f"log2_m={st.params.log2_m} num_hash={st.params.num_hash}"
                f" k={st.params.k}")
    if hasattr(st, "p"):
        return f"p={st.p}"
    if hasattr(st, "log2_w"):
        return f"log2_w={st.log2_w} depth={st.depth}"
    if hasattr(st, "delta"):
        return f"delta={st.delta}"
    return f"k={st.k}"


def sketch_diff(a: DataFrame, b: DataFrame,
                group_cols: list[str]) -> DataFrame:
    """Compare two sketch tables row-by-row.

    Output: group_cols…, kind, status ('both'|'left_only'|'right_only'),
    equal boolean, xor_popcount long (Bloom rows: number of differing
    bits, the `bloom_diff` metric; other kinds: null).
    """
    gk = group_cols + ["kind"]
    left = a.select(*gk, F.col("state").alias("state_a"))
    right = b.select(*gk, F.col("state").alias("state_b"))
    joined = left.join(right, gk, "full_outer")
    keys = ", ".join(f"{c} string" for c in group_cols)
    schema = (f"{keys}, kind string, status string, equal boolean, "
              "xor_popcount long")

    def diff(batches):
        for batch in batches:
            sa, sb = batch.column("state_a"), batch.column("state_b")
            both = pc.and_(sa.is_valid(), sb.is_valid())
            xor = pa.array([_xor_popcount(x, y) for x, y in zip(
                decode_column(sa.filter(both)),
                decode_column(sb.filter(both)))], pa.int64())
            status = pc.if_else(sb.is_null(), "left_only", pc.if_else(
                sa.is_null(), "right_only", "both"))
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(c) for c in gk), status,
                 pc.fill_null(pc.equal(sa, sb), False),
                 pc.replace_with_mask(pa.nulls(len(both), pa.int64()), both,
                                      xor)],
                names=[*gk, "status", "equal", "xor_popcount"])

    return joined.mapInArrow(diff, schema=schema)


def dump_states(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Decode every state header into inspectable columns (≙ dump_db):
    group_cols…, kind, params string, n_items long, state_bytes long.
    Decode is crc-verified; corruption raises with the failing group."""
    keys = ", ".join(f"{c} string" for c in group_cols)
    schema = (f"{keys}, kind string, params string, n_items long, "
              "state_bytes long")
    cols = group_cols + ["kind"]

    def dump(batches):
        for batch in batches:
            state = batch.column("state")
            params, n_items = [], []
            for st in decode_column(state):
                params.append(_params(st))
                n_items.append(state_n_items(st))
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(c) for c in cols),
                 pa.array(params, pa.string()),
                 pa.array(n_items, pa.int64()),
                 pc.binary_length(state).cast(pa.int64())],
                names=[*cols, "params", "n_items", "state_bytes"])

    return df.select(*cols, "state").mapInArrow(dump, schema=schema)
