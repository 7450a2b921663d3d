"""Sketch-table merge / fold — ≙ merge_db (A13/O1) and the power-of-two
fold (A4) at DataFrame granularity.

KWAGE merges DB files pairwise smallest-first with param checks
(`merge_db.cpp:215-248,306-325`); in filter-major layout the same
operation is a unionByName + grouped state-merge, and Spark's shuffle
replaces the pairwise loop. Cross-size merges go through fold() first
(`make_bloom.cpp:344-354` semantics).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.bloom import BloomState
from ..kernels.registry import decode_column, fold_state_blobs


#: rows per output Arrow batch of the merge pass — bounds worker memory
#: when a partition holds thousands of groups of ~100 KB states
_MERGE_BATCH_ROWS = 256


def _run_starts(batch, keys: list[str]) -> np.ndarray:
    """Row indices of a key-sorted batch where a new key run begins (row 0
    always does). Two nulls are the same key, as in a groupBy."""
    n = batch.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in keys:
        col = batch.column(c)
        a, b = col.slice(0, n - 1), col.slice(1)
        diff = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                      pc.xor(pc.is_null(a), pc.is_null(b)))
        change[1:] |= diff.to_numpy(zero_copy_only=False)
    return np.flatnonzero(change)


def _merge_runs(names: list[str], keys: list[str]):
    """mapInArrow generator over rows sorted by ``keys``: one output row
    per key run — the run's first row, its states merged as
    merge_state_blobs merges them and its n_rows / n_kgrams summed. The
    open run holds one decoded state that each blob folds into as it
    arrives, serialized once when the run ends; it is carried across
    batch boundaries, so memory holds one state, not a run's blobs."""
    sums = [c for c in ("n_rows", "n_kgrams") if c in names]
    heads_cols = [c for c in names if c != "state" and c not in sums]

    def merge_runs(batches):
        heads = []            # head rows of the runs not yet emitted, in order
        states, totals = [], []
        run_key, run_state, run_sums = None, None, []
        types = {}

        def flush():
            nonlocal heads, states, totals
            tbl = pa.Table.from_batches(heads)
            done = tbl.slice(0, len(states))
            cols = {c: done.column(c).combine_chunks() for c in heads_cols}
            cols["state"] = pa.array(states, type=types["state"])
            for j, c in enumerate(sums):
                cols[c] = pa.array([t[j] for t in totals], type=types[c])
            heads = tbl.slice(len(states)).to_batches()
            states, totals = [], []
            return pa.RecordBatch.from_arrays([cols[c] for c in names],
                                              names=names)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            types = {f.name: f.type for f in batch.schema}
            starts = _run_starts(batch, keys)
            continues = run_key == tuple(batch.column(c)[0].as_py()
                                         for c in keys)
            heads.append(batch.select(heads_cols).take(
                pa.array(starts[1:] if continues else starts)))
            blobs = batch.column("state").to_pylist()
            seg_sums = [np.add.reduceat(
                batch.column(c).fill_null(0).to_numpy(), starts).tolist()
                for c in sums]
            ends = np.append(starts[1:], n).tolist()
            for j, (s, e) in enumerate(zip(starts.tolist(), ends)):
                seg = [t[j] for t in seg_sums]
                if j == 0 and continues:
                    run_state = fold_state_blobs(run_state, blobs[s:e])
                    run_sums = [a + b for a, b in zip(run_sums, seg)]
                    continue
                if run_state is not None:
                    states.append(run_state.to_bytes())
                    totals.append(run_sums)
                    if len(states) == _MERGE_BATCH_ROWS:
                        yield flush()
                run_state, run_sums = fold_state_blobs(None, blobs[s:e]), seg
            run_key = tuple(batch.column(c)[int(starts[-1])].as_py()
                            for c in keys)
        if run_state is not None:
            states.append(run_state.to_bytes())
            totals.append(run_sums)
        if states:
            yield flush()

    return merge_runs


def merge_grouped_states(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge state rows to one row per (group_cols…, kind) — the UDAF
    merge stage, with the input's schema and column order.

    One hash exchange on (group_cols…, kind) and an in-partition sort on
    the same keys put each group's partials in one contiguous run; one
    Arrow pass per partition (mapInArrow) then merges run by run. A run
    is carried across Arrow batch boundaries, so worker memory is bounded
    by one group's run of states plus one output batch. Non-state columns
    come from the run's first row (first-row-wins, like ``meta``)."""
    keys = [*group_cols, "kind"]
    return (partials
            .repartition(*keys)
            .sortWithinPartitions(*keys)
            .mapInArrow(_merge_runs(partials.columns, keys),
                        schema=partials.schema))


def merge_states_global(df: DataFrame, kind: str) -> DataFrame:
    """Tree-merge ALL states of one kind into a single row — the two-level
    distributed form of a global sketch union (A5 algebra): level 1 runs
    the same Arrow run merge per partition with no exchange (the input is
    one kind, so a partition is one run) and folds it into one partial;
    level 2 merges the ≤n_partitions partials in one tiny final task.

    Never funnels per-group blobs through the driver: at 10⁶ groups ×
    ~100 KB CMS states, level 1 reduces the final stage's input from
    ~100 GB to n_partitions rows."""
    src = (df.filter(F.col("kind") == kind)
           .select("kind", "state", "n_rows", "n_kgrams"))
    partials = src.mapInArrow(_merge_runs(src.columns, ["kind"]),
                              schema=src.schema)
    return merge_grouped_states(partials, [])


def merge_sketch_tables(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union two sketch tables and re-merge duplicate groups (A13/O1).

    Groups present in only one input pass through unchanged (empty ∪ X = X,
    `bloom.h:210-242`); groups in both get their states merged.
    """
    return merge_grouped_states(a.unionByName(b), group_cols)


def fold_bloom_table(df: DataFrame, target_log2_m: int) -> DataFrame:
    """OR-fold every Bloom state to 2^target bits (A4) — makes tables built
    at different filter sizes mergeable. Non-bloom rows pass through."""
    def fold_batch(batches):
        for batch in batches:
            i = batch.schema.get_field_index("state")
            col = batch.column(i)
            is_bloom = pc.fill_null(pc.equal(batch.column("kind"), "bloom"),
                                    False)
            folded = pa.array([st.fold(target_log2_m).to_bytes() for st in
                               decode_column(col.filter(is_bloom), BloomState)],
                              type=col.type)
            yield batch.set_column(i, "state", pc.replace_with_mask(
                col, is_bloom, folded))

    return df.mapInArrow(fold_batch, schema=df.schema)


def verify_states(df: DataFrame) -> int:
    """Decode every state (crc32-checked) — ≙ KWAGE's build-time crc sweep
    (`build_db.cpp:144-159`). Returns number of rows verified; raises on
    corruption. The decode runs in an opaque mapInArrow under the count,
    which Catalyst cannot prune the way it would a projected UDF."""
    def check(batches):
        for batch in batches:
            for _ in decode_column(batch.column(0)):
                pass
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.ones(batch.num_rows, np.int32))], ["ok"])

    return df.select("state").mapInArrow(check, schema="ok int").count()
