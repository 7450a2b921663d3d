"""Sketch ingest — the reference's maestro/worker build path (SURVEY §3.2)
re-expressed as a cost-based Spark aggregation.

Three physical strategies, all producing identical bloom/HLL/CMS states
(the merge is associative + commutative, so the result is
partitioning-invariant). All are Arrow-native (mapInArrow): a group's
rows become (start, len) ranges into the Arrow string column's data
buffer, fed to the sliding-hash kernel in one call — no Python string
objects, no pandas materialization, on the hot path.

  combine="partial"  (map-side combine, tree-merge)
      stage 1: mapInArrow builds a PARTIAL state per (group × partition);
               raw ``content`` never crosses the network.
      stage 2: merge_grouped_states hash-exchanges the partials on
               (group, kind), sorts each partition by the same keys and
               merges the binary states run by run in one mapInArrow pass.
      Shuffle volume ≈ min(n_groups × n_partitions, n_rows) × state_size.
      Wins when groups are FEW and LARGE (the KWAGE regime: one filter per
      SRA accession with millions of reads; `bloom.h:118-128` anticipates
      exactly this MPI-reduce-style tree-merge).

  combine="raw"  (group-partitioned single pass)
      hash-repartition rows by group key, then one pass per partition
      accumulating a single state per group across Arrow batches (bounded
      memory: states, not raw rows — unlike a plain applyInPandas which
      would materialize a whole mega-group in pandas).
      Shuffle volume = the raw content, once — the cost of any grouped agg.
      Wins when groups are MANY and SMALL, where partial states would
      exceed the raw data (e.g. 10^9 (repo,lang) groups of a few files).

  closed  (row-group pieces; picked by combine="auto" only)
      KWAGE's maestro hands each accession whole to one worker, which
      builds the finished filter (`maestro_main.cpp:421-434`), so no
      filter is merged across workers. On a parquet input clustered by
      the group key (each group's rows in one row group or a few adjacent
      ones) the driver already reads every row group's group keys for the
      cost stats. Each group is owned by the first row group it is in; a
      row group's PIECE is its owned groups, read from it and from the
      later row groups those groups continue into, so a group cut by a
      row-group boundary is built whole by one piece. Pieces are packed by
      content bytes (largest first, onto the least-loaded unit) into
      max(defaultParallelism, content_bytes / RAW_PARTITION_BYTES) units.
      One mapInArrow over one input row per unit reads its pieces' row
      groups with pyarrow, drops by key the rows other pieces own, and
      builds FINAL states with raw mode's accumulator, flushed at each
      piece's end: no shuffle, no merge stage, and no content crosses the
      JVM→Python boundary.
      Declines — and the plan is partial or raw as the cost model says —
      when the input is not a column-pruned scan of local parquet files
      (a filter, join or computed column over the scan, a column that
      lives in partition dirs, remote files, a column type pyarrow reads
      differently from Spark), when it has more files than FOOTER_FILE_CAP
      or group columns over GROUP_STATS_DRIVER_BUDGET, when an explicit
      ``combine`` is given, and when
        * the largest piece holds more than content_bytes /
          defaultParallelism: a round-robin layout (row group 0 owns every
          group) or a single row group would leave one task building it;
        * the pieces would read over CLOSED_MAX_READ_RATIO times the
          content (groups scattered over many row groups);
        * a piece holds more groups than raw mode's partition of
          RAW_PARTITION_BYTES does at the corpus' mean density, so a task
          never holds more states than a raw-mode task.

  combine="auto" (default) estimates both shuffle volumes with one narrow
      stats aggregation (group keys + content length only — on a real
      deployment use table/column statistics instead of the extra scan)
      and picks the cheaper plan, unless the closed plan applies. This
      mirrors Spark's own partial-agg skip heuristic, applied to
      user-space aggregates.

Every call logs one decision record (logger ``kwage_spark.operators.
ingest``, the fields on the log record's ``decision`` attribute): the
mode, and for the closed plan its piece and unit counts, the largest
piece's share against the fair share 1/defaultParallelism, the read
ratio and the largest piece's groups against a raw partition's, or why
it declined.

Skew: in partial mode a mega-group combines wherever its rows sit (no hot
partition); in raw mode a mega-group hashes to one partition — pass
``combine="partial"`` for that layout.
"""

from __future__ import annotations

import functools
import heapq
import json
import logging
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (KIND_BLOOM, KIND_CMS, KIND_HLL, KIND_KLL,
                      KIND_KMV, KIND_TDIGEST, SketchConfig)
from ..kernels.bloom import BloomParams, BloomState
from ..kernels.cms import CMSState
from ..kernels.hll import HLLState
from ..kernels.kll import KLLState
from ..kernels.kmv import KMVState
from ..kernels.tdigest import TDigestState
from ..kernels import _native
from ..kernels.murmur3 import murmur3_32_sliding
from .merge import merge_grouped_states

logger = logging.getLogger(__name__)


def _new_states(cfg: SketchConfig) -> dict[str, object]:
    states: dict[str, object] = {}
    if KIND_BLOOM in cfg.kinds:
        states[KIND_BLOOM] = BloomState(cfg.bloom)
    if KIND_HLL in cfg.kinds:
        states[KIND_HLL] = HLLState(cfg.hll_p)
    if KIND_CMS in cfg.kinds:
        states[KIND_CMS] = CMSState(cfg.cms_log2_w, cfg.cms_depth)
    if KIND_KLL in cfg.kinds:
        states[KIND_KLL] = KLLState(cfg.kll_k)
    if KIND_TDIGEST in cfg.kinds:
        states[KIND_TDIGEST] = TDigestState(cfg.tdigest_delta)
    if KIND_KMV in cfg.kinds:
        states[KIND_KMV] = KMVState(cfg.kmv_k)
    return states


def _hash_lanes(cfg: SketchConfig) -> int:
    """Seed lanes the hash-sketches share (one murmur pass per row):
    Bloom uses lanes 0..num_hash-1 (seed h = h, `hash.cpp:252-254`),
    CMS row r uses lane r, HLL's 64-bit hash composes lanes 0 and 1."""
    lanes = 0
    if KIND_BLOOM in cfg.kinds:
        lanes = max(lanes, cfg.bloom.num_hash)
    if KIND_CMS in cfg.kinds:
        lanes = max(lanes, cfg.cms_depth)
    if KIND_HLL in cfg.kinds:
        lanes = max(lanes, 2)
    if KIND_KMV in cfg.kinds:
        lanes = max(lanes, 2)  # composes lanes 0,1 like HLL
    return lanes


def _feed_hashes(states: dict[str, object], cfg: SketchConfig,
                 H: np.ndarray) -> None:
    """Push a shared (n, lanes) uint32 hash matrix into the hash sketches."""
    if KIND_BLOOM in states:
        states[KIND_BLOOM].add_hashes(H[:, : cfg.bloom.num_hash])
    if KIND_HLL in states:
        states[KIND_HLL].add_hash_lanes(H)
    if KIND_CMS in states:
        states[KIND_CMS].add_hashes(H)
    if KIND_KMV in states:
        states[KIND_KMV].add_hash_lanes(H)


def _feed_group_ranges(states: dict[str, object], cfg: SketchConfig,
                       buf: np.ndarray, starts: np.ndarray,
                       lens: np.ndarray, sizes: np.ndarray) -> int:
    """Arrow-native group feed: rows are (start, len) ranges into the
    string column's shared data buffer — no Python string objects exist
    anywhere on this path."""
    lanes = _hash_lanes(cfg)
    n_kgrams = int(np.maximum(lens - cfg.k + 1, 0).sum())
    if lanes and n_kgrams:
        seeds = np.arange(lanes, dtype=np.uint32)
        if _native.HAVE_NATIVE:
            H = _native.sliding_ranges_multiseed(buf, starts, lens, cfg.k, seeds)
        else:
            parts = [murmur3_32_sliding(buf[s:s + ln], cfg.k, seeds)
                     for s, ln in zip(starts.tolist(), lens.tolist())
                     if ln >= cfg.k]
            H = parts[0] if len(parts) == 1 else np.concatenate(parts)
        _feed_hashes(states, cfg, H)
    if KIND_KLL in states:
        states[KIND_KLL].add_values(sizes.astype(np.float64))
    if KIND_TDIGEST in states:
        states[KIND_TDIGEST].add_values(sizes.astype(np.float64))
    return n_kgrams


def _group_key(tbl, cfg: SketchConfig):
    """One string per row of ``tbl`` (a RecordBatch or Table) naming its
    group, as every build mode keys it: the group columns cast to string,
    a null as "" (dictionary indices with nulls would otherwise convert to
    float/NaN and break argsort/int downstream), joined by NUL."""
    import pyarrow as pa
    import pyarrow.compute as pc
    cols = [pc.fill_null(tbl.column(c).cast(pa.string()), "")
            for c in cfg.group_cols]
    return cols[0] if len(cols) == 1 else pc.binary_join_element_wise(
        *cols, "\x00")


def _arrow_groups(batch, cfg: SketchConfig):
    """Yield (key_tuple, ranges, n_rows, meta) for each group in a
    pyarrow.RecordBatch, touching only Arrow buffers + numpy; ``ranges``
    is ``_feed_group_ranges``' (buf, starts, lens, sizes) of the group's
    rows in the content column's data buffer.

    Group discovery: dictionary-encode the concatenated group key, then a
    stable argsort of the code array gives contiguous index runs per
    group (the per-batch equivalent of a sort-based aggregate)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from .util import string_ranges

    n = batch.num_rows
    if n == 0:
        return
    buf, starts_all, lens_all = string_ranges(
        batch.column(batch.schema.get_field_index(cfg.content_col)))

    if cfg.size_col is not None:
        sizes_all = batch.column(
            batch.schema.get_field_index(cfg.size_col)).to_numpy(
                zero_copy_only=False).astype(np.float64)
    else:
        sizes_all = lens_all.astype(np.float64)

    codes_arr = pc.dictionary_encode(_group_key(batch, cfg))
    codes = codes_arr.indices.to_numpy(zero_copy_only=False)
    dictionary = codes_arr.dictionary.to_pylist()
    mcols = {c: batch.column(batch.schema.get_field_index(c))
                  .cast(pa.string())
             for c in cfg.meta_cols}

    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    bounds = np.flatnonzero(np.diff(sorted_codes)) + 1
    run_starts = np.concatenate(([0], bounds))
    run_ends = np.concatenate((bounds, [n]))
    for rs, re in zip(run_starts.tolist(), run_ends.tolist()):
        ix = order[rs:re]
        key = dictionary[int(sorted_codes[rs])]
        key_tuple = tuple(key.split("\x00")) if len(cfg.group_cols) > 1 else (key,)
        if mcols:
            i0 = int(ix[0])  # first-row-wins metadata (FilterInfo analog)
            meta = {c: (a[i0].as_py() or "") for c, a in mcols.items()}
        else:
            meta = None
        ranges = (buf, starts_all[ix], lens_all[ix], sizes_all[ix])
        yield key_tuple, ranges, re - rs, meta


def _arrow_gen_partials(cfg: SketchConfig):
    """mapInArrow generator: per batch, group rows into (start, len)
    ranges over the string column's data buffer and feed the kernels
    directly — zero Python string objects — emitting one PARTIAL state
    set per (batch, group). Extra columns are ignored."""
    def gen_partials(batches):
        def entries():
            for batch in batches:
                for key, ranges, n_rows, meta in _arrow_groups(batch, cfg):
                    states = _new_states(cfg)
                    n_kgrams = _feed_group_ranges(states, cfg, *ranges)
                    yield key, states, n_rows, n_kgrams, meta
        return _state_batches(entries(), cfg)

    return gen_partials


def _final_states(batches, cfg: SketchConfig):
    """Accumulate ONE state set per group across ``batches`` and emit the
    finished rows when they end — raw mode runs it per partition, the
    closed plan per piece. Memory is bounded by (groups in the input
    × state size), never raw rows."""
    acc: dict[tuple, list] = {}
    for batch in batches:
        for key, ranges, n_rows, meta in _arrow_groups(batch, cfg):
            entry = acc.get(key)
            if entry is None:
                entry = acc[key] = [_new_states(cfg), 0, 0, meta]
            entry[1] += n_rows
            entry[2] += _feed_group_ranges(entry[0], cfg, *ranges)
    yield from _state_batches(((key, *e) for key, e in acc.items()), cfg)


def _state_batches(entries, cfg: SketchConfig, max_rows: int = 256):
    """Arrow batches of sketch rows, one row per kind of each (key, states,
    n_rows, n_kgrams, meta) entry. Yields incrementally: with many tiny
    groups a batch can hold thousands of groups at ~100 KB of state each;
    ``max_rows`` bounds worker memory."""
    gcols = list(cfg.group_cols)
    rows = []
    for key, states, n_rows, n_kgrams, meta in entries:
        for kind, st in states.items():
            row = dict(zip(gcols, key))
            row.update(kind=kind, state=st.to_bytes(),
                       n_rows=n_rows, n_kgrams=n_kgrams)
            if meta is not None:
                row["meta"] = meta
            rows.append(row)
            if len(rows) >= max_rows:
                yield _states_record_batch(rows, cfg)
                rows = []
    if rows:
        yield _states_record_batch(rows, cfg)


def _states_record_batch(rows: list[dict], cfg: SketchConfig):
    import pyarrow as pa
    cols: dict[str, list] = {c: [] for c in cfg.group_cols}
    cols.update(kind=[], state=[], n_rows=[], n_kgrams=[])
    if cfg.meta_cols:
        cols["meta"] = []
    for r in rows:
        for c in cols:
            cols[c].append(r[c])
    arrays = [pa.array(cols[c], type=pa.string()) for c in cfg.group_cols]
    arrays += [pa.array(cols["kind"], type=pa.string()),
               pa.array(cols["state"], type=pa.binary()),
               pa.array(cols["n_rows"], type=pa.int64()),
               pa.array(cols["n_kgrams"], type=pa.int64())]
    names = list(cfg.group_cols) + ["kind", "state", "n_rows", "n_kgrams"]
    if cfg.meta_cols:
        arrays.append(pa.array([list(m.items()) for m in cols["meta"]],
                               type=pa.map_(pa.string(), pa.string())))
        names.append("meta")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def state_bytes_per_group(cfg: SketchConfig) -> int:
    """Serialized size of one group's full state set (for plan costing)."""
    total = 0
    if KIND_BLOOM in cfg.kinds:
        total += cfg.bloom.n_bytes + 24
    if KIND_HLL in cfg.kinds:
        total += (1 << cfg.hll_p) + 20
    if KIND_CMS in cfg.kinds:
        total += cfg.cms_depth * (1 << cfg.cms_log2_w) * 8 + 24
    if KIND_KLL in cfg.kinds:
        total += cfg.kll_k * 8 * 3 + 24
    if KIND_TDIGEST in cfg.kinds:
        total += cfg.tdigest_delta * 16 * 2 + 24
    if KIND_KMV in cfg.kinds:
        total += cfg.kmv_k * 8 + 16
    return total


def sketch_schema(cfg: SketchConfig) -> str:
    keys = ", ".join(f"{c} string" for c in cfg.group_cols)
    base = f"{keys}, kind string, state binary, n_rows long, n_kgrams long"
    if cfg.meta_cols:
        base += ", meta map<string,string>"
    return base


def _select_inputs(df: DataFrame, cfg: SketchConfig) -> DataFrame:
    cols = list(cfg.group_cols) + [cfg.content_col]
    if cfg.size_col:
        cols.append(cfg.size_col)
    cols += [c for c in cfg.meta_cols if c not in cols]
    return df.select(*cols)


# target bytes of raw content per shuffle partition in "raw" mode: small
# enough that a reducer's Arrow batches + states fit executor memory with
# room to spare, large enough to amortize task overhead
RAW_PARTITION_BYTES = 64 << 20

#: ceiling on COMPRESSED group-column bytes the driver may read itself for
#: the auto-mode cost stats; beyond it the narrow Spark aggregation runs
#: (whose fixed job cost is noise at that corpus size anyway)
GROUP_STATS_DRIVER_BUDGET = 32 << 20

#: bytes a parquet reader fetches from a file's tail to open its footer
#: (parquet-cpp's default footer read size)
FOOTER_READ_BYTES = 64 << 10

#: most files whose footers the driver opens: the group-stats budget spent
#: on footer reads alone. Above it the stats come from Spark and the plan
#: is partial or raw.
FOOTER_FILE_CAP = GROUP_STATS_DRIVER_BUDGET // FOOTER_READ_BYTES


class _Footers(NamedTuple):
    """What the parquet footers say about a column-pruned local scan. The
    ``rg_*`` arrays hold one entry per row group, in file then row-group
    order."""
    paths: list[str]
    rg_file: np.ndarray      # index into ``paths``
    rg_index: np.ndarray     # row-group index within its file
    rg_rows: np.ndarray
    rg_content: np.ndarray   # content column's uncompressed bytes
    group_bytes: int         # group columns' compressed bytes
    closed_reason: str | None  # why pyarrow's read could differ from Spark's


def _pure_scan_reason(src: DataFrame) -> str | None:
    """None when ``src``'s optimized plan is Projects of plain column
    references over one relation, else why not: any Filter/Join/agg would
    make footer totals overcount, and a computed column would make a read
    of the stored column wrong."""
    node = src._jdf.queryExecution().optimizedPlan()
    while node.nodeName() == "Project" and node.children().size() == 1:
        exprs = node.projectList()
        if any(exprs.apply(i).getClass().getSimpleName()
               != "AttributeReference" for i in range(exprs.size())):
            return "computed column over the scan"
        node = node.children().apply(0)
    if node.nodeName() != "LogicalRelation":
        return f"not a column-pruned scan ({node.nodeName()} under it)"
    return None


def _type_reason(schema, src: DataFrame, cfg: SketchConfig) -> str | None:
    """Why a pyarrow read of ``src``'s columns could hand the kernels
    other Arrow data than Spark's mapInArrow does (e.g. a dictionary-typed
    string column), or None."""
    import pyarrow as pa
    t = pa.types
    for c in src.columns:
        ty = schema.field(c).type
        if c == cfg.content_col:
            ok = (t.is_string(ty) or t.is_large_string(ty)
                  or t.is_binary(ty) or t.is_large_binary(ty))
        elif c == cfg.size_col:
            ok = t.is_integer(ty) or t.is_floating(ty)
        else:
            ok = t.is_string(ty) or t.is_large_string(ty) or t.is_integer(ty)
        if not ok:
            return f"column {c!r} is stored as {ty}"
    return None


def _footer_scan(src: DataFrame, cfg: SketchConfig) -> _Footers | str:
    """Row counts and content bytes per row group straight from the
    parquet FOOTERS, driver-side, zero Spark jobs (guide §1/§6: don't
    re-scan data for statistics the storage layer already keeps), or a
    string saying why the footers cannot stand in for a scan: a plan
    that is not a pure column-pruned scan (``_pure_scan_reason``),
    non-parquet or remote files, a content or group column that is not
    stored in the files (a partition column), or more than
    FOOTER_FILE_CAP files, checked before any footer is opened. Any other
    column kept out of the files, or stored as a type pyarrow reads
    differently from Spark, only sets ``closed_reason``. content bytes are the
    content column's total_uncompressed_size — data + offsets, a few %
    above sum(length(content)), well inside the cost model's margin (the
    compare is against states ~25x away at the break-even point).
    """
    try:
        reason = _pure_scan_reason(src)
        if reason:
            return reason
        files = list(src.inputFiles())
        if not files or not all(f.endswith(".parquet") for f in files):
            return "not a parquet file scan"
        if len(files) > FOOTER_FILE_CAP:
            return f"{len(files)} files over the footer cap {FOOTER_FILE_CAP}"
        import pyarrow.parquet as pq
        paths, rgs = [], []
        group_bytes = 0
        closed_reason = None
        for uri in files:
            if uri.startswith("file:"):
                path = "/" + uri.split(":", 1)[1].lstrip("/")
            elif "://" in uri or ":" in uri.split("/", 1)[0]:
                return "remote files"  # footers not OS-addressable
            else:
                path = uri
            with pq.ParquetFile(path) as pf:
                md, schema = pf.metadata, pf.schema_arrow
            missing = [c for c in src.columns
                       if schema.get_field_index(c) < 0]
            why = (f"column {missing[0]!r} is not stored in the files"
                   " (a partition column?)") if missing else None
            # the footer stats need only the content and group columns
            if any(c in missing for c in (cfg.content_col, *cfg.group_cols)):
                return why
            closed_reason = (closed_reason or why
                             or _type_reason(schema, src, cfg))
            # parquet numbers leaf columns: a struct before them shifts them
            leaf = {md.schema.column(i).path: i
                    for i in range(md.num_columns)}
            ci = leaf[cfg.content_col]
            gix = [leaf[c] for c in cfg.group_cols]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                rgs.append((len(paths), g, rg.num_rows,
                            rg.column(ci).total_uncompressed_size))
                group_bytes += sum(rg.column(i).total_compressed_size
                                   for i in gix)
            paths.append(path)
        cols = np.array(rgs, dtype=np.int64).reshape(-1, 4).T
        return _Footers(paths, *cols, group_bytes, closed_reason)
    except Exception as e:  # noqa: BLE001 — any plan/IO surprise: use the scan
        return f"footer read failed ({type(e).__name__})"


def _group_spans(paths: list[str], cfg: SketchConfig):
    """(span_rg, span_gid, span_rows, keys): one span per (row group,
    group) pair, in row-group order, from a driver-side read of the group
    columns ONLY — bounded by GROUP_STATS_DRIVER_BUDGET at the call site.
    Row groups are numbered as in ``_Footers``; ``span_gid`` numbers the
    groups densely and ``keys[gid]`` (an Arrow string array) is the
    group's ``_group_key``, the key the build modes group by.

    Counting is pyarrow's hash aggregation — one row per (row group,
    group) — so no Python object exists per input row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    gcols = list(cfg.group_cols)
    keys, span_rg, span_rows = [], [], []
    for path in paths:
        with pq.ParquetFile(path) as pf:
            for g in range(pf.metadata.num_row_groups):
                agg = pf.read_row_group(g, columns=gcols).group_by(gcols) \
                    .aggregate([([], "count_all")])
                keys += _group_key(agg, cfg).chunks
                span_rows.append(agg.column("count_all").to_numpy())
                span_rg.append(np.full(agg.num_rows, len(span_rg), np.int64))
    if not span_rg:
        empty = np.zeros(0, np.int64)
        return empty, empty, empty, pa.array([], pa.string())
    enc = pa.chunked_array(keys, pa.string()).combine_chunks() \
        .dictionary_encode()
    gid = enc.indices.to_numpy(zero_copy_only=False)
    return (np.concatenate(span_rg), gid.astype(np.int64),
            np.concatenate(span_rows).astype(np.int64), enc.dictionary)


def _span_stats(spans, n_input_parts: int, target_parallelism: int
                ) -> tuple[int, int]:
    """(n_groups, n_span_effective) of ``_group_spans``' output.

    n_span_effective models what build_sketches will actually do: a thin
    input is widened to ``target_parallelism`` round-robin partitions
    before the partial pass, so a group with r rows emits ~min(r, P)
    partial states; an already-wide input emits ~one state per (row
    group x resident group). The old Spark-side estimate measured the
    PRE-widen layout and under-costed partial mode by the widen factor
    (measured: a boundary corpus flip-flopped modes run to run on
    approx_count_distinct noise)."""
    gid, rows = spans[1], spans[2]
    if not gid.size:
        return 1, 1
    totals = np.bincount(gid, weights=rows)
    span = gid.size
    if n_input_parts < target_parallelism:
        span = int(np.minimum(totals, max(target_parallelism, 1)).sum())
    return max(totals.size, 1), max(span, 1)


def corpus_stats(src: DataFrame, cfg: SketchConfig,
                 target_parallelism: int | None = None
                 ) -> tuple[int, int, int, int]:
    """(n_rows, n_groups≈, content_bytes, n_span_groups≈). n_span_groups
    counts distinct (input-partition, group) pairs — the number of
    partial states map-side combine would emit (widen-aware, see
    _span_stats). On a table clustered/bucketed by the group key
    it approaches n_groups; on a round-robin layout it approaches
    n_groups x n_partitions. On a real deployment read these from
    table/column statistics instead.

    r6 (guide §1/§6): when the input is a pure local parquet scan of at
    most FOOTER_FILE_CAP files, n_rows/content_bytes come from the
    FOOTERS and the group-key stats from a driver-side read of the
    (dictionary-compressed) group columns under GROUP_STATS_DRIVER_BUDGET
    — zero Spark jobs for the common case (the old full stats scan
    decoded the whole content column just for length() and cost ~0.4 s
    of a ~1.0 s sf1.0 build). Over budget or non-scan inputs fall back to
    one narrow Spark aggregation."""
    return _corpus_stats(src, cfg, target_parallelism)[0]


def _corpus_stats(src: DataFrame, cfg: SketchConfig,
                  target_parallelism: int | None = None):
    """(corpus_stats' tuple, layout): layout is (footers, spans) when the
    stats came from the footers and the driver's group-column read —
    what the closed plan needs — else a string saying why not."""
    if target_parallelism is None:
        target_parallelism = src.sparkSession.sparkContext.defaultParallelism
    footer = _footer_scan(src, cfg)
    totals = None
    if isinstance(footer, str):
        layout = footer
    else:
        n_rows, content_bytes = totals = (int(footer.rg_rows.sum()),
                                          int(footer.rg_content.sum()))
        layout = (f"group columns over the driver budget "
                  f"{GROUP_STATS_DRIVER_BUDGET} B")
        if footer.group_bytes <= GROUP_STATS_DRIVER_BUDGET:
            try:
                spans = _group_spans(footer.paths, cfg)
            except Exception as e:  # noqa: BLE001
                layout = f"group column read failed ({type(e).__name__})"
            else:
                gs = _span_stats(spans, footer.rg_rows.size,
                                 target_parallelism)
                return ((n_rows, gs[0], content_bytes, gs[1]),
                        (footer, spans))
    # one narrow Spark aggregation for the group distincts, plus the row
    # count and content bytes when no footers supplied them (the content
    # column stays out of the scan when they did). The (non-deterministic)
    # partition id is projected BEFORE aggregating — Spark forbids it
    # inside an aggregate expression
    proj = src.select(
        F.concat_ws("\x00", *cfg.group_cols).alias("_gkey"),
        F.concat_ws("\x00", F.spark_partition_id().cast("string"),
                    *cfg.group_cols).alias("_pkey"),
        *([] if totals else [F.length(cfg.content_col).alias("_clen")]))
    aggs = [F.approx_count_distinct("_gkey").alias("n_groups"),
            F.approx_count_distinct("_pkey").alias("n_span")]
    if totals is None:
        aggs += [F.count("*").alias("n_rows"),
                 F.sum("_clen").alias("content_bytes")]
    stats = proj.agg(*aggs).first()
    if totals is None:
        n_rows = stats["n_rows"] or 0
        content_bytes = stats["content_bytes"] or 0
    n_groups = max(stats["n_groups"] or 1, 1)
    return (n_rows, n_groups, content_bytes,
            _widened_span(src, n_groups, max(stats["n_span"] or 1, 1),
                          n_rows, target_parallelism)), layout


def _widened_span(src: DataFrame, n_groups: int, n_span: int, n_rows: int,
                  target_parallelism: int) -> int:
    """Adjust a measured pre-widen n_span for the repartition the partial
    build applies to thin inputs: after widening, each group spans up to
    ``target_parallelism`` partitions, so cost partial mode against
    min(n_groups x P, n_rows), never the single-partition measurement
    (which under-costs partial by the widen factor)."""
    try:
        if src.rdd.getNumPartitions() >= target_parallelism:
            return n_span
    except Exception:  # noqa: BLE001
        return n_span
    return max(n_span, min(n_groups * max(target_parallelism, 1), n_rows))


def raw_shuffle_partitions(content_bytes: int, floor: int) -> int:
    """Shuffle width for raw mode, sized by DATA VOLUME, not cores: a
    fixed spark.sql.shuffle.partitions makes reducer blocks grow linearly
    with the corpus until netty direct memory blows — partition count must
    scale with bytes (≈64 MB each), bounded below by the session default."""
    return max(floor, min(int(content_bytes // RAW_PARTITION_BYTES) + 1, 16384))


def choose_combine(src: DataFrame, cfg: SketchConfig,
                   n_partitions: int,
                   stats: tuple | None = None) -> str:
    """Cost-based strategy pick: compare estimated shuffle volumes.

    partial shuffles one state set per (input partition x group) actually
    co-resident — measured, not worst-cased, so a table clustered by the
    group key (the recommended layout, ≙ Iceberg bucketing on repo) gets
    map-side combine even when groups are small. raw shuffles the
    content exactly once."""
    st = stats or corpus_stats(src, cfg)
    n_rows, _n_groups, content_bytes = st[0], st[1], st[2]
    n_span = st[3] if len(st) > 3 else _n_groups * n_partitions
    partial_bytes = min(n_span, n_rows) * state_bytes_per_group(cfg)
    return "partial" if partial_bytes < content_bytes else "raw"


def _record(**fields) -> None:
    """Log build_sketches' plan decision as one structured record: JSON in
    the message, the dict on the log record's ``decision`` attribute.
    Recording starts no Spark job."""
    fields = {"op": "build_sketches", **fields}
    logger.info("decision %s", json.dumps(fields, sort_keys=True),
                extra={"decision": fields})


#: most bytes the closed plan's pieces may read together, as a multiple of
#: the content. On a sorted file a row group is read by its own piece and
#: by the piece owning the one group cut at its head: at most twice.
CLOSED_MAX_READ_RATIO = 2.0


def _closed_plan(src: DataFrame, cfg: SketchConfig, footers: _Footers,
                 spans, parallelism: int):
    """(final-state DataFrame, decision fields) for the closed plan (module
    docstring), or (None, decision fields naming why it declines)."""
    if footers.closed_reason:
        return None, {"reason": footers.closed_reason}
    span_rg, span_gid, span_rows, keys = spans
    if not span_gid.size:
        return None, {"reason": "no rows"}
    n_rg = footers.rg_rows.size
    # a group is built by the piece of the first row group it is in
    owner = np.full(len(keys), n_rg, np.int64)
    np.minimum.at(owner, span_gid, span_rg)
    span_owner = owner[span_gid]
    pieces, piece_of = np.unique(span_owner, return_inverse=True)
    # a span's content bytes, pro rata to its rows in the row group
    piece_bytes = np.bincount(piece_of, weights=footers.rg_content[span_rg]
                              * span_rows / footers.rg_rows[span_rg])
    piece_groups = np.bincount(np.searchsorted(pieces, owner))
    read_rg = np.unique(piece_of * n_rg + span_rg) % n_rg
    content = int(footers.rg_content.sum())
    # raw mode holds the states of one RAW_PARTITION_BYTES partition's
    # groups, at the corpus' mean density; a piece may hold no more
    raw_groups = max(1, -(-len(keys) * RAW_PARTITION_BYTES // max(content, 1)))
    fields = {"n_pieces": int(pieces.size),
              "largest_share": round(piece_bytes.max()
                                     / max(piece_bytes.sum(), 1), 4),
              "fair_share": round(1 / parallelism, 4),
              "read_ratio": round(footers.rg_content[read_rg].sum()
                                  / max(content, 1), 4),
              "largest_groups": int(piece_groups.max()),
              "raw_partition_groups": int(raw_groups)}
    if piece_bytes.max() > piece_bytes.sum() / parallelism:
        reason = "largest piece over the fair share of content bytes"
    elif footers.rg_content[read_rg].sum() > CLOSED_MAX_READ_RATIO * content:
        reason = "pieces would read over CLOSED_MAX_READ_RATIO x the content"
    elif piece_groups.max() > raw_groups:
        reason = "largest piece holds more groups than a raw partition"
    else:
        reason = None
    if reason:
        return None, {**fields, "reason": reason}

    # the row groups each piece reads, in file order, with a key filter
    # where other pieces own rows of it: keep the piece's own keys or drop
    # the others', whichever list is shorter
    reads: dict[int, list] = {int(p): [] for p in pieces}
    bounds = np.searchsorted(span_rg, np.arange(n_rg + 1))
    for q in np.unique(span_rg).tolist():
        own = span_owner[bounds[q]:bounds[q + 1]]
        gid = span_gid[bounds[q]:bounds[q + 1]]
        at = (footers.paths[footers.rg_file[q]], int(footers.rg_index[q]))
        for p in np.unique(own).tolist():
            mine = own == p
            if mine.all():
                flt = None
            elif 2 * mine.sum() <= mine.size:
                flt = (True, keys.take(gid[mine]).to_pylist())
            else:
                flt = (False, keys.take(gid[~mine]).to_pylist())
            reads[p].append((*at, flt))
    n_units = int(min(pieces.size,
                      max(parallelism, -(-content // RAW_PARTITION_BYTES))))
    # LPT: the biggest piece first, onto the least-loaded unit
    heap = [(0.0, 0, u) for u in range(n_units)]
    members: list[list[int]] = [[] for _ in range(n_units)]
    for c in np.argsort(-piece_bytes, kind="stable").tolist():
        load, n, u = heapq.heappop(heap)
        members[u].append(c)
        heapq.heappush(heap, (load + piece_bytes[c], n + 1, u))
    units = [[reads[int(pieces[c])] for c in sorted(m)] for m in members]
    spark = src.sparkSession
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    if batch_rows <= 0:  # Spark's "no limit"
        batch_rows = max(int(footers.rg_rows.max()), 1)
    gen = _closed_units(units, list(src.columns), cfg, batch_rows)
    out = spark.range(0, n_units, 1, n_units).mapInArrow(
        gen, schema=sketch_schema(cfg))
    return out, {**fields, "n_units": n_units}


def _closed_units(units: list, columns: list[str], cfg: SketchConfig,
                  batch_rows: int):
    """mapInArrow generator over unit ids: read each piece of a unit with
    pyarrow (``columns`` only, its row groups in file order, rows of groups
    another piece owns filtered out by key) and emit its final states at
    the piece's end."""
    def read(piece):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        for path, rg, flt in piece:
            if flt is not None:
                keep, value_set = flt[0], pa.array(flt[1], pa.string())
            with pq.ParquetFile(path) as pf:
                for b in pf.iter_batches(batch_size=batch_rows,
                                         row_groups=[rg], columns=columns,
                                         use_threads=False):
                    if flt is not None:
                        hit = pc.is_in(_group_key(b, cfg), value_set=value_set)
                        b = b.filter(hit if keep else pc.invert(hit))
                    yield b

    def gen(batches):
        for batch in batches:
            for u in batch.column(0).to_pylist():
                for piece in units[u]:
                    yield from _final_states(read(piece), cfg)
    return gen


def build_sketches(df: DataFrame, cfg: SketchConfig,
                   combine: str = "auto") -> DataFrame:
    """df(source_files) -> DataFrame[group_cols…, kind, state, n_rows, n_kgrams].

    Column-prunes to exactly the needed inputs before any UDF so the
    parquet scan reads only group keys + content (+ size_col).
    ``combine="auto"`` takes the closed plan when it applies, else the
    cheaper of partial and raw (module docstring); the decision is
    logged as one record.
    """
    if combine not in ("auto", "partial", "raw"):
        raise ValueError(f"unknown combine mode {combine!r}")
    src = _select_inputs(df, cfg)
    spark = df.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    stats = None
    decision: dict = {"reason": "explicit combine"}
    if combine == "auto":
        stats, layout = _corpus_stats(src, cfg)
        combine = choose_combine(src, cfg, n_shuffle, stats)
        if isinstance(layout, str):
            decision = {"reason": layout}
        else:
            closed, decision = _closed_plan(
                src, cfg, *layout, spark.sparkContext.defaultParallelism)
            if closed is not None:
                _record(mode="closed", **decision)
                return closed
    _record(mode=combine, **decision)
    gcols = list(cfg.group_cols)
    schema = sketch_schema(cfg)

    if combine == "partial":
        # partial mode inherits the INPUT partitioning — a thin input
        # (single-file table, one row group) would serialize all the
        # hashing on one task. Widen to the session parallelism; a no-op
        # at real scale (guide §2.5 unsplittable-input fix).
        # Partitioning-invariance of the merge keeps results
        # byte-identical (tested).
        from .util import ensure_parallelism
        src = ensure_parallelism(src)
        partials = src.mapInArrow(_arrow_gen_partials(cfg), schema=schema)
        return merge_grouped_states(partials, gcols)

    # scale the shuffle width with content volume (one narrow stats scan
    # unless auto mode already ran it)
    if stats is None:
        stats = corpus_stats(src, cfg)
    n_shuffle = raw_shuffle_partitions(stats[2], n_shuffle)
    # hash the key as _arrow_groups keys it (a null is ""), so a null and
    # a "" of one group land in one partition and build one row
    keyed = src.repartition(n_shuffle, *[
        F.coalesce(F.col(c).cast("string"), F.lit("")) for c in gcols])
    return keyed.mapInArrow(functools.partial(_final_states, cfg=cfg),
                            schema=schema)


def config_for_corpus(src: DataFrame, base: SketchConfig,
                      p_target: float = 0.25,
                      stats: tuple | None = None) -> SketchConfig:
    """Size the Bloom filter from corpus statistics (≙ `optimal_bloom_param`,
    `bloom.cpp:10-68`, wired to the ingest stats scan instead of a per-SRA
    count): pick the smallest power-of-two m whose published FP bound meets
    ``p_target`` at the ESTIMATED per-group k-gram count.

    One size for the whole table (not per-group adaptive) so states stay
    merge-compatible without fold()s — SURVEY §7.3; skewed mega-groups
    exceed the average, so the estimate uses 4x the mean as headroom
    (cheap: doubling m costs one log2 step).
    """
    st = stats or corpus_stats(_select_inputs(df=src, cfg=base), base)
    n_rows, n_groups, content_bytes = st[0], st[1], st[2]
    if n_rows == 0:
        return base
    total_kgrams = max(content_bytes - n_rows * (base.k - 1), n_rows)
    per_group = max(1, total_kgrams // n_groups)
    params = BloomParams.optimal(per_group * 4, p_target=p_target, k=base.k)
    import dataclasses
    return dataclasses.replace(base, bloom=params)


def sketch_metrics(sketches: DataFrame) -> DataFrame:
    """Ingest accounting ≙ running totals A14 (`maestro_main.cpp:956-983`)."""
    return (sketches
            .groupBy("kind")
            .agg(F.count("*").alias("n_groups"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum("n_kgrams").alias("n_kgrams"),
                 F.sum(F.length("state")).alias("state_bytes")))
