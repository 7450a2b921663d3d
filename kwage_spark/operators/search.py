"""Containment search — the reference's flagship read path (`kwage`,
SURVEY §3.1) as a broadcast + partition-parallel scan.

KWAGE transposes filters to bit-slices so one k-mer probe is one disk seek
(`build_db.cpp:224-231`). In Spark the same algebra runs the other way
round (SURVEY §4.2): sketches stay filter-major rows; the query's small
hash matrix is broadcast; every partition gathers + ANDs + popcounts its
own filters locally. No shuffle at query time, embarrassingly parallel,
exactly like the OpenMP loop over DB files (`kwage.cpp:76-96`).

Both operators share one scan core (`_bloom_scan`): the bloom rows are
projected to group cols + state (+ meta) and cross the JVM→Python boundary
once, in one mapInArrow pass. Each Arrow batch's states are viewed in
place as an (n, 24 + m/8) byte matrix, validated in one vectorized pass,
and counted against every query per row chunk; `containment_search` and
`containment_counts` only differ in how they emit those count matrices.

Semantics replicated exactly:
  * query k-grams deduped before probing (Q1, `kwage.cpp:362-366`)
  * per-k-gram membership = AND over seeds (Q3, `kwage.cpp:409-423`)
  * threshold = int(t * n_unique) float->int TRUNCATION, match iff
    count >= threshold (Q5, `kwage.cpp:388,497`)
  * zero-k-gram query produces no rows (F10, `kwage.cpp:366-371`)
  * results sorted descending by num_kmers_found (Q8, `output.h:27-32`):
    one single-partition sort of the filtered result, so the scan still
    runs once (a global orderBy's range sampling would re-run it)
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import KIND_BLOOM, SketchConfig
from ..kernels.bloom import (_HDR, _MAGIC as _BLOOM_MAGIC, BloomState,
                             param_mismatch)
from ..kernels.shingle import unique_query_hashes

_ = BloomState  # re-exported for callers that parse single states

RESULT_SCHEMA_TAIL = ("query_id long, num_kmers long, num_kmers_found long, "
                      "percent_kmers_found double")


def prepare_queries(queries: Sequence[tuple[int, str]], cfg: SketchConfig
                    ) -> list[tuple[int, np.ndarray]]:
    """Driver-side digest of query snippets -> unique hash matrices (Q1)."""
    return [(int(qid), unique_query_hashes(snippet, cfg.k, cfg.bloom.seeds))
            for qid, snippet in queries]


def _count_matrix_chunks(B: np.ndarray, flat_q: np.ndarray,
                         qoff_q: np.ndarray, num_hash: int, nq: int):
    """Yield (row_offset, (rows, nq) int32 match-count matrix) chunks,
    picking the kernel by query count:

      * many queries (>= 64): BIT-SLICED scan — transpose the chunk's
        filter matrix (cheap 8x8-block kernel) so each query touches
        n_grams x rows/8 contiguous bytes instead of streaming the whole
        index set per row. This is KWAGE's bit-sliced layout decision
        (build_db.cpp:224-231) applied per batch: ~4x faster per core and
        cache-friendly at high parallelism.
      * few queries, or no native kernels: row-major kernel (transpose
        not amortized); without a C compiler it is the numpy gather +
        AND + popcount reference, which returns the same matrix.

    The sliced kernel accumulates per-row counts in uint16, so it is only
    selected when every query has < 2^16 unique k-grams; a jumbo query
    (>= 64 KB of unique grams) routes the whole batch to the int32
    row-major kernel instead of silently wrapping counts mod 65536.

    B may be a row-strided view (e.g. the bit columns of a state matrix):
    both kernels read it in place.
    """
    from ..kernels import _native
    n = B.shape[0]
    max_grams = (int((np.diff(qoff_q) // max(num_hash, 1)).max())
                 if qoff_q.shape[0] > 1 else 0)
    if _native.HAVE_NATIVE and nq >= 64 and max_grams < (1 << 16):
        row_chunk = max(64, (64 << 20) // max(4 * nq, 1))
        for r0 in range(0, n, row_chunk):
            sub = B[r0:r0 + row_chunk]
            S = _native.transpose_bits(sub)
            yield r0, _native.bloom_scan_count_sliced(
                S, sub.shape[0], flat_q, qoff_q, num_hash)
    else:
        row_chunk = max(1, (16 << 20) // max(4 * nq, 1))
        for r0 in range(0, n, row_chunk):
            yield r0, _native.bloom_scan_count(
                B[r0:r0 + row_chunk], flat_q, qoff_q, num_hash)


class _Queries(NamedTuple):
    """Query set shipped with the scan: pre-masked bit indices, not raw
    hashes, so executors do zero per-query prep (≙ broadcasting the
    query's slice-index set, Q2). The flat/offset form feeds the scan
    kernels in ONE call per row chunk across ALL queries."""
    qids: np.ndarray    # (nq,) int64
    nuniq: np.ndarray   # (nq,) int64 unique k-grams; 0 = silent no-match (F10)
    thr: np.ndarray     # (nq,) int64 int(t * n_unique) truncation (kwage.cpp:388)
    flat: np.ndarray    # uint32 masked bit indices, gram-major per query
    qoff: np.ndarray    # (nq + 1,) int64 offsets into flat


def _state_matrix(col, cfg: SketchConfig, op: str) -> np.ndarray:
    """Zero-copy (n, 24 + m/8) uint8 view of an Arrow binary column of
    serialized BloomStates, after checking every row's width (from the
    offsets) and header (magic, log2_m, num_hash, k) against cfg. A state
    written with other params would otherwise be scanned with the wrong
    mask and return silently wrong counts (heterogeneous stores must
    fold() first). CRC is not re-verified, matching the reference's read
    path, which checksums at build/merge time only."""
    import pyarrow as pa
    n = len(col)
    width = _HDR.size + cfg.bloom.n_bytes
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _validity, off_buf, data_buf = col.buffers()
    offs = np.frombuffer(off_buf, dtype=odt)[col.offset:col.offset + n + 1]
    bad = np.flatnonzero(np.diff(offs) != width)  # nulls have width 0
    if bad.size:
        raise param_mismatch(op, col[int(bad[0])].as_py(), cfg.bloom)
    M = np.frombuffer(data_buf, dtype=np.uint8)[
        offs[0]:offs[0] + n * width].reshape(n, width)
    magic, k = np.ascontiguousarray(M[:, :12]).view("<u4")[:, [0, 2]].T
    bad = np.flatnonzero((magic != _BLOOM_MAGIC) | (M[:, 5] != cfg.bloom.log2_m)
                         | (M[:, 6] != cfg.bloom.num_hash) | (k != cfg.bloom.k))
    if bad.size:
        raise param_mismatch(op, M[bad[0]].tobytes(), cfg.bloom)
    return M


def _bloom_scan(sketches: DataFrame, queries: Sequence[tuple[int, str]],
                cfg: SketchConfig, threshold: float, keep: list,
                emit: Callable, schema: str, op: str) -> DataFrame:
    """The containment scan core: bloom rows projected to ``keep + state``
    cross into Python once (mapInArrow); every batch's states become one
    zero-copy matrix and each row chunk one (rows x nq) count matrix for
    ALL queries (row-outer, so each filter streams through cache once,
    ≙ the reference's per-filter count loop kwage.cpp:409-423).

    ``emit(chunks, q)`` is the operator's output policy: it consumes the
    partition's ``(kept columns, row offset, count matrix)`` stream and
    yields Arrow record batches of ``schema``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    mask = np.uint32(cfg.bloom.m - 1)
    prepared = prepare_queries(queries, cfg)
    idx = [(h.astype(np.uint32) & mask).ravel() for _, h in prepared]
    nuniq = np.asarray([h.shape[0] for _, h in prepared], dtype=np.int64)
    # captured by the closure, not sc.broadcast: each explicit broadcast
    # leaves a temp file in the driver's temp dir until the session stops,
    # and PySpark broadcasts a command past its 1 MB threshold by itself
    q = _Queries(
        qids=np.asarray([qid for qid, _ in prepared], dtype=np.int64),
        nuniq=nuniq, thr=(threshold * nuniq).astype(np.int64),
        flat=np.concatenate(idx) if idx else np.empty(0, dtype=np.uint32),
        qoff=np.concatenate(([0], np.cumsum([i.size for i in idx])))
        .astype(np.int64))
    hdr, num_hash, n_keep = _HDR.size, cfg.bloom.num_hash, len(keep)

    def scan(batches):
        def chunks():
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                M = _state_matrix(batch.column(n_keep), cfg, op)
                cols = batch.columns[:n_keep]
                for r0, fm in _count_matrix_chunks(M[:, hdr:], q.flat, q.qoff,
                                                   num_hash, len(q.qids)):
                    yield cols, r0, fm
        yield from emit(chunks(), q)

    bloom_rows = sketches.filter(F.col("kind") == KIND_BLOOM)
    return bloom_rows.select(*keep, "state").mapInArrow(scan, schema)


def containment_search(sketches: DataFrame, queries: Sequence[tuple[int, str]],
                       cfg: SketchConfig, threshold: float = 1.0,
                       emit_all: bool = False, ordered: bool = True) -> DataFrame:
    """sketches(bloom rows) x queries -> match DataFrame.

    Output: group_cols…, [sample_metadata,] query_id, num_kmers,
    num_kmers_found, percent_kmers_found — the reference's CSV/JSON result
    shape (`output.h:35-59`). ``emit_all`` emits every (group, query) pair
    of a non-empty query, not only those at or above the threshold.

    ``ordered`` (Q8/Q9: query_id asc, num_kmers_found desc, then group
    cols) moves the filtered result into one partition and sorts it there:
    the bloom store is still scanned exactly once. Sinks or joins with a
    large result fan-out should pass ``ordered=False`` and skip that
    single-partition step.
    """
    gcols = list(cfg.group_cols)
    keep = [F.col(c).cast("string").alias(c) for c in gcols]
    names = gcols[:]
    schema = ", ".join(f"{c} string" for c in gcols)
    if "meta" in sketches.columns:  # FilterInfo passthrough (S11)
        keep.append(F.col("meta"))
        names.append("sample_metadata")
        schema += ", sample_metadata map<string,string>"
    schema += ", " + RESULT_SCHEMA_TAIL
    names += ["query_id", "num_kmers", "num_kmers_found", "percent_kmers_found"]

    def emit(chunks, q):
        # vectorized across queries: one record batch per row chunk, not
        # one per (query, chunk) — with thousands of queries per-batch
        # overhead would otherwise dwarf the counting kernel itself
        import pyarrow as pa
        valid = q.nuniq > 0
        for cols, r0, fm in chunks:
            ok = valid[None, :] if emit_all else (fm >= q.thr) & valid
            rsel, qsel = np.nonzero(np.broadcast_to(ok, fm.shape))
            if rsel.size == 0:
                continue
            take = pa.array(rsel + r0)
            found = fm[rsel, qsel].astype(np.int64)
            nk = q.nuniq[qsel]
            yield pa.RecordBatch.from_arrays(
                [c.take(take) for c in cols]
                + [pa.array(q.qids[qsel]), pa.array(nk), pa.array(found),
                   pa.array(100.0 * found / nk)], names=names)

    res = _bloom_scan(sketches, queries, cfg, threshold, keep, emit, schema,
                      "containment_search")
    if not ordered:
        return res
    return (res.repartition(1)
            .sortWithinPartitions("query_id", F.desc("num_kmers_found"),
                                  *gcols))


def containment_counts(sketches: DataFrame,
                       queries: Sequence[tuple[int, str]],
                       cfg: SketchConfig,
                       threshold: float = 1.0) -> DataFrame:
    """Per-query MATCH COUNTS (Q10 result-merge analog): how many groups
    contain ≥ threshold of each query's k-grams.

    Same scan core as containment_search, but each partition emits one
    row per query (its local match count) and a single-partition sum
    merges them — the result traffic is O(n_queries x n_partitions) rows
    regardless of how many groups match, which is the right shape when
    queries are broad (a per-group emit would ship millions of match rows
    nobody reads). Output: query_id, num_kmers, n_matches.
    """
    def emit(chunks, q):
        import pyarrow as pa
        valid = q.nuniq > 0
        totals = np.zeros(len(q.qids), dtype=np.int64)
        for _cols, _r0, fm in chunks:
            totals += ((fm >= q.thr) & valid).sum(axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(q.qids), pa.array(q.nuniq), pa.array(totals)],
            names=["query_id", "num_kmers", "n_matches"])

    partials = _bloom_scan(sketches, queries, cfg, threshold, [], emit,
                           "query_id long, num_kmers long, n_matches long",
                           "containment_counts")
    return (partials.repartition(1)
            .groupBy("query_id", "num_kmers")
            .agg(F.sum("n_matches").alias("n_matches"))
            .filter(F.col("num_kmers") > 0)  # F10: no row for empty queries
            .sortWithinPartitions("query_id"))


def exact_containment(files: DataFrame, queries: Sequence[tuple[int, str]],
                      cfg: SketchConfig) -> DataFrame:
    """Exact verifier ≙ SriRachA set-intersection oracle (Q11,
    `SriRachA/search_by_kmer.cpp:84-133`): true fraction of the query's
    unique k-grams present in each group's k-gram set, via pure
    DataFrame ops (sequence/substring shingling + explode + semi-count).
    """
    k = cfg.k
    gcols = list(cfg.group_cols)
    qdf = files.sparkSession.createDataFrame(
        [(int(q), s) for q, s in queries], "query_id long, snippet string")
    qgrams = (qdf
              .select("query_id", F.explode(F.expr(
                  f"transform(sequence(1, greatest(length(snippet) - {k - 1}, 0)),"
                  f" i -> substring(snippet, i, {k}))")).alias("gram"))
              .distinct())
    totals = qgrams.groupBy("query_id").agg(F.count("*").alias("num_kmers"))
    # broadcast-join the (tiny) query gram set BEFORE aggregating: only
    # corpus grams that appear in some query survive to the shuffle, not
    # the full corpus k-gram set (same algebra, ~corpus-sized saving).
    # countDistinct replaces the old distinct()+count() pair — ONE
    # shuffle with map-side partial distinct instead of two full-row
    # exchanges (the dedup work happens before rows leave the mapper).
    # Shingling via the two-level segment slide (queries.shingle_rel):
    # one-level substring slides are O(len²) per doc — Spark's substring
    # rescans from byte 0 for every window position.
    from ..queries import shingle_rel
    grams = (shingle_rel(files, gcols, cfg.content_col, k)
             .join(F.broadcast(qgrams), "gram"))
    hits = (grams
            .groupBy(*gcols, "query_id")
            .agg(F.countDistinct("gram").alias("num_kmers_found")))
    return (hits.join(F.broadcast(totals), "query_id")
            .withColumn("exact_fraction",
                        F.col("num_kmers_found") / F.col("num_kmers")))
