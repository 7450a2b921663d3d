"""Column-level sketch functions (SURVEY §2.8) — the scalar read surface.

Each helper returns a pyspark Column computed by an Arrow UDF over the
serialized ``state`` binary column, so estimates are produced
EXECUTOR-SIDE: reading a million-group sketch table never funnels state
blobs through the driver (the reference's read path decodes per filter in
each worker too, `kwage.cpp:404-423`).

Decode goes through the kernels' ``from_bytes`` (magic + crc32 verified,
H12) via ``registry.decode_column``, so a corrupt or wrong-kind state
raises instead of mis-estimating. The per-element Python loop inside each
UDF iterates over GROUPS (one state per group), not data rows — the
data-proportional work happened at ingest; these are O(n_groups) catalog
reads.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

from ..kernels.bloom import BloomParams, BloomState, param_mismatch
from ..kernels.cms import CMSState
from ..kernels.hll import HLLState
from ..kernels.kmv import KMVState
from ..kernels.registry import decode_column, state_n_items
from ..kernels.shingle import unique_query_hashes

__all__ = [
    "hll_estimate", "cms_query", "kll_quantile", "tdigest_quantile",
    "sketch_quantiles", "bloom_stats", "bloom_contains", "sketch_n_items",
    "icontains",
]


def _state_udf(fn: Callable, return_type: str, cls=None):
    """The one Arrow UDF over a state column: ``fn(state, *values)`` for
    each row's decoded state (``decode_column(col, cls)``) and its values
    of any further argument columns; the results form one
    ``return_type`` array (a struct from dicts)."""
    arrow_type = to_arrow_type(DataType.fromDDL(return_type))

    def apply(states: pa.Array, *cols: pa.Array) -> pa.Array:
        values = [c.to_pylist() for c in cols]
        return pa.array([fn(st, *v) for st, *v in
                         zip(decode_column(states, cls), *values)],
                        type=arrow_type)

    return F.arrow_udf(apply, return_type)


def icontains(col: Column | str, needle: str) -> Column:
    """Case-insensitive substring test (H11, ≙ the reference's
    case-folded find over metadata fields) — pure built-ins, codegen."""
    return F.instr(F.lower(col), needle.lower()) > 0


def hll_estimate(state: Column | str) -> Column:
    """Distinct-count estimate of an HLL state column (A15) — double."""
    return _state_udf(HLLState.estimate, "double", HLLState)(state)


def kmv_estimate(state: Column | str) -> Column:
    """Distinct-count estimate of a KMV state column — double. Exact
    below the sketch capacity, (k-1)/U(k) beyond it."""
    return _state_udf(KMVState.distinct_estimate, "double", KMVState)(state)


def cms_query(state: Column | str, probe: Column | str, k: int = 8) -> Column:
    """Count-min point estimate of ``probe``'s k-gram window in each CMS
    state (A2). The probe string is truncated/zero-padded to k bytes —
    the same fixed-width window the ingest hashed."""
    def query(st: CMSState, tok: str) -> int:
        w = np.frombuffer(tok.encode()[:k].ljust(k, b"\x00"),
                          dtype=np.uint8)[None, :]
        return int(st.query_windows(w)[0])
    return _state_udf(query, "long", CMSState)(state, probe)


def sketch_quantiles(state: Column | str, qs: Sequence[float]) -> Column:
    """Quantile estimates from a KLL or t-digest state (A16) —
    array<double> aligned with ``qs``. Kind-dispatched by state magic."""
    qlist = [float(q) for q in qs]
    return _state_udf(lambda st: st.quantiles(qlist), "array<double>")(state)


def kll_quantile(state: Column | str, q: float) -> Column:
    """Single KLL quantile (A16) — double."""
    return sketch_quantiles(state, [q])[0]


def tdigest_quantile(state: Column | str, q: float) -> Column:
    """Single t-digest quantile (A16) — double (same dispatch as KLL)."""
    return sketch_quantiles(state, [q])[0]


def sketch_n_items(state: Column | str) -> Column:
    """Items inserted into any sketch state (exact counter) — long."""
    return _state_udf(state_n_items, "long")(state)


def bloom_stats(state: Column | str) -> Column:
    """Bloom diagnostics (A7 popcount + published FP bound, `bloom.cpp:47`):
    struct<n_items long, popcount long, fill_ratio double, fp_bound double>."""
    def stats(st: BloomState) -> dict:
        pc = st.popcount()
        return {"n_items": int(st.n_items), "popcount": pc,
                "fill_ratio": pc / st.params.m,
                "fp_bound": st.params.fp_rate(st.n_items)}
    return _state_udf(stats, "struct<n_items: long, popcount: long,"
                      " fill_ratio: double, fp_bound: double>",
                      BloomState)(state)


def bloom_contains(state: Column | str, snippet: str,
                   params: BloomParams) -> Column:
    """Containment of a query snippet against each Bloom state (Q2-Q5):
    struct<num_kmers long, num_kmers_found long, percent_kmers_found double>.

    The snippet is digested ONCE driver-side (unique k-gram hash matrix,
    Q1) and closed over; executors only gather + AND + popcount. States
    are decoded via from_bytes, so a filter built with different
    (log2_m, num_hash, k) raises instead of silently mis-masking."""
    H = unique_query_hashes(snippet, params.k, params.seeds)
    n_unique = int(H.shape[0])

    def contains(st: BloomState) -> dict:
        if st.params != params:
            raise param_mismatch("bloom_contains", st.to_bytes(), params)
        found = int(st.contains_hashes(H).sum()) if n_unique else 0
        return {"num_kmers": n_unique, "num_kmers_found": found,
                "percent_kmers_found":
                    100.0 * found / n_unique if n_unique else 0.0}
    return _state_udf(contains, "struct<num_kmers: long, num_kmers_found:"
                      " long, percent_kmers_found: double>",
                      BloomState)(state)
