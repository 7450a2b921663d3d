"""Optional native murmur3 kernel (ctypes, lazily compiled with cc -O3).

The hash loop is the single hot path of ingest (SURVEY §2.3 H1/H3/H5): the
reference spends its time in an AVX2 8-lane murmur (`hash.cpp:239-332`);
our pure-numpy kernel is memory-traffic-bound at a few MB/s/core, which is
the wrong side of a 100 TB job. This module compiles a ~60-line C
implementation at first use and exposes it through ctypes. Everything is
OPTIONAL: if no C compiler is present (or ``KWAGE_DISABLE_NATIVE=1``),
callers in ``murmur3.py`` fall back to the numpy path, which is
bit-identical (tested in tests/test_kernels.py::test_native_parity).

The shared object is cached under the system temp dir keyed by the sha256
of the C source, so executor workers on one machine compile once; the
compile itself goes to a pid-unique temp name followed by an atomic
``os.replace`` so concurrent workers never observe a half-written .so.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <stddef.h>
#include <stdlib.h>
#include <string.h>

static inline uint32_t rotl32(uint32_t x, int r) {
    return (x << r) | (x >> (32 - r));
}

static inline uint32_t load32(const uint8_t *p) {
    return (uint32_t)p[0] | ((uint32_t)p[1] << 8)
         | ((uint32_t)p[2] << 16) | ((uint32_t)p[3] << 24);
}

static inline uint32_t fmix32(uint32_t h) {
    h ^= h >> 16; h *= 0x85ebca6bu;
    h ^= h >> 13; h *= 0xc2b2ae35u;
    h ^= h >> 16;
    return h;
}

static inline uint32_t mm3_body(const uint8_t *p, int64_t len, uint32_t seed) {
    uint32_t h1 = seed;
    int64_t nblocks = len / 4;
    for (int64_t b = 0; b < nblocks; b++) {
        uint32_t k1 = load32(p + 4 * b);
        k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
        h1 ^= k1; h1 = rotl32(h1, 13); h1 = h1 * 5u + 0xe6546b64u;
    }
    const uint8_t *tail = p + nblocks * 4;
    uint32_t k1 = 0;
    switch (len & 3) {
        case 3: k1 ^= (uint32_t)tail[2] << 16; /* fallthrough */
        case 2: k1 ^= (uint32_t)tail[1] << 8;  /* fallthrough */
        case 1: k1 ^= (uint32_t)tail[0];
                k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
                h1 ^= k1;
    }
    return fmix32(h1 ^ (uint32_t)len);
}

/* murmur3_32 of every k-byte window of buf, for every seed.
   out has shape (len-k+1, nseeds), row-major.

   Block b of window i spans bytes [i+4b, i+4b+4) — i.e. the mixed
   (k1*C1, rotl15, *C2) value of block b at window i equals the mixed
   value of block 0 at offset i+4b, and it is seed-independent. So we
   precompute mixed values per byte-offset in chunks, then run a
   seed-outer / window-inner fold whose iterations are independent per
   window — the compiler vectorizes it across windows. */
#define MM3_CHUNK 4096
void mm3_sliding_multiseed(const uint8_t *buf, int64_t len, int64_t k,
                           const uint32_t *seeds, int64_t nseeds,
                           uint32_t *out) {
    int64_t n = len - k + 1;
    int64_t nblocks = k / 4;
    int tailn = (int)(k & 3);
    if (nblocks > 16) { /* rare huge-k fallback */
        for (int64_t i = 0; i < n; i++)
            for (int64_t s = 0; s < nseeds; s++)
                out[i * nseeds + s] = mm3_body(buf + i, k, seeds[s]);
        return;
    }
    uint32_t mixed[MM3_CHUNK + 64];
    uint32_t tk[MM3_CHUNK];
    for (int64_t c0 = 0; c0 < n; c0 += MM3_CHUNK) {
        int64_t cn = n - c0 < MM3_CHUNK ? n - c0 : MM3_CHUNK;
        /* last mixed index used is cn-1 + 4*(nblocks-1); one more would
           read past buf when k %% 4 == 0 and the buffer ends page-aligned */
        int64_t nmix = nblocks ? cn + 4 * (nblocks - 1) : 0;
        for (int64_t j = 0; j < nmix; j++) {
            uint32_t k1 = load32(buf + c0 + j);
            k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
            mixed[j] = k1;
        }
        if (tailn) {
            const uint8_t *tp = buf + c0 + 4 * nblocks;
            for (int64_t j = 0; j < cn; j++) {
                uint32_t k1 = (uint32_t)tp[j];
                if (tailn >= 2) k1 ^= (uint32_t)tp[j + 1] << 8;
                if (tailn == 3) k1 ^= (uint32_t)tp[j + 2] << 16;
                k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
                tk[j] = k1;
            }
        }
        for (int64_t s = 0; s < nseeds; s++) {
            uint32_t seed = seeds[s];
            uint32_t *op = out + c0 * nseeds + s;
            for (int64_t i = 0; i < cn; i++) {
                uint32_t h1 = seed;
                for (int64_t b = 0; b < nblocks; b++) {
                    h1 ^= mixed[i + 4 * b]; h1 = rotl32(h1, 13);
                    h1 = h1 * 5u + 0xe6546b64u;
                }
                if (tailn) h1 ^= tk[i];
                op[i * nseeds] = fmix32(h1 ^ (uint32_t)k);
            }
        }
    }
}

/* murmur3_32 of each fixed-width row of a (n, width) uint8 matrix. */
void mm3_rows_multiseed(const uint8_t *buf, int64_t n, int64_t width,
                        const uint32_t *seeds, int64_t nseeds,
                        uint32_t *out) {
    for (int64_t i = 0; i < n; i++)
        for (int64_t s = 0; s < nseeds; s++)
            out[i * nseeds + s] = mm3_body(buf + i * width, width, seeds[s]);
}

/* sliding multiseed over m strings given as (start, len) ranges into a
   shared buffer — the ranges need not be contiguous or ordered (they
   address rows of an Arrow string column's data buffer directly). */
void mm3_sliding_ranges_multiseed(const uint8_t *buf, const int64_t *starts,
                                  const int64_t *lens, int64_t m, int64_t k,
                                  const uint32_t *seeds, int64_t nseeds,
                                  uint32_t *out) {
    int64_t row = 0;
    for (int64_t i = 0; i < m; i++) {
        int64_t n = lens[i] - k + 1;
        if (n <= 0) continue;
        mm3_sliding_multiseed(buf + starts[i], lens[i], k, seeds, nseeds,
                              out + row * nseeds);
        row += n;
    }
}

/* Fused sliding-window multiseed MINHASH: fold out[s] = min(out[s],
   murmur3_32(window_i, seeds[s])) over all k-byte windows — the minhash
   signature kernel. Same chunked precomputed-mix structure as
   mm3_sliding_multiseed, but the (n_windows x nseeds) hash matrix is
   never materialized: the min folds in-register, so memory traffic is
   O(len), not O(n_windows * nseeds * 4). Caller pre-initializes out
   (UINT32_MAX) — chunks and range batches fold associatively. */
void mm3_sliding_minhash(const uint8_t *buf, int64_t len, int64_t k,
                         const uint32_t *seeds, int64_t nseeds,
                         uint32_t *out) {
    int64_t n = len - k + 1;
    int64_t nblocks = k / 4;
    int tailn = (int)(k & 3);
    if (nblocks > 16) { /* rare huge-k fallback */
        for (int64_t i = 0; i < n; i++)
            for (int64_t s = 0; s < nseeds; s++) {
                uint32_t h = mm3_body(buf + i, k, seeds[s]);
                if (h < out[s]) out[s] = h;
            }
        return;
    }
    uint32_t mixed[MM3_CHUNK + 64];
    uint32_t tk[MM3_CHUNK];
    for (int64_t c0 = 0; c0 < n; c0 += MM3_CHUNK) {
        int64_t cn = n - c0 < MM3_CHUNK ? n - c0 : MM3_CHUNK;
        int64_t nmix = nblocks ? cn + 4 * (nblocks - 1) : 0;
        for (int64_t j = 0; j < nmix; j++) {
            uint32_t k1 = load32(buf + c0 + j);
            k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
            mixed[j] = k1;
        }
        if (tailn) {
            const uint8_t *tp = buf + c0 + 4 * nblocks;
            for (int64_t j = 0; j < cn; j++) {
                uint32_t k1 = (uint32_t)tp[j];
                if (tailn >= 2) k1 ^= (uint32_t)tp[j + 1] << 8;
                if (tailn == 3) k1 ^= (uint32_t)tp[j + 2] << 16;
                k1 *= 0xcc9e2d51u; k1 = rotl32(k1, 15); k1 *= 0x1b873593u;
                tk[j] = k1;
            }
        }
        for (int64_t s = 0; s < nseeds; s++) {
            uint32_t seed = seeds[s];
            uint32_t mn = out[s];
            for (int64_t i = 0; i < cn; i++) {
                uint32_t h1 = seed;
                for (int64_t b = 0; b < nblocks; b++) {
                    h1 ^= mixed[i + 4 * b]; h1 = rotl32(h1, 13);
                    h1 = h1 * 5u + 0xe6546b64u;
                }
                if (tailn) h1 ^= tk[i];
                h1 = fmix32(h1 ^ (uint32_t)k);
                if (h1 < mn) mn = h1;
            }
            out[s] = mn;
        }
    }
}

/* Per-string minhash over (start, len) ranges into a shared buffer —
   out is (m, nseeds); strings with no window get all-UINT32_MAX rows
   (the Python wrapper filters those out before calling). */
void mm3_sliding_ranges_minhash(const uint8_t *buf, const int64_t *starts,
                                const int64_t *lens, int64_t m, int64_t k,
                                const uint32_t *seeds, int64_t nseeds,
                                uint32_t *out) {
    for (int64_t i = 0; i < m; i++) {
        uint32_t *o = out + i * nseeds;
        for (int64_t s = 0; s < nseeds; s++) o[s] = 0xffffffffu;
        if (lens[i] - k + 1 > 0)
            mm3_sliding_minhash(buf + starts[i], lens[i], k, seeds,
                                nseeds, o);
    }
}

/* Containment-scan counting kernel (Q2-Q5, the flagship read path):
   for each of n_rows filters (LSB-first bits; row r starts row_stride
   bytes after row r-1, so a header-prefixed state matrix is read in place) and
   each of nq queries, count query k-grams whose num_hash bit positions
   are ALL set. Query q's masked bit indices live at
   idx[qoff[q] .. qoff[q+1]), laid out gram-major (gram g's seeds are
   adjacent). out is (n_rows, nq) int32, row-major.

   Row-outer loop keeps one filter hot in cache while all queries stream
   their (shared, ~MB-sized) index arrays through L2 — the vectorized
   analog of the reference's per-filter OpenMP count loop
   (kwage.cpp:409-423) without numpy's byte-expanded scratch. */
void bloom_scan_count(const uint8_t *B, int64_t n_rows, int64_t row_stride,
                      const uint32_t *idx, const int64_t *qoff, int64_t nq,
                      int64_t num_hash, int32_t *out) {
    /* Block queries so each block's index stream (~192 KB) stays in L2
       across every row: with many queries the unblocked row-outer loop
       re-reads the ENTIRE multi-MB index array from DRAM per row, which
       caps multi-core scaling at the memory controller. */
    const int64_t IDX_BLOCK = 49152; /* uint32 indices per block */
    int64_t q0 = 0;
    while (q0 < nq) {
        int64_t q1 = q0, acc = 0;
        while (q1 < nq &&
               (acc == 0 || acc + (qoff[q1 + 1] - qoff[q1]) <= IDX_BLOCK)) {
            acc += qoff[q1 + 1] - qoff[q1];
            q1++;
        }
        for (int64_t r = 0; r < n_rows; r++) {
            const uint8_t *bits = B + r * row_stride;
            int32_t *orow = out + r * nq;
            for (int64_t q = q0; q < q1; q++) {
                const uint32_t *qi = idx + qoff[q];
                int64_t nidx = qoff[q + 1] - qoff[q];
                int32_t cnt = 0;
                for (int64_t p = 0; p < nidx; p += num_hash) {
                    int ok = 1;
                    for (int64_t s = 0; s < num_hash; s++) {
                        uint32_t b = qi[p + s];
                        ok &= (bits[b >> 3] >> (b & 7)) & 1;
                    }
                    cnt += (int32_t)ok;
                }
                orow[q] = cnt;
            }
        }
        q0 = q1;
    }
}

/* Bit-matrix transpose via 8x8 blocks (the classic delta-swap network):
   B (n_rows x row_bytes, LSB-first bits) -> S (row_bytes*8 slices of
   slice_bytes = ceil(n_rows/8) bytes), so slice i's byte s bit k is
   row (8s+k)'s bit i; row r starts row_stride bytes after row r-1.
   The 8-byte column group is the outer loop: its 64 slices (64 *
   slice_bytes) stay in cache while every 8-row block fills one byte of
   each, where a row-block-outer loop would touch all row_bytes*8 slices
   per block (4x slower at 1334 rows x 8 KB). Feeds
   bloom_scan_count_sliced. */
void bit_transpose(const uint8_t *B, int64_t n_rows, int64_t row_bytes,
                   int64_t row_stride, uint8_t *S) {
    int64_t slice_bytes = (n_rows + 7) >> 3;
    for (int64_t j0 = 0; j0 < row_bytes; j0 += 8) {
        int64_t j1 = row_bytes - j0 < 8 ? row_bytes : j0 + 8;
        for (int64_t r0 = 0; r0 < n_rows; r0 += 8) {
            int nr = n_rows - r0 < 8 ? (int)(n_rows - r0) : 8;
            int64_t sbyte = r0 >> 3;
            for (int64_t j = j0; j < j1; j++) {
                uint64_t x = 0;
                for (int k = 0; k < nr; k++)
                    x |= (uint64_t)B[(r0 + k) * row_stride + j] << (8 * k);
                uint64_t t;
                t = (x ^ (x >> 7))  & 0x00AA00AA00AA00AAULL; x ^= t ^ (t << 7);
                t = (x ^ (x >> 14)) & 0x0000CCCC0000CCCCULL; x ^= t ^ (t << 14);
                t = (x ^ (x >> 28)) & 0x00000000F0F0F0F0ULL; x ^= t ^ (t << 28);
                for (int b = 0; b < 8; b++)
                    S[(j * 8 + b) * slice_bytes + sbyte] = (uint8_t)(x >> (8 * b));
            }
        }
    }
}

/* Bit-sliced containment scan — KWAGE's own layout trick
   (build_db.cpp:224-231) applied per batch: S is the TRANSPOSED filter
   matrix, (m_bits x slice_bytes) with slice_bytes = ceil(n_rows/8), so
   one bit position's values across every filter are contiguous. A query
   gram then reads num_hash slices (few hundred bytes) instead of the
   row-major form's whole-index-array stream per row: total traffic is
   O(nq * n_grams * n_rows/8) vs O(n_rows * n_idx * 4), a ~30x cut in
   the many-query regime, and every access is sequential (vectorizable).
   out is (n_rows x nq) int32, same contract as bloom_scan_count.
   Returns 0 on success, -1 if scratch allocation failed (out untouched —
   the Python wrapper raises instead of reading uninitialized counts). */
int bloom_scan_count_sliced(const uint8_t *S, int64_t slice_bytes,
                            int64_t n_rows, const uint32_t *idx,
                            const int64_t *qoff, int64_t nq,
                            int64_t num_hash, int32_t *out) {
    uint8_t *tmp = (uint8_t *)malloc((size_t)slice_bytes);
    uint16_t *counts = (uint16_t *)malloc((size_t)n_rows * 2);
    if (!tmp || !counts) { free(tmp); free(counts); return -1; }
    for (int64_t q = 0; q < nq; q++) {
        const uint32_t *qi = idx + qoff[q];
        int64_t nidx = qoff[q + 1] - qoff[q];
        memset(counts, 0, (size_t)n_rows * 2);
        for (int64_t p = 0; p < nidx; p += num_hash) {
            const uint8_t *s0 = S + (int64_t)qi[p] * slice_bytes;
            memcpy(tmp, s0, (size_t)slice_bytes);
            for (int64_t s = 1; s < num_hash; s++) {
                const uint8_t *ss = S + (int64_t)qi[p + s] * slice_bytes;
                for (int64_t b = 0; b < slice_bytes; b++)
                    tmp[b] &= ss[b];
            }
            int64_t full = n_rows >> 3;
            for (int64_t b = 0; b < full; b++) {
                uint8_t v = tmp[b];
                uint16_t *c = counts + b * 8;
                c[0] += v & 1;        c[1] += (v >> 1) & 1;
                c[2] += (v >> 2) & 1; c[3] += (v >> 3) & 1;
                c[4] += (v >> 4) & 1; c[5] += (v >> 5) & 1;
                c[6] += (v >> 6) & 1; c[7] += (v >> 7) & 1;
            }
            for (int64_t r = full * 8; r < n_rows; r++)
                counts[r] += (tmp[r >> 3] >> (r & 7)) & 1;
        }
        for (int64_t r = 0; r < n_rows; r++)
            out[r * nq + q] = (int32_t)counts[r];
    }
    free(tmp);
    free(counts);
    return 0;
}

/* ---- sketch update scatter loops (consume a (n, stride) uint32 hash
   matrix, one row per item, lane s = seed s) ---- */

/* Bloom insert: set bits h_0..h_{lanes-1} & (2^log2m - 1). */
void bloom_scatter(uint8_t *bits, int64_t log2m, const uint32_t *h,
                   int64_t n, int64_t stride, int64_t lanes) {
    uint32_t mask = (uint32_t)((1ull << log2m) - 1);
    for (int64_t i = 0; i < n; i++) {
        const uint32_t *row = h + i * stride;
        for (int64_t s = 0; s < lanes; s++) {
            uint32_t b = row[s] & mask;
            bits[b >> 3] |= (uint8_t)(1u << (b & 7));
        }
    }
}

/* HLL register max-update; 64-bit hash composed from lanes 0 and 1. */
void hll_update(uint8_t *reg, int64_t p, const uint32_t *h,
                int64_t n, int64_t stride) {
    int shift = 64 - (int)p;
    for (int64_t i = 0; i < n; i++) {
        const uint32_t *row = h + i * stride;
        uint64_t v = ((uint64_t)row[0] << 32) | (uint64_t)row[1];
        uint64_t idx = v >> shift;
        uint64_t rest = v << p;
        uint8_t rho = rest ? (uint8_t)(__builtin_clzll(rest) + 1)
                           : (uint8_t)(shift + 1);
        if (rho > reg[idx]) reg[idx] = rho;
    }
}

/* CMS histogram add: row r of the table uses hash lane r. */
void cms_update(uint64_t *table, int64_t depth, int64_t log2w,
                const uint32_t *h, int64_t n, int64_t stride) {
    uint32_t mask = (uint32_t)((1u << log2w) - 1);
    int64_t w = (int64_t)1 << log2w;
    for (int64_t i = 0; i < n; i++) {
        const uint32_t *row = h + i * stride;
        for (int64_t r = 0; r < depth; r++)
            table[r * w + (row[r] & mask)]++;
    }
}
"""


_CFLAGS = ["-O3", "-march=native", "-funroll-loops"]


def _cache_dir() -> str:
    """Per-user 0700 cache dir — never the shared world-writable temp dir
    (a predictable path there would let another local user pre-plant a
    malicious .so that CDLL loads at import time)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "kwage_native")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
    except OSError:
        d = os.path.join(tempfile.gettempdir(), f"kwage_native_{os.getuid()}")
        os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _owned_by_me(path: str) -> bool:
    try:
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid()


def _compile() -> str | None:
    tag = hashlib.sha256(
        (_C_SOURCE + " ".join(_CFLAGS)).encode()).hexdigest()[:12]
    cache = os.path.join(_cache_dir(), f"kwage_native_{tag}")
    so = cache + ".so"
    if os.path.exists(so) and _owned_by_me(so):
        return so
    cc = None
    for cand in ("cc", "gcc", "clang"):
        try:
            subprocess.run([cand, "--version"], capture_output=True, check=True)
            cc = cand
            break
        except (OSError, subprocess.CalledProcessError):
            continue
    if cc is None:
        return None
    csrc = f"{cache}.{os.getpid()}.c"
    tmp_so = f"{cache}.{os.getpid()}.tmp.so"
    try:
        with open(csrc, "w") as f:
            f.write(_C_SOURCE)
        try:
            subprocess.run(
                [cc, *_CFLAGS, "-fPIC", "-shared", "-o", tmp_so, csrc],
                capture_output=True, check=True, timeout=120)
        except subprocess.CalledProcessError:
            # -march=native unsupported on some toolchains: portable retry
            subprocess.run(
                [cc, "-O3", "-fPIC", "-shared", "-o", tmp_so, csrc],
                capture_output=True, check=True, timeout=120)
        os.replace(tmp_so, so)  # atomic: concurrent workers race safely
        return so
    except (OSError, subprocess.CalledProcessError, subprocess.TimeoutExpired):
        return None
    finally:
        for p in (csrc, tmp_so):
            try:
                os.unlink(p)
            except OSError:
                pass


_lib = None
HAVE_NATIVE = False

if os.environ.get("KWAGE_DISABLE_NATIVE", "") != "1":
    _so_path = _compile()
    if _so_path is not None:
        try:
            _lib = ctypes.CDLL(_so_path)
            for fn in ("mm3_sliding_multiseed", "mm3_rows_multiseed",
                       "mm3_sliding_ranges_multiseed",
                       "mm3_sliding_minhash", "mm3_sliding_ranges_minhash",
                       "bloom_scan_count",
                       "bloom_scan_count_sliced", "bit_transpose",
                       "bloom_scatter", "hll_update", "cms_update"):
                getattr(_lib, fn).restype = None
            _lib.bloom_scan_count_sliced.restype = ctypes.c_int
            _lib.mm3_sliding_ranges_multiseed.argtypes = [
                ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
                ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p,
                ctypes.c_int64, ctypes.c_void_p]
            _lib.mm3_sliding_minhash.argtypes = [
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64,
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p]
            _lib.mm3_sliding_ranges_minhash.argtypes = [
                ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
                ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p,
                ctypes.c_int64, ctypes.c_void_p]
            _i64 = ctypes.c_int64
            _lib.bloom_scan_count.argtypes = [
                ctypes.c_void_p, _i64, _i64, ctypes.c_void_p,
                ctypes.c_void_p, _i64, _i64, ctypes.c_void_p]
            _lib.bloom_scan_count_sliced.argtypes = [
                ctypes.c_void_p, _i64, _i64, ctypes.c_void_p,
                ctypes.c_void_p, _i64, _i64, ctypes.c_void_p]
            _lib.bit_transpose.argtypes = [
                ctypes.c_void_p, _i64, _i64, _i64, ctypes.c_void_p]
            _lib.bloom_scatter.argtypes = [
                ctypes.c_void_p, _i64, ctypes.c_void_p, _i64, _i64, _i64]
            _lib.hll_update.argtypes = [
                ctypes.c_void_p, _i64, ctypes.c_void_p, _i64, _i64]
            _lib.cms_update.argtypes = [
                ctypes.c_void_p, _i64, _i64, ctypes.c_void_p, _i64, _i64]
            _lib.mm3_sliding_multiseed.argtypes = [
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64,
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p]
            _lib.mm3_rows_multiseed.argtypes = [
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64,
                ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p]
            HAVE_NATIVE = True
        except OSError:
            _lib = None
            HAVE_NATIVE = False


def sliding_multiseed(buf: np.ndarray, k: int, seeds: np.ndarray) -> np.ndarray:
    """(len-k+1, nseeds) uint32 — native path; caller checked HAVE_NATIVE."""
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    seeds = np.ascontiguousarray(seeds, dtype=np.uint32)
    n = buf.shape[0] - k + 1
    out = np.empty((max(n, 0), seeds.shape[0]), dtype=np.uint32)
    if n > 0:
        _lib.mm3_sliding_multiseed(
            buf.ctypes.data, buf.shape[0], k,
            seeds.ctypes.data, seeds.shape[0], out.ctypes.data)
    return out


def rows_multiseed(rows: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """(n, nseeds) uint32 for a (n, width) uint8 matrix — native path."""
    rows = np.ascontiguousarray(rows, dtype=np.uint8)
    seeds = np.ascontiguousarray(seeds, dtype=np.uint32)
    n, width = rows.shape
    out = np.empty((n, seeds.shape[0]), dtype=np.uint32)
    if n > 0:
        _lib.mm3_rows_multiseed(
            rows.ctypes.data, n, width,
            seeds.ctypes.data, seeds.shape[0], out.ctypes.data)
    return out


def sliding_ranges_minhash(buf: np.ndarray, starts: np.ndarray,
                           lens: np.ndarray, k: int,
                           seeds: np.ndarray) -> np.ndarray:
    """(m, nseeds) uint32 minhash signatures — per-string min over every
    k-byte window's multiseed murmur, fused in C (the hash matrix is
    never materialized). Strings shorter than k yield all-UINT32_MAX
    rows; callers filter those before the call for minhash semantics."""
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    seeds = np.ascontiguousarray(seeds, dtype=np.uint32)
    m = starts.shape[0]
    out = np.empty((m, seeds.shape[0]), dtype=np.uint32)
    if m > 0:
        _lib.mm3_sliding_ranges_minhash(
            buf.ctypes.data, starts.ctypes.data, lens.ctypes.data,
            m, k, seeds.ctypes.data, seeds.shape[0], out.ctypes.data)
    return out


def _lane_matrix(hashes: np.ndarray) -> tuple[np.ndarray, int]:
    """(array, row-stride-in-elements) for a uint32 hash-lane matrix whose
    columns are contiguous (any row-major column slice qualifies)."""
    if (hashes.ndim != 2 or hashes.dtype != np.uint32
            or hashes.strides[1] != 4 or hashes.strides[0] % 4):
        raise ValueError("need row-major uint32 lane matrix")
    return hashes, hashes.strides[0] // 4


def bloom_scatter(bits: np.ndarray, log2_m: int, hashes: np.ndarray,
                  lanes: int) -> None:
    h, stride = _lane_matrix(hashes)
    _lib.bloom_scatter(bits.ctypes.data, log2_m, h.ctypes.data,
                       h.shape[0], stride, lanes)


def hll_update(registers: np.ndarray, p: int, hashes: np.ndarray) -> None:
    h, stride = _lane_matrix(hashes)
    _lib.hll_update(registers.ctypes.data, p, h.ctypes.data,
                    h.shape[0], stride)


def cms_update(table: np.ndarray, log2_w: int, hashes: np.ndarray) -> None:
    h, stride = _lane_matrix(hashes)
    _lib.cms_update(table.ctypes.data, table.shape[0], log2_w,
                    h.ctypes.data, h.shape[0], stride)


def _byte_rows(B: np.ndarray) -> np.ndarray:
    """B itself when it is a uint8 row matrix the kernels can read in place
    (contiguous columns, any row stride, e.g. the bit columns of
    header-prefixed states); a contiguous copy otherwise."""
    if (B.ndim == 2 and B.dtype == np.uint8 and B.strides[1] == 1
            and B.strides[0] >= B.shape[1]):
        return B
    return np.ascontiguousarray(B, dtype=np.uint8)


def bloom_scan_count(B: np.ndarray, idx: np.ndarray, qoff: np.ndarray,
                     num_hash: int) -> np.ndarray:
    """Per-(filter row, query) match counts — native scan kernel; the
    numpy gather + AND + popcount fallback is its parity oracle.

    B: (n_rows, row_bytes) uint8 with contiguous columns; idx: flat masked
    bit indices (uint32), query q at idx[qoff[q]:qoff[q+1]] gram-major;
    returns (n_rows, nq) int32.
    """
    B = _byte_rows(B)
    idx = np.ascontiguousarray(idx, dtype=np.uint32)
    qoff = np.ascontiguousarray(qoff, dtype=np.int64)
    nq = qoff.shape[0] - 1
    if not HAVE_NATIVE:
        out = np.zeros((B.shape[0], max(nq, 0)), dtype=np.int32)
        for q in range(nq):
            flat = idx[qoff[q]:qoff[q + 1]]
            if flat.size == 0:
                continue
            byte_idx = (flat >> np.uint32(3)).astype(np.intp)
            bit_shift = (flat & np.uint32(7)).astype(np.uint8)
            chunk = max(1, (1 << 24) // flat.size)  # ~16 MB gather scratch
            for r0 in range(0, B.shape[0], chunk):
                g = (B[r0:r0 + chunk, byte_idx] >> bit_shift) & np.uint8(1)
                out[r0:r0 + g.shape[0], q] = g.reshape(
                    g.shape[0], -1, num_hash).all(axis=2).sum(axis=1)
        return out
    out = np.empty((B.shape[0], max(nq, 0)), dtype=np.int32)
    if B.shape[0] and nq:
        _lib.bloom_scan_count(
            B.ctypes.data, B.shape[0], B.strides[0],
            idx.ctypes.data, qoff.ctypes.data, nq, num_hash,
            out.ctypes.data)
    return out


def transpose_bits(B: np.ndarray) -> np.ndarray:
    """(n_rows, row_bytes) uint8 LSB-first -> bit-sliced (m_bits,
    ceil(n_rows/8)) uint8 LSB-first: slice b holds bit b of every row.
    Native 8x8-block transpose; chunked numpy fallback."""
    B = _byte_rows(B)
    n, row_bytes = B.shape
    slice_bytes = (n + 7) >> 3
    if HAVE_NATIVE:
        S = np.zeros((row_bytes * 8, slice_bytes), dtype=np.uint8)
        if n:
            _lib.bit_transpose(B.ctypes.data, n, row_bytes, B.strides[0],
                               S.ctypes.data)
        return S
    chunk = 2048  # multiple of 8: keeps chunk packing byte-aligned
    parts = []
    for r0 in range(0, n, chunk):
        bits = np.unpackbits(B[r0:r0 + chunk], axis=1, bitorder="little")
        parts.append(np.packbits(np.ascontiguousarray(bits.T), axis=1,
                                 bitorder="little"))
    return parts[0] if len(parts) == 1 else np.concatenate(parts, axis=1)


def bloom_scan_count_sliced(S: np.ndarray, n_rows: int, idx: np.ndarray,
                            qoff: np.ndarray, num_hash: int) -> np.ndarray:
    """Bit-sliced per-(row, query) counts; S from transpose_bits.
    Caps: per-query unique grams < 2^16 (uint16 row counters)."""
    S = np.ascontiguousarray(S, dtype=np.uint8)
    idx = np.ascontiguousarray(idx, dtype=np.uint32)
    qoff = np.ascontiguousarray(qoff, dtype=np.int64)
    nq = qoff.shape[0] - 1
    out = np.empty((n_rows, max(nq, 0)), dtype=np.int32)
    if n_rows and nq:
        rc = _lib.bloom_scan_count_sliced(
            S.ctypes.data, S.shape[1], n_rows,
            idx.ctypes.data, qoff.ctypes.data, nq, num_hash,
            out.ctypes.data)
        if rc != 0:
            raise MemoryError("bloom_scan_count_sliced: scratch allocation "
                              f"failed (slice_bytes={S.shape[1]}, "
                              f"n_rows={n_rows})")
    return out


def sliding_ranges_multiseed(buf: np.ndarray, starts: np.ndarray,
                             lens: np.ndarray, k: int,
                             seeds: np.ndarray) -> np.ndarray:
    """Per-range sliding-window hashes over a shared byte buffer (ranges
    may be unordered / non-contiguous, e.g. Arrow string column rows)."""
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    seeds = np.ascontiguousarray(seeds, dtype=np.uint32)
    n_out = int(np.maximum(lens - k + 1, 0).sum())
    out = np.empty((n_out, seeds.shape[0]), dtype=np.uint32)
    if n_out > 0:
        _lib.mm3_sliding_ranges_multiseed(
            buf.ctypes.data, starts.ctypes.data, lens.ctypes.data,
            starts.shape[0], k, seeds.ctypes.data, seeds.shape[0],
            out.ctypes.data)
    return out
