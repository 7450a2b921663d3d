"""Mergeable Bloom-filter kernel (numpy, no Spark).

Re-creates the reference BloomFilter semantics:
  * LSB-first bit packing — bit i lives at ``buf[i>>3] >> (i&7) & 1``
    (`bloom.h:140-143`); numpy equivalent is ``bitorder='little'``.
  * power-of-two filter length so ``hash % m == hash & (m-1)``
    (`bloom.h:599-602`, `make_bloom.cpp:134-146`).
  * seeds are 0..num_hash-1 (`hash.cpp:252-254`).
  * bitwise-OR merge (`bloom.h:210-242`) — associative/commutative/with
    identity, which is what makes the aggregate tree-mergeable.
  * power-of-two OR-fold to a smaller filter (`make_bloom.cpp:344-354`):
    correct because x mod 2^l is the low bits of x mod 2^L.
  * optimal (m, h) grid search replicating `bloom.cpp:10-68`.

State serialization is a fixed little-endian header + raw bits, with a
zlib crc32 (`bloom.cpp:328-348` analog) verified on load.
"""

from __future__ import annotations

import math
import struct
import zlib
from dataclasses import dataclass

import numpy as np

from . import _native

MIN_NUM_HASH = 1  # bloom.h:20
MAX_NUM_HASH = 5  # bloom.h:21
MIN_LOG2_M = 10
MAX_LOG2_M = 32  # murmur3_32 limits m <= 2^32 (hash.h:8-21)

_MAGIC = 0x4B575342  # "KWSB"
_HDR = struct.Struct("<IBBBxIQI")  # magic, ver, log2_m, num_hash, pad, k, n_items, crc32


def param_mismatch(op: str, state, params: "BloomParams") -> ValueError:
    """The one error for a bloom state a reader configured with ``params``
    cannot read: another (log2_m, num_hash, k), another kind's magic, or a
    null/truncated state. Decodes whatever header bytes ``state`` has."""
    state = bytes(state or b"")
    magic, _ver, l2m, nh, k = struct.unpack("<IBBBxI",
                                            state[:12].ljust(12, b"\0"))
    return ValueError(
        f"{op}: bloom param mismatch: state (magic=0x{magic:08x}, "
        f"log2_m={l2m}, num_hash={nh}, k={k}, {len(state)} bytes) != cfg "
        f"(magic=0x{_MAGIC:08x}, log2_m={params.log2_m}, num_hash="
        f"{params.num_hash}, k={params.k}, {_HDR.size + params.n_bytes} "
        "bytes); fold() the store or search with the matching SketchConfig")


@dataclass(frozen=True)
class BloomParams:
    """Physical sketch config ≙ reference BloomParam (`bloom.h:546-621`)."""

    k: int = 8           # k-gram length in bytes (≙ kmer_len)
    log2_m: int = 16     # filter length = 2^log2_m bits
    num_hash: int = 3    # seeds 0..num_hash-1

    def __post_init__(self) -> None:
        if not (MIN_NUM_HASH <= self.num_hash <= MAX_NUM_HASH):
            raise ValueError(f"num_hash must be in [{MIN_NUM_HASH},{MAX_NUM_HASH}]")
        if not (3 <= self.log2_m <= MAX_LOG2_M):
            raise ValueError("log2_m out of range")

    @property
    def m(self) -> int:
        return 1 << self.log2_m

    @property
    def n_bytes(self) -> int:
        return self.m // 8

    @property
    def seeds(self) -> np.ndarray:
        return np.arange(self.num_hash, dtype=np.uint32)

    def fp_rate(self, n_items: int) -> float:
        """Exact per-k-gram FP prob `p=(1-(1-1/m)^{n*h})^h` (`bloom.cpp:47`)."""
        if n_items == 0:
            return 0.0
        return (1.0 - (1.0 - 1.0 / self.m) ** (n_items * self.num_hash)) ** self.num_hash

    @staticmethod
    def optimal(n_kgrams: int, p_target: float = 0.25, k: int = 8,
                min_log2: int = MIN_LOG2_M, max_log2: int = 26) -> "BloomParams":
        """Smallest power-of-two m (then best h) meeting the FP target.

        Replicates `optimal_bloom_param` (`bloom.cpp:10-68`): iterate filter
        sizes ascending; at the first size where some h in [1,5] satisfies
        p <= p_target, pick the h with minimal p. Raises if unsatisfiable
        (≙ SRA-skipped-if-unsatisfiable, `make_bloom.cpp:306-335`).
        """
        for l in range(min_log2, max_log2 + 1):
            m = 1 << l
            best_h, best_p = 0, 2.0
            for h in range(MIN_NUM_HASH, MAX_NUM_HASH + 1):
                p = (1.0 - (1.0 - 1.0 / m) ** (n_kgrams * h)) ** h
                if p < best_p:
                    best_h, best_p = h, p
            if best_p <= p_target:
                return BloomParams(k=k, log2_m=l, num_hash=best_h)
        raise ValueError(
            f"no filter size <= 2^{max_log2} satisfies p<={p_target} for n={n_kgrams}"
        )

    @staticmethod
    def approximate_max_kmers(p_target: float, log2_m: int, num_hash: int) -> int:
        """Max n with p(n) <= p_target at fixed (m, h) (`bloom.cpp:72-121`)."""
        m = 1 << log2_m
        h = num_hash
        # invert p = (1-(1-1/m)^{n h})^h  =>  n = log(1-p^{1/h}) / (h log(1-1/m))
        return int(math.log(1.0 - p_target ** (1.0 / h)) / (h * math.log(1.0 - 1.0 / m)))


class BloomState:
    """One mergeable Bloom aggregate (≙ one per-(repo,lang) filter)."""

    __slots__ = ("params", "bits", "n_items")

    def __init__(self, params: BloomParams, bits: np.ndarray | None = None, n_items: int = 0):
        self.params = params
        self.bits = np.zeros(params.n_bytes, dtype=np.uint8) if bits is None else bits
        self.n_items = n_items

    # --- build (A1) ---
    def add_hashes(self, hashes: np.ndarray, n_new_items: int | None = None) -> "BloomState":
        """Set bits for a (n, num_hash) uint32 hash matrix — vectorized A1."""
        if hashes.size:
            if (_native.HAVE_NATIVE and hashes.ndim == 2
                    and hashes.dtype == np.uint32 and hashes.strides[1] == 4
                    and hashes.strides[0] % 4 == 0):
                _native.bloom_scatter(self.bits, self.params.log2_m,
                                      hashes, hashes.shape[1])
                self.n_items += (int(hashes.shape[0]) if n_new_items is None
                                 else n_new_items)
                return self
            idx = hashes.astype(np.uint32) & np.uint32(self.params.m - 1)
            flat = idx.ravel()
            if flat.size * 8 >= self.params.m:
                # dense batch: bool scatter-assign + packbits beats the
                # read-modify-write scatter of bitwise_or.at by ~10x
                bools = np.zeros(self.params.m, dtype=bool)
                bools[flat] = True
                np.bitwise_or(self.bits, np.packbits(bools, bitorder="little"),
                              out=self.bits)
            else:
                np.bitwise_or.at(
                    self.bits, flat >> np.uint32(3),
                    np.left_shift(np.uint8(1), (flat & np.uint32(7)).astype(np.uint8)))
        self.n_items += int(hashes.shape[0]) if n_new_items is None else n_new_items
        return self

    # --- merge (A5: bloom.h:210-242) ---
    def merge(self, other: "BloomState") -> "BloomState":
        if other.params.log2_m != self.params.log2_m:
            raise ValueError("merge requires equal filter length; use fold() first")
        if (other.params.k, other.params.num_hash) != (self.params.k, self.params.num_hash):
            raise ValueError("merge requires identical (k, num_hash)")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_items += other.n_items
        return self

    # --- fold (A4: make_bloom.cpp:344-354) ---
    def fold(self, target_log2_m: int) -> "BloomState":
        """OR-fold down to 2^target bits; enables cross-size merges."""
        if target_log2_m > self.params.log2_m:
            raise ValueError("can only fold to a smaller power of two")
        if target_log2_m < 3:
            raise ValueError("target must be >= 8 bits")
        tgt_bytes = (1 << target_log2_m) // 8
        folded = np.bitwise_or.reduce(self.bits.reshape(-1, tgt_bytes), axis=0)
        p = BloomParams(k=self.params.k, log2_m=target_log2_m, num_hash=self.params.num_hash)
        return BloomState(p, folded.copy(), self.n_items)

    # --- query (Q2-Q5) ---
    def gather(self, idx: np.ndarray) -> np.ndarray:
        """Bit values at positions idx (any shape) — the slice gather Q2."""
        i = idx.astype(np.uint32)
        return (self.bits[(i >> np.uint32(3))] >> (i & np.uint32(7)).astype(np.uint8)) & np.uint8(1)

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Per-k-gram Bloom membership: AND across seeds (Q3). (n,) bool."""
        if hashes.shape[0] == 0:
            return np.zeros(0, dtype=bool)
        idx = hashes.astype(np.uint32) & np.uint32(self.params.m - 1)
        return self.gather(idx).all(axis=1)

    def popcount(self) -> int:
        """Set-bit count (A7: `bloom.h:400-420`)."""
        return int(np.unpackbits(self.bits).sum())

    # --- serialization + integrity (H12, S6) ---
    def to_bytes(self) -> bytes:
        crc = zlib.crc32(self.bits.tobytes())
        hdr = _HDR.pack(_MAGIC, 1, self.params.log2_m, self.params.num_hash,
                        self.params.k, self.n_items, crc)
        return hdr + self.bits.tobytes()

    @staticmethod
    def from_bytes(data: bytes) -> "BloomState":
        magic, ver, log2_m, num_hash, k, n_items, crc = _HDR.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("bad bloom state magic")
        bits = np.frombuffer(data, dtype=np.uint8, offset=_HDR.size).copy()
        if zlib.crc32(bits.tobytes()) != crc:
            raise ValueError("bloom state crc32 mismatch")
        return BloomState(BloomParams(k=k, log2_m=log2_m, num_hash=num_hash), bits, n_items)

    def __eq__(self, other: object) -> bool:
        return (isinstance(other, BloomState) and self.params == other.params
                and bool(np.array_equal(self.bits, other.bits)))
