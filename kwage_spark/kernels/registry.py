"""Kind-tagged (de)serialization dispatch for sketch states."""

from __future__ import annotations

import struct

from .bloom import BloomState
from .cms import CMSState
from .hll import HLLState
from .kll import KLLState
from .kmv import KMVState
from .mg import MGState
from .tdigest import TDigestState

_BY_MAGIC = {
    0x4B575342: BloomState,
    0x4B57484C: HLLState,
    0x4B57434D: CMSState,
    0x4B574B4C: KLLState,
    0x4B574454: TDigestState,
    0x4B574D47: MGState,
    0x4B574B56: KMVState,
}

_BY_KIND = {"bloom": BloomState, "hll": HLLState, "cms": CMSState,
            "kll": KLLState, "tdigest": TDigestState, "mg": MGState,
            "kmv": KMVState}


def state_from_bytes(data: bytes):
    """Decode any sketch state blob by its magic (crc-verified)."""
    (magic,) = struct.unpack_from("<I", data, 0)
    cls = _BY_MAGIC.get(magic)
    if cls is None:
        raise ValueError(f"unknown sketch magic 0x{magic:08x}")
    return cls.from_bytes(data)


def decode_column(col, cls=None):
    """Yield the crc-verified state of each row of an Arrow binary column,
    one row's bytes at a time: through ``cls.from_bytes`` when given (a
    state of another kind raises), else by its magic. A null raises."""
    decode = state_from_bytes if cls is None else cls.from_bytes
    for v in col:
        b = v.as_py()
        if b is None:
            raise ValueError("null sketch state")
        yield decode(b)


def state_n_items(st) -> int:
    """Items inserted into a decoded state: its ``n_items``, else its
    ``n_total`` (CMS, MG), else 0 (KMV keeps no counter)."""
    n = getattr(st, "n_items", None)
    return int(n if n is not None else getattr(st, "n_total", 0))


def fold_state_blobs(acc, blobs):
    """Decode (crc-checked) each blob and merge it into ``acc`` left to
    right; ``acc`` None starts from the first blob's state. Returns the
    decoded state (None if both are empty)."""
    for b in blobs:
        st = state_from_bytes(b)
        if acc is None:
            acc = st
        else:
            acc.merge(st)
    return acc


def merge_state_blobs(blobs) -> bytes:
    """Fold serialized states by each kind's merge — associative core."""
    return fold_state_blobs(None, blobs).to_bytes()
