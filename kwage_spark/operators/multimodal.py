"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Decode support is REAL for the codec-free formats this container can
handle — uncompressed 24-bpp BMP (pure numpy) and PCM WAV (stdlib
``wave``) — and STUBBED for compressed formats (PNG/JPEG/MP3/MP4 need
codec libraries that are not installed): those raise a clearly-marked
NotImplementedError. ``fake=True`` keeps the deterministic fake decoder
that exercises the Spark-side plumbing (schema, Arrow batch shape,
partitioning) independent of any payload format — it backs the
SQL-oracle-checked driver queries.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from .util import ensure_parallelism

MEDIA_SCHEMA = ("media_id long, modality string, payload binary, "
                "mime string, meta map<string,string>")


# ----------------------------------------------------------- real decoders
def decode_bmp(raw: bytes) -> np.ndarray:
    """Uncompressed 24-bpp bottom-up BMP → (H, W, 3) uint8 RGB array.

    Pure numpy (BMP needs no codec): 14-byte file header ('BM', pixel
    offset at byte 10), BITMAPINFOHEADER (width @18, height @22, bpp
    @28, compression @30 == BI_RGB), rows padded to 4 bytes, stored
    bottom-up in BGR order.
    """
    if raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", raw, 10)[0]
    width, height = struct.unpack_from("<ii", raw, 18)
    bpp = struct.unpack_from("<H", raw, 28)[0]
    comp = struct.unpack_from("<I", raw, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bpp BMP decodes without codec libs "
            f"(got bpp={bpp}, compression={comp})")
    stride = (width * 3 + 3) & ~3
    flip = height > 0
    height = abs(height)
    rows = np.frombuffer(raw, dtype=np.uint8, count=stride * height,
                         offset=off).reshape(height, stride)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    if flip:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def decode_wav(raw: bytes) -> tuple[int, int, np.ndarray]:
    """PCM WAV → (sample_rate, n_channels, float64 mono signal in [-1,1]).

    stdlib ``wave`` handles the RIFF framing; numpy converts the PCM
    words. Multi-channel audio is mean-downmixed to mono.
    """
    with wave.open(io.BytesIO(raw), "rb") as w:
        rate, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if sw == 2:
        sig = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        sig = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64)
               - 128.0) / 128.0
    elif sw == 4:
        sig = np.frombuffer(frames, dtype="<i4").astype(np.float64) / 2**31
    else:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    if nch > 1:
        sig = sig.reshape(-1, nch).mean(axis=1)
    return rate, nch, sig


def _image_features(rgb: np.ndarray, feat_dim: int) -> np.ndarray:
    """mean/std per channel + a coarse luminance histogram, padded/cut to
    ``feat_dim`` — deterministic, codec-free image descriptors."""
    flat = rgb.reshape(-1, 3).astype(np.float64)
    lum = flat @ np.asarray([0.299, 0.587, 0.114])
    hist, _ = np.histogram(lum, bins=max(feat_dim - 6, 1), range=(0, 255))
    feats = np.concatenate([
        flat.mean(axis=0) / 255.0, flat.std(axis=0) / 255.0,
        hist / max(lum.size, 1)])
    return feats[:feat_dim].astype(np.float32)


def _audio_features(rate: int, sig: np.ndarray, feat_dim: int) -> np.ndarray:
    """duration / RMS / zero-crossing rate / peak + a coarse energy
    envelope, padded/cut to ``feat_dim``."""
    n_env = max(feat_dim - 4, 1)
    if sig.size:
        cuts = np.linspace(0, sig.size, n_env + 1, dtype=np.int64)
        env = np.asarray([
            np.sqrt(np.mean(sig[a:b] ** 2)) if b > a else 0.0
            for a, b in zip(cuts[:-1], cuts[1:])])
        head = [sig.size / rate, float(np.sqrt(np.mean(sig ** 2))),
                float(np.mean(np.abs(np.diff(np.signbit(sig))))),
                float(np.abs(sig).max())]
    else:
        env = np.zeros(n_env)
        head = [0.0, 0.0, 0.0, 0.0]
    return np.concatenate([head, env])[:feat_dim].astype(np.float32)


def make_media_table(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media rows (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 8
        rows.append((i, modality, bytearray(payload),
                     {"image": "image/png", "audio": "audio/wav",
                      "video": "video/mp4"}[modality],
                     {"source": f"s{i % 4}", "bytes": str(len(payload))}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _map_rows(df: DataFrame, schema: str, rows) -> DataFrame:
    """One mapInArrow pass over ``df``: ``rows(*values)`` of each input row
    (its values in ``df``'s column order) yields that row's output rows,
    as tuples in ``schema``'s column order."""
    arrow = to_arrow_schema(DataType.fromDDL(schema))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = [r for values in zip(*batch.to_pydict().values())
                   for r in rows(*values)]
            cols = list(zip(*out)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow)],
                schema=arrow)

    return ensure_parallelism(df).mapInArrow(gen, schema=schema)


def decode_and_featurize(df: DataFrame, fake: bool = False,
                         feat_dim: int = 16) -> DataFrame:
    """payload -> (width, height, features array<float>) via mapInArrow.

    Real decode for codec-free formats: 'BM…' payloads decode as
    uncompressed BMP (width/height = pixel dims, image descriptors as
    features); 'RIFF…WAVE' payloads decode as PCM WAV (width =
    sample_rate, height = n_channels, audio descriptors as features).
    Compressed formats raise NotImplementedError naming the missing
    codec libs. ``fake=True`` keeps the format-independent deterministic
    stub (byte arithmetic over the payload) used by the SQL-checked
    driver queries.

    The Spark contract either way: binary in, fixed-width float vector
    out, Arrow-batched, partition-parallel.
    """
    def rows(media_id, modality, raw_b: bytes):
        if fake:
            raw = np.frombuffer(raw_b, dtype=np.uint8)
            # deterministic fake: dims + features from payload bytes
            width, height = int(raw[0]) + 1, int(raw[1]) + 1
            feats = (raw[: feat_dim * 4].reshape(feat_dim, 4)
                     .sum(axis=1) / 255.0).astype(np.float32)
        elif raw_b[:2] == b"BM":
            rgb = decode_bmp(raw_b)
            height, width = rgb.shape[0], rgb.shape[1]
            feats = _image_features(rgb, feat_dim)
        elif raw_b[:4] == b"RIFF" and raw_b[8:12] == b"WAVE":
            rate, nch, sig = decode_wav(raw_b)
            width, height = rate, nch
            feats = _audio_features(rate, sig, feat_dim)
        else:
            raise NotImplementedError(
                "compressed media decode (PNG/JPEG/MP3/MP4) needs "
                "PIL/librosa/ffmpeg — not in this container; BMP "
                "and PCM WAV decode natively, or pass fake=True "
                "for the deterministic stub")
        yield media_id, modality, width, height, feats.tolist()

    return _map_rows(df.select("media_id", "modality", "payload"),
                     "media_id long, modality string, width int, "
                     "height int, features array<float>", rows)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of decodable (BMP) image payloads →
    (media_id, width, height, rgb binary: out_h×out_w×3 row-major RGB).
    The standard normalize-to-fixed-dims step before a vision encoder,
    done with pure numpy indexing — no codec, no Python per-pixel loop."""
    def rows(media_id, payload: bytes):
        rgb = decode_bmp(payload)
        ys = (np.arange(out_h) * rgb.shape[0]) // out_h
        xs = (np.arange(out_w) * rgb.shape[1]) // out_w
        yield media_id, out_w, out_h, rgb[ys][:, xs].tobytes()

    return _map_rows(df.filter(F.col("modality") == "image")
                     .select("media_id", "payload"),
                     "media_id long, width int, height int, rgb binary", rows)


def frame_sample(df: DataFrame, every_n_bytes: int = 64, fake: bool = False) -> DataFrame:
    """Video 'frame sampling' stub: emit one row per sampled frame offset —
    exercises the 1-to-many Arrow-batch shape real frame extraction
    needs."""
    def rows(media_id, raw: bytes):
        if not fake:
            raise NotImplementedError(
                "frame extraction requires ffmpeg — pass fake=True")
        for j, off in enumerate(range(0, len(raw), every_n_bytes)):
            yield media_id, j, raw[off:off + every_n_bytes]

    return _map_rows(df.filter(F.col("modality") == "video")
                     .select("media_id", "payload"),
                     "media_id long, frame_idx int, frame_bytes binary", rows)
