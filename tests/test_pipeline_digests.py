"""Golden pipeline digests: the sha256 of the sorted output rows of the
dedup, vector-index, ranking and media operators on fixed inputs.

These operators cross into Python once per Arrow batch. A change to how
a batch is read or written back must leave every digest below unchanged.
IVF k-means sums floats in the order it reads them, so its input is
pinned to one partition; every other output here is a pure function of
each row (or of the key order), whatever the partitioning."""

import hashlib
import io
import struct
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from kwage_spark.operators.binpack import global_row_number
from kwage_spark.operators.caching import release_caches
from kwage_spark.operators.dedup import minhash_signatures, simhash_signatures
from kwage_spark.operators.multimodal import (MEDIA_SCHEMA,
                                              decode_and_featurize,
                                              frame_sample, make_media_table,
                                              resize_images)
from kwage_spark.operators.similarity import build_vector_index
from kwage_spark.sources.fixtures import make_source_files

GOLDEN = {
    "centroids_float":
        "d9769899862b98e45248a17e338dcd8b6dce1e3ff46a86075fceb84ad2cbfb56",
    "centroids_int8":
        "2bee1c53f398f9c0dcd6f6f46d56c47d061427689d8f7d1e70777d51cedb4d20",
    "decode_fake":
        "d39dd2641339b7662c0e3d46e89eebb43d28edb9c540340009f382532d98640d",
    "decode_real":
        "ebaf58e0580bfdb4056dcd84998c255c4d95bccd46da51e9e21d6b2ef22dc592",
    "frame_sample":
        "6fd3cf4e9320d64b9adc6420157e3dd958dd68fe33d50e1cccecc480779133c0",
    "global_row_number":
        "83b18e169baf3df5ecabf3f5a92ba9dc2d3bb3fdc4e18529a43a52907f398ae2",
    "index_ivf_float":
        "3298d52dc47377a6dd1f55d202d2a348bd4af3ea504acbeb9d73e3aad1b39bd3",
    "index_ivf_int8":
        "e14fc46b9cfe675915e3ff845075b28676b05e5a98a9a7e3c70f2c4a0b5b6e0b",
    "index_lsh_float":
        "01b85238280643440f139d993a5b5a5f15a06327d1bebbb560bbc88cde356917",
    "index_lsh_int8":
        "eef8d939d3337c8ced6a53065761c02fe23fc8cf76e70faa9dd0037e6a434f44",
    "minhash_native":
        "013132dee46d335de09e0b5b95b2645f8ebc5100b1a59ee9a45da1b40c24541c",
    "minhash_numpy":
        "013132dee46d335de09e0b5b95b2645f8ebc5100b1a59ee9a45da1b40c24541c",
    "resize_images":
        "c4cdac53c4e8163727706552d2d442753c1c345dbd995cb2604ecaf128259211",
    "simhash":
        "8797e7b5aec19dc0718a7862d6b161da2cb19040dab9a6ffa21d98880d1c624e",
}


def _digest(rows) -> str:
    """sha256 over the sorted reprs of the rows' values (bytes, None and
    floats have exact, stable reprs)."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _docs(spark):
    """Source files plus edge texts: empty, shorter than k, non-ASCII,
    repeated tokens and one exact duplicate."""
    pdf = make_source_files(n_repos=3, files_per_repo=8, seed=31)
    texts = list(pdf["content"]) + [
        "", "abc", "naïve café — 東京 ✓ über straße", "a a a a b b c",
        "   spaced    out   tokens  ", pdf["content"][0]]
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def _vectors(spark):
    """float32 vectors with a zero vector and an exact duplicate."""
    rng = np.random.default_rng(41)
    mat = rng.standard_normal((150, 16)).astype(np.float32)
    mat[7] = 0.0
    mat[9] = mat[8]
    return spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(mat)],
                                 "vec_id long, embedding array<float>")


def _bmp(rgb: np.ndarray) -> bytes:
    """An uncompressed 24-bpp bottom-up BMP of ``rgb``."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[:, :, ::-1].reshape(h, w * 3)
    pix = rows[::-1].tobytes()
    off = 14 + 40
    return (b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                          2835, 2835, 0, 0) + pix)


def _wav(sig: np.ndarray, rate: int, nch: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((np.clip(sig, -1, 1) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def _real_media(spark):
    rng = np.random.default_rng(43)
    rows = []
    for i, (h, w) in enumerate([(5, 7), (4, 4), (9, 3), (1, 1)]):
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(_bmp(rgb)), "image/bmp", {}))
    for i, (n, rate, nch) in enumerate([(800, 8000, 1), (600, 4000, 2),
                                        (0, 8000, 1)]):
        sig = np.sin(np.arange(n * nch) / 7.0) * 0.6
        rows.append((10 + i, "audio", bytearray(_wav(sig, rate, nch)),
                     "audio/wav", {}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _ranked_input(spark):
    rows = [(k, None if k % 5 == 0 else f"s{k % 7}",
             None if k % 4 == 0 else k * 3 - 40, k / 8.0,
             bytearray(bytes([k % 256]) * (k % 3)), [k, -k])
            for k in (np.random.default_rng(47).permutation(90) * 3 + 1)
            .tolist()]
    return spark.createDataFrame(
        rows, "key long, s string, v bigint, d double, b binary, "
              "a array<int>")


def compute_digests(spark, tmp) -> dict:
    """{name: digest} of every pipeline operator's output, read in 7-row
    Arrow batches so that outputs and ranks cross batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        return _compute(spark, tmp)
    finally:
        spark.conf.set(key, old)


def _compute(spark, tmp) -> dict:
    docs = _docs(spark)
    out = {
        "minhash_native": _digest(minhash_signatures(
            docs, "doc_id", "text", k=5, num_perm=16).collect()),
        "minhash_numpy": _digest(minhash_signatures(
            docs, "doc_id", "text", k=5, num_perm=16,
            use_native=False).collect()),
        "simhash": _digest(simhash_signatures(docs, "doc_id", "text")
                           .collect()),
    }

    vecs = _vectors(spark).coalesce(1)
    for assign in ("lsh", "ivf"):
        for storage in ("float", "int8"):
            path = str(tmp / f"{assign}_{storage}")
            meta = build_vector_index(vecs, path, assign=assign,
                                      storage=storage, n_planes=6, k=5,
                                      iters=3)
            part = "bucket" if assign == "lsh" else "centroid"
            out[f"index_{assign}_{storage}"] = _digest(
                spark.read.parquet(path).select("vec_id", part).collect())
            if assign == "ivf":
                out[f"centroids_{storage}"] = hashlib.sha256(
                    np.asarray(meta["centroids"], dtype=np.float64)
                    .tobytes()).hexdigest()

    ranked = global_row_number(_ranked_input(spark), "key", partitions=3)
    out["global_row_number"] = _digest(ranked.collect())
    release_caches()

    fake = make_media_table(spark, 24)
    real = _real_media(spark)
    out["decode_fake"] = _digest(decode_and_featurize(fake, fake=True)
                                 .collect())
    out["decode_real"] = _digest(decode_and_featurize(real).collect())
    out["resize_images"] = _digest(resize_images(real, 3, 2).collect())
    out["frame_sample"] = _digest(
        frame_sample(fake, every_n_bytes=48, fake=True).collect())
    return out


@pytest.fixture(scope="module")
def digests(spark, tmp_path_factory):
    return compute_digests(spark, tmp_path_factory.mktemp("pipeline"))


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_pipeline_digest(digests, name):
    assert digests[name] == GOLDEN[name]


def test_pipeline_digests_cover_every_output(digests):
    assert sorted(digests) == sorted(GOLDEN)
