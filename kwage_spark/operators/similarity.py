"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` is the exact baseline: brute-force cosine (built-in
  zip_with / aggregate, whole-stage codegen, broadcast query vector), an
  O(n) scan and the right plan when no index exists. Every index probe
  re-ranks its candidates with it.
* ``build_vector_index`` / ``vector_topk`` are one partitioned vector
  index. The build gives every row a partition id and writes the rows
  ``partitionBy`` it; a probe turns its probe set into a partition filter
  (PartitionFilters in the plan), so the scan reads only those
  directories, and re-ranks what it reads exactly. Two assigners:

  - ``assign="lsh"``: the sign pattern of seeded random hyperplanes
    (column ``bucket``); a probe reads the query's bucket plus its
    ``n_planes`` one-bit flips.
  - ``assign="ivf"``: the nearest of ``k`` learned centroids
    (``kmeans_centroids``, column ``centroid``); a probe reads the
    ``nprobe`` nearest lists.

  and two storages: ``"float"`` keeps (id, vector); ``"int8"`` keeps
  ``quantize_embeddings`` output (id, scale, qvec), assigns on the
  dequantized values and dequantizes on read inside the scan.
* The build writes a ``_vector_index.json`` sidecar at the index root
  (through the sketch store's JSON sidecar I/O): layout version,
  assigner, storage, dim, ``n_planes`` or the centroid matrix, the id and
  vector column names and the data files' Spark schema. A probe takes
  everything that must match the build from it, reads the data with its
  schema and lists the partition dirs on the driver, so building the
  probe's DataFrame starts no Spark job.
"""

from __future__ import annotations

import json
import logging

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.store import _read_manifest, _read_parquet, _write_manifest
from .dedup import hyperplane_bucket_udf, hyperplanes, sign_pattern
from .util import cosine, matrix_list, vector_matrix

logger = logging.getLogger(__name__)

SIDECAR = "_vector_index.json"
LAYOUT_VERSION = 1
DEFAULT_NPROBE = 4
#: the partition column each assigner writes
PARTITION_COL = {"lsh": "bucket", "ivf": "centroid"}


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k (the exact baseline)."""
    q = df.sparkSession.createDataFrame([(list(map(float, query_vec)),)],
                                        "qv array<float>")
    return (df.crossJoin(F.broadcast(q))
            .withColumn("cosine", cosine(vec_col, "qv"))
            .orderBy(F.desc("cosine"), id_col)
            .select(id_col, F.round("cosine", 5).alias("cosine"))
            .limit(k))


def nearest_centroids(mat: np.ndarray, cents: np.ndarray,
                      n: int = 1) -> np.ndarray:
    """The ids of each row's ``n`` nearest centroids, nearest first, as an
    (rows, n) matrix: argmin ||x-c||² = argmin (||c||² - 2 x·c), one
    matmul for all rows."""
    d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
    if n == 1:
        return d2.argmin(axis=1)[:, None]
    return np.argsort(d2, axis=1, kind="stable")[:, :n]


def kmeans_centroids(df: DataFrame, vec_col: str = "embedding",
                     k: int = 16, iters: int = 8,
                     id_col: str = "vec_id") -> np.ndarray:
    """Deterministic distributed Lloyd's k-means — the IVF coarse
    quantizer. Returns a (k, dim) float64 centroid matrix.

    Init: the vectors of the k smallest ids (deterministic, no RNG —
    reproducible across runs/partitionings). Each iteration:
      * assignment executor-side: centroids BROADCAST, argmin over the
        (batch × k) distance matrix in one numpy matmul per Arrow batch;
      * update via PARTIAL SUMS: each batch emits at most k rows
        (cluster, sum_vec, count) — the shuffle carries
        O(k × n_partitions) tiny rows, never the n × dim vectors, and
        the driver reduces k rows per cluster (classic map-side combine).
    Empty clusters keep their previous centroid (standard Lloyd fix).
    A vector whose dim differs from the seeds' raises ``ValueError``
    naming both dims (a batch with one reports it instead of its sums).
    """
    seed_rows = (df.orderBy(id_col).limit(k)
                 .select(vec_col).collect())
    if not seed_rows:
        raise ValueError("cannot index an empty table")
    if len(seed_rows) < k:
        # fewer vectors than requested clusters: clamp k so the
        # quantizer stays well-defined; the sidecar then records the
        # EFFECTIVE k (its row count), keeping nprobe>=k_eff the
        # documented brute-force degenerate case
        logger.warning(
            "kmeans_centroids: table has %d rows < k=%d — clustering "
            "with k=%d", len(seed_rows), k, len(seed_rows))
    cents = np.asarray([list(r[vec_col]) for r in seed_rows],
                       dtype=np.float64)
    sc = df.sparkSession.sparkContext
    dim = cents.shape[1]
    vecs = df.select(vec_col)
    for _it in range(iters):
        bc = sc.broadcast(cents)

        def partials(batches):
            c = bc.value
            for batch in batches:
                if not batch.num_rows:
                    continue
                m, lens = vector_matrix(batch.column(0))
                off = lens[lens != c.shape[1]]
                if off.size:  # a ragged column: report, the driver raises
                    clusters, sums, cnts = [-1], np.empty((1, 0)), off[:1]
                else:
                    assign = nearest_centroids(m, c)[:, 0]
                    clusters = np.unique(assign)
                    sums = np.stack([m[assign == cl].sum(axis=0)
                                     for cl in clusters])
                    cnts = np.bincount(assign)[clusters]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(clusters, pa.int32()), matrix_list(sums),
                     pa.array(cnts, pa.int64())],
                    names=["cluster", "vsum", "cnt"])

        agg = vecs.mapInArrow(
            partials,
            schema="cluster int, vsum array<double>, cnt long").collect()
        off = [r["cnt"] for r in agg if r["cluster"] < 0]
        if off:
            lo, hi = sorted((dim, off[0]))
            bc.destroy()
            raise ValueError(
                f"{vec_col} is ragged: vectors of dim {lo} and {hi}; every "
                "vector of an index must have one dim")
        sums = np.zeros((cents.shape[0], dim))
        cnts = np.zeros(cents.shape[0], dtype=np.int64)
        for r in agg:
            sums[r["cluster"]] += np.asarray(r["vsum"])
            cnts[r["cluster"]] += r["cnt"]
        nz = cnts > 0
        cents = cents.copy()
        cents[nz] = sums[nz] / cnts[nz, None]
        bc.destroy()
    return cents


# ------------------------------------------------------- int8 quantization
def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) — the 4× storage cut (float32 →
    int8 + one scale) an embedding store takes before anything else at
    100-TB volumes; reconstruction error ≤ scale/2 per component
    (asserted in tests), which leaves cosine top-k essentially intact.

    Entirely built-in column expressions (array_max / transform /
    floor): JVM-side, whole-stage-codegen, no Python in the path — and
    half-up rounding in explicit float64 so the result is bit-exactly
    reproducible by any engine (the DuckDB oracle twin of
    `embedding_quantize_int8` replays the same arithmetic).

    Output: (id, scale double, qvec array<tinyint>).
    """
    scale = F.expr(f"array_max(transform({vec_col},"
                   " x -> abs(cast(x as double)))) / 127.0d")
    out = df.withColumn("_scale", scale)
    qvec = F.expr(
        f"if(_scale = 0.0d,"
        f" transform({vec_col}, x -> cast(0 as tinyint)),"
        f" transform({vec_col},"
        f" x -> cast(floor(cast(x as double) / _scale + 0.5d) as tinyint)))")
    return out.select(F.col(id_col), F.col("_scale").alias("scale"),
                      qvec.alias("qvec"))


def _dequantized(dtype: str = "float") -> Column:
    """q_i · scale of a ``quantize_embeddings`` row, cast to ``dtype``."""
    return F.expr(f"transform(qvec, q -> cast(q * scale as {dtype}))")


def dequantize_embeddings(qdf: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """(id, scale, qvec) → (id, embedding array<float>): q_i · scale,
    cast back to float32 — feed straight into cosine_topk or
    build_vector_index."""
    return qdf.select(F.col(id_col), _dequantized().alias(vec_col))


# ------------------------------------------------------------ vector index
def _centroid_udf(spark, cents: np.ndarray):
    """Arrow UDF: an array column → the id of its nearest centroid."""
    bc = spark.sparkContext.broadcast(cents)

    def centroid_of(vecs: pa.Array) -> pa.Array:
        if not len(vecs):
            return pa.array([], pa.int32())
        m, _ = vector_matrix(vecs)
        return pa.array(nearest_centroids(m, bc.value)[:, 0]
                        .astype(np.int32))
    return F.arrow_udf(centroid_of, "int")


def build_vector_index(df: DataFrame, path: str, assign: str = "lsh",
                       storage: str = "float", n_planes: int = 10,
                       k: int = 16, iters: int = 8, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> dict:
    """Write ``df``'s vectors as a partitioned index at ``path`` (module
    docstring), overwriting what is there, and return its sidecar.

    ``assign="lsh"`` buckets by ``n_planes`` hyperplanes; ``assign="ivf"``
    clusters with ``kmeans_centroids(k, iters)`` (a table with fewer than
    ``k`` rows gets as many centroids as rows). ``storage="int8"`` stores
    ``quantize_embeddings`` output and assigns on its dequantized values,
    the values a probe re-ranks.

    One ``observe`` on the write counts the rows and the least and
    greatest vector length, with no extra job. An empty input, or a
    vector column whose length varies, raises ``ValueError`` before the
    sidecar is written, so a failed build cannot be probed.
    """
    if assign not in PARTITION_COL:
        raise ValueError(f"assign={assign!r}: expected one of "
                         f"{sorted(PARTITION_COL)}")
    if storage == "float":
        rows, vec, stored = df.select(id_col, vec_col), F.col(vec_col), vec_col
    elif storage == "int8":
        rows = quantize_embeddings(df, id_col, vec_col)
        vec, stored = _dequantized("double"), "qvec"
    else:
        raise ValueError(f"storage={storage!r}: expected 'float' or 'int8'")
    meta = {"layout_version": LAYOUT_VERSION, "assign": assign,
            "storage": storage}
    if assign == "lsh":
        meta["n_planes"] = n_planes
        part = hyperplane_bucket_udf(n_planes)(vec)
    else:
        cents = kmeans_centroids(rows.select(id_col, vec.alias(vec_col)),
                                 vec_col, k, iters, id_col)
        meta["centroids"] = cents.tolist()
        part = _centroid_udf(df.sparkSession, cents)(vec)

    part_col = PARTITION_COL[assign]
    out = rows.withColumn(part_col, part)
    obs = Observation()
    (out.observe(obs, F.count(F.lit(1)).alias("rows"),
                 F.min(F.size(stored)).alias("min_dim"),
                 F.max(F.size(stored)).alias("max_dim"))
     .write.mode("overwrite").partitionBy(part_col).parquet(path))
    seen = obs.get
    if not seen["rows"]:
        raise ValueError("cannot index an empty table")
    if seen["min_dim"] != seen["max_dim"]:
        raise ValueError(
            f"{vec_col} is ragged: vectors of dim {seen['min_dim']} and "
            f"{seen['max_dim']}; every vector of an index must have one dim")
    data = [f for f in out.schema.fields if f.name != part_col]
    meta.update(dim=seen["max_dim"], id_col=id_col, vec_col=vec_col,
                schema=StructType(data + [out.schema[part_col]]).jsonValue())
    _write_manifest(df.sparkSession, path, meta, SIDECAR)
    return meta


def _read_sidecar(spark, path: str) -> dict:
    try:
        meta = _read_manifest(spark, path, SIDECAR)
    except json.JSONDecodeError:
        meta = None
    if not meta:
        raise ValueError(
            f"no vector index sidecar at {path.rstrip('/')}/{SIDECAR} "
            "(missing, empty or unreadable): build the index with "
            "build_vector_index")
    if meta.get("layout_version") != LAYOUT_VERSION:
        raise ValueError(
            f"vector index sidecar at {path} has layout version "
            f"{meta.get('layout_version')!r}, expected {LAYOUT_VERSION}: "
            "rebuild the index with build_vector_index")
    return meta


def vector_topk(spark, path: str, query_vec: list[float], k: int = 10,
                nprobe: int | None = None) -> DataFrame:
    """Approximate cosine top-k of ``query_vec`` over the index at
    ``path``: the probe set becomes a partition filter, and the rows read
    are re-ranked exactly by ``cosine_topk``.

    Planes, centroids, dim, storage and column names come from the
    sidecar. An LSH index probes the query's bucket and its ``n_planes``
    one-bit flips, and passing ``nprobe`` to it raises. An IVF index
    probes the ``nprobe`` (default 4) nearest centroids: recall rises with
    ``nprobe`` and the probe is exact once ``nprobe`` reaches the number
    of centroids. A query whose length is not the index's dim raises.
    Building the DataFrame starts no Spark job.
    """
    meta = _read_sidecar(spark, path)
    dim, assign = meta["dim"], meta["assign"]
    if len(query_vec) != dim:
        raise ValueError(f"query vector has dim {len(query_vec)}, but the "
                         f"index at {path} holds vectors of dim {dim}")
    qv = np.asarray(query_vec, dtype=np.float64)
    if assign == "lsh":
        if nprobe is not None:
            raise ValueError(
                "nprobe applies to an IVF index; an LSH index probes the "
                "query's bucket and its n_planes one-bit flips")
        planes = hyperplanes(dim, meta["n_planes"])
        qsig = int(sign_pattern(qv[None, :], planes)[0])
        probes = [qsig] + [qsig ^ (1 << i) for i in range(len(planes))]
    else:
        cents = np.asarray(meta["centroids"], dtype=np.float64)
        n = DEFAULT_NPROBE if nprobe is None else nprobe
        probes = nearest_centroids(qv[None, :], cents, n)[0].tolist()
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cands = (_read_parquet(spark, path, meta)
             .filter(F.col(PARTITION_COL[assign]).isin(probes)))
    if meta["storage"] == "int8":
        cands = cands.select(id_col, _dequantized().alias(vec_col))
    return cosine_topk(cands, query_vec, k, id_col, vec_col)
