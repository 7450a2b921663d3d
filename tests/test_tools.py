"""sketch_diff / dump_states inspection tools and the precomputed ANN
index path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels.bloom import BloomState
from kwage_spark.operators.diff import dump_states, sketch_diff
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.operators.similarity import (build_vector_index,
                                              cosine_topk, vector_topk)
from kwage_spark.plans.inspect import physical_plan
from kwage_spark.sources.fixtures import make_source_files

CFG = SketchConfig(group_cols=("repo", "lang"), content_col="content")
GC = ["repo", "lang"]


@pytest.fixture(scope="module")
def sketches(spark):
    pdf = make_source_files(n_repos=3, files_per_repo=8, seed=5)
    return build_sketches(spark.createDataFrame(pdf), CFG).cache()


def test_diff_of_identical_tables_is_zero(sketches):
    d = sketch_diff(sketches, sketches, GC).collect()
    assert d and all(r["status"] == "both" and r["equal"] for r in d)
    assert all(r["xor_popcount"] == 0 for r in d if r["kind"] == "bloom")


def test_diff_detects_planted_bit_flip(spark, sketches):
    rows = sketches.collect()
    flipped = []
    planted_key = None
    for r in rows:
        d = r.asDict()
        if r["kind"] == "bloom" and planted_key is None:
            st = BloomState.from_bytes(bytes(r["state"]))
            st.bits[0] ^= 0b101  # flip two bits
            d["state"] = st.to_bytes()
            planted_key = (r["repo"], r["lang"])
        flipped.append(d)
    other = spark.createDataFrame(pd.DataFrame(flipped), sketches.schema)
    d = {(r["repo"], r["lang"], r["kind"]): r
         for r in sketch_diff(sketches, other, GC).collect()}
    hit = d[planted_key + ("bloom",)]
    assert hit["xor_popcount"] == 2 and not hit["equal"]
    clean = [r for k, r in d.items() if k[:2] != planted_key or k[2] != "bloom"]
    assert all(r["equal"] for r in clean)


def test_diff_flags_one_sided_groups(spark, sketches):
    subset = sketches.filter(F.col("lang") != "py")
    d = sketch_diff(sketches, subset, GC)
    only = d.filter(F.col("status") == "left_only").collect()
    assert only and all(r["kind"] is not None for r in only)
    assert d.filter(F.col("status") == "right_only").count() == 0


def test_dump_states_headers(sketches):
    rows = dump_states(sketches, GC).collect()
    assert len(rows) == sketches.count()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"bloom", "hll", "cms", "kll"}
    for r in rows:
        assert r["state_bytes"] > 0
        if r["kind"] == "bloom":
            assert "log2_m=" in r["params"]


def test_ann_index_prunes_partitions_and_recalls(spark, tmp_path):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((400, 16)).astype("float32")
    # plant true near neighbors of the query vector: LSH recall is only
    # meaningful when the exact top-k are actually close in angle
    for i in range(1, 6):
        vecs[i] = vecs[0] + 0.05 * rng.standard_normal(16).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path / "ann_index")
    build_vector_index(df, path, n_planes=6)

    qv = vecs[0].tolist()
    res = vector_topk(spark, path, qv, k=5)
    plan = physical_plan(res)
    assert "PartitionFilters" in plan and "bucket" in plan

    got = [r["vec_id"] for r in res.collect()]
    exact = [r["vec_id"] for r in cosine_topk(df, qv, k=5).collect()]
    # multi-probe LSH recall vs brute force: expect most of top-5
    assert len(set(got) & set(exact)) >= 3
    # the query vector itself must be the top hit (cosine 1.0)
    assert got[0] == 0
