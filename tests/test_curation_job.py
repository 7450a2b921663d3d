"""End-to-end curation pipeline job (jobs/curation_pipeline_job.py):
quality gate -> exact dedup -> LSH near-dedup -> leakage-safe split ->
chunking -> manifest, with planted junk/dups and determinism across
re-runs."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobs.curation_pipeline_job import run


def _corpus(spark):
    rng = np.random.default_rng(17)
    vocab = [f"w{j}" for j in range(400)]
    rows = []
    for i in range(30):
        toks = list(rng.choice(vocab, size=150))
        text = " ".join(toks)
        rows.append((i, text))
        if i < 10:                       # exact duplicates of 0..9
            rows.append((1000 + i, text))
        if i < 8:                        # near duplicates of 0..7
            dup = toks.copy()
            for _ in range(8):
                dup[int(rng.integers(0, len(dup)))] = str(rng.choice(vocab))
            rows.append((2000 + i, " ".join(dup)))
    rows.append((9001, "short"))                      # fails min_chars
    rows.append((9002, "spam spam " * 40))            # top-bigram junk
    rows.append((9003, "same line\n" * 30))           # dup-line junk
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curation_pipeline_end_to_end(spark, tmp_path):
    docs = _corpus(spark)
    inp = str(tmp_path / "in")
    out1 = str(tmp_path / "out1")
    docs.write.mode("overwrite").parquet(inp)

    m = run(spark, inp, out1)
    n_docs = docs.count()
    assert m["n_input_docs"] == n_docs
    # the three junk docs fail the quality gate
    assert m["n_after_quality"] == n_docs - 3
    # the 10 exact copies collapse (min doc_id survives)
    assert m["n_after_exact_dedup"] == m["n_after_quality"] - 10
    # the 8 near-dups collapse to their cluster representative
    assert m["n_after_near_dedup"] == m["n_after_exact_dedup"] - 8
    assert m["n_chunks"] == sum(m["chunks_per_split"].values())
    assert set(m["chunks_per_split"]) <= {"train", "val", "test"}

    chunks = spark.read.parquet(f"{out1}/chunks")
    ids = {r["doc_id"] for r in chunks.select("doc_id").distinct().collect()}
    # survivors are the ORIGINAL docs: every dup/junk id is gone and the
    # min-id representatives (0..29) all survived
    assert ids == set(range(30))
    # a doc's chunks all share one split (leakage safety at chunk level)
    per_doc = (chunks.groupBy("doc_id")
               .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in per_doc)
    # chunk sizing: every chunk <= chunk_tokens, full chunks dominate
    sizes = [r["n_chunk_tokens"] for r in
             chunks.select("n_chunk_tokens").collect()]
    assert max(sizes) <= 128
    # 150-token docs at stride 112 -> chunks of 128 and 38
    assert sorted(set(sizes)) == [38, 128]

    # manifest on disk matches the returned counters
    disk = json.load(open(f"{out1}/manifest.json"))
    assert disk == m

    # determinism: a re-run into a fresh dir reproduces EVERYTHING
    out2 = str(tmp_path / "out2")
    m2 = run(spark, inp, out2)
    assert m2 == m
    c2 = spark.read.parquet(f"{out2}/chunks")
    key = ["doc_id", "chunk_idx", "split", "chunk_text"]
    assert sorted(map(tuple, chunks.select(*key).collect())) == \
        sorted(map(tuple, c2.select(*key).collect()))


def test_connected_components_runs_once(spark, tmp_path, monkeypatch):
    """r6: the job must invoke dedup_representatives exactly once (the
    r5 verdict flagged a dead eager `keep` table that ran the full CC
    loop a second time) and must not re-join chunks to re-attach split
    (passthrough carries it)."""
    import jobs.curation_pipeline_job as job
    calls = {"n": 0}
    real = job.dedup_representatives

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(job, "dedup_representatives", counting)
    docs = _corpus(spark)
    inp = str(tmp_path / "in")
    docs.write.mode("overwrite").parquet(inp)
    m = run(spark, inp, str(tmp_path / "out"))
    assert calls["n"] == 1
    assert m["n_chunks"] == sum(m["chunks_per_split"].values())


def test_chunk_passthrough_carries_split_without_join(spark):
    """chunk_documents(passthrough_cols=...) keeps the chunk values
    byte-identical to the no-passthrough form and adds the column with
    NO join in the plan."""
    from kwage_spark.operators.text import chunk_documents
    from kwage_spark.plans.inspect import physical_plan
    df = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(40)),
          "train" if i % 2 else "test") for i in range(6)],
        "doc_id long, text string, split string")
    base = chunk_documents(df, "doc_id", "text", chunk_tokens=16, overlap=4)
    thru = chunk_documents(df, "doc_id", "text", chunk_tokens=16, overlap=4,
                           passthrough_cols=["split"])
    assert "Join" not in physical_plan(thru)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, thru.drop("split").collect()))
    assert a == b
    splits = {(r["doc_id"], r["split"]) for r in thru.collect()}
    assert splits == {(i, "train" if i % 2 else "test") for i in range(6)}


@pytest.mark.parametrize("col", ["_toks", "_n", "_s",  # working columns
                                 "chunk_idx", "n_chunk_tokens", "chunk_text",
                                 "doc_id", "text"])    # id_col, text_col
def test_chunk_passthrough_rejects_colliding_columns(spark, col):
    """A passthrough column named like one of chunk_documents' working,
    output, id or text columns would silently shadow or duplicate it;
    it is rejected up front instead."""
    from kwage_spark.operators.text import chunk_documents
    df = spark.createDataFrame([(1, "a b c", "x")],
                               "doc_id long, text string, split string")
    with pytest.raises(ValueError, match="collide"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1,
                        passthrough_cols=["split", col])
