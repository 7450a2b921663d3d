"""Streaming ingest and windowed streaming aggregation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kwage_spark.config import SketchConfig
from kwage_spark.kernels import BloomParams
from kwage_spark.kernels.registry import state_from_bytes
from kwage_spark.operators.ingest import build_sketches
from kwage_spark.sources.fixtures import make_source_files
from kwage_spark.streaming.ingest_stream import read_merged_state, stream_ingest
from kwage_spark.streaming.windows import session_windows, windowed_event_counts

CFG = SketchConfig(bloom=BloomParams(k=8, log2_m=14, num_hash=3),
                   kinds=("bloom", "hll"))

SRC_SCHEMA = ("repo string, path string, commit string, lang string, "
              "content string, content_sha256 string")


def _states(df, gcols=("repo", "lang")):
    return {tuple(r[c] for c in gcols) + (r["kind"],):
            state_from_bytes(bytes(r["state"])) for r in df.collect()}


def test_stream_ingest_equals_batch(spark, tmp_path):
    corpus = make_source_files(n_repos=4, files_per_repo=6)
    files = spark.createDataFrame(corpus)
    src = str(tmp_path / "src")
    # land input as several files so the stream sees multiple triggers
    files.repartition(5).write.parquet(src)

    state_dir = str(tmp_path / "state")
    q = stream_ingest(spark, src, SRC_SCHEMA, CFG, state_dir,
                      str(tmp_path / "ckpt"), max_files_per_trigger=2)
    q.awaitTermination(120)

    streamed = _states(read_merged_state(spark, state_dir, CFG))
    batch = _states(build_sketches(spark.read.parquet(src), CFG))
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert streamed[k] == batch[k], k


def test_stream_restart_appends_only_new_files(spark, tmp_path):
    corpus = make_source_files(n_repos=3, files_per_repo=4)
    files = spark.createDataFrame(corpus)
    src = str(tmp_path / "src2")
    half1 = files.filter(F.col("lang").isin("py", "c"))
    half2 = files.filter(~F.col("lang").isin("py", "c"))
    half1.write.parquet(src)

    state_dir = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_ingest(spark, src, SRC_SCHEMA, CFG, state_dir, ckpt)
    q.awaitTermination(120)
    # more files arrive; restart with SAME checkpoint -> only new processed
    half2.write.mode("append").parquet(src)
    q2 = stream_ingest(spark, src, SRC_SCHEMA, CFG, state_dir, ckpt)
    q2.awaitTermination(120)

    streamed = _states(read_merged_state(spark, state_dir, CFG))
    batch = _states(build_sketches(spark.read.parquet(src), CFG))
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert streamed[k] == batch[k], k


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch_out = windowed_event_counts(events).toPandas()

    stream = (spark.readStream.schema(events.schema)
              .parquet("/root/testdata/sf0.001")
              .where(F.col("event_id").isNotNull()))
    # route only the events table dir: testdata dir has many tables, so
    # re-land events alone for a clean streaming source
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream)
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("win_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_out = spark.sql("SELECT * FROM win_out").toPandas()

    key = ["win_start", "event_type"]
    b = batch_out.sort_values(key).reset_index(drop=True)
    s = stream_out.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s)
    assert (b["n"].to_numpy() == s.sort_values(key)["n"].to_numpy()).all()


def test_session_windows_batch_shape(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = session_windows(events).toPandas()
    assert {"user_id", "sess_start", "sess_end", "n_events"} <= set(out.columns)
    assert (out.n_events >= 1).all()
    assert out.groupby("user_id").n_events.sum().sum() == events.count()
