"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "kwage_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session tuned for the sandbox; on a real cluster the same
    configs apply except master/memory come from spark-submit.

    AQE is on so runtime stats re-plan skewed shuffles; Arrow is on so
    driver-side conversions between a DataFrame and a local frame move
    columnar batches. Session TZ pinned to UTC for oracle
    comparison parity with DuckDB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    return (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

