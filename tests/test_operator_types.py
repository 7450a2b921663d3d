"""Column types survive the pipeline operators' Python crossings: every
column a rank pass carries comes back exact, and a KMV group column of
any type keys its groups as strings."""

from pyspark.sql import functions as F

from kwage_spark.operators.binpack import chunked_ids, global_row_number
from kwage_spark.operators.caching import release_caches
from kwage_spark.operators.text import kmv_token_sketches

BIG = [2**53 + 1, None, 2**53 + 3]


def test_rank_passes_keep_nullable_bigints_exact(spark):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(BIG)],
                               "k int, v bigint")
    ranked = global_row_number(df, "k", partitions=2).orderBy("k").collect()
    assert [r.v for r in ranked] == BIG
    assert [r.rn for r in ranked] == [0, 1, 2]
    chunked = chunked_ids(df, "k", chunk_size=2,
                          partitions=2).orderBy("k").collect()
    assert [r.v for r in chunked] == BIG
    assert [r.chunk_id for r in chunked] == [0, 0, 1]
    release_caches()


def test_kmv_int_group_column_keys_as_string(spark):
    rows = [(i % 3, f"tok{i} tok{i % 5} shared words here") for i in range(30)]
    df = spark.createDataFrame(rows, "g int, text string")
    got = kmv_token_sketches(df, "text", "g", k=16)
    want = kmv_token_sketches(df.withColumn("g", F.col("g").cast("string")),
                              "text", "g", k=16)
    assert sorted(tuple(r) for r in got.collect()) == \
        sorted(tuple(r) for r in want.collect())
    assert len(got.collect()) == 3
