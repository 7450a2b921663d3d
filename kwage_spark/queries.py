"""Query catalog: named (Spark builder, DuckDB oracle SQL) pairs.

Each entry re-expresses an operator from SURVEY.md §2 over the driver's
testdata tables. Spark builders are declarative DataFrame/SQL plans
(Catalyst optimizes); oracle strings are ANSI SQL DuckDB runs on the same
parquet. Column names/aliases are kept identical on both sides (the
driver's compare hashes values under sorted column names).

Float discipline: every computed double is ROUNDed on both sides so
summation-order FP noise can't break the value hash; timestamps are
reduced to epoch seconds (TZ-independent) before arithmetic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# ---------------------------------------------------------------- helpers

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def kgram_sql(col: str, k: int) -> str:
    """Spark-SQL expr: all k-char substrings of ``col`` (shingling H1 as a
    relational expression — total on short strings, no sequence(1,0) trap)."""
    return (f"filter(transform(sequence(1, greatest(length({col}) - {k - 1}, 1)),"
            f" i -> substring({col}, i, {k})), x -> length(x) = {k})")


SHINGLE_SEG = 256  # windows per segment in the two-level relational shingle


def shingle_rel(df: DataFrame, keep_cols: list[str], text_col: str,
                k: int, gram_col: str = "gram",
                widen: bool = True) -> DataFrame:
    """Relational shingling that scales: (keep_cols…, gram) — one row per
    k-char window of ``text_col``.

    Spark's substring(col, pos, k) re-scans the string from byte 0 to
    find pos's UTF-8 boundary, so the naive one-level slide is O(len²)
    per document — measured as ~95% of the exact-containment cost at the
    10× corpus. Two levels fix it with identical char semantics: cut the
    doc into SHINGLE_SEG-window overlapping segments (outer substring is
    O(len) each, O(len²/SEG) total), then slide INSIDE segments where
    every position scan is ≤ SEG+k chars. Window i = seg·SEG + j is
    emitted exactly once; short docs emit nothing (F7).

    ``widen``: shingling multiplies work ~len(text)× per input row, so a
    compact doc table (one 6 MB parquet split = ONE task) serializes the
    whole explode+probe pipeline. Thin inputs are widened to the session
    parallelism before exploding (operators/util.ensure_parallelism) —
    a no-op at real scale where inputs arrive in thousands of splits.
    Callers whose input is KNOWN tiny (a scoped handful of docs) pass
    ``widen=False``: the repartition shuffle costs more than it buys
    below ~a few hundred KB of text.
    """
    from .operators.util import ensure_parallelism
    S = SHINGLE_SEG
    cols = [F.col(c) for c in keep_cols]
    if widen:
        df = ensure_parallelism(df)
    return (df.filter(F.length(text_col) >= k)
            .select(*cols, F.col(text_col).alias("_t"),
                    F.explode(F.expr(
                        f"sequence(0, (length({text_col}) - {k}) div {S})"))
                    .alias("_s"))
            .select(*cols, F.expr(
                f"substring(_t, _s * {S} + 1, {S + k - 1})").alias("_seg"))
            .select(*cols, F.col("_seg"), F.explode(F.expr(
                f"sequence(1, length(_seg) - {k - 1})")).alias("_j"))
            .select(*cols, F.expr(f"substring(_seg, _j, {k})")
                    .alias(gram_col)))


# the flagship containment query snippet: common-vocabulary tokens that
# appear across many synthetic documents at every sf
FLAGSHIP_SNIPPET = "table value part hash row scan filter data"
KGRAM_K = 8

_SPARK: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _SPARK[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn
    return deco


#: Rows-only queries (no ANSI-SQL twin — murmur-/estimate-based by nature)
#: in scorecard priority order. The driver harness records only the FIRST
#: 50 registered queries, so ``spark_queries()`` lists every oracle-backed
#: entry first and fills the remaining slots from this list top-down: the
#: persisted-store flagship reads and the index/LSH families outrank the
#: redundant estimate surfaces (each of which has an oracle-green exact
#: twin and pytest accuracy bounds regardless of driver visibility).
ROWS_ONLY_PRIORITY = [
    "store_pruned_bloom_search",   # the reference's flagship shape: search
                                   # over the persisted pruned DB (entry())
    "bloom_containment_search",    # in-memory build + containment search
    "ann_topk_lsh",                # persisted hyperplane index probe
    "ivf_topk_learned",            # learned-centroid IVF probe
    "ann_topk_quantized",          # int8-store probe, dequantize-on-read
    "minhash_lsh_near_dups",       # MinHash+LSH banding dedup
    "embedding_neardup_lsh",       # hyperplane embedding near-dup
    "simhash_near_dups",           # SimHash pigeonhole dedup
    "hll_distinct_kgrams",         # A15 estimate (twin: distinct_count_exact)
    "cms_token_frequencies",       # A2 estimate (twin: token_having_mincount)
    "size_quantile_sketches",      # A16 KLL+t-digest (twin: quantiles_exact)
    "bloom_fp_audit",              # FP-bound conformance surface
    "frequent_tokens_sketch",      # MG heavy hitters (twin: top_tokens_per_lang)
    "kmv_lang_overlap",            # KMV set-overlap estimates
    "winnowing_fingerprints_sample",
]


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered queries in DRIVER-SCORECARD order: oracle-backed first
    (registration order), then rows-only by ``ROWS_ONLY_PRIORITY``."""
    prio = {n: i for i, n in enumerate(ROWS_ONLY_PRIORITY)}
    oracle_first = [n for n in _SPARK if n in _ORACLE]
    rows_only = sorted((n for n in _SPARK if n not in _ORACLE),
                       key=lambda n: prio.get(n, len(prio)))
    return {n: _SPARK[n] for n in oracle_first + rows_only}


def oracle_queries() -> dict[str, str]:
    return dict(_ORACLE)


# ============================================================ aggregations
# A9/A14 — the groupBy-agg heart (TPC-H Q1 shape)
@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                  AS sum_qty,
       round(sum(l_extendedprice), 2)                             AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
       round(avg(l_quantity), 4)                                  AS avg_qty,
       count(*)                                                   AS count_order
FROM lineitem
WHERE l_quantity <= 45
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_quantity") <= 45)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


# A9/A2 analog — token frequency with HAVING min-count (the exact oracle of
# the counting-Bloom threshold, make_bloom.cpp:546-601)
@register("token_having_mincount", """
SELECT lang, token, count(*) AS cnt
FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY lang, token HAVING count(*) >= 100
""")
def token_having_mincount(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.select("lang", F.explode(F.split("text", " ")).alias("token"))
            .groupBy("lang", "token").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= 100))


# A10/A15 exact side — distinct k-gram count per document (shingle + distinct)
@register("distinct_kgram_count", f"""
SELECT doc_id,
       CAST(len(list_distinct(list_filter(
            list_transform(generate_series(1, greatest(length(text) - {KGRAM_K - 1}, 1)),
                           i -> substring(text, i, {KGRAM_K})),
            x -> length(x) = {KGRAM_K}))) AS BIGINT) AS n_distinct_kgrams
FROM documents
""")
def distinct_kgram_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.array_distinct(F.expr(kgram_sql("text", KGRAM_K))))
         .cast("long").alias("n_distinct_kgrams"))


# A16 exact side — quantiles over document sizes per lang
@register("quantiles_exact", """
SELECT lang,
       round(quantile_cont(n_chars, 0.25), 3) AS p25,
       round(quantile_cont(n_chars, 0.50), 3) AS p50,
       round(quantile_cont(n_chars, 0.75), 3) AS p75
FROM documents GROUP BY lang
""")
def quantiles_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("lang")
            .agg(F.round(F.expr("percentile(n_chars, 0.25)"), 3).alias("p25"),
                 F.round(F.expr("percentile(n_chars, 0.50)"), 3).alias("p50"),
                 F.round(F.expr("percentile(n_chars, 0.75)"), 3).alias("p75")))


# A15 exact side — distinct counts (what HLL estimates)
@register("distinct_count_exact", """
SELECT source, count(DISTINCT lang) AS n_langs, count(DISTINCT doc_id) AS n_docs
FROM documents GROUP BY source
""")
def distinct_count_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("source")
            .agg(F.countDistinct("lang").alias("n_langs"),
                 F.countDistinct("doc_id").alias("n_docs")))


# A12 — chunked bin-packing (<=2048 filters per DB file analog)
@register("chunk_binpack", """
SELECT chunk_id, count(*) AS n, min(o_orderkey) AS first_key
FROM (SELECT o_orderkey,
             CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 2048) AS BIGINT)
               AS chunk_id
      FROM orders)
GROUP BY chunk_id
""")
def chunk_binpack(spark, sf_dir):
    """A12 chunked packing via the two-pass global rank (range shuffle +
    broadcast prefix offsets, operators/binpack.py) — an unpartitioned
    row_number window would pull the whole table through ONE task."""
    from .operators.binpack import chunked_ids
    from .operators.caching import scoped_materialize
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return scoped_materialize(
        lambda: chunked_ids(o, "o_orderkey", chunk_size=2048)
        .groupBy("chunk_id")
        .agg(F.count("*").alias("n"), F.min("o_orderkey").alias("first_key")))


# ============================================================ filters (F1-F8)
@register("filter_lang_isin", """
SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'de')
""")
def filter_lang_isin(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("lang").isin("en", "de")).select("doc_id", "lang", "n_chars")


@register("filter_ts_range", """
SELECT event_type, count(*) AS n
FROM events
WHERE CAST(floor(epoch(ts)) AS BIGINT) BETWEEN 1704844800 AND 1705449600
GROUP BY event_type
""")
def filter_ts_range(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.filter(F.unix_timestamp("ts").between(1704844800, 1705449600))
            .groupBy("event_type").agg(F.count("*").alias("n")))


@register("filter_min_length", """
SELECT doc_id FROM documents WHERE n_chars >= 300
""")
def filter_min_length(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .filter(F.col("n_chars") >= 300).select("doc_id"))


@register("semi_join_include", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""")
def semi_join_include(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


@register("anti_join_skip", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""")
def anti_join_skip(spark, sf_dir):
    """F5 skip-list anti-join — customers with no high-value order. The
    price predicate keeps the expected output non-empty on the fixture
    (every customer has SOME order, so an unfiltered anti-join would be
    vacuously green)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


# ============================================================ search/join (Q*)
@register("exact_containment_flagship", f"""
WITH qgrams AS (
  SELECT DISTINCT substring('{FLAGSHIP_SNIPPET}', i, {KGRAM_K}) AS gram
  FROM generate_series(1, {len(FLAGSHIP_SNIPPET) - KGRAM_K + 1}) AS t(i)
), dgrams AS (
  SELECT DISTINCT source, gram FROM (
    SELECT source, unnest(list_transform(
             generate_series(1, greatest(length(text) - {KGRAM_K - 1}, 1)),
             i -> substring(text, i, {KGRAM_K}))) AS gram
    FROM documents)
  WHERE length(gram) = {KGRAM_K}
)
SELECT d.source, count(*) AS num_kmers_found,
       (SELECT count(*) FROM qgrams) AS num_kmers,
       round(count(*) * 1.0 / (SELECT count(*) FROM qgrams), 5) AS exact_fraction
FROM dgrams d JOIN qgrams q USING (gram)
GROUP BY d.source
""")
def exact_containment_flagship(spark, sf_dir):
    """Q11 exact verifier as the SQL-checked twin of the Bloom search.

    The query snippet is a driver literal, so its unique k-grams are
    digested in plain Python (Q1) — no Spark job for the count, and the
    gram set ships as a literal array into the per-doc contains probe."""
    from .operators.util import ensure_parallelism
    d = _t(spark, sf_dir, "documents")
    grams = sorted({FLAGSHIP_SNIPPET[i:i + KGRAM_K]
                    for i in range(len(FLAGSHIP_SNIPPET) - KGRAM_K + 1)})
    n_q = len(grams)
    # r6 optimization (guide §2.3/§2.4): the query gram set is a tiny
    # driver literal, so "which query grams does this doc contain" needs
    # NO corpus shingling at all — filter the 31-element literal array by
    # contains(text, gram) per document (31 substring scans, codegen)
    # instead of exploding every k-char window (~len(text) rows per doc,
    # ~50M rows at sf1.0) and hash-probing each against the broadcast
    # set. Identical algebra: a gram is in the doc's window set iff
    # contains(text, gram). Measured 1.87s -> 0.47s at sf1.0 (plan:
    # 2 Generate nodes + BroadcastHashJoin removed). The general
    # many-query form (operators/search.exact_containment) keeps the
    # shingle+join shape, which is right when the gram set is not tiny.
    garr = F.array(*[F.lit(g) for g in grams])
    dgrams = (ensure_parallelism(d, key_cols=["doc_id"])
              .select("source",
                      F.explode(F.filter(garr,
                                         lambda g: F.col("text").contains(g)))
                      .alias("gram"))
              .distinct())
    return (dgrams
            .groupBy("source")
            .agg(F.count("*").alias("num_kmers_found"))
            .withColumn("num_kmers", F.lit(n_q).cast("long"))
            .withColumn("exact_fraction",
                        F.round(F.col("num_kmers_found") / F.col("num_kmers"), 5)))


@register("topk_per_group", """
SELECT o_orderpriority, rn, o_orderkey FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
""")
def topk_per_group(spark, sf_dir):
    """Catalyst already plans this as WindowGroupLimit(Partial) → tiny
    exchange → WindowGroupLimit(Final), so only ≤3 rows per (group ×
    map task) ever shuffle. The remaining cost is the PARTIAL stage's
    local sort, which inherits the scan parallelism — a single-file
    table scans as ≤ n_row_groups tasks (2 at sf1.0), serializing the
    1.5M-row sort. Widen on the unique key first (no-op at real scale,
    no sort-before-repartition since hash partitioning is deterministic);
    measured 1.82s → 0.62s at sf1.0 (guide §2.5 input-skew fix). rn is
    unchanged under any partitioning: the (price desc, orderkey) order
    is total."""
    from .operators.util import ensure_parallelism
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    o = ensure_parallelism(o, key_cols=["o_orderkey"])
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderpriority", "rn", "o_orderkey"))


@register("metadata_lookup_join", """
SELECT n_name, round(sum(c_acctbal), 2) AS total_bal, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""")
def metadata_lookup_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
                 F.count("*").alias("n_customers")))


@register("revenue_join_agg", """
SELECT c_mktsegment, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_mktsegment
""")
def revenue_join_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # partial-aggregate lineitem per order BEFORE the join (revenue is
    # additive, so the algebra is unchanged): the fact-fact join then
    # carries one row per order instead of ~4 line items each — the
    # aggregate pushdown Catalyst won't do through a join on its own,
    # and the difference between shipping 6M and 1.5M rows per 10× of
    # data at the big shuffle
    li_rev = (li.groupBy("l_orderkey")
              .agg(F.sum(F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))).alias("_rev")))
    return (li_rev.join(o, o.o_orderkey == li_rev.l_orderkey)
            .join(c, c.c_custkey == o.o_custkey)
            .groupBy("c_mktsegment")
            .agg(F.round(F.sum("_rev"), 2).alias("revenue")))


# ============================================================ set ops / sort
@register("union_merge", """
SELECT n_name, n_regionkey FROM nation WHERE n_regionkey = 0
UNION ALL
SELECT n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 1)
""")
def union_merge(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") == 0).select("n_name", "n_regionkey")
    b = n.filter(F.col("n_regionkey").isin(0, 1)).select("n_name", "n_regionkey")
    return a.unionByName(b)


@register("intersect_keys", """
SELECT n_nationkey FROM customer JOIN nation ON c_nationkey = n_nationkey
INTERSECT
SELECT n_nationkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
""")
def intersect_keys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    a = c.join(n, c.c_nationkey == n.n_nationkey).select("n_nationkey")
    b = s.join(n, s.s_nationkey == n.n_nationkey).select("n_nationkey")
    return a.intersect(b)


@register("except_diff", """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
""")
def except_diff(spark, sf_dir):
    """O3 set difference — nations with customers but no wealthy supplier.
    The acctbal predicate keeps the expected output non-empty (every
    nationkey has at least one supplier on the fixture)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (_t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
         .select(F.col("s_nationkey").alias("nationkey")))
    return c.subtract(s)  # EXCEPT (distinct set semantics)


@register("sort_limit_topn", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def sort_limit_topn(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .select("o_orderkey", "o_totalprice").limit(10))


@register("distinct_keys_sorted", """
SELECT DISTINCT lang, source FROM documents
""")
def distinct_keys_sorted(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select("lang", "source").distinct()


# ============================================================ events / time
@register("hourly_event_rollup", """
SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hour_bucket,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def hourly_event_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.withColumn("hour_bucket", F.floor(F.unix_timestamp("ts") / 3600))
            .groupBy("hour_bucket", "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@register("running_total_per_user", """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value
FROM events WHERE user_id < 50
""")
def running_total_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (W.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return e.select("user_id", "event_id",
                    F.round(F.sum("value").over(w), 4).alias("running_value"))


@register("sessionize_users", """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
), gaps AS (
  SELECT user_id,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
                   > 1800 THEN 1 ELSE 0 END AS new_session
  FROM e
)
SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions
FROM gaps GROUP BY user_id
""")
def sessionize_users(spark, sf_dir):
    e = (_t(spark, sf_dir, "events")
         .select("user_id", "event_id", F.unix_timestamp("ts").alias("sec")))
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = e.select(
        "user_id",
        F.when(F.col("sec") - F.lag("sec").over(w) > 1800, 1).otherwise(0)
         .alias("new_session"))
    return (gaps.groupBy("user_id")
            .agg((F.sum("new_session") + 1).cast("long").alias("n_sessions")))


@register("json_props_extract", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE event_id < 1000
""")
def json_props_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return e.select("event_id",
                    F.get_json_object("props", "$.k").cast("long").alias("k_val"))


# ============================================================ text / dedup
@register("token_count", """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
""")
def token_count(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")))


@register("quality_score", """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_exact,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       round(length(text) * 1.0 / greatest(len(string_split(text, ' ')), 1), 4)
         AS avg_token_len
FROM documents
""")
def quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_exact"),
        n_tok.alias("n_tokens"),
        F.round(F.length("text") / F.greatest(n_tok, F.lit(1)), 4).alias("avg_token_len"))


@register("stopword_ratio", """
SELECT doc_id,
       round(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'data'))) * 1.0
             / greatest(len(string_split(text, ' ')), 1), 5) AS stop_ratio
FROM documents
""")
def stopword_ratio(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(
            F.expr("size(filter(split(text, ' '), "
                   "t -> t in ('the','a','of','and','data')))")
            / F.greatest(F.size(F.split("text", " ")), F.lit(1)), 5
        ).alias("stop_ratio"))


@register("dedup_exact_groups", """
SELECT lang, n_chars, count(*) AS n_copies
FROM documents GROUP BY lang, n_chars HAVING count(*) > 1
""")
def dedup_exact_groups(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy("lang", "n_chars")
            .agg(F.count("*").alias("n_copies"))
            .filter(F.col("n_copies") > 1))


@register("dedup_exact_hash_count", """
SELECT count(DISTINCT md5(text)) AS n_unique_texts, count(*) AS n_docs
FROM documents
""")
def dedup_exact_hash_count(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .agg(F.countDistinct(F.md5("text")).alias("n_unique_texts"),
                 F.count("*").alias("n_docs")))


@register("ngram_jaccard_adjacent", f"""
WITH grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest(list_transform(
             generate_series(1, greatest(length(text) - 4, 1)),
             i -> substring(text, i, 5))) AS gram
    FROM documents WHERE doc_id < 100)
  WHERE length(gram) = 5
), sizes AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 5) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
""")
def ngram_jaccard_adjacent(spark, sf_dir):
    """n-gram Jaccard near-dup scoring (dedup family), relational form;
    shingling via the two-level segment slide (shingle_rel). The input
    is deliberately scoped to <100 docs (an exact pairwise oracle needs
    a bounded corpus — the scale path is MinHash-LSH), so the widen is
    skipped: repartitioning ~100 rows costs more than one task saves
    (the r3→r4 bench regression)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # the gram table feeds THREE consumers (sizes + both self-join
    # sides); without a materialization the scan+shingle+distinct runs
    # three times (r6 plan audit: two full Generate chains + three
    # Exchanges). One eager localCheckpoint computes it once — bounded
    # forever by the doc_id<100 scope, so the block-manager copy is a
    # few MB at any corpus size (guide §5 caching-for-reuse).
    grams = (shingle_rel(d, ["doc_id"], "text", 5, widen=False).distinct()
             .localCheckpoint(eager=True))
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("b.doc_id") == F.col("a.doc_id") + 1))
             .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (inter
            .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
            .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.round(F.col("n_inter")
                            / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")), 5)
                    .alias("jaccard")))


# ============================================================ embeddings
@register("embedding_norms", """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
""")
def embedding_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(F.sqrt(F.expr(
            "aggregate(embedding, cast(0.0 as double),"
            " (acc, x) -> acc + cast(x as double) * cast(x as double))")), 4)
        .alias("l2_norm"))


@register("cosine_neardup_exact", """
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (a.nrm * b.nrm), 5) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (a.nrm * b.nrm) >= 0.2
""")
def cosine_neardup_exact(spark, sf_dir):
    """Embedding near-dup EXACT oracle (dedup family): all pairs above a
    cosine threshold within a scoped id range — the SQL-checked twin of
    embedding_near_duplicates, whose hyperplane-LSH bucketing is the scale
    path (pytest-verified against this exact form)."""
    e = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
         .select("vec_id", "embedding"))
    nrm = F.expr("sqrt(aggregate(embedding, cast(0.0 as double),"
                 " (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    n = e.withColumn("nrm", nrm)
    a, b = n.alias("a"), n.alias("b")
    dot = F.expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) ->"
                 " cast(x as double) * cast(y as double)),"
                 " cast(0.0 as double), (acc, v) -> acc + v)")
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .withColumn("cos", cos)
            .filter(F.col("cos") >= 0.2)
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round("cos", 5).alias("cosine")))


@register("cosine_topk_bruteforce", """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(embedding, qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cos
  FROM embeddings, q WHERE vec_id != 0
)
SELECT vec_id, round(cos, 5) AS cosine
FROM scored ORDER BY cos DESC, vec_id LIMIT 10
""")
def cosine_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column — ANN baseline.

    Pure built-ins (zip_with/aggregate): JVM-side, no Python in the hot
    path; the query vector joins via broadcast.
    """
    from .operators.util import cosine, ensure_parallelism
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # widen before the per-row interpreted higher-order dot/norm work:
    # the single-row-group embeddings file otherwise pins the whole
    # scoring pass to one task (0.42s → 0.22s at sf1.0, guide §2.5);
    # TakeOrderedAndProject below is already a map-side partial top-k
    scored = ensure_parallelism(
        e.filter(F.col("vec_id") != 0).select("vec_id", "embedding"),
        key_cols=["vec_id"])
    return (scored
            .crossJoin(F.broadcast(q))
            .withColumn("cos", cosine("embedding", "qv"))
            .orderBy(F.desc("cos"), "vec_id")
            .select("vec_id", F.round("cos", 5).alias("cosine"))
            .limit(10))
