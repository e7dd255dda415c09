"""D8–D11: text-analysis operators for a training-data pipeline —
language ID, quality scoring, token counting, document fingerprinting.

All computed with built-in JVM-side expressions (split / filter /
transform / md5 / regexp) — zero Python UDFs — so at 100 TB every
operator is a single embarrassingly-parallel map over the documents
scan with no shuffle (outputs are per-doc).

The token model shared by every text operator:
    tokens := non-empty pieces of lower(text) split on [^a-z0-9]+
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import load_parallel, local_table
from ..registry import register
from .quantiles import counts_quantiles_sql
from .tokenize import (  # noqa: F401  (re-exported for compat)
    STOPWORDS,
    TOKENS_DUCK,
    TOKENS_SPARK,
)
from .tokenize import SW_DUCK as _SW_DUCK  # noqa: F401
from .tokenize import SW_SPARK as _SW_SPARK  # noqa: F401


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_parallel(spark, sf_dir, "documents")


# --- D8 ------------------------------------------------------------------
LANG_ID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS_DUCK} AS ts FROM documents
)
SELECT doc_id, lang,
       CASE WHEN len(ts) = 0 THEN 0.0
            ELSE CAST(len(list_filter(ts, x -> list_contains({_SW_DUCK}, x))) AS DOUBLE)
                 / len(ts) END AS stop_ratio,
       CASE WHEN len(ts) > 0
             AND CAST(len(list_filter(ts, x -> list_contains({_SW_DUCK}, x))) AS DOUBLE)
                 / len(ts) >= 0.05
            THEN 'en' ELSE 'unk' END AS pred_lang
FROM t
"""


@register("lang_id", LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-heuristic language ID: the ratio of English
    stopwords among tokens decides en vs unk (the classic cheap LID
    pre-filter before a real model).

    SCALE: stateless per-doc map, no shuffle; text column pruned to the
    scan."""
    docs = _docs(spark, sf_dir)
    # token array bound once per row (lambda-binding, see D15) — the
    # ratio feeds both outputs without re-tokenizing
    metrics = (
        f"transform(array({TOKENS_SPARK}), ts -> struct("
        f"CASE WHEN size(ts) = 0 THEN 0.0D "
        f"ELSE CAST(size(filter(ts, x -> x IN {_SW_SPARK})) AS DOUBLE) / size(ts) END"
        " AS stop_ratio, "
        "size(ts) > 0 AS has_tokens"
        "))[0]"
    )
    return docs.select("doc_id", "lang", F.expr(metrics).alias("m")).select(
        "doc_id",
        "lang",
        F.col("m.stop_ratio").alias("stop_ratio"),
        F.when(F.col("m.has_tokens") & (F.col("m.stop_ratio") >= 0.05), "en")
        .otherwise("unk")
        .alias("pred_lang"),
    )


# --- D9 ------------------------------------------------------------------
QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {TOKENS_DUCK} AS ts FROM documents
),
m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(ts) AS BIGINT)      AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
                   AS DOUBLE) / length(text) END AS punct_ratio,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, x -> list_contains({_SW_DUCK}, x))) AS DOUBLE)
                   / len(ts) END AS stop_ratio
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
       round(0.5 * least(n_tokens / 50.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.2 * least(stop_ratio * 10.0, 1.0), 6) AS quality_score,
       CASE WHEN 0.5 * least(n_tokens / 50.0, 1.0)
                 + 0.3 * (1.0 - punct_ratio)
                 + 0.2 * least(stop_ratio * 10.0, 1.0) >= 0.8 THEN 'high'
            WHEN 0.5 * least(n_tokens / 50.0, 1.0)
                 + 0.3 * (1.0 - punct_ratio)
                 + 0.2 * least(stop_ratio * 10.0, 1.0) >= 0.5 THEN 'medium'
            ELSE 'low' END AS quality_band
FROM m
"""


@register("quality_score", QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / punctuation / stopword-ratio
    heuristics combined into a 0–1 score and band (the Gopher/C4-style
    cheap quality filters).

    SCALE: stateless per-doc map, no shuffle."""
    docs = _docs(spark, sf_dir)
    # two-level lambda binding: the token array AND the combined score are
    # each evaluated once per row; without it the punct regex inlines into
    # every score reference (round + two band comparisons)
    base = (
        f"transform(array({TOKENS_SPARK}), ts -> struct("
        "CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(size(ts) AS BIGINT) AS n_tokens, "
        "CASE WHEN length(text) = 0 THEN 0.0D ELSE "
        "CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '')) AS DOUBLE)"
        " / length(text) END AS punct_ratio, "
        "CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        f"CAST(size(filter(ts, x -> x IN {_SW_SPARK})) AS DOUBLE) / size(ts) END AS stop_ratio"
        "))[0]"
    )
    m = docs.select("doc_id", F.expr(base).alias("b"))
    scored = m.select(
        "doc_id",
        F.col("b.n_chars").alias("n_chars"),
        F.col("b.n_tokens").alias("n_tokens"),
        F.expr(
            "transform(array(0.5 * least(b.n_tokens / 50.0, 1.0)"
            " + 0.3 * (1.0 - b.punct_ratio)"
            " + 0.2 * least(b.stop_ratio * 10.0, 1.0)), s -> struct("
            "round(s, 6) AS quality_score, "
            "CASE WHEN s >= 0.8 THEN 'high' WHEN s >= 0.5 THEN 'medium' "
            "ELSE 'low' END AS quality_band))[0]"
        ).alias("q"),
    )
    return scored.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.col("q.quality_score").alias("quality_score"),
        F.col("q.quality_band").alias("quality_band"),
    )


# --- D10 -----------------------------------------------------------------
TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


@register("token_count", TOKEN_COUNT_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex
    (letter-runs | digit-runs | single punctuation) approximating
    subword pre-tokenization for cost estimation.

    SCALE: stateless per-doc map, no shuffle."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.expr(r"size(filter(split(text, '\\s+'), t -> t <> ''))").cast("long").alias("ws_tokens"),
        F.expr(r"size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))")
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# --- D11 -----------------------------------------------------------------
FINGERPRINT_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         {TOKENS_DUCK} AS ts
  FROM documents
)
SELECT doc_id,
       md5(norm) AS full_hash,
       CASE WHEN len(ts) >= 5 THEN
         list_aggregate(list_transform(range(len(ts) - 4),
           i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])),
           'min')
       ELSE md5(norm) END AS min_shingle_hash
FROM t
"""


@register("doc_fingerprint", FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: md5 of whitespace-normalized
    text plus the minimum 5-gram shingle hash (winnowing-style content
    fingerprint robust to local edits).

    SCALE: stateless per-doc map; fingerprints later join/group by hash
    which distributes uniformly by construction."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("norm", F.expr(r"trim(regexp_replace(lower(text), '\\s+', ' '))"))
        .withColumn("ts", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.md5("norm").alias("full_hash"),
            F.expr(
                "CASE WHEN size(ts) >= 5 THEN "
                "array_min(transform(sequence(0, size(ts) - 5), "
                "i -> md5(concat_ws(' ', ts[i], ts[i+1], ts[i+2], ts[i+3], ts[i+4])))) "
                "ELSE md5(norm) END"
            ).alias("min_shingle_hash"),
        )
    )


# --- D15 -----------------------------------------------------------------
QUALITY_FILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE list_reduce(list_transform(ts, x -> CAST(length(x) AS DOUBLE)),
                               (a, b) -> a + b) / len(ts) END AS mean_tok_len,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, x -> list_contains({_SW_DUCK}, x))) AS DOUBLE)
                   / len(ts) END AS stop_ratio,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, x -> x ~ '^[0-9]+$')) AS DOUBLE)
                   / len(ts) END AS digit_ratio
  FROM t
)
SELECT doc_id, n_tokens, round(mean_tok_len, 6) AS mean_tok_len,
       round(stop_ratio, 6) AS stop_ratio, round(digit_ratio, 6) AS digit_ratio,
       (CASE WHEN n_tokens < 20 OR n_tokens > 1000 THEN 1 ELSE 0 END
        + CASE WHEN mean_tok_len < 3 OR mean_tok_len > 10 THEN 1 ELSE 0 END
        + CASE WHEN stop_ratio < 0.02 THEN 1 ELSE 0 END
        + CASE WHEN digit_ratio > 0.2 THEN 1 ELSE 0 END) AS n_rules_failed,
       (n_tokens BETWEEN 20 AND 1000)
        AND (mean_tok_len BETWEEN 3 AND 10)
        AND stop_ratio >= 0.02 AND digit_ratio <= 0.2 AS passes
FROM m
"""


@register("quality_filter_gopher", QUALITY_FILTER_ORACLE)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (the pre-training corpus
    filter family from Rae et al. 2021, "Scaling Language Models"): token
    count bounds, mean token length bounds, minimum stopword ratio,
    maximum numeric-token ratio; emits per-rule failure count and the
    pass verdict.

    SCALE: stateless per-doc map over one scan — no shuffle; at 100 TB
    the pass predicate pushes into downstream scans when the verdict is
    materialized as a partition column."""
    docs = _docs(spark, sf_dir)
    # lambda-binding trick: wrapping the token array in transform(array(..))
    # binds it to a lambda variable evaluated ONCE per row — otherwise
    # CollapseProject inlines the tokenization into every metric that
    # references it (4× the split/regex cost on the scan).
    metrics = (
        f"transform(array({TOKENS_SPARK}), ts -> struct("
        "CAST(size(ts) AS BIGINT) AS n_tokens, "
        "CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        "aggregate(transform(ts, x -> CAST(length(x) AS DOUBLE)), 0.0D, (a, b) -> a + b)"
        " / size(ts) END AS mean_tok_len, "
        f"CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        f"CAST(size(filter(ts, x -> x IN {_SW_SPARK})) AS DOUBLE) / size(ts) END AS stop_ratio, "
        "CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        "CAST(size(filter(ts, x -> x RLIKE '^[0-9]+$')) AS DOUBLE) / size(ts) END AS digit_ratio"
        "))[0]"
    )
    m = docs.select("doc_id", F.expr(metrics).alias("m")).select(
        "doc_id", "m.n_tokens", "m.mean_tok_len", "m.stop_ratio", "m.digit_ratio"
    )
    fails = (
        F.when((F.col("n_tokens") < 20) | (F.col("n_tokens") > 1000), 1).otherwise(0)
        + F.when((F.col("mean_tok_len") < 3) | (F.col("mean_tok_len") > 10), 1).otherwise(0)
        + F.when(F.col("stop_ratio") < 0.02, 1).otherwise(0)
        + F.when(F.col("digit_ratio") > 0.2, 1).otherwise(0)
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("mean_tok_len", 6).alias("mean_tok_len"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        fails.alias("n_rules_failed"),
        (
            F.col("n_tokens").between(20, 1000)
            & F.col("mean_tok_len").between(3, 10)
            & (F.col("stop_ratio") >= 0.02)
            & (F.col("digit_ratio") <= 0.2)
        ).alias("passes"),
    )


# --- D17 -----------------------------------------------------------------
SAMPLE_MOD = 10  # keep 1/10 deterministically per source
STRAT_SAMPLE_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {SAMPLE_MOD} = 0
           AS sampled
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       min(CASE WHEN sampled THEN doc_id END) AS first_sampled_id
FROM tagged GROUP BY source
"""


@register("stratified_sample", STRAT_SAMPLE_ORACLE)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep doc iff
    hash(doc_id) % 10 == 0, accounted per source stratum. Hash-based
    (not rand()) so the sample is REPRODUCIBLE across runs, engines, and
    re-partitioning — the property a training-data pipeline needs for
    auditable corpus subsets.

    SCALE: stateless map + one partial agg; the sample predicate also
    serves as a cheap pushed filter when materializing the subset."""
    docs = _docs(spark, sf_dir)
    sampled = (
        F.expr(
            f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            f" % {SAMPLE_MOD}"
        )
        == 0
    )
    return (
        docs.withColumn("sampled", sampled)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_sampled"),
            F.min(F.when(F.col("sampled"), F.col("doc_id"))).alias("first_sampled_id"),
        )
    )


# --- D18 -----------------------------------------------------------------
VOCAB_K = 50
VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT unnest({TOKENS_DUCK}) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS freq FROM toks GROUP BY token
),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM counts
)
SELECT rank, token, freq FROM ranked WHERE rank <= {VOCAB_K}
"""


@register("vocab_topk", VOCAB_ORACLE)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: global top-K tokens by frequency (ties broken
    lexicographically) — the counting pass behind tokenizer/vocab
    construction.

    SCALE: explode → partial count per token (map-side combine collapses
    each partition's duplicates before the shuffle) → global top-K via
    rank-limit, which Spark executes as per-partition top-K + tiny
    merge. Token skew (stopwords) is absorbed by the partial agg — the
    hot token ships one row per map partition, not one per occurrence."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    # limit-first: orderBy+limit plans as TakeOrderedAndProject (per-
    # partition top-K + K-row merge); the rank window then runs over K
    # rows. A rank-filter window would NOT rewrite here — Spark's
    # InferWindowGroupLimit skips empty partition specs, so the whole
    # vocabulary would sort on ONE reducer.
    topk = counts.orderBy(F.col("freq").desc(), "token").limit(VOCAB_K)
    return topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("token")))
    ).select("rank", "token", "freq")


# --- D21 -----------------------------------------------------------------
TFIDF_TOP = 3
TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.token
         ) AS rnk
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS tfidf
FROM scored WHERE rnk <= {TFIDF_TOP}
"""


@register("tfidf_top_terms", TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (raw tf × ln(N/df)) — the
    keyword-extraction / relevance-weighting pass of a text pipeline.

    SCALE: two shuffles — tf on (doc_id, token), df on token — both
    uniform, both partial-aggregated; the df relation is vocabulary-
    sized and the score join shuffles on token. The per-doc top-3 window
    re-uses the doc_id partitioning of tf. Stopword-skewed tokens are
    absorbed by map-side combine exactly as in vocab_topk."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # N stays in the plan as a broadcast 1-row relation (no driver action)
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select("doc_id", "rnk", "token", "tf", "df", F.round("score", 6).alias("tfidf"))
    )


# --- D22 -----------------------------------------------------------------
LANG_CONFUSION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS_DUCK} AS ts FROM documents
),
pred AS (
  SELECT doc_id, lang AS true_lang,
         CASE WHEN len(ts) > 0
               AND CAST(len(list_filter(ts, x -> list_contains({_SW_DUCK}, x))) AS DOUBLE)
                   / len(ts) >= 0.05
              THEN 'en' ELSE 'unk' END AS pred_lang
  FROM t
)
SELECT true_lang, pred_lang,
       count(*) AS n_docs,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY true_lang), 6)
         AS frac_of_true
FROM pred GROUP BY true_lang, pred_lang
"""


@register("lang_id_confusion", LANG_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the D8 language-ID heuristic: the
    (true lang × predicted lang) confusion matrix with per-true-class
    fractions — the quality measurement that decides whether the cheap
    pre-filter is good enough before paying for a model.

    SCALE: per-doc map → one partial-agg shuffle on the tiny
    (true, pred) key space; the per-class fraction windows over O(langs²)
    rows."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id", F.col("lang").alias("true_lang"), F.expr(TOKENS_SPARK).alias("ts"))
    ratio = F.expr(
        f"CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        f"CAST(size(filter(ts, x -> x IN {_SW_SPARK})) AS DOUBLE) / size(ts) END"
    )
    pred = t.withColumn(
        "pred_lang", F.when((F.expr("size(ts) > 0")) & (ratio >= 0.05), "en").otherwise("unk")
    )
    counts = pred.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("frac_of_true"),
    )


# --- D23 -----------------------------------------------------------------
CORPUS_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS ts FROM documents
),
m AS (
  SELECT source, CAST(len(ts) AS BIGINT) AS n_tokens FROM t
)
SELECT source,
       count(*)                          AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)     AS total_tokens,
       min(n_tokens)                     AS min_tokens,
       max(n_tokens)                     AS max_tokens,
       round(avg(n_tokens), 6)           AS mean_tokens,
       round(p50, 6)  AS p50_tokens,
       round(p95, 6) AS p95_tokens
FROM m
JOIN (
  SELECT source,
         min(CASE WHEN q = 0.5 THEN exact END) AS p50,
         min(CASE WHEN q = 0.95 THEN exact END) AS p95
  FROM {counts_quantiles_sql('m', ['source'], 'n_tokens', [0.5, 0.95])}
  GROUP BY source
) p USING (source)
GROUP BY source, p50, p95
"""


@register("corpus_stats", CORPUS_STATS_ORACLE)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per source: document counts, token totals, and the
    length distribution (min/max/mean/p50/p95) — the first report any
    corpus pipeline produces and the sanity check after every filter
    stage.

    SCALE: per-doc map then one partial-agg shuffle on source; exact
    percentiles here to match the oracle — at 100 TB swap to
    approx_percentile (sketch-mergeable map-side, same plan shape)."""
    docs = _docs(spark, sf_dir)
    m = docs.select("source", F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tokens"))
    from .quantiles import counts_quantiles

    pct = (
        counts_quantiles(m, ["source"], "n_tokens", [0.5, 0.95])
        .groupBy("source")
        .agg(
            F.min(F.when(F.col("q") == 0.5, F.col("exact"))).alias("p50"),
            F.min(F.when(F.col("q") == 0.95, F.col("exact"))).alias("p95"),
        )
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        )
        .join(pct, "source")
        .select(
            "source", "n_docs", "total_tokens", "min_tokens", "max_tokens",
            "mean_tokens",
            F.round("p50", 6).alias("p50_tokens"),
            F.round("p95", 6).alias("p95_tokens"),
        )
    )


# --- D24 -----------------------------------------------------------------
CHUNK = 10  # tokens per chunk

CHUNK_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS ts FROM documents
),
chunks AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(ts, i * {CHUNK} + 1, i * {CHUNK} + {CHUNK}), ' ')) AS h
  FROM (
    SELECT doc_id, source, ts, unnest(range(CAST(ceil(len(ts) / {CHUNK}.0) AS BIGINT))) AS i
    FROM t WHERE len(ts) > 0
  )
),
df AS (
  SELECT h, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
)
SELECT c.doc_id, c.source,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS dup_chunk_frac
FROM chunks c JOIN df d USING (h)
GROUP BY c.doc_id, c.source
"""


@register("chunk_dedup", CHUNK_DEDUP_ORACLE)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplicate detection — the scalable proxy for exact
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": suffix-array substring matches; at corpus
    scale the standard approximation hashes fixed-size token chunks):
    each doc's token stream splits into consecutive 10-token chunks; a
    chunk is duplicated when it appears in more than one document; per
    doc, report how much of it is boilerplate shared with the rest of
    the corpus.

    SCALE: chunking is a pure map (arrays, no shuffle); the chunk-hash
    df is one hash-agg shuffle on md5 keys (uniform); the join back is
    on the same key so AQE reuses the partitioning. Never all-pairs —
    cost tracks chunk count, not doc pairs."""
    docs = _docs(spark, sf_dir)
    t = docs.withColumn("ts", F.expr(TOKENS_SPARK)).filter(F.expr("size(ts) > 0"))
    chunks = t.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(ts) / {CHUNK}.0) AS INT) - 1), "
                f"i -> md5(concat_ws(' ', slice(ts, i * {CHUNK} + 1, {CHUNK}))))"
            )
        ).alias("h"),
    )
    df_tbl = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.col("n_docs") > 1
    return (
        chunks.join(df_tbl, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.round(
                F.sum(F.when(dup, 1).otherwise(0)) / F.count("*"), 6
            ).alias("dup_chunk_frac"),
        )
    )


# --- D25 -----------------------------------------------------------------
REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
g AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) >= 2
              THEN list_transform(range(len(ts) - 1), i -> ts[i+1] || ' ' || ts[i+2])
              ELSE [] END AS g2
  FROM t
)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(ts) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) END, 6)
         AS dup_token_frac,
       round(CASE WHEN len(ts) = 0 THEN 0.0
                  ELSE CAST(list_max(list_transform(list_distinct(ts),
                            u -> len(list_filter(ts, x -> x = u)))) AS DOUBLE) / len(ts) END, 6)
         AS top_token_frac,
       round(CASE WHEN len(g2) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6)
         AS dup_bigram_frac
FROM g
"""


@register("repetition_stats", REPETITION_ORACLE)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile — the Gopher repetition
    filters D15 does not cover (Rae et al., Gopher appendix A1.1:
    duplicate-line/paragraph fractions, top-n-gram fraction): duplicate
    token fraction, most-frequent-token share, duplicate bigram
    fraction. High values mark degenerate/boilerplate docs that LID and
    length heuristics miss.

    SCALE: pure per-doc map over token arrays — ZERO shuffle; the
    lambda binds the token array once per row (CollapseProject
    re-evaluation is the trap, docs/SCALE.md). Quadratic-in-unique-
    tokens max-count stays cheap because docs are bounded; at book
    scale swap for a sorted-array linear scan."""
    docs = _docs(spark, sf_dir)
    # bind ts and g2 once via transform-over-singleton (lambda binding)
    return docs.select(
        "doc_id",
        F.expr(
            f"""transform(array({TOKENS_SPARK}), ts -> struct(
                  CAST(size(ts) AS BIGINT) AS n_tokens,
                  round(CASE WHEN size(ts) = 0 THEN 0.0D
                        ELSE 1.0D - CAST(size(array_distinct(ts)) AS DOUBLE) / size(ts) END, 6)
                    AS dup_token_frac,
                  round(CASE WHEN size(ts) = 0 THEN 0.0D
                        ELSE CAST(array_max(transform(array_distinct(ts),
                              u -> size(filter(ts, x -> x = u)))) AS DOUBLE) / size(ts) END, 6)
                    AS top_token_frac,
                  round(CASE WHEN size(ts) < 2 THEN 0.0D
                        ELSE 1.0D - CAST(size(array_distinct(
                               transform(sequence(0, size(ts) - 2),
                                         i -> concat(ts[i], ' ', ts[i+1])))) AS DOUBLE)
                             / (size(ts) - 1) END, 6)
                    AS dup_bigram_frac
                ))[0]"""
        ).alias("m"),
    ).select("doc_id", "m.n_tokens", "m.dup_token_frac", "m.top_token_frac", "m.dup_bigram_frac")


# --- D26 -----------------------------------------------------------------
SAMPLE_MOD = 10  # keep 1-in-10 of the deduplicated, quality-passing docs

CORPUS_FUNNEL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         {TOKENS_DUCK} AS ts
  FROM documents
),
m AS (
  SELECT doc_id, source, norm,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE list_reduce(list_transform(ts, x -> CAST(length(x) AS DOUBLE)),
                               (a, b) -> a + b) / len(ts) END AS mean_tok_len,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, x -> list_contains({{sw}}, x))) AS DOUBLE)
                   / len(ts) END AS stop_ratio,
         CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, x -> x ~ '^[0-9]+$')) AS DOUBLE)
                   / len(ts) END AS digit_ratio
  FROM t
),
q AS (
  SELECT doc_id, source, norm,
         (n_tokens BETWEEN 20 AND 1000) AND (mean_tok_len BETWEEN 3 AND 10)
          AND stop_ratio >= 0.02 AND digit_ratio <= 0.2 AS passes
  FROM m
),
keeps AS (
  SELECT md5(norm) AS h, min(doc_id) AS keep_doc_id
  FROM q WHERE passes GROUP BY md5(norm)
),
flagged AS (
  SELECT q.doc_id, q.source, q.passes,
         q.passes AND q.doc_id = k.keep_doc_id AS kept,
         q.passes AND q.doc_id = k.keep_doc_id
          AND ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT
              % {SAMPLE_MOD} = 0 AS sampled
  FROM q LEFT JOIN keeps k ON md5(q.norm) = k.h
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)   AS n_unique,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM flagged
GROUP BY source
"""


@register("corpus_prep_funnel", CORPUS_FUNNEL_ORACLE.replace("{sw}", _SW_DUCK))
def corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep composed as ONE query — the D-side
    analogue of A19's worker-pass composition: Gopher quality rules
    (D15's exact predicate) → global exact dedup keep-first (D1/D14
    semantics) → deterministic 1-in-10 hash sample (D17 semantics) —
    reported as a per-source funnel (docs → quality → unique →
    sampled). This is the accounting a corpus owner reads before
    training.

    SCALE: one scan computes all per-doc metrics map-side (lambda-bound
    tokenization); the only shuffle is the keep-first group on md5
    (uniform keys) plus its join back on the same key; the funnel agg
    is map-side partial per source. None of the three stages
    materializes an intermediate corpus."""
    docs = _docs(spark, sf_dir)
    metrics = (
        f"transform(array({TOKENS_SPARK}), ts -> struct("
        "CAST(size(ts) AS BIGINT) AS n_tokens, "
        "CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        "aggregate(transform(ts, x -> CAST(length(x) AS DOUBLE)), 0.0D, (a, b) -> a + b)"
        " / size(ts) END AS mean_tok_len, "
        f"CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        f"CAST(size(filter(ts, x -> x IN {_SW_SPARK})) AS DOUBLE) / size(ts) END AS stop_ratio, "
        "CASE WHEN size(ts) = 0 THEN 0.0D ELSE "
        "CAST(size(filter(ts, x -> x RLIKE '^[0-9]+$')) AS DOUBLE) / size(ts) END AS digit_ratio"
        "))[0]"
    )
    q = docs.select(
        "doc_id",
        "source",
        F.md5(F.expr(r"trim(regexp_replace(lower(text), '\\s+', ' '))")).alias("h"),
        F.expr(metrics).alias("m"),
    ).select(
        "doc_id",
        "source",
        "h",
        (
            F.col("m.n_tokens").between(20, 1000)
            & F.col("m.mean_tok_len").between(3, 10)
            & (F.col("m.stop_ratio") >= 0.02)
            & (F.col("m.digit_ratio") <= 0.2)
        ).alias("passes"),
    )
    keeps = q.filter("passes").groupBy("h").agg(F.min("doc_id").alias("keep_doc_id"))
    sampled_hash = F.expr(
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % {SAMPLE_MOD}"
    )
    flagged = (
        q.join(keeps, "h", "left")
        .withColumn("kept", F.col("passes") & (F.col("doc_id") == F.col("keep_doc_id")))
        .withColumn("sampled", F.col("kept") & (sampled_hash == 0))
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias("n_quality"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_unique"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_sampled"),
    )


# --- D27 -----------------------------------------------------------------
BPE_TOP = 20
BPE_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT {TOKENS_DUCK} AS ts FROM documents
),
pairs AS (
  SELECT unnest(ts[1:len(ts) - 1]) AS tok_l,
         unnest(ts[2:len(ts)])     AS tok_r
  FROM toks WHERE len(ts) >= 2
),
counted AS (
  SELECT tok_l, tok_r, count(*) AS freq FROM pairs GROUP BY tok_l, tok_r
),
ranked AS (
  SELECT tok_l, tok_r, freq,
         row_number() OVER (ORDER BY freq DESC, tok_l, tok_r) AS rank
  FROM counted
)
SELECT CAST(rank AS INT) AS rank, tok_l, tok_r, freq
FROM ranked WHERE rank <= {BPE_TOP}
"""


@register("bpe_merge_pairs", BPE_PAIRS_ORACLE)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: global adjacent-token-pair frequencies,
    top-K with deterministic ties — the counting pass of one BPE merge
    step (the most frequent adjacent pair becomes the next merge rule).
    Token-level rather than byte-level: the corpus token model is shared
    with D10/D18 so the pair table composes with vocab_topk.

    SCALE: zip-adjacent is a per-doc map (slice + arrays_zip, no
    shuffle); pair counting partial-aggregates map-side so a hot pair
    ships one row per partition; global top-K runs as per-partition
    top-K + a K-row merge (window-group-limit), never a full sort."""
    docs = _docs(spark, sf_dir)
    pairs = (
        docs.select(F.expr(TOKENS_SPARK).alias("ts"))
        .filter(F.expr("size(ts) >= 2"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ts, 1, size(ts) - 1)").alias("tok_l"),
                    F.expr("slice(ts, 2, size(ts) - 1)").alias("tok_r"),
                )
            ).alias("p")
        )
        .select("p.tok_l", "p.tok_r")
    )
    counted = pairs.groupBy("tok_l", "tok_r").agg(F.count("*").alias("freq"))
    # limit-first (TakeOrderedAndProject) — see vocab_topk: the global
    # rank-filter window does NOT rewrite to WindowGroupLimit, so rank
    # only the K survivors.
    topk = counted.orderBy(F.col("freq").desc(), "tok_l", "tok_r").limit(BPE_TOP)
    return topk.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("tok_l"), F.col("tok_r"))
        ),
    ).select("rank", "tok_l", "tok_r", "freq")


# --- D28 -----------------------------------------------------------------
# PII patterns in the common Java-regex / RE2 subset (no lookaround, \b
# and bounded repetition only) so Spark and DuckDB match byte-for-byte.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Redaction order is load-bearing: emails first (their digits must not
# be half-eaten by the phone pattern), then IPs (dotted digits), then
# phones. The oracle applies the same order.
PII_ORACLE = f"""
WITH red AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{PII_EMAIL}'))  AS n_emails,
         len(regexp_extract_all(text, '{PII_IPV4}'))   AS n_ips,
         len(regexp_extract_all(text, '{PII_PHONE}'))  AS n_phones,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g') AS redacted
  FROM documents
)
SELECT doc_id, source,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(n_emails + n_ips + n_phones AS BIGINT) AS n_redactions,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       md5(redacted) AS redacted_hash
FROM red
"""


@register("pii_redaction", PII_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before text leaves the raw zone: emails, IPv4 addresses, and
    phone numbers replaced by typed placeholder tokens, with per-doc
    counts for audit. The synthetic corpus carries no PII, so the
    mechanism is additionally pinned by seeded edge-corpus tests
    (tests/test_edge_corpus.py); the driver row proves the no-PII
    corpus round-trips unchanged through the same plan.

    SCALE: pure per-row regexp map inside whole-stage codegen — no
    shuffle, no Python; the audit counts come from the same scan.
    Patterns are anchored to the shared Java/RE2 subset so the plan is
    portable across engines."""
    docs = _docs(spark, sf_dir)
    red = (
        docs.select(
            "doc_id",
            "source",
            F.regexp_count("text", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
            F.regexp_count("text", F.lit(PII_IPV4)).cast("long").alias("n_ips"),
            F.regexp_count("text", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
                    PII_IPV4,
                    "<IP>",
                ),
                PII_PHONE,
                "<PHONE>",
            ).alias("redacted"),
        )
    )
    return red.select(
        "doc_id",
        "source",
        "n_emails",
        "n_ips",
        "n_phones",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("n_redactions"),
        F.length("redacted").cast("long").alias("redacted_len"),
        F.md5(F.encode("redacted", "utf-8")).alias("redacted_hash"),
    )


# --- D30 -----------------------------------------------------------------
C_CHUNK = 5       # tokens per containment chunk (finer than D24's 10)
C_THRESHOLD = 0.8  # containment |chunks(A) ∩ chunks(B)| / |chunks(A)|
C_DF_CAP = 100    # boilerplate cap: chunks in more docs than this are excluded

CONTAINMENT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
chunks AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(ts, i * {C_CHUNK} + 1, i * {C_CHUNK} + {C_CHUNK}), ' ')) AS h
  FROM (
    SELECT doc_id, ts, unnest(range(CAST(ceil(len(ts) / {C_CHUNK}.0) AS BIGINT))) AS i
    FROM t WHERE len(ts) > 0
  )
),
sizes AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id),
df AS (
  SELECT h FROM chunks GROUP BY h
  HAVING count(*) BETWEEN 2 AND {C_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_chunks
  FROM chunks a JOIN df USING (h) JOIN chunks b USING (h)
  WHERE a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, s.n_chunks AS n_chunks_a, p.shared_chunks,
       round(CAST(p.shared_chunks AS DOUBLE) / s.n_chunks, 6) AS containment
FROM pairs p JOIN sizes s ON p.doc_a = s.doc_id
WHERE CAST(p.shared_chunks AS DOUBLE) / s.n_chunks >= {C_THRESHOLD}
"""


@register("containment_pairs", CONTAINMENT_ORACLE)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs — doc-inside-doc detection (quotes,
    wholesale inclusion, prefix/suffix copies), the one-sided relation
    symmetric Jaccard (D4) misses: containment(A→B) =
    |chunks(A) ∩ chunks(B)| / |chunks(A)| over distinct 5-token chunk
    hashes. Both directions are emitted — a tweet quoted by an article
    contains high A→B and low B→A.

    Boilerplate guard: chunk hashes appearing in more than C_DF_CAP
    docs are excluded from numerator AND denominator (the containment
    measure is defined over non-boilerplate content; a license header
    shared by a million docs says nothing about copying). df = 1
    chunks cannot produce a pair and are dropped from the join — an
    exact optimization.

    SCALE: the df filter bounds candidate generation the way D4's
    prefix filter does — join fan-out per chunk hash is ≤ C_DF_CAP²,
    never corpus-quadratic; the hash df and the pair agg are uniform
    md5-keyed shuffles. The join back to sizes is O(docs).

    Reference analogue: none (uForwarder has no corpus ops) — this is
    part of the training-data prep family (Lee et al. 2022 substring
    dedup, approximated at chunk granularity like D24)."""
    docs = _docs(spark, sf_dir)
    t = docs.withColumn("ts", F.expr(TOKENS_SPARK)).filter(F.expr("size(ts) > 0"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, CAST(ceil(size(ts) / {C_CHUNK}.0) AS INT) - 1), "
                f"i -> md5(concat_ws(' ', slice(ts, i * {C_CHUNK} + 1, {C_CHUNK})))))"
            )
        ).alias("h"),
    ).localCheckpoint()  # reused by sizes, df filter, and both
    # self-join sides — four CONCURRENT readers; a lazily-populated
    # persist() let the racing stages re-run the chunk-hash pass per
    # reference (CPU 13.8 -> 12.0 s interleaved at sf0.1,
    # OPTIMIZATION_r13.md §F)
    sizes = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks_a"))
    df_ok = (
        chunks.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= C_DF_CAP))
        .select("h")
    )
    a = chunks.join(df_ok, "h")
    b = chunks.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_id") != F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").alias("shared_chunks"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn("containment", F.col("shared_chunks") / F.col("n_chunks_a"))
        .filter(F.col("containment") >= C_THRESHOLD)
        .select(
            "doc_a", "doc_b", "n_chunks_a", "shared_chunks",
            F.round("containment", 6).alias("containment"),
        )
    )


# --- D37 -----------------------------------------------------------------
# 5-token-gram novelty: the memorization/duplication metric of Lee et al.
# 2022 ("Deduplicating Training Data Makes Language Models Better") at
# n-gram granularity — what fraction of a doc's distinct 5-grams appear
# in NO earlier document (doc_id order = ingestion order).
_G5_SPARK = (
    "CASE WHEN size(ts) >= 5 THEN array_distinct(transform(sequence(0, size(ts) - 5), "
    "i -> md5(concat_ws(' ', ts[i], ts[i+1], ts[i+2], ts[i+3], ts[i+4])))) "
    "ELSE array(md5(concat_ws(' ', ts))) END"
)
_G5_DUCK = (
    "CASE WHEN len(ts) >= 5 THEN list_distinct(list_transform(range(len(ts) - 4), "
    "i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5]))) "
    "ELSE [md5(array_to_string(ts, ' '))] END"
)

NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS ts FROM documents
),
ex AS (
  SELECT doc_id, source, unnest({_G5_DUCK}) AS h FROM t
),
firsts AS (
  SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h
)
SELECT e.doc_id, e.source,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novel_frac
FROM ex e JOIN firsts f USING (h)
GROUP BY e.doc_id, e.source
"""


@register("ngram_novelty", NOVELTY_ORACLE)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty: the fraction of a doc's DISTINCT
    5-token-grams whose first corpus occurrence (min doc_id = ingestion
    order) is this document. Low novelty = the doc is largely assembled
    from text seen earlier — the n-gram-granular complement of D24's
    chunk dedup and D30's containment (those find WHO copied; this
    scores HOW derivative each doc is). Docs shorter than 5 tokens
    fall back to a whole-text gram so every doc is scored.

    SCALE: two md5-keyed uniform shuffles — grouped-min over exploded
    grams, then the gram→first-doc join back — and one per-doc agg.
    No all-pairs term; cost is O(total grams), the same envelope as
    D24. Grams stay 32-char md5 strings end to end; the doc text
    itself is never shuffled.

    Reference analogue: none (uForwarder has no corpus ops); public
    basis: Lee et al. 2022 n-gram memorization analysis."""
    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id", "source", F.expr(TOKENS_SPARK).alias("ts"))
    ex = t.select(
        "doc_id", "source", F.explode(F.expr(_G5_SPARK)).alias("h")
    ).persist()  # feeds both the grouped-min and the join-back side
    firsts = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(firsts, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id", "source", "n_ngrams", "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_ngrams"), 6
            ).alias("novel_frac"),
        )
    )


# --- D38 -----------------------------------------------------------------
SRC_KL_ORACLE = """
WITH cell AS (
  SELECT source, lang, count(*) AS n_sl FROM documents GROUP BY source, lang
),
src AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s FROM cell GROUP BY source),
lng AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l FROM cell GROUP BY lang),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
contrib AS (
  SELECT c.source, s.n_s,
         CAST(round(
           (CAST(c.n_sl AS DOUBLE) / s.n_s)
             * ln((CAST(c.n_sl AS DOUBLE) / s.n_s)
                  / (CAST(l.n_l AS DOUBLE) / t.n)), 8) AS DECIMAL(18,8)) AS kc
  FROM cell c JOIN src s USING (source) JOIN lng l USING (lang) CROSS JOIN tot t
)
SELECT source, min(n_s) AS n_docs,
       CAST(sum(kc) AS DOUBLE) AS kl_divergence
FROM contrib GROUP BY source
"""


@register("source_lang_kl", SRC_KL_ORACLE)
def source_lang_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix drift: KL(P(lang | source) || P(lang))
    over the declared lang column — the standard corpus-monitoring
    statistic for "this crawl source's language mix diverged from the
    corpus". 0 = the source mirrors the corpus mix; large = skewed.

    Exactness: every probability is an exact-BIGINT ratio (one double
    division each — deterministic), each cell's p*ln(p/q) term is
    rounded to 8 dp and cast to DECIMAL before the per-source sum, so
    the summation is exact and order-free across engines; the only
    cross-engine risk (double-sum order) is designed out.

    SCALE: one partial agg over the scan builds the (source, lang)
    cells; the source/lang/total marginals derive from the TINY cell
    frame (|sources|x|langs| rows) and join back broadcast. The corpus
    is read once; nothing larger than the cell frame ever shuffles.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    # |sources|x|langs| barrier (the D104 rule): src/lng/contrib each
    # reference cell — un-materialized, every reference replays the
    # corpus scan+agg; tot folds from the materialized cells (sum of
    # group counts == count(*), exact BIGINT), so the corpus is read
    # once instead of four times
    cell = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("n_sl"))
        .localCheckpoint()
    )
    src = cell.groupBy("source").agg(F.sum("n_sl").cast("bigint").alias("n_s"))
    lng = cell.groupBy("lang").agg(F.sum("n_sl").cast("bigint").alias("n_l"))
    tot = cell.agg(F.sum("n_sl").cast("bigint").alias("n"))
    p_sl = F.col("n_sl").cast("double") / F.col("n_s")
    p_l = F.col("n_l").cast("double") / F.col("n")
    contrib = (
        cell.join(F.broadcast(src), "source")
        .join(F.broadcast(lng), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "n_s",
            F.round(p_sl * F.log(p_sl / p_l), 8).cast("decimal(18,8)").alias("kc"),
        )
    )
    return contrib.groupBy("source").agg(
        F.min("n_s").alias("n_docs"),
        F.sum("kc").cast("double").alias("kl_divergence"),
    )


# --- D44 -----------------------------------------------------------------
ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({TOKENS_DUCK}) AS token FROM documents
),
cnt AS (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS r
  FROM cnt
),
xy AS (
  SELECT source,
         CAST(round(ln(CAST(r AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
         CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xy,
         CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xx,
         CAST(round(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8)) AS yy,
         c
  FROM ranked
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx,
         CAST(sum(yy) AS DOUBLE) AS syy
  FROM xy GROUP BY source
)
SELECT source, n_types, n_tokens,
       CASE WHEN n_types * sxx - sx * sx = 0 THEN NULL
            ELSE round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 6) END
         AS zipf_slope,
       CASE WHEN (n_types * sxx - sx * sx) * (n_types * syy - sy * sy) = 0 THEN NULL
            ELSE round((n_types * sxy - sx * sy) * (n_types * sxy - sx * sy)
                       / ((n_types * sxx - sx * sx) * (n_types * syy - sy * sy)), 6) END
         AS r2
FROM s
"""


@register("zipf_fit", ZIPF_ORACLE)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf-law fit: OLS of ln(freq) on ln(rank) over the
    source's full vocabulary. Natural text sits near slope ≈ −1 with
    high r²; boilerplate-heavy, templated, or synthetic sources drift —
    a standard corpus-quality fingerprint next to D23's corpus_stats.

    Exactness: each rank's ln/product terms are rounded to 8 dp and
    cast to DECIMAL before the per-source sums (exact, order-free —
    the D38 pattern), then slope/r² are scalar double expressions on
    the five sums, identical in both engines; zero denominators (a
    one-type vocabulary) emit NULL, not inf.

    SCALE: one (source, token) partial agg over the scan, then a
    window partitioned BY SOURCE over the vocab frame — vocabulary is
    orders of magnitude smaller than the corpus, and per-source sort
    parallelism is the partition key. Nothing but the vocab frame
    shuffles; the five-sum agg is map-side partial.

    Reference analogue: none (training-data pipeline family)."""
    tok = _docs(spark, sf_dir).select("source", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
    cnt = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    return zipf_fit_from(cnt)


def zipf_fit_from(cnt: DataFrame) -> DataFrame:
    """Close the Zipf fit from a (source, token, c) count frame —
    shared by batch D44 and live E41 (counts are additive state; ranks
    and the fit re-derive per trigger because rank order shifts as
    counts grow — rank terms are NOT mergeable, counts are)."""
    ranked = cnt.withColumn(
        "r",
        F.row_number().over(Window.partitionBy("source").orderBy(F.col("c").desc(), "token")),
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    xy = ranked.select(
        "source",
        "c",
        F.round(lx, 8).cast("decimal(18,8)").alias("x"),
        F.round(ly, 8).cast("decimal(18,8)").alias("y"),
        F.round(lx * ly, 8).cast("decimal(18,8)").alias("xy"),
        F.round(lx * lx, 8).cast("decimal(18,8)").alias("xx"),
        F.round(ly * ly, 8).cast("decimal(18,8)").alias("yy"),
    )
    s = xy.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    dxx = F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n_types") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "source",
        "n_types",
        "n_tokens",
        F.when(dxx == 0, F.lit(None)).otherwise(F.round(num / dxx, 6)).alias("zipf_slope"),
        F.when(dxx * dyy == 0, F.lit(None))
        .otherwise(F.round(num * num / (dxx * dyy), 6))
        .alias("r2"),
    )


# --- D45 -----------------------------------------------------------------
def gram_counts_frame(docs: DataFrame, gram_expr: str) -> DataFrame:
    """(source, g, c): gram counts — the mergeable state streaming E21
    carries across micro-batches (counts add; entropy re-derives)."""
    return (
        docs.select("source", F.explode(F.expr(gram_expr)).alias("g"))
        .groupBy("source", "g")
        .agg(F.count("*").alias("c"))
    )


def entropy_sums_frame(cnt: DataFrame, n_col: str) -> DataFrame:
    """Per-source (N, Σ c·ln c) from a gram-count frame, decimal-summed."""
    return cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias(n_col),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")), 8).cast("decimal(18,8)")
        )
        .cast("double")
        .alias(f"snln_{n_col}"),
    )


_BIGRAMS_SPARK = (
    f"transform(slice({TOKENS_SPARK}, 1, size({TOKENS_SPARK}) - 1), "
    f"(t, i) -> concat(t, ' ', element_at({TOKENS_SPARK}, i + 2)))"
)
_BIGRAMS_DUCK = (
    f"list_transform(range(len({TOKENS_DUCK}) - 1), "
    f"i -> {TOKENS_DUCK}[i + 1] || ' ' || {TOKENS_DUCK}[i + 2])"
)

ENTROPY_ORACLE = f"""
WITH uni AS (
  SELECT source, g, count(*) AS c
  FROM (SELECT source, unnest({TOKENS_DUCK}) AS g FROM documents)
  GROUP BY source, g
),
big AS (
  SELECT source, g, count(*) AS c
  FROM (SELECT source, unnest({_BIGRAMS_DUCK}) AS g FROM documents)
  GROUP BY source, g
),
h1 AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8))) AS DOUBLE) AS snln
  FROM uni GROUP BY source
),
h2 AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8))) AS DOUBLE) AS snln
  FROM big GROUP BY source
)
SELECT h1.source, h1.n_tokens, h2.n_bigrams,
       round(ln(CAST(h1.n_tokens AS DOUBLE)) - h1.snln / h1.n_tokens, 6) AS unigram_entropy,
       round(ln(CAST(h2.n_bigrams AS DOUBLE)) - h2.snln / h2.n_bigrams, 6) AS bigram_entropy,
       round((ln(CAST(h2.n_bigrams AS DOUBLE)) - h2.snln / h2.n_bigrams)
             - (ln(CAST(h1.n_tokens AS DOUBLE)) - h1.snln / h1.n_tokens), 6) AS cond_entropy
FROM h1 JOIN h2 USING (source)
"""


@register("ngram_entropy", ENTROPY_ORACLE)
def ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token entropy: unigram Shannon entropy H₁, bigram
    entropy H₂, and the conditional (next-token) entropy H₂ − H₁ — the
    model-free proxy for "how predictable is this source" that flags
    templated or machine-generated text (low conditional entropy) next
    to D25's repetition_stats.

    Exactness: H = ln N − (Σ c·ln c)/N, with each c·ln c term rounded
    to 8 dp and cast to DECIMAL before the per-source sum (exact,
    order-free — the D38 pattern); the closing arithmetic is scalar
    doubles on two sums, identical in both engines.

    SCALE: two (source, gram) partial aggs over one scan each — bigram
    extraction is a row-local array zip, no self-join; gram cardinality
    is vocabulary-sized, far below the corpus, and everything after the
    partial agg is |sources| rows.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    return entropy_from_counts(
        gram_counts_frame(docs, TOKENS_SPARK),
        gram_counts_frame(docs, _BIGRAMS_SPARK),
    )


def entropy_from_counts(uni_counts: DataFrame, big_counts: DataFrame) -> DataFrame:
    """Close D45 from (source, g, c) frames — shared with streaming E21,
    which calls it on its MERGED running counts every trigger."""
    h1 = entropy_sums_frame(uni_counts, "n_tokens")
    h2 = entropy_sums_frame(big_counts, "n_bigrams")
    e1 = F.log(F.col("n_tokens").cast("double")) - F.col("snln_n_tokens") / F.col("n_tokens")
    e2 = F.log(F.col("n_bigrams").cast("double")) - F.col("snln_n_bigrams") / F.col("n_bigrams")
    return (
        h1.join(h2, "source")
        .select(
            "source",
            "n_tokens",
            "n_bigrams",
            F.round(e1, 6).alias("unigram_entropy"),
            F.round(e2, 6).alias("bigram_entropy"),
            F.round(e2 - e1, 6).alias("cond_entropy"),
        )
    )


# --- D47 -----------------------------------------------------------------
ARES_K = 10  # sample size per source

# md5-derived uniform in (0,1): 60 bits of the doc_id hash, +1 so u > 0.
_ARES_U_SPARK = (
    "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS DOUBLE) + 1.0D)"
    " / 1152921504606846977.0D"
)
_ARES_U_DUCK = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 1.0)"
    " / 1152921504606846977.0"
)

ARES_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         exp(ln({_ARES_U_DUCK}) / greatest(n_chars, 1)) AS k
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, n_chars, round(k, 6) AS sample_key
FROM ranked WHERE rn <= {ARES_K}
"""


@register("weighted_sample_ares", ARES_ORACLE)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling per source (Efraimidis-Spirakis
    A-Res): each doc draws key u^(1/w) with weight w = n_chars and a
    RESEEDABLE md5-derived uniform u, and the top-K keys per source are
    the sample — longer documents proportionally likelier, yet the
    sample is exactly reproducible across runs and engines (no RNG
    state). The length-weighted counterpart of D17's equal-probability
    stratified sample, and the standard way to subsample a corpus by
    token budget rather than doc count.

    SCALE: one shuffle on source; the rank-filter window rewrites to
    per-partition WindowGroupLimit (the rewrite fires because the
    window HAS a partition key — empty specs don't rewrite), so each
    partition keeps only K candidates per source before the exchange —
    the full corpus is never sorted. Selection compares RAW doubles
    (identical IEEE expressions in both engines); rounding happens only
    on the emitted audit key.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    k = F.exp(F.log(F.expr(_ARES_U_SPARK)) / F.greatest(F.col("n_chars"), F.lit(1)))
    keyed = docs.select("source", "doc_id", "n_chars", k.alias("k"))
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")),
    )
    return ranked.filter(F.col("rn") <= ARES_K).select(
        "source", "doc_id", "n_chars", F.round("k", 6).alias("sample_key")
    )


# --- D48 -----------------------------------------------------------------
CMS_ROWS = 4  # independent hash rows
CMS_W = 16  # counters per row (sized small so collisions are exercised at test SFs)
CMS_K = 25  # heavy hitters reported

_CMS_BUCKET_SPARK = (
    "CAST(conv(substr(md5(concat(CAST(j AS STRING), ':', token)), 1, 15), 16, 10) AS BIGINT)"
    f" % {CMS_W}"
)
_CMS_BUCKET_DUCK = (
    "('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))::BIGINT"
    f" % {CMS_W}"
)

CMS_ORACLE = f"""
WITH counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
  GROUP BY token
),
cells AS (
  SELECT j, {_CMS_BUCKET_DUCK} AS bucket, CAST(sum(freq) AS BIGINT) AS counter
  FROM counts, unnest([0, 1, 2, 3]) AS t(j)
  GROUP BY j, {_CMS_BUCKET_DUCK}
),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM counts
),
est AS (
  SELECT r.rank, r.token, r.freq, min(c.counter) AS cms_estimate
  FROM ranked r
  JOIN (SELECT r2.token, t.j, {_CMS_BUCKET_DUCK.replace('token', 'r2.token')} AS bucket
        FROM ranked r2, unnest([0, 1, 2, 3]) AS t(j)
        WHERE r2.rank <= {CMS_K}) b ON b.token = r.token
  JOIN cells c ON c.j = b.j AND c.bucket = b.bucket
  WHERE r.rank <= {CMS_K}
  GROUP BY r.rank, r.token, r.freq
)
SELECT rank, token, freq, cms_estimate, cms_estimate - freq AS overestimate
FROM est
"""


@register("cms_heavy_hitters", CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a deterministic count-min sketch: token
    frequencies fold into a CMS_ROWS×CMS_W counter grid (md5-derived
    buckets), the top-CMS_K tokens are reported with their exact count,
    their CMS point estimate (min over rows), and the overestimate the
    collision structure actually cost — the audit that sizes w/d before
    trusting the sketch alone.

    SCALE: the sketch is the point — a FIXED-width (d·w cells),
    fully mergeable aggregation whose state size is independent of
    vocabulary and corpus size; at 100 TB the counter grid map-side
    combines to ≤ d·w rows per partition and merges by plain addition
    (same shape a streaming monitor would carry across triggers). The
    exact-count pass here exists only to ground the audit; the
    candidate estimate join touches CMS_K·CMS_ROWS rows against a
    broadcast 1 k-cell grid. CMS guarantees estimate ≥ exact —
    overestimate is provably ≥ 0 (asserted in tests).

    Reference analogue: none (training-data pipeline family; the
    Cormode-Muthukrishnan sketch over the token stream)."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    js = F.explode(F.expr(f"sequence(0, {CMS_ROWS - 1})")).alias("j")
    cells = (
        counts.select("token", "freq", js)
        .select("freq", "j", F.expr(_CMS_BUCKET_SPARK).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.sum("freq").cast("bigint").alias("counter"))
    )
    # limit-first (TakeOrderedAndProject) — see vocab_topk: rank only
    # the CMS_K survivors, never the whole vocabulary on one reducer.
    ranked = (
        counts.orderBy(F.col("freq").desc(), "token")
        .limit(CMS_K)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.col("freq").desc(), "token"))
        )
    )
    probes = ranked.select("rank", "token", "freq", js).withColumn(
        "bucket", F.expr(_CMS_BUCKET_SPARK)
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("rank", "token", "freq")
        .agg(F.min("counter").alias("cms_estimate"))
        .select(
            "rank", "token", "freq", "cms_estimate",
            (F.col("cms_estimate") - F.col("freq")).alias("overestimate"),
        )
    )


# --- D49 -----------------------------------------------------------------
HLL_P = 6  # 2^6 = 64 registers
HLL_M = 1 << HLL_P
# alpha_64 from Flajolet et al. 2007 (m >= 64 branch: 0.709/(1+1.079/m))
HLL_ALPHA = 0.709 / (1.0 + 1.079 / HLL_M)
HLL_CONST = HLL_ALPHA * HLL_M * HLL_M  # alpha_m * m^2, one double literal
_HLL_BITS = 60 - HLL_P  # hash bits left after the register index

# 60-bit md5 hash: top HLL_P bits pick the register, the rest feed the
# leading-zero rank. rank = (bits of zero prefix) + 1, capped by width.
_HLL_H_SPARK = "CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)"
_HLL_H_DUCK = "('0x' || substr(md5(token), 1, 15))::BIGINT"


def _hll_rank(h: str, dialect: str) -> str:
    # leading zeros of the low _HLL_BITS bits: 54 - floor(log2(v)) for
    # v > 0 (capped at the full width when v = 0), + 1
    v = f"({h} % {1 << _HLL_BITS})"
    fl = "floor(log2(" if dialect == "duck" else "floor(log2("
    return (
        f"CASE WHEN {v} = 0 THEN {_HLL_BITS + 1} "
        f"ELSE CAST({_HLL_BITS} - 1 - {fl}CAST({v} AS DOUBLE))) AS BIGINT) + 1 END"
    )


HLL_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT source, token
  FROM (SELECT source, unnest({TOKENS_DUCK}) AS token FROM documents)
),
h AS (
  SELECT source,
         {_HLL_H_DUCK} // {1 << _HLL_BITS} AS reg,
         {_hll_rank(_HLL_H_DUCK, 'duck')} AS rank
  FROM tok
),
regs AS (
  SELECT source, reg, max(rank) AS r FROM h GROUP BY source, reg
),
est AS (
  SELECT source,
         CAST(sum(CAST(round(power(2.0, -r), 8) AS DECIMAL(18,8))) AS DOUBLE)
           + ({HLL_M} - count(*)) AS z,
         count(*) AS m_used
  FROM regs GROUP BY source
),
exact AS (
  SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct FROM tok GROUP BY source
),
corrected AS (
  SELECT source,
         CASE WHEN CAST({HLL_CONST!r} AS DOUBLE) / z <= 2.5 * {HLL_M}
                   AND m_used < {HLL_M}
              THEN {HLL_M} * ln({HLL_M}.0 / ({HLL_M} - m_used))
              ELSE CAST({HLL_CONST!r} AS DOUBLE) / z END AS est
  FROM est
)
SELECT c.source, x.exact_distinct,
       CAST(round(c.est, 0) AS BIGINT) AS hll_estimate,
       round(abs(c.est - x.exact_distinct) / x.exact_distinct, 6) AS rel_error
FROM corrected c JOIN exact x USING (source)
"""


@register("hll_distinct_tokens", HLL_ORACLE)
def hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per source through a deterministic
    HyperLogLog sketch (Flajolet et al. 2007, raw estimator): 64
    registers from the top bits of the token md5, register value = max
    leading-zero rank of the low bits, harmonic-mean estimate with the
    alpha_m correction — reported against the exact distinct count with
    the relative error the register budget actually delivered.

    Exactness note: raw estimator + the standard small-range linear-
    counting correction (raw ≤ 2.5 m with empty registers →
    m·ln(m/V)); 2^-r terms are rounded-DECIMAL summed and empty
    registers contribute 2^0 via the (m − used) term, so both engines
    agree bit-for-bit.

    SCALE: the sketch is the point — register state is 64 values per
    source regardless of vocabulary or corpus size, built by a (source,
    reg) MAX agg (map-side combine, merge = MAX, so the same frame is
    an order-free streaming merge — max is idempotent AND commutative,
    the cleanest possible state update). Spark's own
    approx_count_distinct is this sketch non-deterministically seeded;
    this one is engine-reproducible.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(F.expr(TOKENS_SPARK)).alias("token")
    ).distinct()
    regs = hll_register_frame(docs)
    exact = tok.groupBy("source").agg(F.count("*").cast("bigint").alias("exact_distinct"))
    return (
        hll_estimate_frame(regs)
        .join(exact, "source")
        .select(
            "source",
            "exact_distinct",
            F.round(F.col("est"), 0).cast("bigint").alias("hll_estimate"),
            F.round(
                F.abs(F.col("est") - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_error"),
        )
    )


def hll_register_frame(docs: DataFrame) -> DataFrame:
    """(source, reg, r): HLL registers — MAX-mergeable state; streaming
    E22 folds batches together with the same MAX, so replay order (and
    at-least-once duplication) cannot change the result."""
    h = docs.select("source", F.explode(F.expr(TOKENS_SPARK)).alias("token")).select(
        "source",
        F.expr(f"{_HLL_H_SPARK} DIV {1 << _HLL_BITS}").alias("reg"),
        F.expr(_hll_rank(_HLL_H_SPARK, "spark")).alias("rank"),
    )
    return h.groupBy("source", "reg").agg(F.max("rank").alias("r"))


def hll_estimate_frame(regs: DataFrame) -> DataFrame:
    """Close the estimate (raw + small-range linear counting) from a
    register frame: (source, est) — shared with streaming E22."""
    est = regs.groupBy("source").agg(
        (
            F.sum(F.round(F.pow(F.lit(2.0), -F.col("r")), 8).cast("decimal(18,8)")).cast("double")
            + (F.lit(HLL_M) - F.count("*"))
        ).alias("z"),
        F.count("*").alias("m_used"),
    )
    raw = F.lit(HLL_CONST) / F.col("z")
    lc = F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / (F.lit(HLL_M) - F.col("m_used")))
    corrected = F.when((raw <= 2.5 * HLL_M) & (F.col("m_used") < HLL_M), lc).otherwise(raw)
    return est.select("source", corrected.alias("est"))


# --- D57 -----------------------------------------------------------------
BM25_QUERY = ["spark", "query", "join"]  # fixed query terms
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

_BM25_TERMS_SPARK = "array(" + ", ".join(f"'{t}'" for t in BM25_QUERY) + ")"
_BM25_TERMS_DUCK = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY) + "]"

BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
n_av AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
  WHERE term IN (SELECT unnest({_BM25_TERMS_DUCK}))
  GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT t.doc_id,
         CAST(round(
           ln((n_av.n - df.df + 0.5) / (df.df + 0.5) + 1)
             * t.tf * ({BM25_K1} + 1)
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / n_av.avdl)),
           8) AS DECIMAL(18,8)) AS c
  FROM tf t
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN n_av
)
SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25_score
FROM contrib GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id LIMIT {BM25_TOPK}
"""


@register("bm25_topk", BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval: BM25 top-K documents for a fixed term query
    (Robertson-Sparck Jones idf with the +1 floor, k1/b saturation) —
    the search primitive a corpus exploration UI or hard-negative
    mining pipeline runs over the document store.

    Exactness: each (doc, term) contribution is rounded to 8 dp and
    cast to DECIMAL before the per-doc sum (exact, order-free — the
    D38 pattern); df/N/avdl derive from exact integer aggregates with
    one double division each. The top-K cut compares the exact DECIMAL
    sums, so ranking ties break identically.

    SCALE (OPTIMIZATION r13, guide §8 / §1.2 step 1): the old batch
    shape tokenized the corpus TWICE (once for the tf explode, once
    for the dl lengths) and shuffled the exploded posting rows through
    a (doc_id, term) agg plus a doc_id join of tf against dl. The
    one-pass shape computes (dl, tf per query term) row-locally in a
    single tokenize (bm25_doc_stats), localCheckpoints that |docs|×5-
    integer proxy (the doc-length table any BM25 index maintains), and
    scores it against ONE broadcast row of global stats — no posting
    explode, no corpus-keyed shuffle, top-K is TakeOrderedAndProject.
    Streaming E25 keeps the additive tf/dl index frames (its state IS
    the incremental posting table); results are bit-identical — see
    bm25_topk_onepass.

    Reference analogue: none (training-data pipeline family — corpus
    search / hard-negative mining)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return bm25_topk_onepass(docs)


def bm25_tf_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) for the watch-query terms only — the posting
    slice streaming E25 maintains; counts are additive across batches
    for append-only ingest (each doc arrives exactly once)."""
    return (
        docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("term"))
        .filter(F.expr(f"array_contains({_BM25_TERMS_SPARK}, term)"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def bm25_doclen_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, dl): token lengths — the index's doc-length table."""
    return docs.select("doc_id", F.expr(f"size({TOKENS_SPARK})").alias("dl"))


def bm25_doc_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, tf0..tf{|terms|-1}): doc length plus one per-query-
    term frequency per document, in ONE tokenize pass — the small-row
    proxy of guide §8 (every BM25 decision depends only on these
    integers, never on the text again). tf_i = size(filter(ts, x =
    term_i)) equals the explode + groupBy count for that (doc, term);
    docs whose every tf_i is 0 are exactly the docs absent from
    bm25_tf_frame. The token array is built once in the lower
    projection and referenced by the four consumers above it —
    CollapseProject leaves multiply-referenced non-cheap expressions
    uncollapsed, so the regexp tokenize is NOT duplicated per column
    (locked by test_bm25_plan_single_tokenize)."""
    tf_cols = [
        F.expr(f"size(filter(ts, x -> x = '{t}'))").cast("long").alias(f"tf{i}")
        for i, t in enumerate(BM25_QUERY)
    ]
    return docs.select("doc_id", F.expr(TOKENS_SPARK).alias("ts")).select(
        "doc_id", F.expr("size(ts)").alias("dl"), *tf_cols
    )


def bm25_topk_onepass(docs: DataFrame, k: int = BM25_TOPK) -> DataFrame:
    """Batch BM25 top-k in one corpus pass: localCheckpoint the
    bm25_doc_stats proxy (|docs| rows of 5 integers — the index's
    doc-length table), fold n/avdl/df into ONE broadcast row, and
    score row-locally. Bit-identical to bm25_topk_from over
    bm25_tf_frame/bm25_doclen_frame: per term, idf and the saturation
    run the same double ops on the same values; each (doc, term)
    contribution is round(·, 8)::DECIMAL(18,8) exactly as before, and
    a zero-tf term contributes round(0.0, 8) = 0 exactly, so the
    per-doc DECIMAL sum — order-free exact — is the same number; docs
    with no query term are filtered out, matching their absence from
    the tf frame."""
    stats = bm25_doc_stats(docs).localCheckpoint()
    aggs = [
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avdl"),
    ]
    aggs += [
        F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias(f"df{i}")
        for i in range(len(BM25_QUERY))
    ]
    g = stats.agg(*aggs)

    def contrib(i: int):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        sat = (F.col(f"tf{i}") * (BM25_K1 + 1)) / (
            F.col(f"tf{i}")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avdl"))
        )
        return F.round(idf * sat, 8).cast("decimal(18,8)")

    sc = contrib(0)
    for i in range(1, len(BM25_QUERY)):
        sc = sc + contrib(i)
    any_term = F.expr(" + ".join(f"tf{i}" for i in range(len(BM25_QUERY)))) > 0
    return (
        stats.filter(any_term)
        .crossJoin(F.broadcast(g))
        .select("doc_id", sc.alias("sc"))
        .orderBy(F.col("sc").desc(), "doc_id")
        .limit(k)
        .select("doc_id", F.col("sc").cast("double").alias("bm25_score"))
    )


def bm25_topk_from(tf: DataFrame, dl: DataFrame, k: int = BM25_TOPK) -> DataFrame:
    """Close the BM25 ranking from index frames — the streaming E25
    close (its state IS the additive tf/dl posting table, so it scores
    from the maintained frames; batch D57/D83 use the one-pass
    bm25_topk_onepass instead, bit-identical — see its docstring)."""
    n_av = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avdl"),
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    sat = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avdl"))
    )
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_av))
        .select("doc_id", F.round(idf * sat, 8).cast("decimal(18,8)").alias("c"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").alias("sc"))
        .orderBy(F.col("sc").desc(), "doc_id")
        .limit(k)
        .select("doc_id", F.col("sc").cast("double").alias("bm25_score"))
    )


# --- D58 -----------------------------------------------------------------
FERTILITY_ORACLE = r"""
WITH t AS (
  SELECT lang, source,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
           AS ws,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
           AS bpe
  FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_ish_tokens,
       CASE WHEN sum(ws) = 0 THEN NULL
            ELSE round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) END AS fertility
FROM t GROUP BY lang, source
"""


@register("tokenizer_fertility", FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): subword (BPE-ish) tokens
    per whitespace word — the diagnostic that tells you which languages
    or sources a tokenizer fragments (high fertility = more compute per
    word, worse effective context length). Uses D10's exact token
    expressions so the two stay in lockstep.

    Exactness: integer sums divided once — deterministic; empty-word
    groups emit NULL, not a division error.

    SCALE: stateless per-doc map + one (lang, source) partial agg.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "lang",
        "source",
        F.expr(r"size(filter(split(text, '\\s+'), x -> x <> ''))").cast("long").alias("ws"),
        F.expr(r"size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))")
        .cast("long")
        .alias("bpe"),
    )
    return t.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("bpe").cast("bigint").alias("bpe_ish_tokens"),
        F.when(F.sum("ws") == 0, F.lit(None))
        .otherwise(F.round(F.sum("bpe").cast("double") / F.sum("ws"), 6))
        .alias("fertility"),
    )


# --- D60 -----------------------------------------------------------------
PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS t FROM documents
),
cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vsize FROM cnt
),
contrib AS (
  SELECT toks.doc_id,
         CAST(round(-ln((cnt.c + 1.0) / (tot.n + tot.vsize)), 8)
              AS DECIMAL(18,8)) AS nll
  FROM toks JOIN cnt USING (t) CROSS JOIN tot
),
doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(nll) AS DOUBLE) / count(*) AS ce
  FROM contrib GROUP BY doc_id
),
band AS (
  SELECT CAST(sum(CAST(round(ce, 8) AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mu,
         CAST(sum(CAST(round(ce * ce, 8) AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS msq
  FROM doc
)
SELECT doc_id, n_tok,
       round(ce, 6) AS cross_entropy,
       CASE WHEN ce < b.mu THEN 'head'
            WHEN ce < b.mu + sqrt(greatest(b.msq - b.mu * b.mu, 0)) THEN 'middle'
            ELSE 'tail' END AS ppl_band
FROM doc CROSS JOIN band b
"""


@register("unigram_perplexity", PPL_ORACLE)
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-1-smoothed
    unigram LM, banded head/middle/tail RELATIVE to the corpus's own
    score distribution (cuts at mean and mean+σ from exact decimal
    moments) — the CCNet-style perplexity filter (CCNet bands by score
    terciles; the real pipeline swaps in a KenLM score, the plumbing
    and distribution-relative banding are identical). Documents with
    zero tokens emit no row (no distribution to score).

    Exactness: each token's −ln p is rounded to 8 dp and cast to
    DECIMAL before the per-doc sum (order-free, the D38 pattern);
    probabilities are exact-integer ratios with one double division.

    SCALE: the LM is the (token, count) vocab frame — built by one
    partial agg, joined back onto the token stream by its uniform hash
    key (AQE broadcasts it when it fits); per-doc reduction is a second
    partial agg. No windows, nothing pairwise.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir)
    # (doc_id, n_tok, ce) barrier: perplexity_bands_frame reads the
    # score frame twice (moment agg + banding join) — un-materialized,
    # the whole CE chain (corpus tokenize + LM join) replays per
    # reference; the checkpoint holds 3 narrow columns per doc, the
    # same blocks a persist would hold
    return perplexity_bands_frame(
        unigram_ce_frame(docs, docs).localCheckpoint()
    )


def unigram_ce_frame(docs: DataFrame, lm_docs: DataFrame) -> DataFrame:
    """(doc_id, n_tok, ce): per-doc cross-entropy of `docs` under the
    add-1 unigram LM trained on `lm_docs` — the D60 scoring kernel with
    the LM corpus as an explicit argument, which IS the KenLM-class
    swap point: CCNet scores crawl text under a held-out (Wikipedia)
    LM, and that shape is exactly `lm_docs != docs` here
    (tests/test_swap_points.py drives it with a held-out split and a
    numpy replay). Tokens unseen in the LM corpus score via the add-1
    floor p = 1/(n + |V|) (left join, count 0 — OOV-safe)."""
    toks = docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("t"))
    lm_toks = lm_docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("t"))
    # vocab-bounded barrier (the D104 rule): tot derives from cnt and
    # the scoring join reads cnt again — un-materialized, each
    # reference replays the LM-corpus tokenize+agg
    cnt = (
        lm_toks.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("vsize"),
    )
    contrib = (
        toks.join(cnt, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n") + F.col("vsize"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("nll"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        (F.sum("nll").cast("double") / F.count("*")).alias("ce"),
    )


def perplexity_bands_frame(doc: DataFrame) -> DataFrame:
    """Distribution-relative banding over ANY (doc_id, n_tok, ce) score
    frame (cuts at mean and mean+σ from exact decimal moments) — the
    D60 tail, shared by the corpus-LM default and any swapped-in
    scorer: a different LM changes the score frame, never this
    banding."""
    band = doc.agg(
        (
            F.sum(F.round(F.col("ce"), 8).cast("decimal(18,8)")).cast("double")
            / F.count("*")
        ).alias("mu"),
        (
            F.sum(F.round(F.col("ce") * F.col("ce"), 8).cast("decimal(18,8)")).cast("double")
            / F.count("*")
        ).alias("msq"),
    )
    sd = F.sqrt(F.greatest(F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    return doc.crossJoin(F.broadcast(band)).select(
        "doc_id",
        "n_tok",
        F.round("ce", 6).alias("cross_entropy"),
        F.when(F.col("ce") < F.col("mu"), "head")
        .when(F.col("ce") < F.col("mu") + sd, "middle")
        .otherwise("tail")
        .alias("ppl_band"),
    )


# --- D61 -----------------------------------------------------------------
# Stand-in blocklist (the real deployment loads the C4 badwords config);
# chosen from the synthetic vocabulary so the filter branch exercises.
BLOCKLIST = ["slow", "error", "dup"]
_BLOCK_SPARK = "array(" + ", ".join(f"'{w}'" for w in BLOCKLIST) + ")"
_BLOCK_DUCK = "[" + ", ".join(f"'{w}'" for w in BLOCKLIST) + "]"

BLOCKLIST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS ts FROM documents
)
SELECT doc_id, source,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(ts, x -> list_contains({_BLOCK_DUCK}, x))) AS BIGINT)
         AS n_blocked,
       CASE WHEN len(ts) = 0 THEN 0.0
            ELSE round(CAST(len(list_filter(ts, x -> list_contains({_BLOCK_DUCK}, x)))
                       AS DOUBLE) / len(ts), 6) END AS blocked_ratio,
       len(list_filter(ts, x -> list_contains({_BLOCK_DUCK}, x))) = 0 AS keep
FROM t
"""


@register("blocklist_filter", BLOCKLIST_ORACLE)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate: a document containing ANY blocklist
    token is dropped (C4's badwords rule); per doc the hit count, hit
    ratio, and the keep verdict — the last of the canonical filter
    set next to Gopher-quality (D15), PII (D28), language (D8), and
    perplexity (D60). The stand-in list is a config constant; the real
    deployment broadcasts its blocklist file the same way.

    SCALE: stateless per-doc array work against a broadcast-literal
    list — no shuffle at all; the per-source removal-rate rollup is
    D26's funnel job.

    Reference analogue: none (training-data pipeline family)."""
    t = _docs(spark, sf_dir).select("doc_id", "source", F.expr(TOKENS_SPARK).alias("ts"))
    hits = F.expr(f"size(filter(ts, x -> array_contains({_BLOCK_SPARK}, x)))")
    return t.select(
        "doc_id",
        "source",
        F.size("ts").cast("bigint").alias("n_tokens"),
        hits.cast("bigint").alias("n_blocked"),
        F.when(F.size("ts") == 0, F.lit(0.0))
        .otherwise(F.round(hits.cast("double") / F.size("ts"), 6))
        .alias("blocked_ratio"),
        (hits == 0).alias("keep"),
    )


# --- D75 -----------------------------------------------------------------
# Hashed-linear quality classifier (the fastText / DCLM / FineWeb-Edu
# model-filter SHAPE): NB hashed unigram buckets, one weight per
# bucket, per-doc mean weight as the decision margin. The weights here
# are derived deterministically from the bucket id (Knuth
# multiplicative hash) so the operator is oracle-checkable with no
# model file; a production deployment swaps `QC_W_EXPR` for a trained
# weight table (broadcast array, identical plan).
QC_NB = 1024          # feature buckets
QC_MULT = 2654435761  # Knuth's 2^32 / phi multiplier


def _qc_sumk(dialect: str) -> str:
    """Σ over tokens of k(t) = (bucket(t) * QC_MULT) % (2*QC_NB) — an
    exact BIGINT in both engines; the margin divides it once."""
    from ..model import H_DUCK, H_SPARK

    if dialect == "spark":
        h = H_SPARK.format(col="t")
        return (
            f"aggregate(transform(ts, t -> (({h} % {QC_NB}) * {QC_MULT}) "
            f"% {2 * QC_NB}), 0L, (a, x) -> a + x)"
        )
    h = H_DUCK.format(col="t")
    return (
        f"list_reduce(list_transform(ts, t -> (({h} % {QC_NB}) * {QC_MULT}) "
        f"% {2 * QC_NB}), (a, x) -> a + x)"
    )


def qc_frame_weights(docs: DataFrame, weights) -> DataFrame:
    """D75 with TRAINED weights — the documented swap as a tested
    function (tests/test_swap_points.py trains a real least-squares
    model and drives this kernel with it): the model is ONE array
    literal of {QC_NB} doubles riding the projection (a broadcast
    constant), score = mean over tokens of weights[bucket(t)], keep at
    margin > 0. The plan is the same zero-shuffle, zero-explode,
    zero-Python per-row fold as the bucket-derived default — swapping
    models changes one argument, nothing else.

    Exactness note: with arbitrary float weights the per-doc sum is a
    row-local sequential double fold (deterministic, but not the
    BIGINT-exact path the oracle-checked default uses — trained models
    live outside the oracle gate by nature)."""
    from ..model import H_SPARK

    if len(weights) != QC_NB:
        raise ValueError(f"need {QC_NB} weights, got {len(weights)}")
    import math

    for i, w in enumerate(weights):
        if not math.isfinite(float(w)):
            raise ValueError(
                f"weight[{i}] = {w!r} is not finite; a NaN/inf weight (e.g. "
                "from a degenerate least-squares fit) would render an invalid "
                "SQL literal — refit or clip the model before scoring"
            )
    h = H_SPARK.format(col="t")
    warr = "array(" + ", ".join(f"{float(w)!r}D" for w in weights) + ")"
    score = (
        f"aggregate(transform(ts, t -> element_at({warr}, "
        f"CAST({h} % {QC_NB} AS INT) + 1)), 0.0D, (a, x) -> a + x) / size(ts)"
    )
    m = (
        docs.select("doc_id", "source", F.expr(TOKENS_SPARK).alias("ts"))
        .filter(F.expr("size(ts) > 0"))
        .select(
            "doc_id",
            "source",
            F.expr("CAST(size(ts) AS BIGINT)").alias("n_tokens"),
            F.expr(score).alias("score"),
        )
    )
    return m.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("score", 6).alias("margin"),
        (F.col("score") > 0).alias("keep"),
    )


QC_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS ts FROM documents
),
m AS (
  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens,
         CAST({_qc_sumk('duck')} AS BIGINT) AS sum_k
  FROM t WHERE len(ts) > 0
)
SELECT doc_id, source, n_tokens,
       round(CAST(sum_k - {QC_NB} * n_tokens AS DOUBLE)
             / ({QC_NB}.0 * n_tokens), 6) AS margin,
       CAST(least(greatest(floor((CAST(sum_k - {QC_NB} * n_tokens AS DOUBLE)
             / ({QC_NB}.0 * n_tokens) + 1.0) * 5.0), 0), 9) AS INTEGER)
         AS quality_decile,
       sum_k > {QC_NB} * n_tokens AS keep
FROM m
"""


@register("quality_classifier_score", QC_ORACLE)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the published pipelines' shape
    (CCNet's LM filter, DCLM's fastText classifier, FineWeb-Edu's
    scorer): hash each token into one of {QC_NB} feature buckets, score
    the doc as the mean bucket weight (a linear model over hashed
    unigram counts), threshold at 0 for the keep decision, and bin the
    margin into quality deciles for mixture planning. Weights are
    bucket-id-derived (Knuth multiplicative hash → w(b) =
    k(b)/{QC_NB} − 1 ∈ [−1, 1)) so the operator needs no model file;
    swapping in trained weights = replacing one broadcast array, same
    plan.

    Exactness: the per-doc sum is pure BIGINT arithmetic (Σ k(t)), so
    summation order cannot matter; the margin performs ONE double
    division — bit-identical cross-engine — and the decile floors the
    same double in both dialects.

    SCALE: a pure per-row fold — the margin is computed inside the
    projection with ZERO shuffles and zero joins (the classic
    embarrassingly-parallel classifier scan); a trained weight table
    adds one broadcast. No explode: tokens never leave their row.

    Reference analogue: none — training-data quality family (model
    filter; complements D9's heuristics and D15's Gopher rules)."""
    return qc_frame(_docs(spark, sf_dir))


def qc_frame(docs: DataFrame) -> DataFrame:
    """The D75 classifier kernel over a (doc_id, source, text) frame —
    shared by batch D75 and the live E35 mixture monitor (one
    definition, so the gate and the monitor cannot drift)."""
    sum_k = _qc_sumk("spark")
    m = (
        docs.select("doc_id", "source", F.expr(TOKENS_SPARK).alias("ts"))
        .filter(F.expr("size(ts) > 0"))
        .select(
            "doc_id",
            "source",
            F.expr("CAST(size(ts) AS BIGINT)").alias("n_tokens"),
            F.expr(f"CAST({sum_k} AS BIGINT)").alias("sum_k"),
        )
    )
    margin = F.expr(
        f"CAST(sum_k - {QC_NB} * n_tokens AS DOUBLE) / ({QC_NB}.0D * n_tokens)"
    )
    return m.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(margin, 6).alias("margin"),
        F.expr(
            f"CAST(least(greatest(floor((CAST(sum_k - {QC_NB} * n_tokens AS DOUBLE)"
            f" / ({QC_NB}.0D * n_tokens) + 1.0D) * 5.0D), 0D), 9D) AS INT)"
        ).alias("quality_decile"),
        (F.col("sum_k") > QC_NB * F.col("n_tokens")).alias("keep"),
    )


# --- D84 -----------------------------------------------------------------
# Heaps'-law vocabulary-growth fit (Heaps 1978; Baeza-Yates & Ribeiro-Neto):
# V(N) ~= K * N^beta over the source's doc-id-ordered ingest prefix. The
# growth-side complement of D44's rank-frequency Zipf fit: natural text
# keeps beta ~0.4-0.6 with high r^2, while templated/synthetic or heavily
# duplicated sources saturate early (low beta) or grow linearly (beta->1,
# e.g. id-like token streams) — a standard corpus fingerprint for spotting
# both, and the estimator behind "how much vocab will 10x more data add".
HEAPS_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id, {TOKENS_DUCK} AS ts FROM documents
),
per_doc AS (
  SELECT source, doc_id, CAST(len(ts) AS BIGINT) AS n_toks FROM toks
),
first_occ AS (
  SELECT source, token, min(doc_id) AS fd
  FROM (SELECT source, doc_id, unnest(ts) AS token FROM toks)
  GROUP BY source, token
),
new_types AS (
  SELECT source, fd AS doc_id, CAST(count(*) AS BIGINT) AS nt
  FROM first_occ GROUP BY source, fd
),
curve AS (
  SELECT p.source, p.doc_id,
         sum(p.n_toks) OVER w AS big_n,
         sum(coalesce(t.nt, 0)) OVER w AS v
  FROM per_doc p LEFT JOIN new_types t USING (source, doc_id)
  WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
xy AS (
  SELECT source,
         CAST(round(ln(CAST(big_n AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
         CAST(round(ln(CAST(v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
         CAST(round(ln(CAST(big_n AS DOUBLE)) * ln(CAST(v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xy,
         CAST(round(ln(CAST(big_n AS DOUBLE)) * ln(CAST(big_n AS DOUBLE)), 8) AS DECIMAL(18,8)) AS xx,
         CAST(round(ln(CAST(v AS DOUBLE)) * ln(CAST(v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS yy,
         big_n, v
  FROM curve WHERE big_n > 0 AND v > 0
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_points,
         CAST(max(big_n) AS BIGINT) AS n_tokens,
         CAST(max(v) AS BIGINT) AS n_types,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx,
         CAST(sum(yy) AS DOUBLE) AS syy
  FROM xy GROUP BY source
)
SELECT source, n_points, n_tokens, n_types,
       CASE WHEN n_points * sxx - sx * sx = 0 THEN NULL
            ELSE round((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6) END
         AS heaps_beta,
       CASE WHEN n_points * sxx - sx * sx = 0 THEN NULL
            ELSE round((sy - (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) * sx)
                       / n_points, 6) END
         AS heaps_lnk,
       CASE WHEN (n_points * sxx - sx * sx) * (n_points * syy - sy * sy) = 0 THEN NULL
            ELSE round((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy)
                       / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy)), 6) END
         AS r2
FROM s
"""


@register("heaps_vocab_growth", HEAPS_ORACLE)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps'-law fit: OLS of ln(vocab size) on ln(cumulative
    tokens) over the doc-id-ordered ingest curve — V(N) ≈ K·N^β, the
    vocabulary-GROWTH fingerprint complementing D44's Zipf
    rank-frequency fit (the two laws are duals). Low β = the source
    saturates (templated/duplicated); β near 1 = open-ended token
    stream (ids, hashes); natural text sits between with high r².
    Also the planning estimator for "how much new vocab does 10× more
    of this source buy".

    Exactness: the curve points are exact BIGINT cumulative sums; each
    ln/product term is rounded to 8 dp and cast to DECIMAL before the
    per-source sums (exact, order-free — the D44/D38 pattern); the
    slope/intercept/r² are scalar double expressions on the sums,
    identical in both engines; degenerate fits (single point, zero
    variance) emit NULL, not inf.

    SCALE: first-occurrence is one (source, token) partial agg — the
    vocab frame, orders of magnitude smaller than the corpus; the
    cumulative window runs over ONE ROW PER DOC (two BIGINTs wide),
    partitioned by source — per-source sort parallelism, nothing
    token-sized shuffles. At extreme per-source doc counts the
    cumulative becomes the D34 two-pass range-partitioned position
    kernel; the OLS sums are map-side partial aggs.

    Reference analogue: none (training-data pipeline family — corpus
    fingerprinting next to D44/D45)."""
    toks = _docs(spark, sf_dir).select(
        "source", "doc_id", F.expr(TOKENS_SPARK).alias("ts")
    )
    per_doc = toks.select(
        "source", "doc_id", F.expr("CAST(size(ts) AS BIGINT)").alias("n_toks")
    )
    first_occ = (
        toks.select("source", "doc_id", F.explode("ts").alias("token"))
        .groupBy("source", "token")
        .agg(F.min("doc_id").alias("fd"))
    )
    new_types = (
        first_occ.groupBy("source", F.col("fd").alias("doc_id"))
        .agg(F.count("*").cast("bigint").alias("nt"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        per_doc.join(new_types, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("n_toks").over(w).alias("big_n"),
            F.sum(F.coalesce(F.col("nt"), F.lit(0))).over(w).alias("v"),
        )
        .filter((F.col("big_n") > 0) & (F.col("v") > 0))
    )
    return heaps_fit_from(heaps_moments_frame(heaps_xy_frame(curve)))


def heaps_xy_frame(curve: DataFrame) -> DataFrame:
    """8-dp-rounded DECIMAL OLS terms per curve point (the D44/D38
    pattern) — shared by batch D84 and live E40."""
    lx = F.log(F.col("big_n").cast("double"))
    ly = F.log(F.col("v").cast("double"))
    return curve.select(
        "source",
        "big_n",
        "v",
        F.round(lx, 8).cast("decimal(18,8)").alias("x"),
        F.round(ly, 8).cast("decimal(18,8)").alias("y"),
        F.round(lx * ly, 8).cast("decimal(18,8)").alias("xy"),
        F.round(lx * lx, 8).cast("decimal(18,8)").alias("xx"),
        F.round(ly * ly, 8).cast("decimal(18,8)").alias("yy"),
    )


def heaps_moments_frame(xy: DataFrame) -> DataFrame:
    """Per-source OLS moment sums over curve points. Every column is
    additive (DECIMAL sums, counts) or MAX-mergeable (running totals),
    so E40 folds per-batch moment frames into state exactly — DECIMAL
    addition is order-free, MAX is idempotent."""
    return xy.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.max("big_n").cast("bigint").alias("n_tokens"),
        F.max("v").cast("bigint").alias("n_types"),
        F.sum("x").alias("sx_d"),
        F.sum("y").alias("sy_d"),
        F.sum("xy").alias("sxy_d"),
        F.sum("xx").alias("sxx_d"),
        F.sum("yy").alias("syy_d"),
    )


def heaps_fit_from(moments: DataFrame) -> DataFrame:
    """Close the Heaps fit from per-source moment sums — shared by
    batch D84 and live E40 (fit re-derived per trigger)."""
    s = moments.select(
        "source",
        "n_points",
        "n_tokens",
        "n_types",
        F.col("sx_d").cast("double").alias("sx"),
        F.col("sy_d").cast("double").alias("sy"),
        F.col("sxy_d").cast("double").alias("sxy"),
        F.col("sxx_d").cast("double").alias("sxx"),
        F.col("syy_d").cast("double").alias("syy"),
    )
    n = F.col("n_points")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "source",
        "n_points",
        "n_tokens",
        "n_types",
        F.when(dxx == 0, F.lit(None)).otherwise(F.round(num / dxx, 6)).alias("heaps_beta"),
        F.when(dxx == 0, F.lit(None))
        .otherwise(F.round((F.col("sy") - num / dxx * F.col("sx")) / n, 6))
        .alias("heaps_lnk"),
        F.when(dxx * dyy == 0, F.lit(None))
        .otherwise(F.round(num * num / (dxx * dyy), 6))
        .alias("r2"),
    )


# --- D86 -----------------------------------------------------------------
# PMI collocation extraction (Church & Hanks 1990): pointwise mutual
# information over adjacent token pairs — the association-strength dual
# of D27's raw pair frequencies (frequent-but-independent pairs score
# ~0, "New York"-style collocations score high). The standard pass for
# multi-word-expression mining and tokenizer/vocab curation; the
# min-count floor is the published guard against rare-pair PMI blowup.
PMI_MIN_COUNT = 5
PMI_TOPK = 15

PMI_ORACLE = f"""
WITH toks AS (
  SELECT {TOKENS_DUCK} AS ts FROM documents
),
uni AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(ts) AS token FROM toks) GROUP BY token
),
n_tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM uni),
pairs AS (
  SELECT ts[i] AS tok_l, ts[i + 1] AS tok_r
  FROM toks, unnest(range(1, len(ts))) t(i)
  WHERE len(ts) >= 2
),
pc AS (
  SELECT tok_l, tok_r, CAST(count(*) AS BIGINT) AS pair_freq
  FROM pairs GROUP BY tok_l, tok_r
),
m_tot AS (SELECT CAST(sum(pair_freq) AS BIGINT) AS m FROM pc),
scored AS (
  SELECT pc.tok_l, pc.tok_r, pc.pair_freq,
         ul.freq AS freq_l, ur.freq AS freq_r,
         round(ln((CAST(pc.pair_freq AS DOUBLE) / m_tot.m)
                  / ((CAST(ul.freq AS DOUBLE) / n_tot.n)
                     * (CAST(ur.freq AS DOUBLE) / n_tot.n))), 6) AS pmi
  FROM pc
  JOIN uni ul ON ul.token = pc.tok_l
  JOIN uni ur ON ur.token = pc.tok_r
  CROSS JOIN n_tot CROSS JOIN m_tot
  WHERE pc.pair_freq >= {PMI_MIN_COUNT}
),
topk AS (
  SELECT * FROM scored ORDER BY pmi DESC, tok_l, tok_r LIMIT {PMI_TOPK}
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, tok_l, tok_r) AS INT) AS rank,
       tok_l, tok_r, pair_freq, freq_l, freq_r, pmi
FROM topk
"""


def pmi_count_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Count half of D86, shared with live E43: the exact (token, freq)
    unigram table and (tok_l, tok_r, pair_freq) adjacent-pair table of
    a (…, text) frame — ONE definition of the pair-extraction
    expression so batch D86 and E43's per-trigger folds can never
    drift."""
    toks = docs.select(F.expr(TOKENS_SPARK).alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    pc = (
        toks.filter(F.expr("size(ts) >= 2"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ts, 1, size(ts) - 1)").alias("tok_l"),
                    F.expr("slice(ts, 2, size(ts) - 1)").alias("tok_r"),
                )
            ).alias("p")
        )
        .select("p.tok_l", "p.tok_r")
        .groupBy("tok_l", "tok_r")
        .agg(F.count("*").cast("bigint").alias("pair_freq"))
    )
    return uni, pc


def pmi_topk_from(uni: DataFrame, pc: DataFrame) -> DataFrame:
    """Score-and-rank half of D86, shared with live E43: given the
    exact (token, freq) unigram table and (tok_l, tok_r, pair_freq)
    adjacent-pair table — which fold ADDITIVELY across micro-batches —
    re-derive the top-{K} PMI collocations. N and M come from the
    tables themselves (1-row broadcasts), so the kernel is a pure
    function of the counts: merged-state input equals whole-corpus
    input bit-for-bit."""
    n_tot = uni.agg(F.sum("freq").cast("bigint").alias("n"))
    m_tot = pc.agg(F.sum("pair_freq").cast("bigint").alias("m"))
    scored = (
        pc.filter(F.col("pair_freq") >= PMI_MIN_COUNT)
        .join(F.broadcast(uni.withColumnRenamed("token", "tok_l").withColumnRenamed("freq", "freq_l")), "tok_l")
        .join(F.broadcast(uni.withColumnRenamed("token", "tok_r").withColumnRenamed("freq", "freq_r")), "tok_r")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("pair_freq").cast("double") / F.col("m"))
                    / (
                        (F.col("freq_l").cast("double") / F.col("n"))
                        * (F.col("freq_r").cast("double") / F.col("n"))
                    )
                ),
                6,
            ),
        )
    )
    topk = scored.orderBy(F.col("pmi").desc(), "tok_l", "tok_r").limit(PMI_TOPK)
    return topk.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("pmi").desc(), "tok_l", "tok_r"))
        .cast("int"),
    ).select("rank", "tok_l", "tok_r", "pair_freq", "freq_l", "freq_r", "pmi")


@register("pmi_collocations", PMI_ORACLE)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990): PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) over adjacent
    token pairs with the published min-count floor — high-PMI pairs are
    the multi-word expressions a tokenizer should keep whole, and the
    association dual of D27's frequency-ranked merge pairs (a pair can
    be frequent yet independent). Top-K with per-pair uni/pair counts.

    Exactness: all counts are exact BIGINT aggregates; the PMI double
    is ONE ln of an identically-parenthesized ratio (the D44-verified
    ln agreement), rounded to 6 dp BEFORE the ordering in BOTH engines
    so sub-6-dp libm noise cannot reorder the cut; ties break on the
    token pair.

    SCALE: zip-adjacent is a per-doc map; pair and unigram counts
    partial-aggregate map-side; the unigram table is vocab-sized and
    broadcasts onto the pair table twice; N/M are 1-row broadcasts; the
    global top-K is limit-first (TakeOrderedAndProject, the D27 rule) —
    never a full sort, nothing corpus-sized shuffles twice.

    Reference analogue: none (training-data pipeline family —
    tokenizer/vocab curation next to D27/D18). Both kernels shared
    with live E43: pmi_count_frames builds the two additive count
    tables (per micro-batch there), pmi_topk_from re-derives the
    top-K."""
    uni, pc = pmi_count_frames(_docs(spark, sf_dir))
    # vocab-bounded barriers: pmi_topk_from references uni three times
    # (N total + two broadcast joins) and pc twice (M total + scoring)
    # — un-materialized, each reference replays the corpus count pass.
    # E43 is untouched: its per-tick pmi_topk_from inputs are
    # parquet-read state, already cheap to re-reference.
    return pmi_topk_from(uni.localCheckpoint(), pc.localCheckpoint())


# --- D88 -----------------------------------------------------------------
BIGRAM_PPL_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
toks AS (
  SELECT doc_id, i AS pos, ts[i] AS t
  FROM d, unnest(range(1, len(ts) + 1)) u(i)
),
uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vsize
  FROM uni
),
tok_nll AS (
  SELECT doc_id, pos,
         CAST(round(-ln((c + 1.0) / (n + vsize)), 8) AS DECIMAL(18,8)) AS nll_u
  FROM toks JOIN uni USING (t) CROSS JOIN tot
),
pairs AS (
  SELECT doc_id, ts[i] AS tok_l, ts[i + 1] AS tok_r
  FROM d, unnest(range(1, len(ts))) u(i)
  WHERE len(ts) >= 2
),
pc AS (
  SELECT tok_l, tok_r, CAST(count(*) AS BIGINT) AS pf
  FROM pairs GROUP BY tok_l, tok_r
),
ctx AS (
  SELECT tok_l, CAST(count(*) AS BIGINT) AS cx FROM pairs GROUP BY tok_l
),
bi_nll AS (
  SELECT p.doc_id,
         CAST(round(-ln(0.7 * (CAST(pf AS DOUBLE) / cx)
                        + 0.3 * ((c + 1.0) / (n + vsize))), 8)
              AS DECIMAL(18,8)) AS nll_b
  FROM pairs p
  JOIN pc USING (tok_l, tok_r)
  JOIN ctx USING (tok_l)
  JOIN uni ON uni.t = p.tok_r
  CROSS JOIN tot
),
docu AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         sum(nll_u) AS su,
         sum(CASE WHEN pos = 1 THEN nll_u END) AS fu
  FROM tok_nll GROUP BY doc_id
),
docb AS (
  SELECT doc_id, sum(nll_b) AS sb FROM bi_nll GROUP BY doc_id
)
SELECT doc_id, n_tok,
       round(CAST(su AS DOUBLE) / n_tok, 6) AS ce_unigram,
       round((CAST(fu AS DOUBLE) + coalesce(CAST(sb AS DOUBLE), 0.0))
             / n_tok, 6) AS ce_bigram,
       round(CAST(su AS DOUBLE) / n_tok
             - (CAST(fu AS DOUBLE) + coalesce(CAST(sb AS DOUBLE), 0.0))
               / n_tok, 6) AS order_gain
FROM docu LEFT JOIN docb USING (doc_id)
"""


def _bigram_streams(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared tokenization for the D88/E42 kernels: the positioned
    token stream (doc_id, pos, t) and the adjacent-pair stream
    (doc_id, tok_l, tok_r) of a (doc_id, text) frame."""
    d = docs.select("doc_id", F.expr(TOKENS_SPARK).alias("ts"))
    toks = d.select("doc_id", F.posexplode("ts").alias("pos", "t"))
    pairs = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ts, 1, size(ts) - 1)").alias("tok_l"),
                    F.expr("slice(ts, 2, size(ts) - 1)").alias("tok_r"),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.tok_l", "p.tok_r")
    )
    return toks, pairs


def bigram_lm_frames(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """LM-build half of D88: train the add-1 unigram + ML bigram model
    on a (doc_id, text) corpus. Returns (uni, pc, ctx, tot) — the
    (token, count) vocab frame, the (tok_l, tok_r, count) bigram frame,
    the (tok_l, context-count) frame, and the 1-row (n, vsize) totals.
    Each is one partial agg over the token / pair streams; E42 builds
    these ONCE from the published corpus and persists them as the
    serving index."""
    toks, pairs = _bigram_streams(docs)
    # vocab-bounded barriers (the D104 rule): tot derives from uni, ctx
    # from pc, and the scorer joins uni twice more — un-materialized,
    # each reference replays the corpus token/pair stream (the batch
    # plan read 16 corpus scans before these)
    uni = (
        toks.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    tot = uni.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("vsize"),
    )
    pc = (
        pairs.groupBy("tok_l", "tok_r")
        .agg(F.count("*").cast("bigint").alias("pf"))
        .localCheckpoint()
    )
    # ctx folds from the materialized pair table instead of re-counting
    # the corpus pair stream: sum(pf) grouped by tok_l is the same exact
    # BIGINT as count(*) over pairs grouped by tok_l — one corpus pass
    # fewer, bit-identical values
    ctx = pc.groupBy("tok_l").agg(F.sum("pf").cast("bigint").alias("cx"))
    return uni, pc, ctx, tot


def bigram_score_frame(
    docs: DataFrame,
    uni: DataFrame,
    pc: DataFrame,
    ctx: DataFrame,
    tot: DataFrame,
) -> DataFrame:
    """Scoring half of D88/E42: per-doc cross-entropies of a
    (doc_id, text) frame under a FIXED interpolated bigram LM. All LM
    joins are LEFT so out-of-vocabulary ingest text scores finitely —
    an unseen bigram falls back to the pure 0.3·p_add1 term, an unseen
    token to add-1 with count 0; on in-LM text (batch D88, the E42
    equality test) the expressions reduce bit-identically to the
    inner-join oracle values."""
    toks, pairs = _bigram_streams(docs)
    tok_nll = (
        toks.join(uni, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "pos",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n") + F.col("vsize"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("nll_u"),
        )
    )
    p_ml = F.when(
        F.col("pf").isNotNull() & F.col("cx").isNotNull(),
        F.col("pf").cast("double") / F.col("cx"),
    ).otherwise(F.lit(0.0))
    bi_nll = (
        pairs.join(pc, ["tok_l", "tok_r"], "left")
        .join(ctx, "tok_l", "left")
        .join(uni.withColumnRenamed("t", "tok_r"), "tok_r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    F.lit(0.7) * p_ml
                    + F.lit(0.3)
                    * (
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n") + F.col("vsize"))
                    )
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("nll_b"),
        )
    )
    docu = tok_nll.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        F.sum("nll_u").alias("su"),
        F.sum(F.when(F.col("pos") == 0, F.col("nll_u"))).alias("fu"),
    )
    docb = bi_nll.groupBy("doc_id").agg(F.sum("nll_b").alias("sb"))
    ce_u = F.col("su").cast("double") / F.col("n_tok")
    ce_b = (
        F.col("fu").cast("double")
        + F.coalesce(F.col("sb").cast("double"), F.lit(0.0))
    ) / F.col("n_tok")
    return (
        docu.join(docb, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.round(ce_u, 6).alias("ce_unigram"),
            F.round(ce_b, 6).alias("ce_bigram"),
            F.round(ce_u - ce_b, 6).alias("order_gain"),
        )
    )


@register("bigram_perplexity", BIGRAM_PPL_ORACLE)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer-interpolated
    BIGRAM LM trained on the corpus itself — the word-ORDER-aware
    upgrade of D60's unigram filter (the signal class a KenLM n-gram
    scorer adds in CCNet: `"the the the"` is head-band under a unigram
    model and tail-band here).  Per token at position i ≥ 2:
    p = 0.7·p_ML(t_i | t_{i−1}) + 0.3·p_add1(t_i); the document's
    first token is scored by the add-1 unigram alone.  Emits per doc
    both cross-entropies and `order_gain` = ce_unigram − ce_bigram —
    how many nats/token the local word order explains; near-zero or
    negative gain marks shuffled/bag-of-words text that D60 cannot
    distinguish from prose.

    Exactness: every −ln is rounded to 8 dp and cast to DECIMAL before
    the per-doc sum (order-free, the D38/D60 pattern); the interpolated
    probability is built from exact-integer ratios with identically
    parenthesized double arithmetic in both engines.

    SCALE: the LM is two vocab-bounded frames — (token, count) and
    (bigram, count) — each built by one partial agg over the token /
    pair streams and joined back by their uniform hash keys (AQE
    broadcasts them when they fit; at 100 TB the bigram table is large
    but ≪ corpus, and the joins co-partition on the token key).
    Per-doc reduction is one more partial agg.  No windows, nothing
    pairwise, zero Python.  Kernels shared with live E42, which trains
    the frames once from the published corpus and scores each ingest
    micro-batch statelessly.

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    uni, pc, ctx, tot = bigram_lm_frames(docs)
    return bigram_score_frame(docs, uni, pc, ctx, tot)


# --- D93 -----------------------------------------------------------------
DOREMI_ETA = 1.0  # multiplicative-weights step (weight = exp(eta * excess))

DOREMI_ORACLE = f"""
WITH t AS (
  SELECT source, {TOKENS_DUCK} AS ts FROM documents
),
tok AS (
  SELECT source, unnest(ts) AS tk FROM t
),
uni AS (
  SELECT tk, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tk
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vsize
  FROM uni
),
nll AS (
  SELECT source,
         CAST(round(-ln((c + 1.0) / (n + vsize)), 8) AS DECIMAL(18,8)) AS nll
  FROM tok JOIN uni USING (tk) CROSS JOIN tot
),
loss AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tok, sum(nll) AS sum_nll
  FROM nll GROUP BY source
),
g AS (
  SELECT sum(sum_nll) AS tot_nll, CAST(sum(n_tok) AS BIGINT) AS tot_n
  FROM loss
),
x AS (
  SELECT source, n_tok,
         CAST(sum_nll AS DOUBLE) / n_tok AS mean_ce,
         round(CAST(sum_nll AS DOUBLE) / n_tok
               - CAST(tot_nll AS DOUBLE) / tot_n, 8) AS excess
  FROM loss CROSS JOIN g
),
e AS (
  SELECT *, CAST(round(exp({DOREMI_ETA} * excess), 8) AS DECIMAL(18,8)) AS ew
  FROM x
),
d AS (
  SELECT sum(ew) AS denom FROM e
)
SELECT source, n_tok,
       round(mean_ce, 6) AS mean_ce,
       round(excess, 6) AS excess,
       round(CAST(ew AS DOUBLE) / CAST(denom AS DOUBLE), 6) AS weight
FROM e CROSS JOIN d
"""


def unigram_loss_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """LM half of D93: the add-1 unigram model (uni, tot) of a
    (source, text) corpus — one partial agg + a 1-row totals frame.
    E47 freezes these once from the published corpus (the E42 LM
    convention) and persists them as the scoring model."""
    tok = docs.select("source", F.explode(F.expr(TOKENS_SPARK)).alias("tk"))
    # vocab-bounded barrier: tot derives from uni and the scorer joins
    # uni again — un-materialized, each reference replays the corpus
    # tokenize+agg (the D104 |sources|-row rule, applied at vocab size)
    uni = (
        tok.groupBy("tk")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    tot = uni.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("vsize"),
    )
    return uni, tot


def source_loss_frame(
    docs: DataFrame, uni: DataFrame, tot: DataFrame
) -> DataFrame:
    """Scoring half of D93: (source, n_tok, sum_nll) under a FIXED
    unigram LM — sum_nll is an 8-dp DECIMAL sum, so the frame folds
    ADDITIVELY across micro-batches (the E19/E21 state class); shared
    by batch D93 and live E47. The LM join is LEFT so out-of-vocabulary
    ingest text scores through the add-1 backoff (c→0) instead of
    being silently excluded — OOV-heavy text is exactly the "hard"
    text DoReMi must up-weight, and dropping it would bias its
    domain's mean_ce LOW (the E42 kernel convention); on in-LM text
    the expression reduces bit-identically to the inner-join oracle."""
    tok = docs.select("source", F.explode(F.expr(TOKENS_SPARK)).alias("tk"))
    return (
        tok.join(uni, "tk", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n") + F.col("vsize"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("nll"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("nll").alias("sum_nll"),
        )
    )


def doremi_weights_from(loss: DataFrame) -> DataFrame:
    """Reweight half of D93, shared with live E47: given the additive
    per-source (n_tok, sum_nll) loss frame, re-derive token-weighted
    mean cross-entropies, excess over the corpus mean, and the
    multiplicative-weights mixture (weight ∝ exp(η·excess),
    DECIMAL-normalized). A pure function of the loss frame: merged
    micro-batch state equals whole-corpus input bit-for-bit."""
    g = loss.agg(
        F.sum("sum_nll").alias("tot_nll"),
        F.sum("n_tok").cast("bigint").alias("tot_n"),
    )
    mean_ce = F.col("sum_nll").cast("double") / F.col("n_tok")
    x = loss.crossJoin(F.broadcast(g)).select(
        "source",
        "n_tok",
        mean_ce.alias("mean_ce"),
        F.round(
            mean_ce - F.col("tot_nll").cast("double") / F.col("tot_n"), 8
        ).alias("excess"),
    )
    e = x.withColumn(
        "ew",
        F.round(F.exp(F.lit(DOREMI_ETA) * F.col("excess")), 8).cast(
            "decimal(18,8)"
        ),
    )
    d = e.agg(F.sum("ew").alias("denom"))
    return e.crossJoin(F.broadcast(d)).select(
        "source",
        "n_tok",
        F.round("mean_ce", 6).alias("mean_ce"),
        F.round("excess", 6).alias("excess"),
        F.round(
            F.col("ew").cast("double") / F.col("denom").cast("double"), 6
        ).alias("weight"),
    )


@register("doremi_weights", DOREMI_ORACLE)
def doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, the
    multiplicative-weights step of Group DRO): each source's
    token-weighted mean cross-entropy under the corpus's own add-1
    unigram LM (the proxy-model loss; a trained proxy swaps in as the
    same per-source loss frame), its EXCESS over the corpus-wide mean,
    and the resulting mixture weight ∝ exp(η·excess) — up-weight the
    domains the reference model finds hardest. The published
    domain-mixture optimizer next to D34/D39/D52's static mixers.

    Exactness: per-token −ln rounded 8 dp → DECIMAL sums (order-free,
    the D60 pattern); excess rounded 8 dp BEFORE the exp; each exp
    rounded 8 dp → DECIMAL before the normalizing sum, so the softmax
    denominator is order-free and the final weight is ONE double
    division.

    SCALE: the LM is the vocab frame (one partial agg, joined back by
    token hash key); per-source reduction is a second partial agg to
    an O(sources) frame; everything after is arithmetic on that tiny
    frame with 1-row broadcasts. No windows, nothing pairwise, zero
    Python. Kernels shared with live E47 (frozen LM + additive loss
    state).

    Reference analogue: none (training-data pipeline family)."""
    docs = _docs(spark, sf_dir).select("source", "text")
    uni, tot = unigram_loss_frames(docs)
    # |sources|-row barrier: doremi_weights_from references loss twice
    # and its `e` frame twice more — un-materialized, the whole scoring
    # pass (corpus tokenize + LM join) replays per reference (the plan
    # read 24 corpus scans / 62 exchanges before this and the kernel
    # checkpoint above; 2 scans / 6 exchanges after)
    loss = source_loss_frame(docs, uni, tot).localCheckpoint()
    return doremi_weights_from(loss)


# --- D97 -----------------------------------------------------------------
# Iterated BPE training (Sennrich et al. 2016): D27 counts ONE merge
# step; this runs the actual training loop — K successive merges, each
# re-counting adjacent-symbol pairs over the CURRENT segmentations and
# applying the winning rule leftmost-greedy, exactly the published
# algorithm's per-step semantics.
BPE_STEPS = 8


def _merge_oracle(steps: int, pick_ctes, union_cols: str, tokens_alias: str):
    """Shared DuckDB-oracle builder for the merge-trainer family (D97
    BPE / D101 WordPiece): the per-step pair-count CTE, the recursive
    re-segmentation walk and the apply-side fertility query are ONE
    definition — the only trainer-specific piece is `pick_ctes(i,
    prev)`, the CTE text ending in the 1-row winner b{i}, plus the
    winner's output columns and the apply side's token column name
    (review r09: the WP copy of this builder dropped the MATERIALIZED
    rationale and would have diverged on the next CTE fix).

    MATERIALIZED is load-bearing: without it every step's three
    references to w{i-1} (pair count, merge base, scalar subqueries)
    re-evaluate the whole upstream chain — an exponential
    re-execution that exhausts file descriptors on the parquet leaf
    by step ~6."""
    chain = []
    for i in range(1, steps + 1):
        prev = f"w{i - 1}"
        chain.append(f"""p{i} AS MATERIALIZED (
  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(sym_str, ' ') AS s, freq FROM {prev}),
       unnest(range(1, len(s))) t(i)
  GROUP BY l, r
),
{pick_ctes(i, prev)},
r{i} AS (
  SELECT word, freq, string_split(sym_str, ' ') AS s, 1 AS pos,
         CAST('' AS VARCHAR) AS acc
  FROM {prev}
  UNION ALL
  SELECT word, freq, s,
         CASE WHEN pos < len(s) AND s[pos] = (SELECT l FROM b{i})
                   AND s[pos + 1] = (SELECT r FROM b{i})
              THEN pos + 2 ELSE pos + 1 END,
         acc || ' ' ||
         CASE WHEN pos < len(s) AND s[pos] = (SELECT l FROM b{i})
                   AND s[pos + 1] = (SELECT r FROM b{i})
              THEN s[pos] || s[pos + 1] ELSE s[pos] END
  FROM r{i} WHERE pos <= len(s)
),
w{i} AS MATERIALIZED (
  SELECT word, freq, trim(acc) AS sym_str FROM r{i} WHERE pos = len(s) + 1
)""")
    prefix = f"""WITH RECURSIVE t AS (
  SELECT {TOKENS_DUCK} AS ts FROM documents
),
w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS sym_str
  FROM (SELECT unnest(ts) AS word FROM t)
  GROUP BY word
),
{','.join(chain)}"""
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, {union_cols} FROM b{i}" for i in range(1, steps + 1)
    )
    train = f"{prefix}\n{union}"
    # apply twin: the FINAL segmentations (w_K) applied back to the
    # per-source word occurrences — same chain, one definition.
    apply = f"""{prefix},
seg AS MATERIALIZED (
  SELECT word, CAST(len(string_split(sym_str, ' ')) AS BIGINT) AS n_syms
  FROM w{steps}
),
occ AS (
  SELECT doc_id, source, unnest({TOKENS_DUCK}) AS word FROM documents
)
SELECT o.source,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS ws_tokens,
       CAST(sum(g.n_syms) AS BIGINT) AS {tokens_alias},
       CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       round(CAST(sum(g.n_syms) AS DOUBLE) / count(*), 6) AS fertility,
       round(CAST(sum(length(o.word)) AS DOUBLE) / sum(g.n_syms), 6)
         AS chars_per_token
FROM occ o JOIN seg g ON o.word = g.word
GROUP BY o.source"""
    return train, apply


def _bpe_pick_ctes(i: int, prev: str) -> str:
    """BPE winner: most frequent pair, ties (l, r)."""
    return (
        f"b{i} AS MATERIALIZED "
        f"(SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1)"
    )


BPE_TRAIN_ORACLE, BPE_APPLY_ORACLE = _merge_oracle(
    BPE_STEPS, _bpe_pick_ctes, "l AS tok_l, r AS tok_r, cnt AS pair_freq",
    "bpe_tokens",
)


@register("bpe_train_merges", BPE_TRAIN_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE TRAINING (Sennrich et al. 2016) — the tokenizer-
    training loop D27's single-step count promised: ONE corpus scan
    reduces the log to the (word, freq) table (BPE never merges across
    word boundaries, so the count table is the entire training input —
    exactly how published trainers work), words split to characters +
    '</w>', then {BPE_STEPS} unrolled merge steps: count adjacent
    symbol pairs weighted by word freq, pick the most frequent pair
    (ties by (left, right) string order), and re-segment every word
    with the leftmost-greedy non-overlapping merge — the canonical
    rule, so runs like 'a a a a a' become 'aa aa a', not a
    replace-all. Output = the ordered merge table (step, left, right,
    pair frequency) a tokenizer ships.

    Exactness: pair counts are exact BIGINTs; the per-word merge is a
    sequential array fold (Spark higher-order `aggregate` — after a
    merge the new symbol is l||r, which can never re-trigger the same
    rule, making the fold provably equal to the position-skipping
    scan) vs a DuckDB recursive CTE walking positions with explicit
    skip — the A33/D92 fold-vs-CTE convention; property-replayed in
    pure Python.

    SCALE: the ONLY corpus-sized work is the word-frequency partial
    agg (one scan, one shuffle of (word, count) rows); all {BPE_STEPS}
    training steps run on the vocab-sized (word, freq, segmentation)
    frame — at 100 TB the vocab table is millions of rows against
    billions of documents, which is why real BPE trainers reduce to
    counts first. Each step localCheckpoints the words frame and the
    1-row winner (read twice: output + re-segmentation), the D96 rule,
    so the unrolled plan stays K linear vocab passes.

    Reference analogue: none — training-data pipeline family
    (tokenizer training; completes D27's merge-step count)."""
    merges, _final = bpe_train_frames(_bpe_words_frame(_docs(spark, sf_dir)))
    return merges


def _bpe_words_frame(docs: DataFrame) -> DataFrame:
    """(word, freq, sym_str): the BPE training input — the corpus
    reduced to word counts with char + '</w>' initial segmentations.
    The ONLY corpus-sized stage of the D97/D98 family."""
    return (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(
                "concat(trim(regexp_replace(word, '(.)', '$1 ')), ' </w>')"
            ).alias("sym_str"),
        )
        .localCheckpoint()
    )


_MERGE_FOLD = (
    "concat_ws(' ', aggregate(split(sym_str, ' '), "
    "CAST(array() AS ARRAY<STRING>), "
    "(acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = l "
    "AND x = r "
    "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))) "
    "ELSE concat(acc, array(x)) END))"
)


def _merge_fold_col(l: str, r: str):
    """_MERGE_FOLD with the winning pair bound as LITERALS (F.lit —
    never interpolated into SQL text): after the 1-row winner is
    collected, the re-segmentation no longer needs the broadcast
    crossJoin that carried (l, r) as columns. Op-for-op the same
    leftmost-greedy non-overlapping fold as _MERGE_FOLD, so the
    segmentations are bit-identical to the oracle's CTE walk."""
    la, ra, lra = F.lit(l), F.lit(r), F.lit(l + r)

    def step(acc, x):
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == ra)
        return F.when(
            hit,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)), F.array(lra)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.concat_ws(
        " ",
        F.aggregate(
            F.split(F.col("sym_str"), " "),
            F.expr("CAST(array() AS ARRAY<STRING>)"),
            step,
        ),
    )


def _merge_train_frames(words: DataFrame, steps: int, pick_best, emit_row, out_schema: str):
    """Shared K-step merge-training loop (D97 BPE / D101 WordPiece)
    over a (word, freq, sym_str) frame: per step build the exact
    pair-count frame, pick the 1-row winner via `pick_best(pairs,
    cur)` (a LAZY limit-1 plan) and COLLECT it, emit the winner via
    `emit_row(row, i)` (a plain tuple), re-segment with the canonical
    leftmost-greedy non-overlapping fold with the winner bound as
    literals (_merge_fold_col — the _MERGE_FOLD semantics, review
    r09). Returns (merges_df, final_words_df); the merge table is a
    local relation built from the collected winners.

    OPTIMIZATION r12 (guide §1.2 step 1 + §2.4): each step previously
    paid FOUR actions/exchanges — winner localCheckpoint, emptiness
    take(1), the winner's BroadcastExchange, and the words-frame
    localCheckpoint — and the wall of both trainers was pure job-launch
    latency (measured sched_overhead_share 0.95/0.96 with 56/80 stages
    per run). Collecting the 1-row winner (bounded O(1) rows — the
    model row every published trainer holds in memory; the D99
    model-collect convention) makes each step exactly TWO jobs (winner
    collect + re-segment checkpoint) with zero broadcast exchanges,
    and the K-row merge table materializes for free. The emptiness
    check is the same collect (merge exhaustion, review r08: fewer
    supportable merges than `steps` must break, not annihilate the
    vocabulary). At 100 TB the per-step frames are vocab-sized either
    way; this halves the number of vocab passes AND the job count."""
    merges_rows = []
    cur = words
    for i in range(1, steps + 1):
        pairs = (
            cur.select("freq", F.expr("split(sym_str, ' ')").alias("s"))
            .select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(s, 1, size(s) - 1)").alias("l"),
                        F.expr("slice(s, 2, size(s) - 1)").alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pick_best(pairs, cur).collect()
        if not best:
            break
        merges_rows.append(emit_row(best[0], i))
        cur = cur.select(
            "word",
            "freq",
            _merge_fold_col(best[0]["l"], best[0]["r"]).alias("sym_str"),
        ).localCheckpoint()
    return local_table(words.sparkSession, merges_rows, out_schema), cur


def bpe_train_frames(words: DataFrame):
    """The K-step BPE training chain over a (word, freq, sym_str)
    frame — ONE definition shared by D97 (returns the merge table) and
    D98 (returns the final segmentations the merges imply). Returns
    (merges_df, final_words_df)."""

    def pick(pairs, _cur):
        return pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1)

    def emit_row(row, i):
        return (i, row["l"], row["r"], row["cnt"])

    return _merge_train_frames(
        words, BPE_STEPS, pick, emit_row,
        "step int, tok_l string, tok_r string, pair_freq bigint",
    )


def _fertility_rollup(j: DataFrame, n_col: str, tokens_alias: str) -> DataFrame:
    """Per-source fertility report over a joined (doc_id, source, word,
    {n_col}) occurrence frame — ONE definition shared by the D98/D100/
    D102 apply sides.

    OPTIMIZATION r12 (unification only — NO perf claim): the previous
    single groupBy with countDistinct(doc_id) LOOKED like
    planAggregateWithOneDistinct's Expand, but the captured before-plan
    shows Spark 4 already rewrites a single distinct aggregate to this
    two-level (source, doc_id) → (source) shape — plans identical
    before/after (ex=6, hashagg=8; OPTIMIZATION_r12.md §F). The explicit
    two-level form makes the shape source-visible and shares one
    definition across the three apply sides. Integer sums are
    associative, so the totals — and the two final rounded divisions,
    which divide identical integers — are bit-identical to the
    one-level form."""
    per_doc = j.groupBy("source", "doc_id").agg(
        F.count("*").alias("_w"),
        F.sum(n_col).alias("_t"),
        F.sum(F.length("word")).alias("_c"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_w").cast("bigint").alias("ws_tokens"),
        F.sum("_t").cast("bigint").alias(tokens_alias),
        F.sum("_c").cast("bigint").alias("n_chars"),
        F.round(F.sum("_t").cast("double") / F.sum("_w"), 6).alias("fertility"),
        F.round(F.sum("_c").cast("double") / F.sum("_t"), 6).alias(
            "chars_per_token"
        ),
    )


@register("bpe_apply_fertility", BPE_APPLY_ORACLE)
def bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of D97 — the trained tokenizer applied back to
    the corpus: per source, whitespace-word occurrences, total subword
    tokens under the trained {BPE_STEPS}-merge segmentation ('</w>'
    counted with its word, the published convention), character mass,
    FERTILITY (subwords per word — D58's metric under an actually-
    trained tokenizer instead of the regex stand-in) and characters
    per trained token (the compression a vocab budget buys) — the
    numbers a tokenizer-training loop reads to decide whether more
    merges are worth it, per source.

    Exactness: integer sums (occurrences, symbol counts, char lengths)
    with two final rounded divisions; the segmentation table is D97's
    chain — one definition, so train and apply cannot drift.

    SCALE: training touches only the vocab frame (D97); the apply side
    pays one corpus token explode joined to the vocab-sized (word,
    n_syms) table by its uniform word key (AQE broadcasts it), then a
    per-source partial agg. Same-corpus training means no OOV; at
    ingest time unseen words fall back to character count + 1 — a left
    join and one coalesce, same plan.

    Reference analogue: none — training-data pipeline family
    (tokenizer training, apply/fertility side)."""
    docs = _docs(spark, sf_dir)
    _merges, final = bpe_train_frames(_bpe_words_frame(docs))
    seg = final.select(
        "word",
        F.expr("CAST(size(split(sym_str, ' ')) AS BIGINT)").alias("n_syms"),
    )
    occ = docs.select(
        "doc_id", "source", F.explode(F.expr(TOKENS_SPARK)).alias("word")
    )
    j = occ.join(seg, "word")
    return _fertility_rollup(j, "n_syms", "bpe_tokens")


# --- D101 / D102 ---------------------------------------------------------
# WordPiece tokenizer training (Schuster & Nakajima 2012 — the BERT
# family), the THIRD published tokenizer family next to D97's BPE and
# D99's unigram-LM. WordPiece's DEFINING delta from BPE is the pick
# rule: merge the pair maximizing count(pair) / (count(l)·count(r)) —
# the mutual-information / likelihood-gain merge — instead of raw pair
# frequency. The merge mechanics (leftmost-greedy non-overlapping
# re-segmentation over the (word, freq) table) are deliberately shared
# with D97 so the two trainers are comparable on equal terms; the BERT
# '##' continuation marker is display convention, not algorithm, and
# is omitted like D97 omits it.
WP_STEPS = BPE_STEPS


def _wp_pick_ctes(i: int, prev: str) -> str:
    """WordPiece winner: per-step symbol counts joined onto the pair
    table; argmax of the IEEE-double score cnt/(lcnt·rcnt) — exact
    BIGINT operands < 2^53 and correctly-rounded multiply/divide, so
    Spark and DuckDB order candidates identically (ties (l, r)). The
    winner carries the three integer operands so the shipped frame
    stays integer-exact."""
    return f"""c{i} AS MATERIALIZED (
  SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
  FROM (SELECT unnest(string_split(sym_str, ' ')) AS sym, freq FROM {prev})
  GROUP BY sym
),
b{i} AS MATERIALIZED (
  SELECT p.l, p.r, p.cnt, cl.scnt AS lcnt, cr.scnt AS rcnt
  FROM p{i} p
  JOIN c{i} cl ON cl.sym = p.l
  JOIN c{i} cr ON cr.sym = p.r
  ORDER BY CAST(p.cnt AS DOUBLE) / (CAST(cl.scnt AS DOUBLE) * CAST(cr.scnt AS DOUBLE)) DESC,
           p.l, p.r
  LIMIT 1
)"""


WP_TRAIN_ORACLE, WP_APPLY_ORACLE = _merge_oracle(
    WP_STEPS, _wp_pick_ctes,
    "l AS tok_l, r AS tok_r, cnt AS pair_freq, lcnt AS l_freq, rcnt AS r_freq",
    "wp_tokens",
)


def wp_train_frames(words: DataFrame):
    """The K-step WordPiece training chain over a (word, freq,
    sym_str) frame — ONE definition shared by D101 (merge table) and
    D102 (final segmentations): the shared _merge_train_frames loop
    with the WordPiece pick rule. Returns (merges_df,
    final_words_df)."""

    def pick(pairs, cur):
        syms = (
            cur.select("freq", F.explode(F.expr("split(sym_str, ' ')")).alias("sym"))
            .groupBy("sym")
            .agg(F.sum("freq").cast("bigint").alias("scnt"))
        )
        # WordPiece pick: argmax of cnt/(lcnt·rcnt) — IEEE doubles on
        # exact BIGINT operands order identically in Spark and DuckDB
        return (
            pairs.join(
                syms.select(F.col("sym").alias("l"), F.col("scnt").alias("lcnt")), "l"
            )
            .join(
                syms.select(F.col("sym").alias("r"), F.col("scnt").alias("rcnt")), "r"
            )
            .orderBy(
                (
                    F.col("cnt").cast("double")
                    / (F.col("lcnt").cast("double") * F.col("rcnt").cast("double"))
                ).desc(),
                "l",
                "r",
            )
            .limit(1)
        )

    def emit_row(row, i):
        return (i, row["l"], row["r"], row["cnt"], row["lcnt"], row["rcnt"])

    return _merge_train_frames(
        words, WP_STEPS, pick, emit_row,
        "step int, tok_l string, tok_r string, pair_freq bigint, "
        "l_freq bigint, r_freq bigint",
    )


@register("wordpiece_train_merges", WP_TRAIN_ORACLE)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated WordPiece TRAINING (Schuster & Nakajima 2012 — the
    BERT tokenizer family, the THIRD published trainer next to D97's
    BPE and D99's unigram-LM): same one-corpus-scan reduction to the
    (word, freq) table and the same canonical leftmost-greedy
    non-overlapping merge as D97, but each of the {WP_STEPS} steps
    merges the pair maximizing count(pair)/(count(l)·count(r)) — the
    likelihood-gain / mutual-information rule that prefers cohesive
    pairs over merely frequent ones. Output = the ordered merge table
    with the pair AND both symbol counts (the score's exact integer
    operands), so the shipped frame is integer-exact while the argmax
    itself compares IEEE doubles — exact operands < 2^53, correctly
    rounded multiply/divide, so Spark and DuckDB order candidates
    identically (ties (l, r)).

    SCALE: identical to D97 — the ONLY corpus-sized work is the
    word-frequency partial agg; every step adds one vocab-sized
    symbol-count agg + two broadcast-sized joins before the argmax,
    all on the checkpoint-bounded (word, freq, segmentation) frame.

    Reference analogue: none — training-data pipeline family
    (completes the third published tokenizer trainer)."""
    merges, _final = wp_train_frames(_bpe_words_frame(_docs(spark, sf_dir)))
    return merges


@register("wordpiece_apply_fertility", WP_APPLY_ORACLE)
def wordpiece_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of D101 (the D98/D100 twin for the WordPiece
    family): per source, word occurrences, subword tokens under the
    trained {WP_STEPS}-merge WordPiece segmentation, char mass,
    fertility and chars-per-token — so a vocab budget is now
    comparable across ALL THREE published tokenizer families (BPE /
    unigram-LM / WordPiece) on equal corpus terms.

    Exactness: integer sums with two final rounded divisions; the
    segmentation table is D101's chain — one definition, train and
    apply cannot drift.

    SCALE: training touches only the vocab frame; the apply side is
    one corpus token explode joined to the vocab-sized (word, n_syms)
    table (AQE broadcast) + a per-source partial agg — the D98 plan.

    Reference analogue: none — training-data pipeline family
    (tokenizer training, apply/fertility side)."""
    docs = _docs(spark, sf_dir)
    _merges, final = wp_train_frames(_bpe_words_frame(docs))
    seg = final.select(
        "word",
        F.expr("CAST(size(split(sym_str, ' ')) AS BIGINT)").alias("n_syms"),
    )
    occ = docs.select(
        "doc_id", "source", F.explode(F.expr(TOKENS_SPARK)).alias("word")
    )
    j = occ.join(seg, "word")
    return _fertility_rollup(j, "n_syms", "wp_tokens")


# --- D99 / D100 ----------------------------------------------------------
# Unigram-LM tokenizer training (Kudo 2018; the SentencePiece unigram
# family) — the OTHER published tokenizer endpoint next to D97's BPE:
# seed a substring vocabulary from corpus counts, run K hard-EM rounds
# (Viterbi E-step expected counts, prune to a shrinking multi-piece
# budget, +1-smoothed M-step re-estimation), ship the final (piece,
# logprob) model. D100 applies the trained model back to the corpus
# (Viterbi segmentation) and reports per-source fertility — the D98
# twin for this family.
SP_MAXL = 4  # max piece length (seed + DP lookback bound)
SP_SEED_MULTI = 40  # multi-char pieces kept at seeding
SP_MULTI_KEEP = (28, 20, 14)  # per-EM-round multi-piece budgets (~0.7 shrink)


def _sp_oracle() -> tuple[str, str]:
    """DuckDB twins of D99/D100. The Viterbi DP is a recursive CTE per
    word over prefix lengths, in PURE SCALAR form: candidate last-piece
    log-probs are pre-joined and pivoted to one (word, end-pos) row
    with lp1..lp{SP_MAXL} columns, the recursion carries a sliding
    window of the last {SP_MAXL} best scores (b0..b{SP_MAXL-1} BIGINT
    columns) plus the chosen-length HISTORY as a digit string, and the
    backtrace is a second recursion walking that string with substr.
    No LIST column ever crosses a recursion boundary: DuckDB evaluates
    both a correlated scalar subquery over a derived materialized CTE
    and element-indexing of a carried LIST(STRUCT) column
    NONDETERMINISTICALLY inside recursive CTEs (both found building
    this oracle — the forward pass was stable while the same best[k]
    read in the backtrace recursion flipped between runs).
    MATERIALIZED on every multiply-referenced CTE is load-bearing (the
    D97 exponential-re-evaluation lesson).

    Tie-break parity: the CASE ladder tests longer pieces first with
    >= comparisons, so equal scores resolve to the LONGEST last piece
    — the same (score, length) lexicographic max the Spark kernel's
    tuple compare and the pure-Python replay use."""
    subs = " UNION ALL ".join(
        f"SELECT substr(word, s + 1, {L}) AS piece, freq FROM w0, "
        f"unnest(range(length(word) - {L} + 1)) t(s)"
        for L in range(1, SP_MAXL + 1)
    )
    edges = " UNION ALL ".join(
        f"SELECT word, s + {L} AS k, {L} AS l, substr(word, s + 1, {L}) AS piece "
        f"FROM w0, unnest(range(length(word) - {L} + 1)) t(s)"
        for L in range(1, SP_MAXL + 1)
    )
    lp_pivot = ",\n         ".join(
        f"max(CASE WHEN e.l = {L} THEN v.lp END) AS lp{L}"
        for L in range(1, SP_MAXL + 1)
    )
    # x_L = score ending with a length-L piece: prev best b_{L-1} + lp_L
    xs = {L: f"(r.b{L - 1} + c.lp{L})" for L in range(1, SP_MAXL + 1)}
    # argmax with ties to the longest piece: test L descending; a NULL
    # competitor never blocks (coalesce to self).
    sel_arms = []
    for L in range(SP_MAXL, 1, -1):
        conds = [f"{xs[L]} IS NOT NULL"] + [
            f"{xs[L]} >= coalesce({xs[M]}, {xs[L]})" for M in range(L - 1, 0, -1)
        ]
        sel_arms.append(f"WHEN {' AND '.join(conds)} THEN {L}")
    sel = "CASE " + " ".join(sel_arms) + " ELSE 1 END"
    nb = (
        "CASE " + sel + " "
        + " ".join(f"WHEN {L} THEN {xs[L]}" for L in range(SP_MAXL, 1, -1))
        + f" ELSE {xs[1]} END"
    )
    init_bs = ", ".join(
        ["CAST(0 AS BIGINT) AS b0"]
        + [f"CAST(NULL AS BIGINT) AS b{i}" for i in range(1, SP_MAXL)]
    )
    shift_bs = ", ".join([f"{nb} AS b0"] + [f"r.b{i - 1} AS b{i}" for i in range(1, SP_MAXL)])

    def vit_block(tag: str, model: str) -> str:
        return f"""cand{tag} AS MATERIALIZED (
  SELECT e.word, e.k,
         {lp_pivot}
  FROM ({edges}) e JOIN {model} v ON v.piece = e.piece
  GROUP BY e.word, e.k
),
vit{tag} AS (
  SELECT word, freq, 0 AS k, {init_bs}, '' AS hist FROM w0
  UNION ALL
  SELECT r.word, r.freq, r.k + 1, {shift_bs},
         r.hist || CAST({sel} AS VARCHAR) AS hist
  FROM vit{tag} r JOIN cand{tag} c ON c.word = r.word AND c.k = r.k + 1
),
f{tag} AS MATERIALIZED (
  SELECT word, freq, hist FROM vit{tag} WHERE k = length(word)
),
bt{tag} AS (
  SELECT word, freq, length(word) AS k, hist FROM f{tag}
  UNION ALL
  SELECT word, freq, k - CAST(substr(hist, k, 1) AS INT), hist
  FROM bt{tag} WHERE k > 0
)"""

    def lp_expr(cnt: str, total_from: str) -> str:
        return (
            f"CAST(round(ln(CAST({cnt} AS DOUBLE) / (SELECT CAST(sum(cnt + 1) "
            f"AS DOUBLE) FROM {total_from})), 8) AS DECIMAL(18,8))"
        )

    chain = []
    for r, keep in enumerate(SP_MULTI_KEEP, 1):
        prev = f"l{r - 1}"
        lpd = lp_expr("cnt + 1", f"k{r}")
        chain.append(f"""{vit_block(str(r), prev)},
c{r} AS MATERIALIZED (
  SELECT substr(word, k - CAST(substr(hist, k, 1) AS INT) + 1,
                CAST(substr(hist, k, 1) AS INT)) AS piece,
         CAST(sum(freq) AS BIGINT) AS cnt
  FROM bt{r} WHERE k > 0 GROUP BY piece
),
k{r} AS MATERIALIZED (
  SELECT v.piece, v.len, coalesce(c.cnt, 0) AS cnt
  FROM {prev} v LEFT JOIN c{r} c ON v.piece = c.piece WHERE v.len = 1
  UNION ALL
  SELECT * FROM (
    SELECT v.piece, v.len, coalesce(c.cnt, 0) AS cnt
    FROM {prev} v LEFT JOIN c{r} c ON v.piece = c.piece WHERE v.len > 1
    ORDER BY cnt DESC, v.piece LIMIT {keep})
),
l{r} AS MATERIALIZED (
  SELECT piece, len, cnt, {lpd} AS lpd,
         CAST({lpd} * 100000000 AS BIGINT) AS lp
  FROM k{r}
)""")
    last = f"l{len(SP_MULTI_KEEP)}"
    seed_lpd = (
        "CAST(round(ln(CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) "
        "FROM v0)), 8) AS DECIMAL(18,8))"
    )
    prefix = f"""WITH RECURSIVE t AS (SELECT {TOKENS_DUCK} AS ts FROM documents),
w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(ts) AS word FROM t) GROUP BY word
),
sub AS MATERIALIZED (
  SELECT piece, length(piece) AS len, CAST(sum(freq) AS BIGINT) AS cnt
  FROM ({subs}) GROUP BY piece
),
v0 AS MATERIALIZED (
  SELECT piece, len, cnt FROM sub WHERE len = 1
  UNION ALL
  SELECT * FROM (SELECT piece, len, cnt FROM sub WHERE len > 1
                 ORDER BY cnt DESC, piece LIMIT {SP_SEED_MULTI})
),
l0 AS MATERIALIZED (
  SELECT piece, len, CAST({seed_lpd} * 100000000 AS BIGINT) AS lp
  FROM v0
),
{','.join(chain)}"""
    train = f"""{prefix}
SELECT piece, CAST(len AS BIGINT) AS piece_len, cnt AS em_cnt,
       CAST(lpd AS DOUBLE) AS logprob,
       CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS vrank
FROM {last}"""
    apply = f"""{prefix},
{vit_block("F", last)},
seg AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
  FROM btF WHERE k > 0 GROUP BY word
),
occ AS (
  SELECT doc_id, source, unnest({TOKENS_DUCK}) AS word FROM documents
)
SELECT o.source,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS ws_tokens,
       CAST(sum(g.n_pieces) AS BIGINT) AS sp_tokens,
       CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       round(CAST(sum(g.n_pieces) AS DOUBLE) / count(*), 6) AS fertility,
       round(CAST(sum(length(o.word)) AS DOUBLE) / sum(g.n_pieces), 6)
         AS chars_per_token
FROM occ o JOIN seg g ON o.word = g.word
GROUP BY o.source"""
    return train, apply


UNIGRAM_TRAIN_ORACLE, UNIGRAM_APPLY_ORACLE = _sp_oracle()


def _sp_words_frame(docs: DataFrame) -> DataFrame:
    """(word, freq): the unigram-LM training input — the corpus reduced
    to word counts (like BPE, the unigram trainer never crosses word
    boundaries, so counts are the entire training input). The ONLY
    corpus-sized stage of the D99/D100 family."""
    return (
        docs.select(F.explode(F.expr(TOKENS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .localCheckpoint()
    )


UNK_LP_MICRO = -30 * 10**8  # unk-char floor: ln p = -30 in 1e-8 micro-units


def _sp_viterbi_kernel(vocab: dict, maxl: int, mode: str):
    """Arrow-batched Viterbi kernel over the (word, freq) frame with
    the model as a closure-captured plain dict {piece: lp_micro} —
    integer micro-unit (1e-8) scores, so the DP is BIGINT-exact in
    Spark, DuckDB and the pure-Python replay alike. Tie-break: max
    (score, last-piece-length) — the struct field-major comparison the
    oracle's list_reduce uses. mode='counts' emits per-batch
    (piece, freq-weighted use count) partials (map-side combine before
    the vocab-sized shuffle); mode='npieces' emits (word, n_pieces).
    Everything the closure touches is defined inline (the D46
    cloudpickle rule), so executors never import this package.

    OOV-charset floor: single chars are never pruned, so any word over
    the TRAINED charset always segments; a character the model never
    saw (impossible for the oracle-checked same-corpus ops, reachable
    for live ingest through E51) scores the documented floor
    UNK_LP_MICRO = -30e8 (ln p = -30, far below any trained piece) as
    its own single-char piece — the SentencePiece unk convention — so
    the DP is total and a stray byte can never kill a trigger."""
    vb = dict(vocab)
    unk = UNK_LP_MICRO

    def run(batches):
        import pandas as pd

        def viterbi(word):
            n = len(word)
            best = [(0, 0)] + [None] * n
            for k in range(1, n + 1):
                b = None
                for l in range(1, min(maxl, k) + 1):
                    v = vb.get(word[k - l : k])
                    if v is None:
                        continue
                    prev = best[k - l]
                    if prev is None:
                        continue
                    cand = (prev[0] + v, l)
                    if b is None or cand > b:
                        b = cand
                if b is None:  # unseen char: the unk single-char floor
                    b = (best[k - 1][0] + unk, 1)
                best[k] = b
            pieces, k = [], n
            while k > 0:
                l = best[k][1]
                pieces.append(word[k - l : k])
                k -= l
            return pieces

        for pdf in batches:
            if mode == "counts":
                acc: dict = {}
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    for p in viterbi(word):
                        acc[p] = acc.get(p, 0) + int(freq)
                yield pd.DataFrame(
                    {"piece": list(acc.keys()), "cnt": list(acc.values())}
                )
            else:
                yield pd.DataFrame(
                    {
                        "word": pdf["word"],
                        "n_pieces": [len(viterbi(w)) for w in pdf["word"]],
                    }
                )

    return run


def _sp_lp_frame(kept: DataFrame, smooth: int) -> DataFrame:
    """M-step: (piece, len, cnt) → + (lpd DECIMAL(18,8), lp BIGINT
    micro-units): lp = round(ln((cnt+smooth)/Σ(cnt+smooth)), 8). The
    total is a 1-row broadcast (house pattern); DECIMAL → micro BIGINT
    is exact in both engines."""
    tot = kept.agg(
        F.sum(F.col("cnt") + F.lit(smooth)).cast("double").alias("lm_total")
    )
    return (
        kept.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "len",
            "cnt",
            F.round(
                F.log((F.col("cnt") + F.lit(smooth)).cast("double") / F.col("lm_total")),
                8,
            )
            .cast("decimal(18,8)")
            .alias("lpd"),
        )
        .withColumn("lp", (F.col("lpd") * 100000000).cast("bigint"))
    )


def sp_seed_frame(words: DataFrame) -> DataFrame:
    """Seed vocabulary: every substring of length 1..{SP_MAXL} of every
    word, occurrence-weighted by word freq (multiplicity within a word
    counts, the suffix-count convention); ALL single chars (required
    coverage — never pruned, so every word stays segmentable) + the top
    {SP_SEED_MULTI} multi-char pieces by (count, piece). Vocab-sized
    work: the explode runs on the distinct-word frame, not the
    corpus."""
    sub = (
        words.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, least({SP_MAXL}, length(word))), "
                    f"L -> transform(sequence(1, length(word) - L + 1), "
                    f"s -> substring(word, s, L))))"
                )
            ).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .withColumn("len", F.length("piece"))
    )
    chars = sub.filter(F.col("len") == 1)
    multi = (
        sub.filter(F.col("len") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(SP_SEED_MULTI)
    )
    return chars.unionByName(multi).select("piece", "len", "cnt")


def sp_train_frames(words: DataFrame):
    """The hard-EM training chain over a (word, freq) frame — ONE
    definition shared by D99 (returns the final model) and D100
    (segments under it), so train and apply cannot drift. Per round:
    collect the O(V) model (the published trainer's own in-memory
    residency — a vocabulary, not data; it rides back to executors as
    the Viterbi kernel's closure), E-step Viterbi counts with map-side
    partial aggregation, prune multi-char pieces to the round's budget
    (chars always kept — coverage), +1-smoothed M-step. Each round
    localCheckpoints (the D96/D97 unrolled-loop rule).

    OPTIMIZATION r12 note (measured, kept AS-IS): replacing the
    per-round localCheckpoint+collect pair with a single collect that
    re-enters the model as a local relation looked like a 1-job-per-
    round saving but measured 2.4x SLOWER (exec 7.9 s → 133 s): the
    checkpoint boundary is what lets ReuseExchange dedupe the E-step
    subtree across its four references in the prune/M-step chain;
    without it the mapInPandas E-step re-executed per reference. The
    interleaved A/B is recorded in OPTIMIZATION_r12.md."""
    v = _sp_lp_frame(sp_seed_frame(words), 0).localCheckpoint()
    for keep in SP_MULTI_KEEP:
        vocab = {r["piece"]: r["lp"] for r in v.select("piece", "lp").collect()}
        counts = (
            words.mapInPandas(
                _sp_viterbi_kernel(vocab, SP_MAXL, "counts"),
                schema="piece string, cnt long",
            )
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        joined = (
            v.select("piece", "len")
            .join(counts, "piece", "left")
            .select("piece", "len", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"))
        )
        chars = joined.filter(F.col("len") == 1)
        multi = (
            joined.filter(F.col("len") > 1)
            .orderBy(F.col("cnt").desc(), "piece")
            .limit(keep)
        )
        v = _sp_lp_frame(chars.unionByName(multi), 1).localCheckpoint()
    return v


@register("unigram_lm_train", UNIGRAM_TRAIN_ORACLE)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D99: unigram-LM tokenizer TRAINING (Kudo 2018 — the
    SentencePiece unigram family; the other published tokenizer
    endpoint next to D97's BPE). Seed = all ≤{SP_MAXL}-char substrings
    of the word-count table ({SP_SEED_MULTI} best multi-char pieces +
    every single char); then {len(SP_MULTI_KEEP)} hard-EM rounds: the
    E-step Viterbi-segments every distinct word under the current
    piece log-probs (integer micro-unit scores; ties to the longest
    last piece) and accumulates freq-weighted piece-use counts, the
    prune step keeps the round's multi-piece budget by (count, piece)
    with single chars never pruned (required character coverage, the
    published trainer's rule), and the M-step re-estimates
    +1-smoothed log-probs. Output = the shipped model: (piece,
    piece_len, em_cnt, logprob, vrank).

    Exactness: counts are exact BIGINTs; log-probs are
    round(ln(·), 8) DECIMAL(18,8) (the Zipf/tfidf ln convention) and
    enter the DP as exact 1e-8 micro-unit BIGINTs, so Viterbi scores,
    tie-breaks, prunes and ranks are bit-identical in Spark, the
    DuckDB recursive-CTE oracle, and the pure-Python property replay
    (hard EM — the Viterbi-approximated E-step variant of Kudo's
    forward-backward EM; count-based pruning stands in for the
    likelihood-loss prune, both documented simplifications).

    SCALE: the ONLY corpus-sized work is the word-frequency partial
    agg (one scan — shared shape with D97); seeding explodes
    substrings of the DISTINCT-WORD frame; every EM round is one
    Arrow-batched integer DP over that same frame (O(len·{SP_MAXL})
    per word) + a vocab-sized shuffle of map-side-combined counts.
    The model collect is O(V) rows — the in-memory model every
    published trainer holds; it returns to executors as a broadcast
    closure. At 100 TB: corpus 10^11 docs → words frame ~10^7 rows;
    all {len(SP_MULTI_KEEP)} rounds touch only that.

    Reference analogue: none — training-data pipeline family
    (tokenizer training; completes the unigram-LM endpoint D97/D98
    left open)."""
    final = sp_train_frames(_sp_words_frame(_docs(spark, sf_dir)))
    w = Window.orderBy(F.col("cnt").desc(), "piece")
    return final.select(
        "piece",
        F.col("len").cast("bigint").alias("piece_len"),
        F.col("cnt").alias("em_cnt"),
        F.col("lpd").cast("double").alias("logprob"),
        F.row_number().over(w).cast("bigint").alias("vrank"),
    )


@register("unigram_lm_fertility", UNIGRAM_APPLY_ORACLE)
def unigram_lm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D100: the ENCODE side of D99 — the trained unigram-LM applied
    back to the corpus (Viterbi segmentation under the final model,
    the same shared kernel the E-step used, so train and apply cannot
    drift): per source, word occurrences, total unigram-LM pieces,
    character mass, fertility (pieces per word) and characters per
    piece — D98's report under the OTHER tokenizer family, so a vocab
    budget can be compared across BPE and unigram-LM on equal terms.

    Exactness: integer sums + two final rounded divisions (the D98
    convention); segmentation ties identical to D99's DP.

    SCALE: training = D99 (vocab-sized); apply = one corpus token
    explode joined to the vocab-of-words-sized (word, n_pieces) table
    (AQE broadcasts it) + a per-source partial agg — the D98 plan.
    Same-corpus training ⇒ no OOV; unseen-charset ingest would take
    the same left join + per-char fallback.

    Reference analogue: none — training-data pipeline family
    (tokenizer apply/fertility, unigram-LM side)."""
    docs = _docs(spark, sf_dir)
    words = _sp_words_frame(docs)
    final = sp_train_frames(words)
    vocab = {r["piece"]: r["lp"] for r in final.select("piece", "lp").collect()}
    seg = words.mapInPandas(
        _sp_viterbi_kernel(vocab, SP_MAXL, "npieces"),
        schema="word string, n_pieces long",
    )
    occ = docs.select(
        "doc_id", "source", F.explode(F.expr(TOKENS_SPARK)).alias("word")
    )
    j = occ.join(seg, "word")
    return _fertility_rollup(j, "n_pieces", "sp_tokens")
