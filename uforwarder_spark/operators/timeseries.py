"""D53: time-series similarity search over the events log — the
z-normalized Euclidean-distance top-k of the UCR-suite baseline (and of
the EDBT'19 streaming-similarity / ICDE'21 top-k trajectory retrieval
line of work), re-expressed as DataFrame ops.

Each user's event-value sequence (ordered by event_id — unique and
monotone, so the series is generation-proof against the driver's three
parquet ts encodings) is truncated to a fixed window, z-normalized, and
compared to the query user's normalized shape. All reductions are
sequential array folds (Spark ``aggregate`` with 0.0 init == DuckDB
``list_reduce``), so distances — and the top-k cut — are bit-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import load_table
from ..registry import register

TS_LEN = 16  # fixed comparison window (first TS_LEN points per user)
TS_TOPK = 10

_FOLD_SUM_SPARK = "aggregate({v}, 0.0D, (a, x) -> a + x)"
_FOLD_SUM_DUCK = "list_reduce({v}, (a, x) -> a + x)"


TS_TOPK_ORACLE = f"""
WITH s AS (
  SELECT user_id, list(value ORDER BY event_id) AS vs
  FROM events GROUP BY user_id
),
v AS (
  SELECT user_id, vs[1:{TS_LEN}] AS v FROM s WHERE len(vs) >= {TS_LEN}
),
m AS (
  SELECT user_id, v,
         {_FOLD_SUM_DUCK.format(v='v')} / {TS_LEN}.0 AS mu,
         {_FOLD_SUM_DUCK.format(v='list_transform(v, x -> x * x)')} / {TS_LEN}.0 AS msq
  FROM v
),
z AS (
  SELECT user_id,
         list_transform(v, x -> (x - mu) / sqrt(msq - mu * mu)) AS z
  FROM m WHERE msq - mu * mu > 0
),
q AS (SELECT z AS qz FROM z WHERE user_id = (SELECT min(user_id) FROM z)),
d AS (
  SELECT z.user_id,
         sqrt({_FOLD_SUM_DUCK.format(
             v='list_transform(range(' + str(TS_LEN) + '), i -> '
               '(z.z[i+1] - q.qz[i+1]) * (z.z[i+1] - q.qz[i+1]))')}) AS dist
  FROM z CROSS JOIN q
  WHERE z.user_id <> (SELECT min(user_id) FROM z)
)
SELECT user_id, round(dist, 6) AS znorm_ed
FROM d ORDER BY dist, user_id LIMIT {TS_TOPK}
"""


@register("timeseries_znorm_topk", TS_TOPK_ORACLE)
def timeseries_znorm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-series similarity search: which users' event-value series
    have the same SHAPE as the query user's (the qualifying user with
    the smallest id)? Series are the first TS_LEN points by event_id,
    z-normalized (shape match, not level match — the UCR baseline), and
    ranked by Euclidean distance; constant series (zero variance) are
    excluded because their shape is undefined.

    SCALE: one (user) partial agg builds every series — the per-user
    sort is an ARRAY sort inside the agg row, never a corpus-wide
    window; the query row broadcasts; the top-k is per-partition
    TakeOrdered + a {TS_TOPK}-row merge, no global sort. At 100 TB the
    series table is the persisted feature store and only the distance
    scan reruns per query.

    Reference analogue: none (events-domain analytics family; the
    EDBT'19/ICDE'21 distributed similarity-search pattern)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    s = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id, value))), p -> p.value)"
        ).alias("vs")
    )
    v = s.filter(F.size("vs") >= TS_LEN).select(
        "user_id", F.expr(f"slice(vs, 1, {TS_LEN})").alias("v")
    )
    m = v.select(
        "user_id",
        "v",
        (F.expr(_FOLD_SUM_SPARK.format(v="v")) / TS_LEN).alias("mu"),
        (F.expr(_FOLD_SUM_SPARK.format(v="transform(v, x -> x * x)")) / TS_LEN).alias("msq"),
    )
    z = m.filter(F.col("msq") - F.col("mu") * F.col("mu") > 0).select(
        "user_id",
        F.expr("transform(v, x -> (x - mu) / sqrt(msq - mu * mu))").alias("z"),
    )
    qmin = z.agg(F.min("user_id").alias("qid"))
    q = z.join(F.broadcast(qmin), F.col("user_id") == F.col("qid")).select(
        F.col("z").alias("qz"), "qid"
    )
    # Spark [] indexing is 0-based (DuckDB's is 1-based — the oracle
    # uses i+1 for the same element)
    diff = (
        f"transform(sequence(0, {TS_LEN - 1}), "
        "i -> (z[i] - qz[i]) * (z[i] - qz[i]))"
    )
    return (
        z.crossJoin(F.broadcast(q))
        .filter(F.col("user_id") != F.col("qid"))
        .withColumn("dist", F.sqrt(F.expr(_FOLD_SUM_SPARK.format(v=diff))))
        .orderBy("dist", "user_id")
        .limit(TS_TOPK)
        .select("user_id", F.round("dist", 6).alias("znorm_ed"))
    )


# --- D54 -----------------------------------------------------------------
# HDR-style log-scale histogram quantiles: bucket boundaries 2^(k/8) are
# DATA-INDEPENDENT constants, so bucket counts merge by plain addition —
# the streaming-safe quantile sketch (unlike equi-width bins, whose
# range depends on the data). 8 sub-buckets per octave bounds the
# relative quantile error at ~2^(1/16)-1 ≈ 4.4% (geometric midpoint).
HDR_SUBDIV = 8
HDR_LO_EXP, HDR_HI_EXP = -7, 10  # covers (2^-7, 2^10) = (0.0078, 1024)
HDR_BOUNDS = [
    2.0 ** (k / HDR_SUBDIV) for k in range(HDR_LO_EXP * HDR_SUBDIV, HDR_HI_EXP * HDR_SUBDIV + 1)
]
HDR_QS = [0.5, 0.95, 0.99]

_B_SPARK = "array(" + ", ".join(repr(b) for b in HDR_BOUNDS) + ")"
_B_DUCK = "([" + ", ".join(repr(b) for b in HDR_BOUNDS) + "]::DOUBLE[])"
_QS_DUCK = "[" + ", ".join(f"{q!r}::DOUBLE" for q in HDR_QS) + "]"

HDR_ORACLE = f"""
WITH e AS (
  SELECT event_type AS topic, value AS v FROM events
),
b AS (
  SELECT topic,
         greatest(len(list_filter({_B_DUCK}, t -> v >= t)) - 1, 0) AS bucket
  FROM e
),
cnt AS (SELECT topic, bucket, count(*) AS c FROM b GROUP BY topic, bucket),
cum AS (
  SELECT topic, bucket, c,
         sum(c) OVER (PARTITION BY topic ORDER BY bucket) AS cum,
         sum(c) OVER (PARTITION BY topic) AS n
  FROM cnt
),
hit AS (
  SELECT topic, q, min(bucket) AS qb
  FROM cum CROSS JOIN unnest({_QS_DUCK}) AS t(q)
  WHERE cum >= q * n
  GROUP BY topic, q
),
vc AS (
  SELECT topic, v, count(*) AS c FROM e GROUP BY topic, v
),
vcum AS (
  SELECT topic, v,
         sum(c) OVER (PARTITION BY topic ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY topic) AS n
  FROM vc
),
probe AS (
  SELECT topic, v, cum, q, 1 + q * (n - 1) AS pos
  FROM vcum CROSS JOIN unnest({_QS_DUCK}) AS t(q)
),
ostat AS (
  SELECT topic, q, min(pos) AS pos,
         min(CASE WHEN cum >= floor(pos) THEN v END) AS x1,
         min(CASE WHEN cum >= ceil(pos) THEN v END) AS x2
  FROM probe GROUP BY topic, q
),
exact AS (
  SELECT topic, q, x1 + (pos - floor(pos)) * (x2 - x1) AS exact_v FROM ostat
)
SELECT h.topic, round(h.q, 2) AS q,
       round(sqrt({_B_DUCK}[h.qb + 1] * {_B_DUCK}[h.qb + 2]), 6) AS est_value,
       round(x.exact_v, 6) AS exact_value,
       CASE WHEN x.exact_v = 0 THEN NULL ELSE
         round(abs(sqrt({_B_DUCK}[h.qb + 1] * {_B_DUCK}[h.qb + 2]) - x.exact_v)
               / x.exact_v, 6) END AS rel_error
FROM hit h JOIN exact x ON x.topic = h.topic AND x.q = h.q
"""


@register("hdr_histogram_quantiles", HDR_ORACLE)
def hdr_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a log-scale (HDR-style) histogram sketch: each
    value lands in the 2^(k/8) bucket whose boundary array is a FIXED
    literal, the per-(topic, bucket) counts are the sketch, and
    p50/p95/p99 are read off the cumulative counts (geometric-midpoint
    estimate) next to the exact percentile and the relative error the
    bucket resolution actually cost — the mergeable alternative A12's
    docstring promises for 100 TB. The audit's exact percentile is
    itself computed scale-soundly: from (topic, value) COUNTS (the
    value column has fixed decimal scale, so the frame is bounded), not
    from a buffer-every-value percentile aggregate.

    Exactness: bucket assignment counts FIXED double literals ≤ v (both
    engines compare the same 137 constants — no libm log2 divergence),
    and the estimate is scalar math on two of those constants.

    SCALE: the sketch is the point — counts are a (topic, ≤137-bucket)
    partial agg (fixed width, map-side combined, additive merge — the
    same counts a streaming monitor accumulates per trigger, see E23);
    the cumulative window runs over ≤137 rows per topic. The exact
    percentile exists ONLY as the audit branch.

    Reference analogue: WindowedAggregator / LatencyTracker's
    percentile role (uforwarder worker), re-done sketch-mergeable."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("topic"), F.col("value").alias("v")
    )
    cnt = hdr_bucket_counts_frame(ev)
    est_frame = hdr_quantiles_frame(cnt)
    # Exact-percentile audit WITHOUT the buffer-everything percentile()
    # aggregate (which holds every group value in one agg buffer — the
    # docs/SCALE.md OOM shape, and the one super-linear stage in the 10x
    # replication run): the value column has fixed 2-decimal scale, so
    # the interpolated order statistic x_k1 + frac*(x_k2 - x_k1) is
    # recovered exactly from a bounded (topic, value)-counts frame —
    # partial-agg + a window over value-cardinality rows.
    from pyspark.sql import Window

    vc = ev.groupBy("topic", "v").agg(F.count("*").alias("c"))
    vcum = vc.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("topic").orderBy("v"))
    ).withColumn("n", F.sum("c").over(Window.partitionBy("topic")))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in HDR_QS])).alias("q")
    )
    probe = vcum.crossJoin(F.broadcast(qs)).withColumn(
        "pos", 1 + F.col("q") * (F.col("n") - 1)
    )
    ostat = probe.groupBy("topic", "q").agg(
        F.min("pos").alias("pos"),
        F.min(F.when(F.col("cum") >= F.floor("pos"), F.col("v"))).alias("x1"),
        F.min(F.when(F.col("cum") >= F.ceil("pos"), F.col("v"))).alias("x2"),
    )
    exact = ostat.select(
        "topic",
        "q",
        (
            F.col("x1") + (F.col("pos") - F.floor("pos")) * (F.col("x2") - F.col("x1"))
        ).alias("exact_v"),
    )
    return (
        est_frame.join(exact, ["topic", "q"])
        .select(
            "topic",
            F.round("q", 2).alias("q"),
            F.round("est", 6).alias("est_value"),
            F.round("exact_v", 6).alias("exact_value"),
            # NULL (both engines) when the exact quantile is 0 — an
            # all-zero topic has no meaningful relative error, and
            # IEEE x/0 semantics differ across engines.
            F.when(
                F.col("exact_v") != 0,
                F.round(F.abs(F.col("est") - F.col("exact_v")) / F.col("exact_v"), 6),
            ).alias("rel_error"),
        )
    )


def hdr_bucket_counts_frame(ev: DataFrame) -> DataFrame:
    """(topic, bucket, c): the HDR sketch — bucket ids come from FIXED
    literals, so counts from different batches merge by plain addition
    (streaming E23's state update)."""
    # Values below the lowest trackable bound clamp into bucket 0 (the
    # standard HDR lowest-bucket rule). Without the clamp a sub-range
    # value yields bucket -1, and a quantile landing there would make
    # element_at(bounds, 0) raise INVALID_INDEX_OF_ZERO in Spark while
    # DuckDB's bounds[0] silently returns NULL — a data-dependent crash
    # AND an engine divergence. Merging -1 into 0 leaves every
    # cumulative count at buckets >= 0 unchanged, so in-range outputs
    # are bit-identical.
    b = ev.select(
        "topic",
        F.greatest(
            F.expr(f"size(filter({_B_SPARK}, t -> v >= t))") - 1, F.lit(0)
        ).alias("bucket"),
    )
    return b.groupBy("topic", "bucket").agg(F.count("*").alias("c"))


def hdr_quantiles_frame(cnt: DataFrame) -> DataFrame:
    """Close the quantile estimates from a bucket-count frame:
    (topic, q, est) — shared with streaming E23. The cumulative window
    runs over the sketch (≤ len(HDR_BOUNDS) rows per topic)."""
    from pyspark.sql import Window

    spark = cnt.sparkSession
    wcum = Window.partitionBy("topic").orderBy("bucket")
    wn = Window.partitionBy("topic")
    cum = cnt.withColumn("cum", F.sum("c").over(wcum)).withColumn("n", F.sum("c").over(wn))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in HDR_QS])).alias("q")
    )
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("topic", "q")
        .agg(F.min("bucket").alias("qb"))
    )
    lo = F.expr(f"element_at({_B_SPARK}, qb + 1)")
    hi = F.expr(f"element_at({_B_SPARK}, qb + 2)")
    return hit.select("topic", "q", F.sqrt(lo * hi).alias("est"))


# --- D56 -----------------------------------------------------------------
OUTLIER_WIN_S = 300  # 5-minute windows
OUTLIER_SIGMA = 2.0  # |v - mean| > sigma * std flags an anomaly

OUTLIER_ORACLE = f"""
WITH e AS (
  SELECT event_type AS topic,
         (epoch_ms(ts) // 1000 // {OUTLIER_WIN_S}) * {OUTLIER_WIN_S} AS window_epoch,
         value AS v
  FROM events
),
stats AS (
  SELECT topic, window_epoch,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v::DECIMAL(18,2)) AS DOUBLE) / count(*) AS mu,
         CAST(sum((v::DECIMAL(18,2)) * (v::DECIMAL(18,2))) AS DOUBLE) / count(*) AS msq
  FROM e GROUP BY topic, window_epoch
),
flagged AS (
  SELECT e.topic, e.window_epoch, s.n, s.mu, s.msq,
         CASE WHEN abs(e.v - s.mu) > {OUTLIER_SIGMA} * sqrt(greatest(s.msq - s.mu * s.mu, 0))
              THEN 1 ELSE 0 END AS is_out
  FROM e JOIN stats s ON s.topic = e.topic AND s.window_epoch = e.window_epoch
)
SELECT topic, window_epoch, n,
       CAST(sum(is_out) AS BIGINT) AS n_outliers,
       round(min(mu), 6) AS mean_v,
       round(sqrt(greatest(min(msq) - min(mu) * min(mu), 0)), 6) AS std_v
FROM flagged GROUP BY topic, window_epoch, n
"""


@register("window_outliers", OUTLIER_ORACLE)
def window_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: per (topic, 5-min window) population
    mean/std of the metric, and the count of events deviating more than
    OUTLIER_SIGMA standard deviations — the monitoring primitive behind
    metric alerting (a z-score gate needs no ordering, so unlike a
    rolling-window formulation it has no per-event sequential state).

    Exactness: the value column carries 2 decimal places, so sums of
    DECIMAL(18,2) (and squares at scale 4) are EXACT and order-free;
    mean/std derive from the two exact sums with one division each —
    bit-identical across engines at any parallelism.

    SCALE: two aggs and one join, ALL keyed on (topic, window) — a key
    whose cardinality grows with time, so no hot reducer; both aggs are
    map-side partial and the join is co-partitioned (AQE reuses the
    exchange). No window function at all.

    Reference analogue: WindowedAggregator + PipelineHealthManager's
    role (alert on deviant windows), generalized to z-scores."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("topic"),
        (
            (F.unix_millis("ts") / 1000 / OUTLIER_WIN_S).cast("long") * OUTLIER_WIN_S
        ).alias("window_epoch"),
        F.col("value").alias("v"),
    )
    dec = F.col("v").cast("decimal(18,2)")
    stats = ev.groupBy("topic", "window_epoch").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum(dec).cast("double") / F.count("*")).alias("mu"),
        (F.sum(dec * dec).cast("double") / F.count("*")).alias("msq"),
    )
    # single-value windows give msq - mu^2 ~ -1e-16: clamp before sqrt
    std = F.sqrt(F.greatest(F.col("msq") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    flagged = ev.join(stats, ["topic", "window_epoch"]).withColumn(
        "is_out",
        (F.abs(F.col("v") - F.col("mu")) > OUTLIER_SIGMA * std).cast("int"),
    )
    return flagged.groupBy("topic", "window_epoch", "n").agg(
        F.sum("is_out").cast("bigint").alias("n_outliers"),
        F.round(F.min("mu"), 6).alias("mean_v"),
        F.round(
            F.sqrt(F.greatest(F.min("msq") - F.min("mu") * F.min("mu"), F.lit(0.0))), 6
        ).alias("std_v"),
    )


# --- D91 -----------------------------------------------------------------
MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS event_from,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS event_to
  FROM events
),
cnt AS (
  SELECT event_from, event_to, CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE event_to IS NOT NULL
  GROUP BY event_from, event_to
),
tot AS (
  SELECT event_from, CAST(sum(n_trans) AS BIGINT) AS from_total
  FROM cnt GROUP BY event_from
)
SELECT c.event_from, c.event_to, c.n_trans, t.from_total,
       round(CAST(c.n_trans AS DOUBLE) / t.from_total, 6) AS prob,
       CAST(row_number() OVER (
         PARTITION BY c.event_from ORDER BY c.n_trans DESC, c.event_to
       ) AS INT) AS rank
FROM cnt c JOIN tot t USING (event_from)
"""


def markov_pairs_frame(events: DataFrame) -> DataFrame:
    """Adjacency half of D91, shared with live E45: the (event_from,
    event_to) transition stream of a (user_id, ts, event_id,
    event_type) frame — one lead window per user, ordered by
    (ts, event_id) so equal timestamps break on the unique id."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("event_to", F.lead("event_type").over(w))
        .filter(F.col("event_to").isNotNull())
        .select(F.col("event_type").alias("event_from"), "event_to")
    )


def markov_table_from(cnt: DataFrame) -> DataFrame:
    """Score-and-rank half of D91, shared with live E45: given the
    exact (event_from, event_to, n_trans) count table — which folds
    ADDITIVELY across micro-batches — re-derive row-normalized
    transition probabilities and per-state ranks. A pure function of
    the counts: merged-state input equals whole-log input bit-for-bit."""
    from pyspark.sql import Window

    tot = cnt.groupBy("event_from").agg(
        F.sum("n_trans").cast("bigint").alias("from_total")
    )
    wr = Window.partitionBy("event_from").orderBy(
        F.col("n_trans").desc(), "event_to"
    )
    return (
        cnt.join(F.broadcast(tot), "event_from")
        .select(
            "event_from",
            "event_to",
            "n_trans",
            "from_total",
            F.round(
                F.col("n_trans").cast("double") / F.col("from_total"), 6
            ).alias("prob"),
            F.row_number().over(wr).cast("int").alias("rank"),
        )
    )


@register("markov_transitions", MARKOV_ORACLE)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's
    time-ordered event sequence — the behavioral-sequence model under
    session replay, synthetic-log generation and next-event prediction
    baselines: per (from, to) event-type pair the exact transition
    count, the from-state row total, the row-normalized probability
    and the per-state rank of outgoing transitions.

    Exactness: counts are exact BIGINT aggregates; prob is ONE double
    division rounded to 6 dp; ranks break ties on the target type.
    Ordering is (ts, event_id) — the unique id breaks equal
    timestamps, and ts VALUES are identical across the driver's three
    parquet ts encodings (load_table normalizes; test_ts_generations
    covers all three).

    SCALE: the only log-sized work is ONE lead window per user
    partition (the C10 sessionization class — shuffles the log once by
    user_id, never a global window); everything downstream is the
    O(types²) count table with a broadcast row-total join and
    per-state rank windows over that tiny frame. Kernels shared with
    live E45, which carries each user's LAST event across micro-batch
    boundaries so no transition is lost at a batch seam. A key owning
    a data-sized row share serializes the per-user window into one
    task; the segment-and-carry split of that window was slower on
    every measured workload, hot key included, and was removed
    (docs/SCALE.md rounds 9-10).

    Reference analogue: none (behavioral-analytics family next to
    C10/C23/C24)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cnt = (
        markov_pairs_frame(ev)
        .groupBy("event_from", "event_to")
        .agg(F.count("*").cast("bigint").alias("n_trans"))
    )
    return markov_table_from(cnt)


# --- D92 -----------------------------------------------------------------
CUSUM_K = 0.5  # Page's reference value (slack, in sigma units)
CUSUM_H = 5.0  # decision threshold (sigma units); reset-on-alarm

# The sequential CUSUM recurrence s_t = max(0, s_{t-1} + z_t - k), alarm
# + reset when s_t > h — run JVM-side as ONE higher-order aggregate over
# the per-type minute-ordered z array (the A33 AIMD fold class: no
# Python, no applyInPandas; the oracle twin is a DuckDB recursive CTE
# over the same standardized frame). greatest(...) is repeated rather
# than bound to a local because BOTH engines must evaluate the
# IDENTICAL expression tree.
_CUSUM_STEP = f"greatest(CAST(0.0 AS DOUBLE), acc.s + x.z - {CUSUM_K})"
_CUSUM_FOLD = f"""aggregate(
  zs,
  named_struct(
    's',        CAST(0.0 AS DOUBLE),
    'n_al',     CAST(0 AS BIGINT),
    'first_al', CAST(-1 AS BIGINT),
    'max_s',    CAST(0.0 AS DOUBLE),
    'idx',      CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    's',        CASE WHEN {_CUSUM_STEP} > {CUSUM_H}
                     THEN CAST(0.0 AS DOUBLE) ELSE {_CUSUM_STEP} END,
    'n_al',     acc.n_al + CASE WHEN {_CUSUM_STEP} > {CUSUM_H}
                                THEN 1 ELSE 0 END,
    'first_al', CASE WHEN acc.first_al = -1 AND {_CUSUM_STEP} > {CUSUM_H}
                     THEN acc.idx ELSE acc.first_al END,
    'max_s',    greatest(acc.max_s, {_CUSUM_STEP}),
    'idx',      acc.idx + CAST(1 AS BIGINT))
)"""

_CUSUM_STEP_DUCK = f"greatest(CAST(0.0 AS DOUBLE), t.s + b.z - {CUSUM_K})"
CUSUM_ORACLE = f"""
WITH RECURSIVE pm AS (
  SELECT event_type, date_trunc('minute', ts) AS m,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('minute', ts)
),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM pm GROUP BY event_type
),
mu AS (
  SELECT event_type, n,
         CAST(sc AS DOUBLE) / n AS mu,
         sqrt(greatest(
           CAST(sc2 AS DOUBLE) / n
             - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n),
           0.0)) AS sigma
  FROM st
),
numbered AS (
  SELECT pm.event_type,
         row_number() OVER (
           PARTITION BY pm.event_type ORDER BY pm.m
         ) - 1 AS rn0,
         CASE WHEN mu.sigma > 0.0
              THEN (CAST(pm.c AS DOUBLE) - mu.mu) / mu.sigma
              ELSE 0.0 END AS z
  FROM pm JOIN mu USING (event_type)
),
traj AS (
  SELECT event_type, rn0,
         CASE WHEN greatest(CAST(0.0 AS DOUBLE), 0.0 + z - {CUSUM_K})
                     > {CUSUM_H}
              THEN CAST(0.0 AS DOUBLE)
              ELSE greatest(CAST(0.0 AS DOUBLE), 0.0 + z - {CUSUM_K}) END
           AS s,
         CAST(CASE WHEN greatest(CAST(0.0 AS DOUBLE), 0.0 + z - {CUSUM_K})
                          > {CUSUM_H} THEN 1 ELSE 0 END AS BIGINT) AS n_al,
         CAST(CASE WHEN greatest(CAST(0.0 AS DOUBLE), 0.0 + z - {CUSUM_K})
                          > {CUSUM_H} THEN 0 ELSE -1 END AS BIGINT)
           AS first_al,
         greatest(CAST(0.0 AS DOUBLE),
                  greatest(CAST(0.0 AS DOUBLE), 0.0 + z - {CUSUM_K}))
           AS max_s
  FROM numbered WHERE rn0 = 0
  UNION ALL
  SELECT b.event_type, b.rn0,
         CASE WHEN {_CUSUM_STEP_DUCK} > {CUSUM_H}
              THEN CAST(0.0 AS DOUBLE) ELSE {_CUSUM_STEP_DUCK} END,
         t.n_al + CASE WHEN {_CUSUM_STEP_DUCK} > {CUSUM_H}
                       THEN 1 ELSE 0 END,
         CASE WHEN t.first_al = -1 AND {_CUSUM_STEP_DUCK} > {CUSUM_H}
              THEN b.rn0 ELSE t.first_al END,
         greatest(t.max_s, {_CUSUM_STEP_DUCK})
  FROM traj t
  JOIN numbered b
    ON b.event_type = t.event_type AND b.rn0 = t.rn0 + 1
),
last AS (
  SELECT event_type, max(rn0) AS mr FROM traj GROUP BY event_type
)
SELECT t.event_type,
       t.rn0 + 1 AS n_minutes,
       t.n_al AS n_alarms,
       CASE WHEN t.first_al = -1 THEN NULL ELSE t.first_al END
         AS first_alarm_idx,
       round(t.max_s, 6) AS max_s,
       round(t.s, 6) AS final_s
FROM traj t
JOIN last l ON t.event_type = l.event_type AND t.rn0 = l.mr
"""


def cusum_minute_counts(events: DataFrame) -> DataFrame:
    """(event_type, m, c): the per-type per-minute arrival counts — the
    reduction that prices the sequential tail on minutes instead of
    events. Counts are ADDITIVE, so partial-minute counts from
    micro-batches merge by plain sum (the E45 carry uses exactly
    this)."""
    return events.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count("*").cast("bigint").alias("c"))


def cusum_stats_frame(pm: DataFrame) -> DataFrame:
    """(event_type, mu, sigma): the reference moments the z-scores
    standardize against — exact BIGINT count/square sums, identically
    parenthesized double math. Batch D92 derives them from the scored
    series itself; live E46 freezes them ONCE from the reference
    window (the published CUSUM deployment shape) and persists."""
    st = pm.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    mu_c = F.col("sc").cast("double") / F.col("n")
    return st.select(
        "event_type",
        mu_c.alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sc2").cast("double") / F.col("n") - mu_c * mu_c,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )


def cusum_fold_from(pm: DataFrame, stats: DataFrame) -> DataFrame:
    """Standardize-and-fold half of D92, shared with live E46: given a
    minute-count frame and a FIXED stats frame, run the CUSUM
    recurrence per type and emit the trajectory audit. A pure function
    of its inputs, and the fold is PREFIX-STABLE: folding the first k
    minutes equals truncating the full fold at k — the property E46's
    completed-minute carry relies on."""
    z = F.when(
        F.col("sigma") > 0.0,
        (F.col("c").cast("double") - F.col("mu")) / F.col("sigma"),
    ).otherwise(F.lit(0.0))
    zrows = pm.join(F.broadcast(stats), "event_type").select(
        "event_type", "m", z.alias("z")
    )
    folded = zrows.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(struct(m, z)))").alias("zs")
    )
    acc = folded.select("event_type", F.expr(_CUSUM_FOLD).alias("a"))
    return acc.select(
        "event_type",
        F.col("a.idx").alias("n_minutes"),
        F.col("a.n_al").alias("n_alarms"),
        F.when(F.col("a.first_al") == -1, F.lit(None).cast("bigint"))
        .otherwise(F.col("a.first_al"))
        .alias("first_alarm_idx"),
        F.round("a.max_s", 6).alias("max_s"),
        F.round("a.s", 6).alias("final_s"),
    )


@register("cusum_changepoints", CUSUM_ORACLE)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM changepoint detector over each event type's
    per-minute arrival-rate series (Page 1954; the SRE rate-shift
    alarm): counts are standardized against the type's own exact
    moments, then s_t = max(0, s_{t-1} + z_t − {CUSUM_K}) with alarm +
    reset at s_t > {CUSUM_H}. Emits per type the minute count, alarm
    count, first-alarm index, the trajectory's max and its final
    value — the drift audit a rate-anomaly pipeline keys on.

    Exactness: minute counts and their squares sum as exact BIGINTs;
    μ/σ/z use identically parenthesized double arithmetic; the
    recurrence folds in minute order, so every s_t is bit-identical
    across engines (the A33 class — Spark: ONE higher-order aggregate
    over the sorted z array inside codegen; DuckDB: a recursive CTE
    over the same standardized frame).

    SCALE: the log collapses to a (types × occupied-minutes) frame by
    one partial agg before anything sequential runs; the fold's array
    is minutes-sized (~526k rows/year per type at ANY event volume —
    the reduction is what makes the irreducible sequential tail cheap,
    the A33/A18 argument). For multi-year logs the fold segments per
    (type, day) with an E45-style carry. Zero Python.

    Reference analogue: none (ops-monitoring family next to D53/D56).
    """
    pm = cusum_minute_counts(load_table(spark, sf_dir, "events"))
    return cusum_fold_from(pm, cusum_stats_frame(pm))
