"""B16 + B17: the autoscalar's windowed-percentile core — the bucketed
scale window with up/down/hibernate computers, and the reactive
down-scale window sizing (AIMD) driven by down-scale predictions.

Reference parity:
- ``controller/autoscalar/ScaleWindow.java`` (BoundedWindow: 100-bucket
  histogram, ceil bucket index with clamping, percentile read = walk to
  the first bucket where the running count reaches ``(int)(p*n)``).
- ``controller/autoscalar/ScaleState.java`` (RunningState wires an
  up-scale computer over [S, 2S] accepting proposals in [1.2S, 2S] at
  p50, a down-scale computer over [0.5S, S] accepting in [0.5S, 0.8S]
  at p99, and a hibernate computer over [0, S] accepting only 0.0;
  the first accepting computer wins, in that order).
- ``controller/autoscalar/AutoScalarConfiguration.java`` (defaults:
  percentiles 0.5 / 0.99, factors 1.2 / 2.0 / 0.5 / 0.8, minSamples 10,
  down-scale window 24 h).
- ``controller/autoscalar/ScalePredictionUtils.java`` +
  ``ReactiveScaleWindowCalculator.java`` (B17: additive increase of the
  down-scale window while load < 1; multiplicative decrease by picking
  the prediction whose accumulated scale diff first crosses the target,
  candidates sorted by countdown).

Batch re-expression: the reference feeds samples one at a time and acts
on the FIRST mature acceptance; the batch operator evaluates each
computer over the full sample set — i.e. one end-of-window evaluation —
which is the same histogram arithmetic and acceptance test.

SCALE: the only data-sized stage is the (topic, window) count agg — one
partial-agg shuffle over the message log keyed by the log's own shard
unit. Everything after operates on O(topics x 100) histogram rows and
O(topics x 3) computer rows; the scale/quota tables are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import MESSAGES_SQL_BODY, messages
from ..registry import register

MSG_CTE = f"WITH messages AS ({MESSAGES_SQL_BODY})"

# Per-topic throughput quota (msgs/s) — same table the other autoscale
# operators (B3/B8/B14) use.
from .controller import QUOTAS, QUOTAS_SQL  # noqa: E402

# Current scale per job group, in workers. One worker serves a quarter
# of the topic quota (PER_WORKER = quota/4), so scale samples are
# s = mps / (quota/4). Values chosen so the synthetic log exercises
# every verdict: click/view (under-provisioned -> up), error
# (over-provisioned -> down), purchase/signup (proposals rejected by
# the output-factor gate -> hold).
SCALES = [
    ("click", 0.10),
    ("view", 0.05),
    ("purchase", 0.20),
    ("signup", 0.12),
    ("error", 1.00),
]
SCALES_SQL = (
    "(VALUES "
    + ", ".join(f"('{t}', CAST({s} AS DOUBLE))" for t, s in SCALES)
    + ") AS sc(topic, cur_scale)"
)

N_BUCKETS = 100
MIN_SAMPLES = 10  # ScaleWindow.Builder DEFAULT_MIN_SAMPLES
UP_PCT, DOWN_PCT = 0.5, 0.99  # AutoScalarConfiguration defaults
UP_MIN_F, UP_MAX_F = 1.2, 2.0
DOWN_MIN_F, DOWN_MAX_F = 0.5, 0.8

# Window [lo, hi] and acceptance [out_lo, out_hi] per computer, as SQL
# CASE fragments over (computer, cur_scale) — shared text keeps the
# Spark expressions and the DuckDB oracle arithmetic identical.
_LO = "CASE computer WHEN 'up' THEN cur_scale WHEN 'down' THEN cur_scale * 0.5 ELSE 0.0 END"
_HI = "CASE computer WHEN 'up' THEN cur_scale * 2.0 ELSE cur_scale * 1.0 END"
_OUT_LO = (
    "CASE computer WHEN 'up' THEN cur_scale * 1.2 "
    "WHEN 'down' THEN cur_scale * 0.5 ELSE 0.0 END"
)
_OUT_HI = (
    "CASE computer WHEN 'up' THEN cur_scale * 2.0 "
    "WHEN 'down' THEN cur_scale * 0.8 ELSE 0.0 END"
)
_PCT = f"CASE computer WHEN 'up' THEN {UP_PCT} ELSE {DOWN_PCT} END"

# BoundedWindow.add: index = clamp(ceil((v - lo) / width), 0, 99).
_IDX = f"least({N_BUCKETS - 1}, greatest(0, CAST(ceil((s - lo) / width) AS INT)))"

# The histogram -> percentile walk, shared shape for both dialects.
# pvt = (int)(p * n) (Java truncation; p*n >= 0 so floor == trunc).
# Walk: the first bucket index where the running count reaches pvt;
# pvt = 0 short-circuits to index 0 exactly like the Java loop (the
# condition is satisfied at index 0 before any count is added).
_COMPUTER_CTES = """
melted AS (
  SELECT topic, s, cur_scale, computer,
         {lo} AS lo,
         ({hi} - ({lo})) / {n_buckets}.0 AS width,
         {out_lo} AS out_lo,
         {out_hi} AS out_hi,
         {pct} AS pct
  FROM samples CROSS JOIN (VALUES ('up'), ('down'), ('hib')) AS c(computer)
),
hist AS (
  SELECT topic, computer, {idx} AS idx, count(*) AS c,
         min(lo) AS lo, min(width) AS width, min(out_lo) AS out_lo,
         min(out_hi) AS out_hi, min(pct) AS pct
  FROM melted
  GROUP BY topic, computer, {idx}
),
walk AS (
  SELECT topic, computer, idx, lo, width, out_lo, out_hi,
         sum(c) OVER (PARTITION BY topic, computer ORDER BY idx) AS cum,
         sum(c) OVER (PARTITION BY topic, computer) AS n,
         CAST(floor(pct * sum(c) OVER (PARTITION BY topic, computer)) AS BIGINT) AS pvt
  FROM hist
),
picks AS (
  SELECT topic, computer,
         min(n) AS n,
         CASE WHEN min(pvt) = 0 THEN min(lo)
              ELSE min(lo) + min(CASE WHEN cum >= pvt THEN idx END) * min(width)
         END AS proposal,
         min(out_lo) AS out_lo, min(out_hi) AS out_hi
  FROM walk
  GROUP BY topic, computer
),
verdicts AS (
  SELECT topic, computer, n, proposal,
         n >= {min_samples} AND proposal >= out_lo AND proposal <= out_hi AS accepted
  FROM picks
)
"""


def _computer_ctes() -> str:
    return _COMPUTER_CTES.format(
        lo=_LO,
        hi=_HI,
        out_lo=_OUT_LO,
        out_hi=_OUT_HI,
        pct=_PCT,
        idx=_IDX,
        n_buckets=N_BUCKETS,
        min_samples=MIN_SAMPLES,
    )


# samples CTE per dialect: per (topic, 5-min window) msgs/s, expressed
# in scale units s = mps / (quota/4). DuckDB divides a BIGINT by the
# literal 300.0 in DOUBLE; Spark SQL types the literal DECIMAL(4,1) and
# the quotient DECIMAL(27,6), rounding it to 6 dp — enough to move a
# sample across a bucket bound — so the Spark CTE casts to DOUBLE first.
_SAMPLES_DUCK = f"""
windows AS (
  SELECT topic, (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_epoch,
         count(*) / 300.0 AS mps
  FROM messages GROUP BY 1, 2
),
samples AS (
  SELECT w.topic, w.mps / (q.quota_mps / 4.0) AS s, sc.cur_scale
  FROM windows w
  JOIN {QUOTAS_SQL} USING (topic)
  JOIN {SCALES_SQL} USING (topic)
)"""

_SAMPLES_SPARK = f"""
windows AS (
  SELECT topic, CAST(unix_timestamp(ts) DIV 300 AS BIGINT) * 300 AS window_epoch,
         CAST(count(*) AS DOUBLE) / 300.0 AS mps
  FROM messages GROUP BY 1, 2
),
samples AS (
  SELECT w.topic, w.mps / (q.quota_mps / 4.0) AS s, sc.cur_scale
  FROM windows w
  JOIN {QUOTAS_SQL} USING (topic)
  JOIN {SCALES_SQL} USING (topic)
)"""

_FINAL_SELECT = """
SELECT t.topic,
       CAST(t.n AS BIGINT) AS n_samples,
       sc.cur_scale,
       round(up.proposal, 6) AS up_proposal,     up.accepted AS up_accepted,
       round(dn.proposal, 6) AS down_proposal,   dn.accepted AS down_accepted,
       hb.accepted AS hibernate_accepted,
       CASE WHEN t.n < {min_samples} THEN 'immature'
            WHEN up.accepted THEN 'scale_up'
            WHEN dn.accepted THEN 'scale_down'
            WHEN hb.accepted THEN 'hibernate'
            ELSE 'hold' END AS verdict,
       round(CASE WHEN t.n < {min_samples} THEN sc.cur_scale
                  WHEN up.accepted THEN up.proposal
                  WHEN dn.accepted THEN dn.proposal
                  WHEN hb.accepted THEN 0.0
                  ELSE sc.cur_scale END, 6) AS next_scale
FROM (SELECT topic, min(n) AS n FROM verdicts GROUP BY topic) t
JOIN {scales_sql} USING (topic)
JOIN verdicts up ON up.topic = t.topic AND up.computer = 'up'
JOIN verdicts dn ON dn.topic = t.topic AND dn.computer = 'down'
JOIN verdicts hb ON hb.topic = t.topic AND hb.computer = 'hib'
"""

SCALE_WINDOW_ORACLE = (
    f"{MSG_CTE},{_SAMPLES_DUCK},{_computer_ctes()}"
    + _FINAL_SELECT.format(min_samples=MIN_SAMPLES, scales_sql=SCALES_SQL)
)

_SCALE_WINDOW_SPARK = (
    f"{MSG_CTE},{_SAMPLES_SPARK},{_computer_ctes()}"
    + _FINAL_SELECT.format(min_samples=MIN_SAMPLES, scales_sql=SCALES_SQL)
)


@register("scale_window_proposal", SCALE_WINDOW_ORACLE)
def scale_window_proposal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScaleWindow + ScaleState.RunningState (controller/autoscalar/
    ScaleWindow.java:88 BoundedWindow, ScaleState.java:210): per job
    group, feed scale samples (window throughput / per-worker capacity)
    into three bucketed percentile windows — up [S, 2S] @ p50 accepting
    [1.2S, 2S]; down [0.5S, S] @ p99 accepting [0.5S, 0.8S]; hibernate
    [0, S] @ p99 accepting exactly 0 — and emit the first accepted
    proposal as the next scale, exactly the reference's computer order.

    Unlike B3's peak-vs-quota rule this reproduces the reference's
    actual histogram arithmetic: ceil bucket indexing with clamping and
    the (int)(p*n) pvt walk, so proposals are bucket lower bounds,
    not sample values.

    SCALE: one partial-agg shuffle (messages -> topic x 5-min window);
    histogram/walk/verdict stages touch O(topics x 300) rows. The
    window-function walk partitions by (topic, computer) — thousands of
    independent tiny partitions at production topic counts."""
    messages(spark, sf_dir)  # registers the `events`-backed view chain
    return spark.sql(_SCALE_WINDOW_SPARK)


# --- B17: reactive down-scale window sizing -------------------------------

DOWN_WINDOW_S = 86_400  # AutoScalarConfiguration DEFAULT_DOWN_SCALE_WINDOW_DURATION
ELAPSED_S = 600  # deterministic stand-in for (now - stateTime)
# Two evaluation scenarios exercise both branches of the calculator.
LOAD_SCENARIOS_SQL = "(VALUES (CAST(0.8 AS DOUBLE)), (CAST(1.25 AS DOUBLE))) AS ls(load)"

# Down-scale predictions (ScalePredictionUtils.predict over the down
# computer's snapshot): valid iff the window is mature and the proposal
# sits inside its acceptance boundaries; countdown = min window size -
# observed window span; diff = proposal - current scale; isDownScale
# keeps future > 0 and diff < 0. Ties on countdown are ordered by topic
# (the reference's comparator is countdown-only, unstable under ties —
# batch output must be deterministic).
_PREDICTIONS_CTE = f"""
spans AS (
  SELECT topic, max(window_epoch) - min(window_epoch) AS span_s
  FROM windows GROUP BY topic
),
predictions AS (
  SELECT v.topic,
         {DOWN_WINDOW_S} - sp.span_s AS countdown_s,
         v.proposal - sc.cur_scale AS diff,
         sc.cur_scale
  FROM verdicts v
  JOIN spans sp ON sp.topic = v.topic
  JOIN {SCALES_SQL} ON sc.topic = v.topic
  WHERE v.computer = 'down' AND v.accepted
    AND v.proposal > 0 AND v.proposal - sc.cur_scale < 0
),
ordered AS (
  SELECT topic, countdown_s, diff,
         sum(diff) OVER (ORDER BY countdown_s, topic) AS cum_diff,
         row_number() OVER (ORDER BY countdown_s, topic) AS rn,
         count(*) OVER () AS n_cand
  FROM predictions
),
totals AS (
  SELECT sum(cur_scale) AS total_scale FROM {SCALES_SQL}
),
chosen AS (
  SELECT ls.load, o.topic, o.countdown_s, o.rn, o.n_cand,
         tt.total_scale / ls.load - tt.total_scale AS target_diff,
         CASE WHEN o.cum_diff < tt.total_scale / ls.load - tt.total_scale THEN o.rn END AS hit_rn
  FROM {LOAD_SCENARIOS_SQL} CROSS JOIN totals tt CROSS JOIN ordered o
  WHERE ls.load >= 1.0
),
picked AS (
  SELECT load, min(target_diff) AS target_diff, min(n_cand) AS n_cand,
         coalesce(min(hit_rn), max(rn)) AS pick_rn
  FROM chosen GROUP BY load
)
"""

_REACTIVE_FINAL = f"""
SELECT ls.load,
       CASE WHEN ls.load < 1.0 THEN 'additive_increase'
            WHEN p.pick_rn IS NULL THEN 'hold'
            ELSE 'multiplicative_decrease' END AS branch,
       CAST(coalesce(p.n_cand, 0) AS BIGINT) AS n_candidates,
       round(p.target_diff, 6) AS target_scale_diff,
       o.topic AS chosen_topic,
       o.countdown_s AS chosen_countdown_s,
       CASE WHEN ls.load < 1.0 THEN {DOWN_WINDOW_S} + {ELAPSED_S}
            WHEN o.countdown_s IS NULL THEN {DOWN_WINDOW_S}
            ELSE {DOWN_WINDOW_S} - o.countdown_s END AS new_window_s
FROM {LOAD_SCENARIOS_SQL}
LEFT JOIN picked p ON p.load = ls.load
LEFT JOIN (SELECT topic, countdown_s, rn FROM ordered) o
       ON o.rn = p.pick_rn AND ls.load >= 1.0
"""

REACTIVE_WINDOW_ORACLE = (
    f"{MSG_CTE},{_SAMPLES_DUCK},{_computer_ctes()},{_PREDICTIONS_CTE}" + _REACTIVE_FINAL
)

_REACTIVE_SPARK = (
    f"{MSG_CTE},{_SAMPLES_SPARK},{_computer_ctes()},{_PREDICTIONS_CTE}" + _REACTIVE_FINAL
)


@register("reactive_downscale_window", REACTIVE_WINDOW_ORACLE)
def reactive_downscale_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReactiveScaleWindowCalculator.calculateDownScaleWindowDuration
    (controller/autoscalar/ReactiveScaleWindowCalculator.java:82) +
    ScalePredictionUtils.findFirstSmaller: while capacity is comfortable
    (load < 1) the down-scale window grows additively by the elapsed
    time; under pressure (load >= 1) it shrinks multiplicatively — the
    target scale reduction total/load - total is matched against the
    running sum of down-scale predictions in countdown order, and the
    window shrinks by the countdown of the first prediction whose
    accumulated diff crosses the target (last one as best effort if
    none does). Both branches are evaluated from a two-scenario load
    table so each run exercises each path.

    SCALE: reuses B16's sample/histogram stages (one data-sized
    shuffle); predictions are O(topics) rows and the scenario table is
    O(1) — the global ORDER BY in the cumulative walk is over topics,
    not data, matching the reference which does this in-memory on the
    controller."""
    messages(spark, sf_dir)
    return spark.sql(_REACTIVE_SPARK)
