"""B. Controller-plane operators — uForwarder's controller semantics
(job assignment, autoscaling, batch-job creation, partition watching)
re-expressed as Spark DataFrame plans.

All control-plane relations (jobs, workers, quotas) are O(topics ×
partitions) — minuscule next to the message log — so every join here is a
broadcast and the message log is scanned at most once per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import MESSAGES_SQL_BODY, N_PARTITIONS, local_table, messages
from ..registry import register

MSG_CTE = f"WITH messages AS ({MESSAGES_SQL_BODY})"

WORKERS = ["worker-0", "worker-1", "worker-2", "worker-3"]
WORKERS_SQL = "(VALUES " + ", ".join(f"('{w}')" for w in WORKERS) + ") AS w(worker)"

# Per-topic throughput quota (msgs/sec) for the autoscaler comparison.
QUOTAS = [("click", 0.10), ("view", 0.10), ("purchase", 0.08), ("signup", 0.12), ("error", 0.05)]
QUOTAS_SQL = (
    "(VALUES " + ", ".join(f"('{t}', {q})" for t, q in QUOTAS) + ") AS q(topic, quota_mps)"
)


def _workers_df(spark: SparkSession, workers: list[str] = WORKERS) -> DataFrame:
    return local_table(spark, [(w,) for w in workers], ["worker"])


def _quotas_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, QUOTAS, ["topic", "quota_mps"])


def _jobs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job table = distinct (topic, part_id) — one uForwarder job each."""
    return messages(spark, sf_dir).select("topic", "part_id").distinct()


JOBS_SQL = "SELECT DISTINCT topic, part_id FROM messages"


# --- B1 ------------------------------------------------------------------
ASSIGN_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
scored AS (
  SELECT j.topic, j.part_id, w.worker,
         md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) AS score,
         row_number() OVER (
           PARTITION BY j.topic, j.part_id
           ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) DESC,
                    w.worker) AS rn
  FROM jobs j CROSS JOIN {WORKERS_SQL}
)
SELECT topic, part_id, worker AS assigned_worker
FROM scored WHERE rn = 1
"""


def rendezvous_assign(jobs: DataFrame, workers: DataFrame) -> DataFrame:
    """Frame-level B1: rendezvous (highest-random-weight) assignment of
    jobs(topic, part_id) onto workers(worker). Unit-testable for the
    rebalancer invariants the reference asserts (every job assigned
    exactly once; removing a worker only moves that worker's jobs)."""
    scored = jobs.crossJoin(F.broadcast(workers)).withColumn(
        "score",
        F.md5(F.concat_ws("-", F.col("topic"), F.col("part_id").cast("string"), F.col("worker"))),
    )
    w = Window.partitionBy("topic", "part_id").orderBy(F.col("score").desc(), F.col("worker"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("topic", "part_id", F.col("worker").alias("assigned_worker"))
    )


@register("partition_assignment", ASSIGN_ORACLE)
def partition_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AbstractRpcUriRebalancer / RebalancerCommon
    (consumerproxy/controller/rebalancer/AbstractRpcUriRebalancer.java):
    deterministically assign each (topic, partition) job to a worker.
    Rendezvous (highest-random-weight) hashing via md5 gives the same
    stable, minimal-movement assignment the reference's sticky rebalancer
    aims for — adding a worker only moves the jobs that now score higher
    on it.

    SCALE: jobs × workers is O(topics·partitions·workers) control-plane
    metadata — thousands of rows, never message-scale. Cross join + window
    run in one tiny stage."""
    return rendezvous_assign(_jobs_df(spark, sf_dir), _workers_df(spark))


# --- B2 ------------------------------------------------------------------
BALANCE_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
scored AS (
  SELECT j.topic, j.part_id, w.worker,
         row_number() OVER (
           PARTITION BY j.topic, j.part_id
           ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) DESC,
                    w.worker) AS rn
  FROM jobs j CROSS JOIN {WORKERS_SQL}
),
assignment AS (
  SELECT topic, part_id, worker FROM scored WHERE rn = 1
),
loads AS (
  SELECT topic, part_id, count(*) AS n_msgs, CAST(sum(size_bytes) AS BIGINT) AS n_bytes
  FROM messages GROUP BY topic, part_id
)
SELECT a.worker,
       count(*)        AS n_jobs,
       CAST(sum(l.n_msgs) AS BIGINT)  AS total_msgs,
       CAST(sum(l.n_bytes) AS BIGINT) AS total_bytes
FROM assignment a JOIN loads l USING (topic, part_id)
GROUP BY a.worker
"""


@register("load_balance_stats", BALANCE_ORACLE)
def load_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RebalancingWorkerWithSortedJobs.java / RpcJobColocatingRebalancer
    .java table view: per-worker job count and carried load after assignment — the
    balance invariant the reference's rebalancer tests assert.

    SCALE: message-log agg happens FIRST (shrinks to one row per job),
    then joins the broadcast assignment."""
    assignment = partition_assignment(spark, sf_dir)
    loads = (
        messages(spark, sf_dir)
        .groupBy("topic", "part_id")
        .agg(F.count("*").alias("n_msgs"), F.sum("size_bytes").alias("n_bytes"))
    )
    return (
        loads.join(F.broadcast(assignment), ["topic", "part_id"])
        .groupBy(F.col("assigned_worker").alias("worker"))
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum("n_msgs").alias("total_msgs"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


# --- B3 ------------------------------------------------------------------
AUTOSCALE_ORACLE = f"""{MSG_CTE},
windows AS (
  SELECT topic,
         (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_epoch,
         count(*) / 300.0 AS mps
  FROM messages GROUP BY 1, 2
),
signal AS (
  SELECT topic, max(mps) AS peak_mps, avg(mps) AS avg_mps, count(*) AS n_windows
  FROM windows GROUP BY topic
)
SELECT s.topic, round(s.peak_mps, 6) AS peak_mps, round(s.avg_mps, 6) AS avg_mps,
       q.quota_mps,
       CASE WHEN s.peak_mps > q.quota_mps * 1.2 THEN 'scale_up'
            WHEN s.peak_mps < q.quota_mps * 0.5 THEN 'scale_down'
            ELSE 'hold' END AS decision
FROM signal s JOIN {QUOTAS_SQL} USING (topic)
"""


@register("autoscale_decision", AUTOSCALE_ORACLE)
def autoscale_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoScalar / ScaleComputer / ScaleWindow
    (controller/autoscalar/AutoScalar.java): compare windowed throughput
    against the job group's quota; propose scale up/down/hold. Mirrors
    ScaleWindow's percentile-of-window approach with peak-of-window.

    SCALE: two-level agg — messages → (topic, window) → topic; all
    partial-aggregated, quota table broadcast."""
    m = messages(spark, sf_dir)
    window_epoch = F.expr("CAST(unix_timestamp(ts) DIV 300 AS BIGINT) * 300")
    windows = (
        m.withColumn("window_epoch", window_epoch)
        .groupBy("topic", "window_epoch")
        .agg((F.count("*") / 300.0).alias("mps"))
    )
    signal = windows.groupBy("topic").agg(
        F.max("mps").alias("peak_mps"), F.avg("mps").alias("avg_mps")
    )
    quotas = _quotas_df(spark)
    decision = (
        F.when(F.col("peak_mps") > F.col("quota_mps") * 1.2, "scale_up")
        .when(F.col("peak_mps") < F.col("quota_mps") * 0.5, "scale_down")
        .otherwise("hold")
    )
    return (
        signal.join(F.broadcast(quotas), "topic")
        .select(
            "topic",
            F.round("peak_mps", 6).alias("peak_mps"),
            F.round("avg_mps", 6).alias("avg_mps"),
            "quota_mps",
            decision.alias("decision"),
        )
    )


# --- B4 ------------------------------------------------------------------
BATCH_JOB_ORACLE = f"""{MSG_CTE}
SELECT topic, part_id,
       min(msg_offset) AS start_offset,
       max(msg_offset) AS end_offset,
       count(*)        AS n_msgs
FROM messages
WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
GROUP BY topic, part_id
"""


@register("batch_job_offsets", BATCH_JOB_ORACLE)
def batch_job_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BatchJobCreator / JobCreatorWithOffsets
    (controller/creator/BatchJobCreator.java): resolve a [startTs, endTs)
    DLQ-merge batch job into concrete per-partition offset ranges
    (offsetsForTimes → start, endOffsets → end).

    SCALE: timestamp predicate pushes to the scan (and at 100 TB prunes
    date-partitioned directories outright); one partial agg."""
    m = messages(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    )
    return m.groupBy("topic", "part_id").agg(
        F.min("msg_offset").alias("start_offset"),
        F.max("msg_offset").alias("end_offset"),
        F.count("*").alias("n_msgs"),
    )


# --- B5 ------------------------------------------------------------------
EXPANSION_ORACLE = f"""{MSG_CTE},
epochs AS (
  SELECT topic,
         count(DISTINCT CASE WHEN ts <  TIMESTAMP '2024-01-03' THEN part_id END) AS parts_epoch1,
         count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-03' THEN part_id END) AS parts_epoch2
  FROM messages GROUP BY topic
)
SELECT topic, parts_epoch1, parts_epoch2,
       parts_epoch2 - parts_epoch1 AS delta,
       parts_epoch2 > parts_epoch1 AS expanded
FROM epochs
"""


@register("partition_expansion", EXPANSION_ORACLE)
def partition_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KafkaPartitionExpansionWatcher (common/KafkaPartitionExpansionWatcher
    .java): compare the observed partition set per topic across epochs and
    flag expansion so jobs get re-created.

    SCALE: conditional distinct-counts in one pass over (topic, part_id)
    pre-agg; output O(topics)."""
    m = messages(spark, sf_dir)
    cutoff = F.lit("2024-01-03").cast("timestamp")
    return m.groupBy("topic").agg(
        F.countDistinct(F.when(F.col("ts") < cutoff, F.col("part_id"))).alias("parts_epoch1"),
        F.countDistinct(F.when(F.col("ts") >= cutoff, F.col("part_id"))).alias("parts_epoch2"),
        (
            F.countDistinct(F.when(F.col("ts") >= cutoff, F.col("part_id")))
            - F.countDistinct(F.when(F.col("ts") < cutoff, F.col("part_id")))
        ).alias("delta"),
        (
            F.countDistinct(F.when(F.col("ts") >= cutoff, F.col("part_id")))
            > F.countDistinct(F.when(F.col("ts") < cutoff, F.col("part_id")))
        ).alias("expanded"),
    )


# --- B6 ------------------------------------------------------------------
HIBERNATE_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
recent AS (
  SELECT topic, part_id, count(*) AS recent_msgs
  FROM messages
  WHERE ts >= TIMESTAMP '2024-01-14'
  GROUP BY topic, part_id
)
SELECT j.topic, j.part_id,
       coalesce(r.recent_msgs, 0) AS recent_msgs,
       coalesce(r.recent_msgs, 0) = 0 AS hibernated
FROM jobs j LEFT JOIN recent r USING (topic, part_id)
"""


@register("hibernating_jobs", HIBERNATE_ORACLE)
def hibernating_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HibernatingJobRebalancer
    (consumerproxy/controller/rebalancer/HibernatingJobRebalancer.java):
    job groups with zero recent throughput leave the active worker pool
    (hibernate) until traffic returns.

    SCALE: recent-window count is a pushed-down filter + partial agg; the
    job list is control-plane-sized and the join broadcasts it."""
    jobs = _jobs_df(spark, sf_dir)
    recent = (
        messages(spark, sf_dir)
        .filter(F.col("ts") >= F.lit("2024-01-14").cast("timestamp"))
        .groupBy("topic", "part_id")
        .agg(F.count("*").alias("recent_msgs"))
    )
    return (
        jobs.join(recent, ["topic", "part_id"], "left")
        .select(
            "topic",
            "part_id",
            F.coalesce(F.col("recent_msgs"), F.lit(0)).alias("recent_msgs"),
            (F.coalesce(F.col("recent_msgs"), F.lit(0)) == 0).alias("hibernated"),
        )
    )


# --- B7 ------------------------------------------------------------------
COLOCATE_ORACLE = f"""{MSG_CTE},
topics AS (SELECT DISTINCT topic FROM messages),
scored AS (
  SELECT t.topic, w.worker,
         row_number() OVER (
           PARTITION BY t.topic
           ORDER BY md5(t.topic || '@' || w.worker) DESC, w.worker) AS rn
  FROM topics t CROSS JOIN {WORKERS_SQL}
),
tassign AS (SELECT topic, worker FROM scored WHERE rn = 1),
jobs AS (
  SELECT topic, part_id, count(*) AS n_msgs FROM messages GROUP BY topic, part_id
)
SELECT a.worker,
       count(DISTINCT j.topic)       AS n_topics,
       count(*)                      AS n_jobs,
       CAST(sum(j.n_msgs) AS BIGINT) AS total_msgs
FROM jobs j JOIN tassign a USING (topic)
GROUP BY a.worker
"""


@register("colocating_assignment", COLOCATE_ORACLE)
def colocating_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RpcJobColocatingRebalancer
    (consumerproxy/controller/rebalancer/RpcJobColocatingRebalancer.java):
    place all jobs of one job group (here: topic) on the SAME worker so a
    consumer's partitions share connections and batch state; report the
    per-worker load the colocation produces. Assignment is rendezvous
    hashing at topic granularity — stable under worker churn like B1.

    SCALE: topic→worker table is O(topics) and broadcast; per-job load is
    the only message-scale agg (one shuffle), then a tiny agg by worker."""
    m = messages(spark, sf_dir)
    topics = m.select("topic").distinct()
    workers = _workers_df(spark)
    w = Window.partitionBy("topic").orderBy(F.col("score").desc(), F.col("worker"))
    tassign = (
        topics.crossJoin(F.broadcast(workers))
        .withColumn("score", F.md5(F.concat_ws("@", F.col("topic"), F.col("worker"))))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("topic", "worker")
    )
    jobs = m.groupBy("topic", "part_id").agg(F.count("*").alias("n_msgs"))
    return (
        jobs.join(F.broadcast(tassign), "topic")
        .groupBy("worker")
        .agg(
            F.countDistinct("topic").alias("n_topics"),
            F.count("*").alias("n_jobs"),
            F.sum("n_msgs").alias("total_msgs"),
        )
    )


# --- B8 ------------------------------------------------------------------
CONSEC_FOR_SCALE = 3
HYSTERESIS_ORACLE = f"""{MSG_CTE},
windows AS (
  SELECT topic,
         (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_epoch,
         count(*) / 300.0 AS mps
  FROM messages GROUP BY 1, 2
),
flagged AS (
  SELECT w.topic, w.window_epoch, w.mps, q.quota_mps,
         w.mps > q.quota_mps AS over_quota,
         row_number() OVER (PARTITION BY w.topic ORDER BY w.window_epoch)
         - row_number() OVER (PARTITION BY w.topic, w.mps > q.quota_mps
                              ORDER BY w.window_epoch) AS grp
  FROM windows w JOIN {QUOTAS_SQL} USING (topic)
),
runs AS (
  SELECT topic, over_quota, grp, count(*) AS run_len
  FROM flagged GROUP BY topic, over_quota, grp
)
SELECT f.topic,
       count(*)                                                       AS n_windows,
       CAST(sum(CASE WHEN f.over_quota THEN 1 ELSE 0 END) AS BIGINT)  AS n_over,
       max(CASE WHEN r.over_quota THEN r.run_len ELSE 0 END)          AS max_consec_over,
       CASE WHEN max(CASE WHEN r.over_quota THEN r.run_len ELSE 0 END)
                 >= {CONSEC_FOR_SCALE}
            THEN 'scale_up' ELSE 'hold' END                           AS decision
FROM flagged f
JOIN runs r ON r.topic = f.topic AND r.over_quota = f.over_quota AND r.grp = f.grp
GROUP BY f.topic
"""


@register("autoscale_hysteresis", HYSTERESIS_ORACLE)
def autoscale_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScaleState / ScaleWindowManager / ReactiveScaleWindowCalculator
    (controller/autoscalar/ScaleState.java): the autoscaler never reacts
    to one spiky window — the up-transition requires the throughput
    signal to stay over quota for N consecutive windows. Computed with
    the gaps-and-islands run-length pattern (two row_numbers), fully
    windowed — no iteration.

    SCALE: runs are per-topic over O(windows) rows — the message-scale
    work is only the first (topic, window) partial agg; everything after
    operates on thousands of rows."""
    m = messages(spark, sf_dir)
    quotas = _quotas_df(spark)
    window_epoch = F.expr("CAST(unix_timestamp(ts) DIV 300 AS BIGINT) * 300")
    windows = (
        m.withColumn("window_epoch", window_epoch)
        .groupBy("topic", "window_epoch")
        .agg((F.count("*") / 300.0).alias("mps"))
    )
    w_all = Window.partitionBy("topic").orderBy("window_epoch")
    w_flag = Window.partitionBy("topic", "over_quota").orderBy("window_epoch")
    flagged = (
        windows.join(F.broadcast(quotas), "topic")
        .withColumn("over_quota", F.col("mps") > F.col("quota_mps"))
        .withColumn("grp", F.row_number().over(w_all) - F.row_number().over(w_flag))
    )
    runs = flagged.groupBy("topic", "over_quota", "grp").agg(F.count("*").alias("run_len"))
    joined = flagged.join(runs, ["topic", "over_quota", "grp"])
    max_over = F.max(F.when(F.col("over_quota"), F.col("run_len")).otherwise(0))
    return joined.groupBy("topic").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("over_quota"), 1).otherwise(0)).alias("n_over"),
        max_over.alias("max_consec_over"),
        F.when(max_over >= CONSEC_FOR_SCALE, "scale_up").otherwise("hold").alias("decision"),
    )


# --- B9 ------------------------------------------------------------------
N_PODS = 2
POD_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
pods AS (
  SELECT worker, 'pod-' || CAST(CAST(substr(worker, 8) AS BIGINT) % {N_PODS} AS VARCHAR) AS pod
  FROM {WORKERS_SQL}
),
pod_choice AS (
  SELECT j.topic, p.pod,
         row_number() OVER (
           PARTITION BY j.topic
           ORDER BY md5(j.topic || '#' || p.pod) DESC, p.pod) AS rn
  FROM (SELECT DISTINCT topic FROM jobs) j
  CROSS JOIN (SELECT DISTINCT pod FROM pods) p
),
topic_pod AS (SELECT topic, pod FROM pod_choice WHERE rn = 1),
scored AS (
  SELECT j.topic, j.part_id, p.worker, tp.pod,
         row_number() OVER (
           PARTITION BY j.topic, j.part_id
           ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || p.worker) DESC,
                    p.worker) AS rn
  FROM jobs j
  JOIN topic_pod tp USING (topic)
  JOIN pods p USING (pod)
)
SELECT topic, part_id, pod, worker AS assigned_worker
FROM scored WHERE rn = 1
"""


@register("pod_aware_assignment", POD_ORACLE)
def pod_aware_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JobPodAssigner / PodAwareRebalanceGroup / JobPodPlacementProvider
    (datatransfer/controller/rebalancer/PodAwareRebalanceGroup.java):
    two-level placement — a topic is pinned to one pod (isolation
    domain), then its jobs spread across that pod's workers by the same
    rendezvous hash as B1. Pod failure isolates to the topics pinned
    there; worker churn inside a pod only reshuffles within the pod.

    SCALE: both levels are control-plane-sized cross joins (topics ×
    pods, jobs × pod-workers) — broadcast, one tiny stage each."""
    m = messages(spark, sf_dir)
    jobs = m.select("topic", "part_id").distinct()
    workers = _workers_df(spark).withColumn(
        "pod",
        F.concat(
            F.lit("pod-"),
            (F.substring("worker", 8, 10).cast("long") % N_PODS).cast("string"),
        ),
    )
    pods = workers.select("pod").distinct()
    w_pod = Window.partitionBy("topic").orderBy(F.col("pscore").desc(), F.col("pod"))
    topic_pod = (
        jobs.select("topic")
        .distinct()
        .crossJoin(F.broadcast(pods))
        .withColumn("pscore", F.md5(F.concat_ws("#", F.col("topic"), F.col("pod"))))
        .withColumn("rn", F.row_number().over(w_pod))
        .filter(F.col("rn") == 1)
        .select("topic", "pod")
    )
    w_job = Window.partitionBy("topic", "part_id").orderBy(F.col("score").desc(), F.col("worker"))
    return (
        jobs.join(F.broadcast(topic_pod), "topic")
        .join(F.broadcast(workers), "pod")
        .withColumn(
            "score",
            F.md5(
                F.concat_ws("-", F.col("topic"), F.col("part_id").cast("string"), F.col("worker"))
            ),
        )
        .withColumn("rn", F.row_number().over(w_job))
        .filter(F.col("rn") == 1)
        .select("topic", "part_id", "pod", F.col("worker").alias("assigned_worker"))
    )


# --- B10 -----------------------------------------------------------------
RANGE_ASSIGN_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
numbered AS (
  SELECT topic, part_id,
         row_number() OVER (PARTITION BY topic ORDER BY part_id) AS rn,
         count(*) OVER (PARTITION BY topic) AS n_parts
  FROM jobs
)
SELECT topic, part_id,
       'worker-' || CAST((rn - 1) // CAST(ceil(CAST(n_parts AS DOUBLE) / {len(WORKERS)}) AS BIGINT) AS VARCHAR)
         AS assigned_worker
FROM numbered
"""


@register("range_assignment", RANGE_ASSIGN_ORACLE)
def range_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka's RangeAssignor (the client-side assignor uForwarder's
    controller REPLACES with its Rebalancer.java implementations — kept
    here as the comparison baseline): per topic, partitions sort by id and split
    into ceil(P/W)-sized contiguous chunks, chunk i → worker i. Shows
    the imbalance HRW avoids: with P not divisible by W the last worker
    gets fewer (or zero) partitions of every topic.

    SCALE: control-plane-sized window over the job list; one tiny
    stage."""
    jobs = _jobs_df(spark, sf_dir)
    w_rn = Window.partitionBy("topic").orderBy("part_id")
    w_n = Window.partitionBy("topic")
    numbered = jobs.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n_parts", F.count("*").over(w_n)
    )
    chunk = F.expr(f"CAST(ceil(CAST(n_parts AS DOUBLE) / {len(WORKERS)}) AS BIGINT)")
    return numbered.select(
        "topic",
        "part_id",
        F.concat(F.lit("worker-"), ((F.col("rn") - 1) / chunk).cast("bigint").cast("string")).alias(
            "assigned_worker"
        ),
    )


# --- B11 -----------------------------------------------------------------
SHADOW_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
hrw AS (
  SELECT topic, part_id, worker AS hrw_worker FROM (
    SELECT j.topic, j.part_id, w.worker,
           row_number() OVER (
             PARTITION BY j.topic, j.part_id
             ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) DESC,
                      w.worker) AS rn
    FROM jobs j CROSS JOIN {WORKERS_SQL}
  ) WHERE rn = 1
),
rng AS (
  SELECT topic, part_id,
         'worker-' || CAST((rn - 1) // CAST(ceil(CAST(n_parts AS DOUBLE) / {len(WORKERS)}) AS BIGINT) AS VARCHAR)
           AS range_worker
  FROM (
    SELECT topic, part_id,
           row_number() OVER (PARTITION BY topic ORDER BY part_id) AS rn,
           count(*) OVER (PARTITION BY topic) AS n_parts
    FROM jobs
  )
)
SELECT h.topic,
       count(*) AS n_jobs,
       CAST(sum(CASE WHEN h.hrw_worker <> r.range_worker THEN 1 ELSE 0 END) AS BIGINT)
         AS n_divergent,
       round(sum(CASE WHEN h.hrw_worker <> r.range_worker THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS divergence_frac
FROM hrw h JOIN rng r USING (topic, part_id)
GROUP BY h.topic
"""


@register("rebalancer_shadow_compare", SHADOW_ORACLE)
def rebalancer_shadow_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShadowRebalancerDelegate / ShadowRebalancerDelegateImpl
    (datatransfer/controller/rebalancer/ShadowRebalancerDelegateImpl
    .java): run a candidate rebalancer in SHADOW next to the live one
    and measure how far the assignments diverge before cutting over.
    Here: rendezvous (B1, live) vs Kafka RangeAssignor (B10, shadow),
    divergence per topic.

    SCALE: both assignments are control-plane-sized plans; the diff is
    one join on (topic, part_id) over O(jobs) rows."""
    live = partition_assignment(spark, sf_dir).withColumnRenamed(
        "assigned_worker", "hrw_worker"
    )
    shadow = range_assignment(spark, sf_dir).withColumnRenamed(
        "assigned_worker", "range_worker"
    )
    diff = F.when(F.col("hrw_worker") != F.col("range_worker"), 1).otherwise(0)
    return (
        live.join(shadow, ["topic", "part_id"])
        .groupBy("topic")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(diff).alias("n_divergent"),
            F.round(F.sum(diff) / F.count("*"), 6).alias("divergence_frac"),
        )
    )


# --- B12 -----------------------------------------------------------------
WORKERS_EPOCH2 = WORKERS + ["worker-4"]
WORKERS2_SQL = "(VALUES " + ", ".join(f"('{w}')" for w in WORKERS_EPOCH2) + ") AS w(worker)"

from ..model import H_DUCK, H_SPARK  # noqa: E402

_JOB_KEY_SPARK = "concat('{salt}|', topic, '|', CAST(part_id AS STRING))"
_JOB_KEY_DUCK = "'{salt}|' || topic || '|' || CAST(part_id AS VARCHAR)"

JOB_COMMANDS_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
actual AS (
  SELECT topic, part_id, worker AS actual_worker FROM (
    SELECT j.topic, j.part_id, w.worker,
           row_number() OVER (
             PARTITION BY j.topic, j.part_id
             ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) DESC,
                      w.worker) AS rn
    FROM jobs j CROSS JOIN {WORKERS_SQL}
  ) WHERE rn = 1
),
expected AS (
  SELECT topic, part_id, worker AS expected_worker FROM (
    SELECT j.topic, j.part_id, w.worker,
           row_number() OVER (
             PARTITION BY j.topic, j.part_id
             ORDER BY md5(j.topic || '-' || CAST(j.part_id AS VARCHAR) || '-' || w.worker) DESC,
                      w.worker) AS rn
    FROM jobs j CROSS JOIN {WORKERS2_SQL}
  ) WHERE rn = 1
),
st AS (
  SELECT e.topic, e.part_id, e.expected_worker, a.actual_worker,
         CASE WHEN {H_DUCK.format(col=_JOB_KEY_DUCK.format(salt='exp'))} % 10 = 0
              THEN 'CANCELED' ELSE 'RUNNING' END AS expected_state,
         CASE WHEN {H_DUCK.format(col=_JOB_KEY_DUCK.format(salt='act'))} % 7 = 0
              THEN 'FAILED' ELSE 'RUNNING' END AS actual_state
  FROM expected e JOIN actual a USING (topic, part_id)
)
SELECT topic, part_id, expected_worker, actual_worker, expected_state, actual_state,
       CASE WHEN expected_state = 'RUNNING' AND actual_state <> 'RUNNING' THEN 'RUN_JOB'
            WHEN expected_state = 'RUNNING' AND expected_worker <> actual_worker THEN 'UPDATE_JOB'
            WHEN expected_state <> 'RUNNING' AND actual_state = 'RUNNING' THEN 'CANCEL_JOB'
       END AS command
FROM st
WHERE (expected_state = 'RUNNING' AND actual_state <> 'RUNNING')
   OR (expected_state = 'RUNNING' AND actual_state = 'RUNNING' AND expected_worker <> actual_worker)
   OR (expected_state <> 'RUNNING' AND actual_state = 'RUNNING')
"""


@register("job_commands", JOB_COMMANDS_ORACLE)
def job_commands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommandListBuilder (controller/rpc/CommandListBuilder.java): the
    controller's per-heartbeat output is not an assignment table but the
    reconciler DIFF between expected and actual job state, distributed
    to workers as commands:

        expected RUNNING, actual != RUNNING              -> RUN_JOB
        expected RUNNING, actual RUNNING, config changed -> UPDATE_JOB
        expected != RUNNING, actual RUNNING              -> CANCEL_JOB

    Config change = assignment moved (isSameExceptStartOffset in
    common/JobUtils.java: start offset is excluded from the comparison,
    so only the routing/worker change counts). Epochs are the B1
    rendezvous assignment over the epoch-N worker set (4 workers,
    actual) vs epoch-N+1 (worker-4 added, expected); job states are
    deterministic hash-simulated so RUN/CANCEL paths are non-empty.

    SCALE: both assignments are control-plane-sized rendezvous plans
    (jobs x workers, broadcast); the diff is one join on (topic,
    part_id) over O(jobs) rows. Message-scale data is touched once, to
    derive the job list."""
    jobs = _jobs_df(spark, sf_dir)
    actual = rendezvous_assign(jobs, _workers_df(spark)).withColumnRenamed(
        "assigned_worker", "actual_worker"
    )
    expected = rendezvous_assign(jobs, _workers_df(spark, WORKERS_EPOCH2)).withColumnRenamed(
        "assigned_worker", "expected_worker"
    )
    exp_state = F.expr(
        f"CASE WHEN {H_SPARK.format(col=_JOB_KEY_SPARK.format(salt='exp'))} % 10 = 0 "
        "THEN 'CANCELED' ELSE 'RUNNING' END"
    )
    act_state = F.expr(
        f"CASE WHEN {H_SPARK.format(col=_JOB_KEY_SPARK.format(salt='act'))} % 7 = 0 "
        "THEN 'FAILED' ELSE 'RUNNING' END"
    )
    st = (
        expected.join(actual, ["topic", "part_id"])
        .withColumn("expected_state", exp_state)
        .withColumn("actual_state", act_state)
    )
    command = (
        F.when(
            (F.col("expected_state") == "RUNNING") & (F.col("actual_state") != "RUNNING"),
            "RUN_JOB",
        )
        .when(
            (F.col("expected_state") == "RUNNING")
            & (F.col("expected_worker") != F.col("actual_worker")),
            "UPDATE_JOB",
        )
        .when(
            (F.col("expected_state") != "RUNNING") & (F.col("actual_state") == "RUNNING"),
            "CANCEL_JOB",
        )
    )
    return (
        st.withColumn("command", command)
        .filter(F.col("command").isNotNull())
        .select(
            "topic", "part_id", "expected_worker", "actual_worker",
            "expected_state", "actual_state", "command",
        )
    )


# --- B13 -----------------------------------------------------------------
# Per-job workload weight in exact integer units: bytes carried plus a
# 1000-byte fixed overhead per message (the CPU cost proxy — CpuUsageMeter
# measures compute per message, which tracks message count more than raw
# bytes). BIGINT so sums are order-independent and cross-engine exact.
WEIGHT_SQL = "CAST(sum(size_bytes) + 1000 * count(*) AS BIGINT)"

WORKLOAD_ASSIGN_ORACLE = f"""{MSG_CTE},
loads AS (
  SELECT topic, part_id, count(*) AS n_msgs, CAST(sum(size_bytes) AS BIGINT) AS n_bytes,
         {WEIGHT_SQL} AS weight
  FROM messages GROUP BY topic, part_id
),
ranked AS (
  SELECT topic, part_id, n_msgs, n_bytes, weight,
         row_number() OVER (ORDER BY weight DESC, topic, part_id) - 1 AS r
  FROM loads
)
SELECT 'worker-' || CAST(CASE WHEN (r // {len(WORKERS)}) % 2 = 0
                              THEN r % {len(WORKERS)}
                              ELSE {len(WORKERS)} - 1 - (r % {len(WORKERS)}) END AS VARCHAR)
         AS worker,
       count(*)                     AS n_jobs,
       CAST(sum(n_msgs) AS BIGINT)  AS total_msgs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(weight) AS BIGINT)  AS total_weight
FROM ranked
GROUP BY 1
"""


def workload_snake_assign(loads: DataFrame, n_workers: int) -> DataFrame:
    """Frame-level B13: longest-processing-time-style placement — jobs
    sorted by weight descending, dealt to workers in snake-draft order
    (0..W-1 then W-1..0), so each round pairs heavy picks with light
    ones. Deterministic, one control-plane-sized window."""
    w = Window.orderBy(F.col("weight").desc(), F.col("topic"), F.col("part_id"))
    r = F.row_number().over(w) - 1
    fwd = r % n_workers
    worker_idx = F.when(((r / n_workers).cast("bigint") % 2) == 0, fwd).otherwise(
        n_workers - 1 - fwd
    )
    return loads.withColumn(
        "worker", F.concat(F.lit("worker-"), worker_idx.cast("bigint").cast("string"))
    )


@register("workload_assignment", WORKLOAD_ASSIGN_ORACLE)
def workload_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PipelineLoadTracker / CpuUsageMeter / Workload
    (worker/pipelines/PipelineLoadTracker.java, datatransfer/worker/
    common/CpuUsageMeter.java, controller/rpc/Workload.java): the
    reference balances on MEASURED workload, not job count — each
    pipeline reports CPU/throughput load and the rebalancer packs
    weights. Weight = bytes + 1000/msg overhead (integer units, exact
    cross-engine); placement is snake-draft LPT over weight-ranked
    jobs; output is the per-worker packing the balance invariant
    checks.

    SCALE: the only message-scale stage is the per-job load agg (one
    shuffle, map-side combined); ranking and placement run over
    O(jobs) control-plane rows in one tiny window stage."""
    loads = (
        messages(spark, sf_dir)
        .groupBy("topic", "part_id")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("size_bytes").alias("n_bytes"),
            (F.sum("size_bytes") + 1000 * F.count("*")).cast("bigint").alias("weight"),
        )
    )
    return (
        workload_snake_assign(loads, len(WORKERS))
        .groupBy("worker")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum("n_msgs").alias("total_msgs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("weight").alias("total_weight"),
        )
    )


# --- B14 -----------------------------------------------------------------
# OLS slope over per-window message counts: all moments are BIGINT sums
# (exact, order-independent), so the double math that follows is the same
# IEEE-754 sequence in Spark and DuckDB.
AUTOSCALE_PREDICTION_ORACLE = f"""{MSG_CTE},
windows AS (
  SELECT topic,
         (CAST(floor(epoch(ts)) AS BIGINT) // 300) AS w_idx,
         count(*) AS cnt
  FROM messages GROUP BY 1, 2
),
moments AS (
  SELECT topic,
         count(*)                                   AS n_windows,
         CAST(sum(w_idx - 5680000) AS BIGINT)       AS sx,
         CAST(sum(cnt) AS BIGINT)                   AS sy,
         CAST(sum((w_idx - 5680000) * cnt) AS BIGINT) AS sxy,
         CAST(sum((w_idx - 5680000) * (w_idx - 5680000)) AS BIGINT) AS sxx,
         CAST(max(w_idx - 5680000) AS BIGINT)       AS x_max
  FROM windows GROUP BY topic
),
fit AS (
  SELECT m.topic, m.n_windows, q.quota_mps,
         CAST(m.n_windows * m.sxy - m.sx * m.sy AS DOUBLE)
           / (m.n_windows * m.sxx - m.sx * m.sx)              AS slope_cnt,
         (CAST(m.sy AS DOUBLE)
          - CAST(m.n_windows * m.sxy - m.sx * m.sy AS DOUBLE)
            / (m.n_windows * m.sxx - m.sx * m.sx) * m.sx) / m.n_windows AS intercept_cnt,
         m.x_max
  FROM moments m JOIN {QUOTAS_SQL} USING (topic)
)
SELECT topic, n_windows, quota_mps,
       round(slope_cnt / 300.0, 6) + 0.0                             AS slope_mps_per_window,
       round((intercept_cnt + slope_cnt * x_max) / 300.0, 6) + 0.0   AS fitted_mps,
       CASE WHEN intercept_cnt + slope_cnt * x_max >= quota_mps * 300.0 THEN CAST(0 AS BIGINT)
            WHEN slope_cnt <= 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(ceil((quota_mps * 300.0 - (intercept_cnt + slope_cnt * x_max))
                           / slope_cnt) AS BIGINT)
       END AS windows_to_quota
FROM fit
"""

# Offset every window index by a constant near the data's epoch range so
# the BIGINT moment sums stay far from overflow at any corpus scale.
_X_OFF = 5680000


@register("autoscale_prediction", AUTOSCALE_PREDICTION_ORACLE)
def autoscale_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScalePredictionUtils / ScalePrediction
    (controller/autoscalar/ScalePredictionUtils.java): beyond B3's
    reactive window-vs-quota verdict, the reference PROJECTS the scale
    trajectory forward and reports a countdown until the proposal
    matures. Here: closed-form least-squares slope of per-window
    message counts over window index, per topic; countdown = windows
    until the fitted line crosses the topic quota (0 if already over,
    NULL if the trend is flat/declining).

    SCALE: the message-scale stage is the (topic, window) count agg —
    one partial-agg shuffle; the OLS moments are BIGINT sums per topic
    (exact, order-independent — double math happens only on the final
    O(topics) rows), quota table broadcast."""
    m = messages(spark, sf_dir)
    w_idx = F.expr(f"CAST(unix_timestamp(ts) DIV 300 AS BIGINT) - {_X_OFF}")
    windows = (
        m.withColumn("x", w_idx).groupBy("topic", "x").agg(F.count("*").alias("cnt"))
    )
    moments = windows.groupBy("topic").agg(
        F.count("*").alias("n_windows"),
        F.sum("x").alias("sx"),
        F.sum("cnt").alias("sy"),
        F.sum(F.col("x") * F.col("cnt")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("x_max"),
    )
    quotas = _quotas_df(spark)
    slope = F.expr(
        "CAST(n_windows * sxy - sx * sy AS DOUBLE) / (n_windows * sxx - sx * sx)"
    )
    fit = (
        moments.join(F.broadcast(quotas), "topic")
        .withColumn("slope_cnt", slope)
        .withColumn(
            "intercept_cnt",
            F.expr("(CAST(sy AS DOUBLE) - slope_cnt * sx) / n_windows"),
        )
        .withColumn("fitted_cnt", F.expr("intercept_cnt + slope_cnt * x_max"))
    )
    countdown = (
        F.when(F.col("fitted_cnt") >= F.col("quota_mps") * 300.0, F.lit(0).cast("bigint"))
        .when(F.col("slope_cnt") <= 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.ceil((F.col("quota_mps") * 300.0 - F.col("fitted_cnt")) / F.col("slope_cnt")).cast(
                "bigint"
            )
        )
    )
    return fit.select(
        "topic",
        "n_windows",
        "quota_mps",
        # + 0.0 collapses IEEE -0.0 (a tiny negative slope rounded to
        # zero) to +0.0 in BOTH engines: repr-hash comparisons would
        # otherwise see -0.0 != 0.0
        (F.round(F.col("slope_cnt") / 300.0, 6) + F.lit(0.0)).alias("slope_mps_per_window"),
        (F.round(F.col("fitted_cnt") / 300.0, 6) + F.lit(0.0)).alias("fitted_mps"),
        countdown.alias("windows_to_quota"),
    )


# --- B18 -----------------------------------------------------------------
# Deterministic simulated job/group states (same conv(md5) trick as B12):
# prior job state and job-group state are hash-derived so every
# computeJobState branch (end-offset cancel, group propagation, all-jobs
# rollup) is non-empty at any SF.
_B18_JOB_STATE = (
    "CASE {h} % 5 WHEN 0 THEN 'JOB_STATE_CANCELED' "
    "WHEN 1 THEN 'JOB_STATE_FAILED' ELSE 'JOB_STATE_RUNNING' END"
)
_B18_GROUP_STATE = (
    "CASE {h} % 4 WHEN 0 THEN 'JOB_STATE_CANCELED' "
    "WHEN 1 THEN 'JOB_STATE_FAILED' ELSE 'JOB_STATE_RUNNING' END"
)
_TOPIC_KEY_SPARK = "concat('grp|', topic)"
_TOPIC_KEY_DUCK = "'grp|' || topic"

BATCH_COMPLETION_ORACLE = f"""{MSG_CTE},
jobs AS (
  SELECT topic, part_id,
         min(msg_offset) AS start_offset,
         max(msg_offset) AS max_offset,
         max(CASE WHEN acked THEN msg_offset END) AS commit_offset
  FROM messages GROUP BY topic, part_id
),
spec AS (
  SELECT *,
         start_offset
           + (max_offset - start_offset)
             * (50 + {H_DUCK.format(col=_JOB_KEY_DUCK.format(salt='end'))} % 100) // 100
           AS end_offset,
         {_B18_JOB_STATE.format(h=H_DUCK.format(col=_JOB_KEY_DUCK.format(salt='jst')))}
           AS prev_state,
         {_B18_GROUP_STATE.format(h=H_DUCK.format(col=_TOPIC_KEY_DUCK))} AS group_state
  FROM jobs
),
stepped AS (
  SELECT *,
         CASE
           WHEN prev_state <> 'JOB_STATE_CANCELED'
                AND commit_offset IS NOT NULL AND end_offset <= commit_offset
             THEN 'JOB_STATE_CANCELED'
           WHEN prev_state <> 'JOB_STATE_CANCELED' AND prev_state <> group_state
             THEN group_state
           ELSE prev_state
         END AS new_state,
         CASE
           WHEN prev_state <> 'JOB_STATE_CANCELED'
                AND commit_offset IS NOT NULL AND end_offset <= commit_offset
             THEN 'END_REACHED'
           WHEN prev_state <> 'JOB_STATE_CANCELED' AND prev_state <> group_state
             THEN 'GROUP_PROPAGATED'
           ELSE 'UNCHANGED'
         END AS reason
  FROM spec
)
SELECT topic, part_id, start_offset, end_offset, commit_offset,
       prev_state, group_state, new_state, reason,
       CASE WHEN min(CASE WHEN new_state = 'JOB_STATE_CANCELED' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY topic) = 1
                 AND group_state <> 'JOB_STATE_CANCELED'
            THEN 'JOB_STATE_CANCELED' ELSE group_state END AS new_group_state
FROM stepped
"""


@register("batch_job_completion", BATCH_COMPLETION_ORACLE)
def batch_job_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BatchRpcUriRebalancer.computeJobState
    (consumerproxy/controller/rebalancer/BatchRpcUriRebalancer.java:71):
    the batch (DLQ-merge) rebalancer's per-heartbeat state step. In
    priority order, per job:

      1. not CANCELED and commitOffset >= endOffset -> CANCELED
         (the job consumed its assigned range; END_REACHED)
      2. not CANCELED and state != group state -> group state
         (propagation; CANCELED jobs are exempt because they are just
         waiting for sibling partitions to finish)
      3. otherwise unchanged

    then the group rolls up: if every job in a non-empty group is now
    CANCELED and the group isn't, the group is CANCELED (the batch job
    is complete).

    Streaming flavor: StreamingRpcUriRebalancer.computeJobState
    (consumerproxy/controller/rebalancer/StreamingRpcUriRebalancer.java:38)
    is the SAME group-state propagation with CANCELED exempt (rule 2
    here), minus rule 1 — a streaming job has no end offset, so the
    commit>=end cancellation branch never applies. Running this
    operator with every end_offset set beyond max_offset IS the
    streaming rebalancer's step; no separate key is warranted.

    Job spec end offsets are hash-simulated at 50-149% of each
    partition's range so both the completed and the still-running
    branches are exercised; the worker-reported commit offset is the
    max acked offset (the strict contiguous watermark variant lives in
    A5/A21). States follow the JobState proto enum.

    SCALE: one message-scale aggregation keyed (topic, part_id); the
    state step and the all-jobs-canceled rollup run on the O(jobs)
    control-plane frame (window over topic ~ partitions-per-topic
    rows). At 100 TB the heartbeat diff never re-reads the log — it
    would consume A5's incrementally-maintained watermark table."""
    jobs = messages(spark, sf_dir).groupBy("topic", "part_id").agg(
        F.min("msg_offset").alias("start_offset"),
        F.max("msg_offset").alias("max_offset"),
        F.max(F.when(F.col("acked"), F.col("msg_offset"))).alias("commit_offset"),
    )
    h_end = H_SPARK.format(col=_JOB_KEY_SPARK.format(salt="end"))
    h_jst = H_SPARK.format(col=_JOB_KEY_SPARK.format(salt="jst"))
    h_grp = H_SPARK.format(col=_TOPIC_KEY_SPARK)
    spec = (
        jobs.withColumn(
            "end_offset",
            F.expr(
                f"start_offset + (max_offset - start_offset) * (50 + {h_end} % 100) DIV 100"
            ),
        )
        .withColumn("prev_state", F.expr(_B18_JOB_STATE.format(h=h_jst)))
        .withColumn("group_state", F.expr(_B18_GROUP_STATE.format(h=h_grp)))
    )
    end_reached = (
        (F.col("prev_state") != "JOB_STATE_CANCELED")
        & F.col("commit_offset").isNotNull()
        & (F.col("end_offset") <= F.col("commit_offset"))
    )
    propagate = (F.col("prev_state") != "JOB_STATE_CANCELED") & (
        F.col("prev_state") != F.col("group_state")
    )
    stepped = spec.withColumn(
        "new_state",
        F.when(end_reached, "JOB_STATE_CANCELED")
        .when(propagate, F.col("group_state"))
        .otherwise(F.col("prev_state")),
    ).withColumn(
        "reason",
        F.when(end_reached, "END_REACHED")
        .when(propagate, "GROUP_PROPAGATED")
        .otherwise("UNCHANGED"),
    )
    all_canceled = (
        F.min(F.when(F.col("new_state") == "JOB_STATE_CANCELED", 1).otherwise(0)).over(
            Window.partitionBy("topic")
        )
        == 1
    )
    return stepped.select(
        "topic", "part_id", "start_offset", "end_offset", "commit_offset",
        "prev_state", "group_state", "new_state", "reason",
        F.when(
            all_canceled & (F.col("group_state") != "JOB_STATE_CANCELED"),
            "JOB_STATE_CANCELED",
        )
        .otherwise(F.col("group_state"))
        .alias("new_group_state"),
    )


# --- B19 -----------------------------------------------------------------
# Pod-ification: job groups hash across N_JOB_PODS isolation domains,
# workers across the first N_WORKER_PODS of them — so at least one job
# pod has no workers and the fallback redistribution path is exercised.
N_JOB_PODS = 3
N_WORKER_PODS = 2

from ..model import H_DUCK, H_SPARK  # noqa: E402  (cross-engine string hash)

PODIFY_ORACLE = f"""{MSG_CTE},
job_groups AS (
  SELECT DISTINCT topic,
         'pod-' || CAST({H_DUCK.format(col="topic")} % {N_JOB_PODS} AS VARCHAR) AS job_pod
  FROM messages
),
jobs AS (
  SELECT topic, part_id, count(*) AS n_msgs FROM messages GROUP BY topic, part_id
),
workers AS (
  SELECT worker,
         'pod-' || CAST(CAST(substr(worker, 8) AS BIGINT) % {N_WORKER_PODS} AS VARCHAR) AS pod
  FROM {WORKERS_SQL}
),
pod_workers AS (
  SELECT pod, count(*) AS n_pod_workers FROM workers GROUP BY pod
),
totals AS (
  SELECT count(*) AS total_workers FROM workers
),
homeless AS (
  SELECT jg.topic,
         row_number() OVER (ORDER BY jg.topic) AS r,
         count(*) OVER () AS n_homeless
  FROM job_groups jg LEFT JOIN pod_workers pw ON jg.job_pod = pw.pod
  WHERE pw.pod IS NULL
),
quota AS (
  SELECT pw.pod, pw.n_pod_workers,
         CAST(round(CAST(pw.n_pod_workers AS DOUBLE) / t.total_workers
                    * (SELECT coalesce(max(n_homeless), 0) FROM homeless)) AS BIGINT) AS cnt
  FROM pod_workers pw CROSS JOIN totals t
),
ranges AS (
  SELECT pod, n_pod_workers, cnt,
         sum(cnt) OVER (ORDER BY pod ROWS UNBOUNDED PRECEDING) AS hi,
         sum(cnt) OVER (ORDER BY pod ROWS UNBOUNDED PRECEDING) - cnt AS lo
  FROM quota
),
placed AS (
  SELECT jg.topic, pw.pod, 'native' AS placement
  FROM job_groups jg JOIN pod_workers pw ON jg.job_pod = pw.pod
  UNION ALL
  SELECT h.topic,
         coalesce(
           (SELECT r2.pod FROM ranges r2 WHERE h.r > r2.lo AND h.r <= r2.hi),
           (SELECT pod FROM pod_workers ORDER BY n_pod_workers DESC, pod LIMIT 1)
         ) AS pod,
         'fallback' AS placement
  FROM homeless h
)
SELECT p.pod, p.topic, p.placement,
       count(*)                       AS n_jobs,
       CAST(sum(j.n_msgs) AS BIGINT)  AS n_msgs,
       max(pw.n_pod_workers)          AS n_pod_workers
FROM placed p
JOIN jobs j USING (topic)
JOIN pod_workers pw ON p.pod = pw.pod
GROUP BY p.pod, p.topic, p.placement
"""


@register("pod_assignment_groups", PODIFY_ORACLE)
def pod_assignment_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JobGroupAndWorkerPodifier + JobPodPlacementProvider
    (uforwarder/.../controller/rebalancer/JobGroupAndWorkerPodifier.java:38,
    datatransfer/.../controller/rebalancer/JobPodPlacementProvider.java:30):
    the grouping step B9 assumes — partition the job-group and worker
    universes into pods via the placement provider, detect pods that
    carry job groups but no workers (:65-73), and redistribute those
    groups across worker-bearing pods proportionally to each pod's share
    of the total worker count (selectFallbackPod, :102-130; Math.round
    of worker-ratio × homeless-count, consumed in deterministic pod-name
    order here where the reference iterates a HashMap). Any group the
    rounded quotas leave unassigned goes to the largest pod (name-
    ordered tie-break). Emits the per-(pod, job-group) rebalance groups
    with native/fallback provenance — PodAwareRebalanceGroup's content.

    SCALE: everything after the one jobs agg is O(topics + workers)
    control-plane metadata — broadcast joins and single-row windows; the
    message log is scanned once for per-job load."""
    m = messages(spark, sf_dir)
    jobs = m.groupBy("topic", "part_id").agg(F.count("*").alias("n_msgs"))
    job_groups = (
        jobs.select("topic")
        .distinct()
        .withColumn(
            "job_pod",
            F.concat(F.lit("pod-"), (F.expr(H_SPARK.format(col="topic")) % N_JOB_PODS).cast("string")),
        )
    )
    workers = _workers_df(spark).withColumn(
        "pod",
        F.concat(
            F.lit("pod-"),
            (F.substring("worker", 8, 10).cast("long") % N_WORKER_PODS).cast("string"),
        ),
    )
    pod_workers = workers.groupBy("pod").agg(F.count("*").alias("n_pod_workers"))
    # total workers is the static control-plane universe (workerMap.size())
    total_workers = len(WORKERS)

    native = job_groups.join(F.broadcast(pod_workers), job_groups.job_pod == pod_workers.pod, "left")
    homeless = (
        native.filter(F.col("pod").isNull())
        .select("topic")
        .withColumn("r", F.row_number().over(Window.orderBy("topic")))
    )
    # 1-row homeless count, broadcast — no driver-side action in the plan.
    homeless_n = homeless.agg(F.count("*").alias("n_homeless"))

    w_cum = Window.orderBy("pod").rowsBetween(Window.unboundedPreceding, 0)
    ranges = (
        pod_workers.crossJoin(F.broadcast(homeless_n))
        .withColumn(
            "cnt",
            F.round(
                F.col("n_pod_workers").cast("double") / total_workers * F.col("n_homeless")
            ).cast("bigint"),
        )
        .withColumn("hi", F.sum("cnt").over(w_cum))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
    )
    default_pod = (
        pod_workers.withColumn(
            "drn", F.row_number().over(Window.orderBy(F.col("n_pod_workers").desc(), "pod"))
        )
        .filter(F.col("drn") == 1)
        .select(F.col("pod").alias("default_pod"))
    )
    fallback = (
        homeless.join(
            F.broadcast(ranges.select("pod", "lo", "hi")),
            (F.col("r") > F.col("lo")) & (F.col("r") <= F.col("hi")),
            "left",
        )
        .crossJoin(F.broadcast(default_pod))
        .withColumn("pod", F.coalesce(F.col("pod"), F.col("default_pod")))
        .select("topic", "pod", F.lit("fallback").alias("placement"))
    )
    placed = native.filter(F.col("pod").isNotNull()).select(
        "topic", "pod", F.lit("native").alias("placement")
    ).unionByName(fallback)

    return (
        placed.join(jobs, "topic")
        .join(F.broadcast(pod_workers), "pod")
        .groupBy("pod", "topic", "placement")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum("n_msgs").alias("n_msgs"),
            F.max("n_pod_workers").alias("n_pod_workers"),
        )
    )


# --- B20 -----------------------------------------------------------------
FC_MAX_INFLIGHT_PER_JOB = 10      # per-job maxInflightMessages quota
FC_BYTES_PER_MSG = 1000           # per-job byte quota = mps quota × this
FC_MIN_VALID_RATE = 1.0           # MINIMUM_VALID_RATE fallback
FC_MIN_VALID_INFLIGHT = 1.0       # MINIMUM_VALID_INFLIGHT_MESSAGES

FLOW_CONTROL_ORACLE = f"""{MSG_CTE},
jobs AS ({JOBS_SQL}),
job_quota AS (
  SELECT j.topic, j.part_id,
         q.quota_mps / {N_PARTITIONS} AS messages_per_sec,
         q.quota_mps * {FC_BYTES_PER_MSG} / {N_PARTITIONS} AS bytes_per_sec,
         CAST({FC_MAX_INFLIGHT_PER_JOB} AS DOUBLE) AS max_inflight
  FROM jobs j JOIN {QUOTAS_SQL} ON j.topic = q.topic
)
SELECT topic,
       count(*) AS n_jobs,
       CASE WHEN sum(messages_per_sec) = 0 THEN {FC_MIN_VALID_RATE}
            ELSE round(sum(messages_per_sec), 8) END    AS messages_per_sec_total,
       CASE WHEN sum(bytes_per_sec) = 0 THEN 1.7976931348623157e308
            ELSE round(sum(bytes_per_sec), 8) END       AS bytes_per_sec_total,
       CASE WHEN sum(max_inflight) = 0 THEN {FC_MIN_VALID_INFLIGHT}
            ELSE round(sum(max_inflight), 8) END        AS max_inflight_total
FROM job_quota
GROUP BY topic
"""


def flow_control_frame(job_quota: DataFrame) -> DataFrame:
    """Frame-level B20 (unit-testable): handleFlowChange totals with the
    minimum-valid floors (0 rate → 1 msg/s, 0 bytes → unbounded,
    0 inflight → 1)."""
    tot = job_quota.groupBy("topic").agg(
        F.count("*").alias("n_jobs"),
        F.sum("messages_per_sec").alias("mps_sum"),
        F.sum("bytes_per_sec").alias("bps_sum"),
        F.sum("max_inflight").alias("infl_sum"),
    )
    # round(·, 8): double summation is not bit-stable across engines
    # (DuckDB's accumulation tree differs from Spark's partial aggs);
    # 8 digits is far beyond quota resolution and restores hash parity.
    return tot.select(
        "topic",
        "n_jobs",
        F.when(F.col("mps_sum") == 0, FC_MIN_VALID_RATE)
        .otherwise(F.round(F.col("mps_sum"), 8))
        .alias("messages_per_sec_total"),
        F.when(F.col("bps_sum") == 0, F.lit(1.7976931348623157e308))
        .otherwise(F.round(F.col("bps_sum"), 8))
        .alias("bytes_per_sec_total"),
        F.when(F.col("infl_sum") == 0, FC_MIN_VALID_INFLIGHT)
        .otherwise(F.round(F.col("infl_sum"), 8))
        .alias("max_inflight_total"),
    )


@register("flow_control_aggregate", FLOW_CONTROL_ORACLE)
def flow_control_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KafkaPipelineStateManager.handleFlowChange
    (uforwarder-core/.../worker/pipelines/KafkaPipelineStateManager.java:351-383):
    a pipeline's effective flow control is the SUM of its running jobs'
    per-job quotas (messagesPerSec / bytesPerSec / maxInflightMessages),
    with minimum-valid floors so a pipeline holding only stale jobs is
    never fully blocked (MINIMUM_VALID_FLOW, :38-47: rate 0 → 1 msg/s,
    bytes 0 → Double.MAX_VALUE, inflight 0 → 1). Per-job quota is the
    group quota split evenly across the topic's partitions.

    SCALE: jobs × quotas is control-plane metadata — broadcast join and
    one tiny agg; the message log is touched only for the job universe."""
    m = messages(spark, sf_dir)
    jobs = m.select("topic", "part_id").distinct()
    quotas = _quotas_df(spark)
    job_quota = jobs.join(F.broadcast(quotas), "topic").select(
        "topic",
        "part_id",
        (F.col("quota_mps") / N_PARTITIONS).alias("messages_per_sec"),
        (F.col("quota_mps") * FC_BYTES_PER_MSG / N_PARTITIONS).alias("bytes_per_sec"),
        F.lit(float(FC_MAX_INFLIGHT_PER_JOB)).alias("max_inflight"),
    )
    return flow_control_frame(job_quota)


# --- B21 -----------------------------------------------------------------
WL_AS_OF = "2024-01-31 00:00:00"      # observation instant (heartbeat clock)
WL_TTL_MS = 7 * 86_400_000            # throughputTTL: samples expire after
WL_RATE_WINDOW_MS = 86_400_000        # rate window backing each heartbeat

WORKLOAD_MONITOR_ORACLE = f"""{MSG_CTE},
samples AS (
  SELECT topic, part_id,
         epoch_ms(max(ts)) AS last_sample_ms,
         CAST(count(CASE WHEN acked AND epoch_ms(ts) >
               epoch_ms(TIMESTAMP '{WL_AS_OF}') - {WL_RATE_WINDOW_MS} THEN 1 END)
              AS DOUBLE) * 1000.0 / {WL_RATE_WINDOW_MS}            AS mps,
         CAST(sum(CASE WHEN acked AND epoch_ms(ts) >
               epoch_ms(TIMESTAMP '{WL_AS_OF}') - {WL_RATE_WINDOW_MS}
               THEN size_bytes ELSE 0 END)
              AS DOUBLE) * 1000.0 / {WL_RATE_WINDOW_MS}            AS bps
  FROM messages
  GROUP BY topic, part_id
),
flagged AS (
  SELECT *,
         epoch_ms(TIMESTAMP '{WL_AS_OF}') - last_sample_ms <= {WL_TTL_MS} AS fresh
  FROM samples
)
SELECT topic,
       count(*)                                            AS n_partitions,
       CAST(sum(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
       round(sum(CASE WHEN fresh THEN mps ELSE 0 END), 8)  AS messages_per_sec,
       round(sum(CASE WHEN fresh THEN bps ELSE 0 END), 8)  AS bytes_per_sec,
       bool_or(fresh)                                      AS present
FROM flagged
GROUP BY topic
"""


@register("workload_monitor_ttl", WORKLOAD_MONITOR_ORACLE)
def workload_monitor_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JobWorkloadMonitor
    (uforwarder-core/.../controller/autoscalar/JobWorkloadMonitor.java:45,89-140):
    the controller aggregates per-partition workload heartbeats into a
    job-group sum for the AutoScalar — but each partition's sample
    expires throughputTTL after its last write (Guava expireAfterWrite,
    :95), so a group's workload is the sum over FRESH partitions only,
    and a group with no fresh sample is absent (getSum → empty,
    present = false). Heartbeat rates here are the A28 fetcher signal
    over a trailing rate window; the heartbeat clock is the partition's
    last message.

    SCALE: two aligned partial aggs ((topic, part_id) → topic) over one
    scan; summed doubles rounded to 8 digits for cross-engine hash
    stability (see flow_control_aggregate)."""
    m = messages(spark, sf_dir)
    as_of_ms = F.unix_millis(F.lit(WL_AS_OF).cast("timestamp"))
    in_window = F.col("acked") & (F.unix_millis("ts") > as_of_ms - WL_RATE_WINDOW_MS)
    samples = m.groupBy("topic", "part_id").agg(
        F.unix_millis(F.max("ts")).alias("last_sample_ms"),
        (F.count(F.when(in_window, 1)).cast("double") * 1000.0 / WL_RATE_WINDOW_MS).alias("mps"),
        (
            F.sum(F.when(in_window, F.col("size_bytes")).otherwise(0)).cast("double")
            * 1000.0
            / WL_RATE_WINDOW_MS
        ).alias("bps"),
    )
    flagged = samples.withColumn(
        "fresh", (as_of_ms - F.col("last_sample_ms")) <= WL_TTL_MS
    )
    return flagged.groupBy("topic").agg(
        F.count("*").alias("n_partitions"),
        F.sum(F.when(F.col("fresh"), 1).otherwise(0)).cast("bigint").alias("n_fresh"),
        F.round(F.sum(F.when(F.col("fresh"), F.col("mps")).otherwise(0.0)), 8).alias(
            "messages_per_sec"
        ),
        F.round(F.sum(F.when(F.col("fresh"), F.col("bps")).otherwise(0.0)), 8).alias(
            "bytes_per_sec"
        ),
        F.max("fresh").alias("present"),
    )


# --- B22 -----------------------------------------------------------------
# Supply/demand load-ratio constants (scale units). Micro-unit integer
# arithmetic keeps the demand sum EXACT: per-job scales are floored to
# 1e-6 scale units (bigint), capped, and summed as integers; only the
# final load ratio divides — one double op, bit-identical cross-engine.
LOAD_MPS_PER_WORKER = 0.001  # messages/sec one worker absorbs
LOAD_BPS_PER_WORKER = 0.08   # bytes/sec one worker absorbs
LOAD_CAP_MICRO = 80_000      # per-worker capacity: 0.08 scale units, micro

# greatest(span, 1): seconds-truncated timestamps make span = 0 whenever
# every observed message lands within one second (e.g. the FIRST E30
# micro-batch). Without the guard Spark's div-by-zero yields NULL and
# least(NULL, cap) skips nulls, so every job's demand silently becomes
# the full cap while n_capped stays 0; DuckDB instead raises on the
# inf -> bigint cast. Clamping the denominator to one second keeps both
# engines bit-identical and the rates finite (a sub-second window is
# treated as one second of observation).
_LOAD_SCALE_MICRO = (
    "CAST(floor(greatest("
    f"(CAST(n_msgs AS DOUBLE) / CAST(greatest(span, 1) AS DOUBLE)) / {LOAD_MPS_PER_WORKER}, "
    f"(CAST(n_bytes AS DOUBLE) / CAST(greatest(span, 1) AS DOUBLE)) / {LOAD_BPS_PER_WORKER}"
    ") * 1000000.0) AS BIGINT)"
)

SYSTEM_LOAD_ORACLE = f"""{MSG_CTE},
span_t AS (
  SELECT CAST(floor(epoch(max(ts))) AS BIGINT)
         - CAST(floor(epoch(min(ts))) AS BIGINT) AS span
  FROM messages
),
jobs AS (
  SELECT topic, part_id, count(*) AS n_msgs,
         CAST(sum(size_bytes) AS BIGINT) AS n_bytes
  FROM messages WHERE outcome <> 'SKIP'
  GROUP BY topic, part_id
),
scaled AS (
  SELECT topic, part_id,
         {_LOAD_SCALE_MICRO} AS scale_micro
  FROM jobs CROSS JOIN span_t
),
per_topic AS (
  SELECT topic,
         count(*) AS n_jobs,
         CAST(sum(CASE WHEN scale_micro >= {LOAD_CAP_MICRO} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_capped,
         CAST(sum(least(scale_micro, {LOAD_CAP_MICRO})) AS BIGINT) AS demand_micro
  FROM scaled GROUP BY topic
),
sys AS (
  SELECT CAST(sum(demand_micro) AS BIGINT) AS sys_demand_micro,
         CAST(4 * {LOAD_CAP_MICRO} AS BIGINT) AS capacity_micro
  FROM per_topic
)
SELECT t.topic, t.n_jobs, t.n_capped, t.demand_micro,
       round(CAST(s.sys_demand_micro AS DOUBLE) / s.capacity_micro, 8) AS system_load,
       CASE WHEN CAST(s.sys_demand_micro AS DOUBLE) / s.capacity_micro < 1.0 THEN 'under'
            WHEN CAST(s.sys_demand_micro AS DOUBLE) / s.capacity_micro > 1.0 THEN 'over'
            ELSE 'balanced' END AS utilization
FROM per_topic t CROSS JOIN sys s
"""


@register("system_load_ratio", SYSTEM_LOAD_ORACLE)
def system_load_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar.onLoad / AbstractRpcUriRebalancer.postProcess+calculateLoad
    (controller/autoscalar/Scalar.java:36,
    consumerproxy/controller/rebalancer/AbstractRpcUriRebalancer.java:198)
    — the supply/demand load ratio the rebalancer feeds back to the
    autoscaler after each assignment pass: demand = Σ over RUNNING jobs
    of min(job scale, capacity_per_worker); capacity = |workers| ×
    capacity_per_worker; load < 1 under-utilized, = 1 balanced, > 1
    over-utilized. Job scale is the ThroughputScaleConverter
    (AutoScalar.java:376): max(mps / mpsPerWorker, bps / bpsPerWorker)
    over the job's measured rates; "running" = the job has at least one
    non-SKIP message (the B18 state convention). Per topic: job count,
    capped-job count, exact demand contribution (micro scale units),
    plus the system-wide ratio and its utilization verdict.

    Exactness: rates divide exact BIGINTs by the global span (fixed op
    order), the per-job scale floors to integer micro-units before the
    cap/sum, so the demand sum is exact integer arithmetic — the only
    rounded double is the final ratio.

    SCALE: one message-log scan feeding two partial aggs (per-job, then
    per-topic); the span and system rows are 1-row broadcasts. The
    control-plane output is O(topics)."""
    m = messages(spark, sf_dir)
    span = m.agg(
        (
            F.max(F.expr("unix_timestamp(ts)")) - F.min(F.expr("unix_timestamp(ts)"))
        ).alias("span")
    )
    jobs = (
        m.filter(F.col("outcome") != "SKIP")
        .groupBy("topic", "part_id")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("size_bytes").cast("bigint").alias("n_bytes"),
        )
    )
    return system_load_from(jobs, span)


def system_load_from(jobs: DataFrame, span: DataFrame) -> DataFrame:
    """The B22 load derivation from a per-job counter frame (topic,
    part_id, n_msgs, n_bytes) and a 1-row span frame — shared by batch
    B22 and the live E30 monitor (one definition, so the feedback ratio
    cannot drift between the sweep and the live path)."""
    scaled = jobs.crossJoin(F.broadcast(span)).withColumn(
        "scale_micro", F.expr(_LOAD_SCALE_MICRO)
    )
    per_topic = scaled.groupBy("topic").agg(
        F.count("*").alias("n_jobs"),
        F.sum(F.when(F.col("scale_micro") >= LOAD_CAP_MICRO, 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped"),
        F.sum(F.least(F.col("scale_micro"), F.lit(LOAD_CAP_MICRO)))
        .cast("bigint")
        .alias("demand_micro"),
    )
    sys_row = per_topic.agg(
        F.sum("demand_micro").cast("bigint").alias("sys_demand_micro"),
        F.lit(4 * LOAD_CAP_MICRO).cast("bigint").alias("capacity_micro"),
    )
    ratio = F.col("sys_demand_micro").cast("double") / F.col("capacity_micro")
    return (
        per_topic.crossJoin(F.broadcast(sys_row))
        .select(
            "topic",
            "n_jobs",
            "n_capped",
            "demand_micro",
            F.round(ratio, 8).alias("system_load"),
            F.when(ratio < 1.0, "under")
            .when(ratio > 1.0, "over")
            .otherwise("balanced")
            .alias("utilization"),
        )
    )
