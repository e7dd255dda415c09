"""Edge-case unit tests on tiny hand-built frames — the same cases the
reference tests in isolation (AckTrackingQueueTest gap/commit,
LongFixedInflightLimiterTest admit/block, HeadBlockingDetectorTest,
rebalancer balance/stability invariants).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from uforwarder_spark.model import local_table
from uforwarder_spark.operators import controller as C
from uforwarder_spark.operators import pipeline as P
from uforwarder_spark.operators.controller import rendezvous_assign
from uforwarder_spark.operators.pipeline import (
    ack_watermark_frame,
    hol_blocking_frame,
    inflight_limiter_frame,
    rate_limit_frame,
)

MSG_COLS = ["topic", "part_id", "msg_offset", "acked"]


def _msgs(spark, rows):
    return spark.createDataFrame(rows, MSG_COLS)


def _row_map(df, *keys):
    return {tuple(getattr(r, k) for k in keys): r for r in df.collect()}


# --- A5 ack watermark -----------------------------------------------------
def test_ack_watermark_head_unacked_commits_nothing(spark):
    m = _msgs(spark, [("t", 0, 1, False), ("t", 0, 2, True), ("t", 0, 3, True)])
    r = ack_watermark_frame(m).collect()[0]
    assert r.committed_offset is None  # head gap blocks the commit point
    assert r.high_watermark == 3 and r.n_acked == 2


def test_ack_watermark_prefix_then_gap(spark):
    m = _msgs(
        spark,
        [("t", 0, 1, True), ("t", 0, 2, True), ("t", 0, 3, False), ("t", 0, 4, True)],
    )
    r = ack_watermark_frame(m).collect()[0]
    assert r.committed_offset == 2  # out-of-order ack at 4 cannot commit past 3


def test_ack_watermark_all_acked_and_per_partition(spark):
    m = _msgs(
        spark,
        [("t", 0, 1, True), ("t", 0, 2, True), ("t", 1, 10, False), ("t", 1, 11, True)],
    )
    by_part = _row_map(ack_watermark_frame(m), "part_id")
    assert by_part[(0,)].committed_offset == 2
    assert by_part[(1,)].committed_offset is None  # partitions are independent


# --- A7 inflight limiter --------------------------------------------------
def test_inflight_under_limit_admits_all(spark):
    m = _msgs(spark, [("t", 0, i, False) for i in range(3)])
    r = inflight_limiter_frame(m, limit=5).collect()[0]
    assert (r.n_admitted, r.n_blocked) == (3, 0)


def test_inflight_over_limit_blocks_in_offset_order(spark):
    m = _msgs(spark, [("t", 0, i, False) for i in range(10)] + [("t", 0, 99, True)])
    r = inflight_limiter_frame(m, limit=4).collect()[0]
    assert (r.n_admitted, r.n_blocked) == (4, 6)
    assert r.last_admitted_offset == 3  # permits granted to the lowest offsets
    assert r.n_pending == 10  # acked messages hold no permit


# --- A6 head-of-line blocking --------------------------------------------
def test_hol_threshold_boundary(spark):
    # head offset 0 stuck; exactly `threshold` acked messages behind it
    m = _msgs(spark, [("t", 0, 0, False)] + [("t", 0, i, True) for i in range(1, 4)])
    r = hol_blocking_frame(m, threshold=3).collect()[0]
    assert r.head_offset == 0 and r.acked_behind_head == 3 and bool(r.is_blocked)
    r2 = hol_blocking_frame(m, threshold=4).collect()[0]
    assert not bool(r2.is_blocked)


def test_hol_fully_acked_partition_excluded(spark):
    m = _msgs(spark, [("t", 0, 0, True), ("t", 1, 0, False), ("t", 1, 1, True)])
    rows = hol_blocking_frame(m, threshold=1).collect()
    assert len(rows) == 1 and rows[0].part_id == 1  # no head → nothing to detect


# --- A8 rate limit --------------------------------------------------------
def test_rate_limit_caps_per_minute_window(spark):
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 1, 30)
    rows = [("t", 0, i, t0) for i in range(5)] + [("t", 0, 100 + i, t1) for i in range(2)]
    m = spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "ts"])
    r = rate_limit_frame(m, rate=3).collect()[0]
    # window 1: 3 allowed, 2 throttled; window 2 under cap: 2 allowed
    assert (r.n_msgs, r.n_allowed, r.n_throttled) == (7, 5, 2)


# --- B1 rendezvous assignment --------------------------------------------
def test_rendezvous_assigns_every_job_once(spark):
    jobs = spark.createDataFrame([("a", p) for p in range(8)], ["topic", "part_id"])
    workers = spark.createDataFrame([(f"w{i}",) for i in range(3)], ["worker"])
    a = rendezvous_assign(jobs, workers)
    assert a.count() == 8
    assert a.select("topic", "part_id").distinct().count() == 8
    used = {r.assigned_worker for r in a.collect()}
    assert used <= {"w0", "w1", "w2"}


def test_rendezvous_minimal_movement_on_worker_loss(spark):
    jobs = spark.createDataFrame([("a", p) for p in range(32)], ["topic", "part_id"])
    w3 = spark.createDataFrame([("w0",), ("w1",), ("w2",)], ["worker"])
    w2 = spark.createDataFrame([("w0",), ("w1",)], ["worker"])
    before = _row_map(rendezvous_assign(jobs, w3), "topic", "part_id")
    after = _row_map(rendezvous_assign(jobs, w2), "topic", "part_id")
    for key, b in before.items():
        if b.assigned_worker != "w2":
            # jobs not on the lost worker must not move (HRW stability)
            assert after[key].assigned_worker == b.assigned_worker
        else:
            assert after[key].assigned_worker in ("w0", "w1")


# --- multimodal batch plumbing --------------------------------------------
def test_multimodal_decode_batch_shape(spark):
    from uforwarder_spark.functions.multimodal import multimodal_meta

    out = multimodal_meta(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    import hashlib

    by_id = {r.doc_id: r for r in rows}
    # deterministic stub: dims derive from payload size, checksum from bytes
    from uforwarder_spark.model import load_table

    docs = {r.doc_id: r.text for r in load_table(spark, "/root/testdata/sf0.001", "documents").collect()}
    for doc_id, r in list(by_id.items())[:20]:
        payload = docs[doc_id].encode("utf-8")
        n = len(payload)
        assert r.n_bytes == n
        assert (r.width, r.height, r.n_frames) == (n % 640 + 1, n % 480 + 1, n % 30 + 1)
        assert r.checksum == hashlib.md5(payload).hexdigest()


# --- A18 exact token bucket ------------------------------------------------
def _bucket_model(times, rate, burst):
    tokens, prev, out = burst, None, []
    for t in times:
        if prev is not None:
            tokens = min(burst, tokens + (t - prev) * rate)
        prev = t
        if tokens >= 1.0:
            tokens -= 1.0
            out.append(True)
        else:
            out.append(False)
    return out


def test_token_bucket_burst_then_refill(spark):
    from uforwarder_spark.operators.ratelimit import token_bucket_frame

    t0 = datetime(2024, 1, 1)
    # 8 messages in a burst (capacity 5), then one after a long refill gap
    times = [0, 1, 2, 3, 4, 5, 6, 7, 1000]
    rows = [
        ("t", 0, i, t0.replace(second=0) + __import__("datetime").timedelta(seconds=s))
        for i, s in enumerate(times)
    ]
    m = spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "ts"])
    got = {
        r.msg_offset: r.admitted
        for r in token_bucket_frame(m, rate=0.05, burst=5.0).collect()
    }
    expected = _bucket_model([float(s) for s in times], 0.05, 5.0)
    assert [got[i] for i in range(len(times))] == expected
    assert expected[:5] == [True] * 5 and expected[5:8] == [False] * 3
    assert expected[8] is True  # long gap refills the bucket


def test_token_bucket_matches_model_on_log(spark):
    from uforwarder_spark.model import messages
    from uforwarder_spark.operators.ratelimit import token_bucket_frame

    m = messages(spark, "/root/testdata/sf0.001")
    got = token_bucket_frame(m).toPandas()
    # Bucket state is per (topic, part_id) — the reference limiter's
    # shard unit — so the model replays each shard independently.
    n_groups = 0
    for (topic, part_id), grp in got.groupby(["topic", "part_id"]):
        n_groups += 1
        grp = grp.sort_values(["ts", "msg_offset"])
        times = [t.timestamp() for t in grp["ts"]]
        from uforwarder_spark.operators.ratelimit import BUCKET_BURST, BUCKET_RATE

        assert list(grp["admitted"]) == _bucket_model(times, BUCKET_RATE, BUCKET_BURST)
    assert n_groups >= 40  # 5 topics x 8 partitions: shard-level parallelism


# --- B10 range assignor ----------------------------------------------------
def test_range_assignment_contiguous_chunks(spark):
    from uforwarder_spark.operators.controller import range_assignment

    a = {
        (r.topic, r.part_id): r.assigned_worker
        for r in range_assignment(spark, "/root/testdata/sf0.001").collect()
    }
    by_topic: dict = {}
    for (topic, part), worker in sorted(a.items()):
        by_topic.setdefault(topic, []).append(worker)
    for topic, workers in by_topic.items():
        # contiguous: once the worker index advances it never goes back
        idx = [int(w.rsplit("-", 1)[1]) for w in workers]
        assert idx == sorted(idx), f"{topic}: non-contiguous {idx}"
        # 8 partitions over 4 workers → exactly 2 each (the balanced case)
        assert len(set(idx)) == 4 and idx.count(idx[0]) == 2


# --- determinism: results must not depend on partitioning ------------------
def test_results_invariant_to_shuffle_partitions(spark):
    """Re-planning the same queries with a different shuffle partition
    count must produce identical rows — catches any accidental
    dependence on partition order (double summation, first/last without
    order, etc.)."""
    from uforwarder_spark.registry import QUERIES

    picks = [
        "ack_commit_watermark",
        "latency_percentiles",
        "tpch_q1_pricing_summary",
        "dedup_minhash_lsh",
        "running_revenue",
    ]
    sf = "/root/testdata/sf0.001"

    def snapshot():
        return {
            name: sorted(map(tuple, QUERIES[name](spark, sf).collect()))
            for name in picks
        }

    base = snapshot()
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        alt = snapshot()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert base == alt


# --- B9 pod-aware placement invariants -------------------------------------
def test_pod_assignment_isolates_topics_to_pods(spark):
    from uforwarder_spark.operators.controller import N_PODS, pod_aware_assignment

    rows = pod_aware_assignment(spark, "/root/testdata/sf0.001").collect()
    by_topic: dict = {}
    for r in rows:
        by_topic.setdefault(r.topic, set()).add(r.pod)
        # the assigned worker must belong to the assigned pod
        widx = int(r.assigned_worker.rsplit("-", 1)[1])
        assert f"pod-{widx % N_PODS}" == r.pod
    # colocation: every topic pinned to exactly one pod
    assert all(len(pods) == 1 for pods in by_topic.values())
    # isolation is only meaningful if both pods are actually used
    assert len({p for ps in by_topic.values() for p in ps}) == N_PODS


def test_shadow_compare_covers_every_job(spark):
    from uforwarder_spark.operators.controller import rebalancer_shadow_compare

    rows = rebalancer_shadow_compare(spark, "/root/testdata/sf0.001").collect()
    assert {r.topic for r in rows} == {"click", "view", "purchase", "signup", "error"}
    for r in rows:
        assert r.n_jobs == 8  # all 8 partitions of each topic diffed
        assert 0 <= r.n_divergent <= r.n_jobs


# --- B12 job command diff --------------------------------------------------
def test_job_commands_matrix(spark):
    from uforwarder_spark.operators.controller import job_commands

    rows = job_commands(spark, "/root/testdata/sf0.001").collect()
    assert rows, "command diff must be non-empty (worker-4 was added)"
    seen = {r.command for r in rows}
    assert seen <= {"RUN_JOB", "UPDATE_JOB", "CANCEL_JOB"}
    assert "UPDATE_JOB" in seen  # adding worker-4 must move some jobs
    # each job appears at most once (commandMap is keyed by job)
    keys = [(r.topic, r.part_id) for r in rows]
    assert len(keys) == len(set(keys))
    for r in rows:
        if r.command == "RUN_JOB":
            assert r.expected_state == "RUNNING" and r.actual_state != "RUNNING"
        elif r.command == "CANCEL_JOB":
            assert r.expected_state != "RUNNING" and r.actual_state == "RUNNING"
        else:
            assert (
                r.expected_state == "RUNNING"
                and r.actual_state == "RUNNING"
                and r.expected_worker != r.actual_worker
            )


# --- B13 workload-aware placement ------------------------------------------
def test_workload_snake_assign_balances_weight(spark):
    from uforwarder_spark.operators.controller import workload_snake_assign

    # 12 jobs with skewed weights onto 3 workers
    rows = [("t", i, 0, 0, w) for i, w in enumerate([100, 90, 80, 10, 9, 8, 7, 6, 5, 4, 3, 2])]
    loads = spark.createDataFrame(rows, ["topic", "part_id", "n_msgs", "n_bytes", "weight"])
    got = workload_snake_assign(loads, 3).groupBy("worker").sum("weight").collect()
    totals = {r.worker: r["sum(weight)"] for r in got}
    assert len(totals) == 3
    # snake draft: worker totals are within one max-job-weight of each other
    assert max(totals.values()) - min(totals.values()) <= 100


def test_workload_assignment_balance_invariant(spark):
    from uforwarder_spark.operators.controller import workload_assignment

    rows = workload_assignment(spark, "/root/testdata/sf0.001").collect()
    assert sum(r.n_jobs for r in rows) == 40  # every job placed exactly once
    weights = [r.total_weight for r in rows]
    assert max(weights) / min(weights) <= 1.5  # measured ~1.0x; bound loosely


# --- B14 predictive autoscale ----------------------------------------------
def test_autoscale_prediction_matches_numpy_fit(spark):
    import numpy as np

    from uforwarder_spark.model import messages
    from uforwarder_spark.operators.controller import _X_OFF, autoscale_prediction

    got = {r.topic: r for r in autoscale_prediction(spark, "/root/testdata/sf0.001").collect()}
    m = messages(spark, "/root/testdata/sf0.001").toPandas()
    m["x"] = (m["ts"].astype("int64") // 10**9) // 300 - _X_OFF
    for topic, grp in m.groupby("topic"):
        counts = grp.groupby("x").size()
        slope, intercept = np.polyfit(counts.index.to_numpy(float), counts.to_numpy(float), 1)
        r = got[topic]
        assert abs(r.slope_mps_per_window - slope / 300.0) < 1e-4
        fitted = intercept + slope * counts.index.max()
        assert abs(r.fitted_mps - fitted / 300.0) < 1e-3
        if r.windows_to_quota is not None and r.windows_to_quota > 0:
            # countdown > 0 requires an upward raw trend below quota
            # (the reported slope is rounded and may display as 0.0)
            assert slope > 0
            assert r.fitted_mps < r.quota_mps


# --- A21 checkpoint/seek resolution ----------------------------------------
def test_checkpoint_resume_policy_matrix(spark):
    from uforwarder_spark.operators.controller import QUOTAS  # noqa: F401 (spark fixture warm)
    from uforwarder_spark.operators.pipeline import checkpoint_resume

    rows = checkpoint_resume(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 40
    seen = set()
    for r in rows:
        seen.add(r.seek_option)
        if r.fetcher == "RETRY":
            assert r.seek_option == "DO_NOT_SEEK"
        out_low = r.earliest_offset > r.specified_offset
        out_high = r.latest_offset < r.specified_offset
        if r.fetcher == "DLQ":
            want = (
                "SEEK_TO_EARLIEST" if out_low
                else "SEEK_TO_LATEST" if out_high
                else "DO_NOT_SEEK"
            )
            assert r.seek_option == want
        if r.fetcher == "ORIGINAL":
            if out_low or out_high:
                want = {
                    "EARLIEST": "SEEK_TO_EARLIEST",
                    "LATEST": "SEEK_TO_LATEST",
                }.get(r.reset_policy, "SEEK_TO_SPECIFIED")
                assert r.seek_option == want
            else:
                assert r.seek_option == "SEEK_TO_SPECIFIED"
        resolved = {
            "SEEK_TO_EARLIEST": r.earliest_offset,
            "SEEK_TO_LATEST": r.latest_offset,
            "SEEK_TO_SPECIFIED": r.specified_offset,
            "DO_NOT_SEEK": (r.committed_offset + 1)
            if r.committed_offset is not None
            else r.earliest_offset,
        }[r.seek_option]
        assert r.resume_offset == resolved
    assert {"DO_NOT_SEEK", "SEEK_TO_EARLIEST", "SEEK_TO_LATEST", "SEEK_TO_SPECIFIED"} <= seen


# --- A22 DLQ purge ----------------------------------------------------------
def test_dlq_purge_accounting(spark):
    from uforwarder_spark.operators.pipeline import dlq_purge

    rows = dlq_purge(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_purged + r.n_surviving == r.n_dlq
        assert r.purge_start <= r.purge_end
        if r.n_surviving:
            assert r.surviving_min >= r.purge_end
            assert r.surviving_max >= r.surviving_min


# --- B15 worker lease expiry ------------------------------------------------
def test_worker_lease_reassignment_invariants(spark):
    from uforwarder_spark.operators.liveness import LEASE_S, worker_lease_reassignment

    rows = worker_lease_reassignment(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 40
    live = {r.old_worker for r in rows if r.lease_valid}
    assert live and live != {r.old_worker for r in rows}  # both branches present
    for r in rows:
        assert r.lease_valid == (r.old_worker_hb_age_s <= LEASE_S)
        if r.lease_valid:
            assert r.new_worker == r.old_worker  # survivors' jobs never move
        else:
            assert r.new_worker in live  # expired jobs land on live workers only


# --- A23 unprocessed-cache limiter ------------------------------------------
def test_unprocessed_limiter_caps(spark):
    from uforwarder_spark.operators.ratelimit import (
        CACHE_BYTE_CAP,
        CACHE_COUNT_CAP,
        unprocessed_limiter,
    )

    rows = unprocessed_limiter(spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert any(r.n_deferred > 0 for r in rows)  # the caps actually bind
    for r in rows:
        assert r.n_cached + r.n_deferred == r.n_pending
        assert r.n_cached <= CACHE_COUNT_CAP
        assert r.cached_bytes <= CACHE_BYTE_CAP


def test_inflight_bootstrap_phase_transition(spark):
    """Mirrors BootstrapLongFixedInflightLimiterTest: a partition whose
    completed count has not crossed the threshold admits under the
    tighter bootstrap cap; past the threshold it admits under the
    working cap (testAcquireInBootstrap / testSwitchToWorking /
    testAcquireWorking)."""
    from uforwarder_spark.operators.pipeline import inflight_bootstrap_frame

    rows = (
        # partition a/0: 2 completed (<= threshold 3) -> bootstrap, cap 2
        [("a", 0, i, True) for i in range(2)]
        + [("a", 0, 10 + i, False) for i in range(5)]
        # partition a/1: 4 completed (> 3) -> working, cap 4
        + [("a", 1, i, True) for i in range(4)]
        + [("a", 1, 10 + i, False) for i in range(6)]
    )
    out = _row_map(
        inflight_bootstrap_frame(
            _msgs(spark, rows), boot_cap=2, steady_cap=4, threshold=3
        ),
        "topic",
        "part_id",
    )
    boot = out[("a", 0)]
    assert boot.phase == "bootstrap"
    assert boot.effective_cap == 2
    assert (boot.n_admitted, boot.n_blocked) == (2, 3)
    work = out[("a", 1)]
    assert work.phase == "working"
    assert work.effective_cap == 4
    assert (work.n_admitted, work.n_blocked) == (4, 2)


def test_inflight_bootstrap_low_limit_uses_min(spark):
    """testLowLimitLimiter: when the working limit is tighter than the
    bootstrap limit, bootstrap acquires from BOTH limiters -> effective
    cap is min(boot, steady)."""
    from uforwarder_spark.operators.pipeline import inflight_bootstrap_frame

    rows = [("a", 0, i, False) for i in range(5)]
    out = _row_map(
        inflight_bootstrap_frame(
            _msgs(spark, rows), boot_cap=4, steady_cap=1, threshold=100
        ),
        "topic",
        "part_id",
    )
    r = out[("a", 0)]
    assert r.phase == "bootstrap"
    assert r.effective_cap == 1
    assert (r.n_admitted, r.n_blocked) == (1, 4)


def test_pending_order_round_robin_across_partitions(spark):
    """Mirrors AsyncInflightLimiterAdapterTest.testPendingMessageQueue*:
    blocked acquires complete round-robin across partitions, offset
    order within each partition."""
    from uforwarder_spark.operators.pipeline import inflight_pending_order

    out = inflight_pending_order(spark, "/root/testdata/sf0.001").collect()
    by_topic = {}
    for r in out:
        by_topic.setdefault(r.topic, []).append(r)
    for topic, rs in by_topic.items():
        rs.sort(key=lambda r: r.completion_rank)
        # within a partition, offsets drain in order
        seen = {}
        for r in rs:
            if r.part_id in seen:
                assert r.msg_offset > seen[r.part_id], topic
            seen[r.part_id] = r.msg_offset
        # round-robin: queue positions are non-decreasing along the drain
        pos = [r.queue_pos for r in rs]
        assert pos == sorted(pos), topic


def test_fetcher_throughput_rates_consistent(spark):
    """ThroughputTrackerTest: rates reflect acked counts over elapsed
    time; partitions with no acks report zero rates, not NULLs."""
    from uforwarder_spark.operators.pipeline import fetcher_throughput

    out = fetcher_throughput(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    for r in out:
        assert r.elapsed_ms > 0
        assert abs(r.msgs_per_sec - r.n_acked * 1000.0 / r.elapsed_ms) < 1e-12
        assert r.recent_msgs <= r.n_acked


def test_dlq_produce_batches_ceil_batching(spark):
    """KafkaDispatcher: every flush splits into ceil(records/batch)
    producer batches; totals reconcile with the DLQ+RETRY population."""
    from uforwarder_spark.model import messages
    from uforwarder_spark.operators.pipeline import (
        PRODUCE_BATCH_RECORDS,
        dlq_produce_batches,
    )

    out = dlq_produce_batches(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_records for r in out)
    expect = (
        messages(spark, "/root/testdata/sf0.001")
        .filter(F.col("outcome").isin("RETRY", "DLQ"))
        .count()
    )
    assert total == expect
    for r in out:
        assert r.n_batches >= r.n_flushes  # >= 1 batch per flush
        assert r.n_batches <= r.n_flushes * (
            (r.max_flush_records + PRODUCE_BATCH_RECORDS - 1) // PRODUCE_BATCH_RECORDS
        )


def test_pod_assignment_groups_fallback(spark):
    """JobGroupAndWorkerPodifierTest: every job group lands in a pod
    that has workers; groups whose native pod lacks workers are
    redistributed (fallback) proportionally to worker share."""
    from uforwarder_spark.operators.controller import (
        N_WORKER_PODS,
        pod_assignment_groups,
    )

    out = pod_assignment_groups(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    pods = {r.pod for r in out}
    worker_pods = {f"pod-{i}" for i in range(N_WORKER_PODS)}
    assert pods <= worker_pods, "job groups must only land on worker-bearing pods"
    assert any(r.placement == "fallback" for r in out), "fallback path not exercised"
    assert all(r.n_pod_workers > 0 for r in out)


def test_littles_law_flags_flip(spark):
    """LatencyTrackerTest: median/max latency above the Little's-law
    ceiling (concurrency/throughput) trips the corresponding flag —
    constructed frame gives both outcomes (the synthetic log's latencies
    are far below its ceilings, so flags are exercised here)."""
    from datetime import datetime, timedelta

    from uforwarder_spark.operators.pipeline import littles_law_frame

    rows = []
    # partition a/0: 100 acked msgs over 100 s -> ~1 msg/s; with
    # max_inbound=0 (bound 0 ms) every latency is "high"
    t0 = datetime(2024, 1, 1)
    for i in range(100):
        rows.append(("a", 0, i, t0 + timedelta(seconds=i), True, 50 + i))
    m = spark.createDataFrame(
        rows, ["topic", "part_id", "msg_offset", "ts", "acked", "latency_ms"]
    )
    out = littles_law_frame(m, max_inbound=0, max_commit_skew=10**9).collect()
    assert len(out) == 1
    r = out[0]
    assert r.median_high and not r.max_high
    assert r.sample_size == 100
    # loose bound: ~1 msg/s over the 99 s span
    assert 0.9 < r.mps < 1.2


def test_flow_control_floors(spark):
    """KafkaPipelineStateManagerTest: zero totals floor to the minimum
    valid flow (rate 1, bytes unbounded, inflight 1)."""
    from uforwarder_spark.operators.controller import flow_control_frame

    jq = spark.createDataFrame(
        [("t0", 0, 0.0, 0.0, 0.0), ("t1", 0, 2.0, 100.0, 5.0), ("t1", 1, 3.0, 200.0, 5.0)],
        ["topic", "part_id", "messages_per_sec", "bytes_per_sec", "max_inflight"],
    )
    out = {r.topic: r for r in flow_control_frame(jq).collect()}
    assert out["t0"].messages_per_sec_total == 1.0
    assert out["t0"].bytes_per_sec_total == 1.7976931348623157e308
    assert out["t0"].max_inflight_total == 1.0
    assert out["t1"].messages_per_sec_total == 5.0
    assert out["t1"].bytes_per_sec_total == 300.0
    assert out["t1"].max_inflight_total == 10.0


def test_corpus_shuffle_deterministic_and_complete(spark):
    """Re-running the export reproduces the identical order; every doc
    appears exactly once; positions are dense per shard."""
    from uforwarder_spark.operators.training import corpus_shuffle_export

    a = corpus_shuffle_export(spark, "/root/testdata/sf0.001").collect()
    b = corpus_shuffle_export(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    docs = [r.doc_id for r in a]
    assert len(docs) == len(set(docs))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_sequence_packing_budget_conservation(spark):
    """Tokens are conserved and every sequence's starting docs fit the
    running layout: sum over output == sum of per-doc token counts."""
    from pyspark.sql import functions as F2

    from uforwarder_spark.functions.tokenize import TOKENS_SPARK
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.training import sequence_packing

    out = sequence_packing(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.sum_tokens for r in out)
    expect = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select(F2.expr(f"size({TOKENS_SPARK})").alias("t"))
        .agg(F2.sum("t"))
        .collect()[0][0]
    )
    assert total == expect
    assert all(r.n_crossing <= r.n_docs for r in out)
    assert any(r.n_crossing > 0 for r in out), "boundary-crossing path not exercised"


def test_mixture_interleave_respects_weights(spark):
    """Stride scheduling: in any prefix of the schedule long enough to
    cycle every source, a weight-w source appears ~w× as often as a
    weight-1 source (within rounding)."""
    from uforwarder_spark.operators.training import mixture_interleave

    out = sorted(
        mixture_interleave(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.position,
    )
    weights = {r.source: r.weight for r in out}
    assert set(weights.values()) > {1}, "need weight variety"
    # prefix: first half of the schedule
    prefix = out[: len(out) // 2]
    counts = {}
    for r in prefix:
        counts[r.source] = counts.get(r.source, 0) + 1
    # sources with the same weight should appear equally often (+-2);
    # heavier sources at least as often as lighter ones
    by_w = {}
    for s, w in weights.items():
        by_w.setdefault(w, []).append(counts.get(s, 0))
    for w, cs in by_w.items():
        assert max(cs) - min(cs) <= 2, (w, cs)
    ws = sorted(by_w)
    for lo, hi in zip(ws, ws[1:]):
        assert max(by_w[lo]) <= min(by_w[hi]) + 2, (lo, hi, by_w)


def test_inflight_usage_critical_flips(spark):
    """SimpleOutboundMessageLimiter: overlapping dispatch spans raise
    peak concurrency; usage above 0.8 of the limit flags critical.
    Touching spans (end == next start) must NOT double-count."""
    from datetime import datetime, timedelta

    from uforwarder_spark.operators.pipeline import inflight_usage_frame

    t0 = datetime(2024, 1, 1)
    rows = []
    # shard a/0: 5 spans all overlapping (peak 5) -> usage 5/5=1.0 critical
    for i in range(5):
        rows.append(("a", 0, i, t0, True, 1000))
    # shard a/1: back-to-back spans (end touches next start) -> peak 1
    for i in range(4):
        rows.append(("a", 1, i, t0 + timedelta(milliseconds=100 * i), True, 100))
    m = spark.createDataFrame(
        rows, ["topic", "part_id", "msg_offset", "ts", "acked", "latency_ms"]
    )
    out = {(r.topic, r.part_id): r for r in inflight_usage_frame(m, limit=5).collect()}
    hot = out[("a", 0)]
    assert hot.peak_inflight == 5 and hot.usage == 1.0 and hot.is_critical
    cool = out[("a", 1)]
    assert cool.peak_inflight == 1 and not cool.is_critical


def test_workload_monitor_ttl_expiry(spark):
    """JobWorkloadMonitor: partitions whose last heartbeat is older than
    throughputTTL drop out of the group sum; a group with no fresh
    sample reports present=false with zero rates."""
    from uforwarder_spark.operators.controller import workload_monitor_ttl

    out = {r.topic: r for r in workload_monitor_ttl(spark, "/root/testdata/sf0.001").collect()}
    assert len(out) > 0
    for r in out.values():
        assert r.n_fresh <= r.n_partitions
        assert r.present == (r.n_fresh > 0)
        if not r.present:
            assert r.messages_per_sec == 0.0 and r.bytes_per_sec == 0.0


def test_workload_monitor_ttl_all_stale_group():
    """Constructed check: with a TTL shorter than the data gap the frame
    logic yields present=false (exercised via the oracle SQL in DuckDB,
    which shares the frame semantics)."""
    import duckdb

    from uforwarder_spark.operators.controller import WORKLOAD_MONITOR_ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    # shrink TTL to 1 ms: every sample is stale relative to AS_OF
    sql = WORKLOAD_MONITOR_ORACLE.replace("604800000", "1")
    df = con.execute(sql).fetchdf()
    assert (~df["present"]).all()
    assert (df["messages_per_sec"] == 0.0).all()


def test_embedding_centroid_outliers_geometry(spark):
    """D35: cosines are in [-1, 1]; a label's members score against
    THEIR centroid (mean of a single-member label scores 1.0 against
    itself up to rounding); outlier flag matches the threshold."""
    from uforwarder_spark.operators.similarity import (
        OUTLIER_COS,
        embedding_centroid_outliers,
    )

    rows = embedding_centroid_outliers(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert -1.0 - 1e-9 <= r.cos_to_centroid <= 1.0 + 1e-9
        assert r.is_outlier == (r.cos_to_centroid < OUTLIER_COS)


# --- A32 resq routing (BACKOFF rewrite precedence) ------------------------
def _resq_frame(spark, rows):
    # (topic, part_id, msg_offset, retry_count, acked, ts)
    return spark.createDataFrame(
        rows, ["topic", "part_id", "msg_offset", "retry_count", "acked", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


_T0 = datetime(2024, 1, 1, 0, 0, 0)


def test_resq_dlq_source_pins_to_dlq(spark):
    from uforwarder_spark.operators.pipeline import resq_routing_frame

    # offset 23 % 23 == 0 -> consumed from the DLQ topic; even with a huge
    # retry_count and zero tokens it must stay DLQ (never re-enters queues)
    m = _resq_frame(spark, [("t", 0, 23, 5, False, _T0)])
    r = resq_routing_frame(m).collect()
    assert len(r) == 1 and r[0].src_tier == "dlq"
    assert r[0].n_to_dlq == 1 and r[0].n_invalid == 0 and r[0].n_to_retry == 0


def test_resq_resq_source_converts_to_invalid(spark):
    from uforwarder_spark.operators.pipeline import resq_routing_frame

    # offset 24 % 23 == 1 -> consumed from the resilience queue; must become
    # INVALID (in-memory retry), not DLQ, even with exhausted timeout budget
    m = _resq_frame(spark, [("t", 0, 24, 5, False, _T0)])
    r = resq_routing_frame(m).collect()
    assert len(r) == 1 and r[0].src_tier == "resq"
    assert r[0].n_invalid == 1 and r[0].n_to_dlq == 0 and r[0].n_to_retry == 0


def test_resq_third_branch_token_gates_dlq(spark):
    from uforwarder_spark.operators.pipeline import resq_routing_frame

    # two exhausted originals in the same window: the default token admits
    # the first to DLQ, the second finds the balance negative -> RETRY
    m = _resq_frame(
        spark,
        [
            ("t", 0, 3, 5, False, _T0),
            ("t", 0, 4, 5, False, datetime(2024, 1, 1, 0, 0, 1)),
        ],
    )
    rows = {r.src_tier: r for r in resq_routing_frame(m).collect()}
    assert rows["retry"].n_to_dlq == 1 and rows["retry"].n_to_retry == 1


def test_resq_unexhausted_budget_stays_retry(spark):
    from uforwarder_spark.operators.pipeline import resq_routing_frame

    # retry_count below the timeout budget never tries the limiter
    m = _resq_frame(spark, [("t", 0, 3, 1, False, _T0)])
    r = resq_routing_frame(m).collect()
    assert r[0].n_to_retry == 1 and r[0].n_to_dlq == 0


def test_resq_credit_restores_token(spark):
    from uforwarder_spark.operators.pipeline import resq_routing_frame

    # an acked completion between two exhausted candidates credits one
    # token, so BOTH candidates convert to DLQ (1 default + 1 credit)
    m = _resq_frame(
        spark,
        [
            ("t", 0, 3, 5, False, _T0),
            ("t", 0, 6, 0, True, datetime(2024, 1, 1, 0, 0, 1)),
            ("t", 0, 4, 5, False, datetime(2024, 1, 1, 0, 0, 2)),
        ],
    )
    rows = {r.src_tier: r for r in resq_routing_frame(m).collect()}
    assert rows["retry"].n_to_dlq == 2 and rows["retry"].n_to_retry == 0


# --- A34 head blocking cancel decision matrix -----------------------------
def _hbc(spark, rows, **kw):
    from uforwarder_spark.operators.pipeline import head_blocking_cancel_frame

    m = spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "acked"])
    return {(r.topic, r.part_id): r for r in head_blocking_cancel_frame(m, **kw).collect()}


def _queue(topic, part, n, unacked_offsets):
    return [(topic, part, off, off not in unacked_offsets) for off in range(n)]


def test_hbc_all_acked_has_no_cancelable(spark):
    r = _hbc(spark, _queue("click", 3, 10, set()), capacity=10)[("click", 3)]
    assert r.verdict == "NO_CANCELABLE" and r.response_code == "INVALID"
    assert r.head_offset is None


def test_hbc_below_critical_load_not_blocking(spark):
    # 20-slot queue holding 10 -> load 0.5 < 0.9, regardless of ack pct
    r = _hbc(spark, _queue("click", 3, 10, {0}), capacity=20)[("click", 3)]
    assert r.verdict == "NOT_BLOCKING"


def test_hbc_low_ack_percent_not_blocking(spark):
    # full queue but only half acked behind the head -> poison-pill signal
    # absent, the queue is slow, not blocked
    rows = _queue("click", 3, 20, {0, 2, 4, 6, 8, 10, 12, 14, 16, 18})
    r = _hbc(spark, rows, capacity=20)[("click", 3)]
    assert r.verdict == "NOT_BLOCKING"


def test_hbc_dlq_job_not_supported(spark):
    # part 0 simulates a job consuming the DLQ topic: never cancelable
    r = _hbc(spark, _queue("click", 0, 20, {0}), capacity=20)[("click", 0)]
    assert r.verdict == "JOB_NOT_SUPPORTED" and r.response_code == "INVALID"


def test_hbc_resq_rule_wins_over_retry(spark):
    # click has resq configured; an original-tier job cancels to RESQ (cost 2)
    r = _hbc(spark, _queue("click", 3, 20, {0}), capacity=20)[("click", 3)]
    assert r.verdict == "CANCEL" and r.response_code == "RESQ" and r.cost_tokens == 2


def test_hbc_retry_rule_when_no_resq(spark):
    # purchase has retry only; cost 50 exceeds the 49 acked credits -> limited
    r = _hbc(spark, _queue("purchase", 3, 50, {0}), capacity=50)[("purchase", 3)]
    assert r.verdict == "RATE_LIMITED" and r.response_code == "INVALID"
    # with >= 50 credits the same queue cancels to RETRY
    r = _hbc(spark, _queue("purchase", 3, 60, {0}), capacity=60)[("purchase", 3)]
    assert r.verdict == "CANCEL" and r.response_code == "RETRY" and r.cost_tokens == 50


def test_hbc_resq_job_cannot_use_resq(spark):
    # part 1 simulates a job consuming the resilience queue: neither rule
    # applies (resq can't mitigate resq; retry rule excludes resq jobs)
    r = _hbc(spark, _queue("click", 1, 20, {0}), capacity=20)[("click", 1)]
    assert r.verdict == "JOB_NOT_SUPPORTED"


def test_hbc_retry_job_can_use_resq(spark):
    # part 2 simulates a retry-queue job; resq mitigation is still allowed
    r = _hbc(spark, _queue("click", 2, 20, {0}), capacity=20)[("click", 2)]
    assert r.verdict == "CANCEL" and r.response_code == "RESQ"


def test_hbc_no_mitigation_queues(spark):
    # signup has neither resq nor retry configured
    r = _hbc(spark, _queue("signup", 3, 20, {0}), capacity=20)[("signup", 3)]
    assert r.verdict == "JOB_NOT_SUPPORTED"


# --- A36 linger sampler ---------------------------------------------------
def _linger_msgs(spark, rows):
    """rows: (topic, part_id, msg_offset, ts_ms, payload_value)"""
    from datetime import timezone

    data = [
        (t, p, o, datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc), v)
        for (t, p, o, ms, v) in rows
    ]
    return spark.createDataFrame(
        data, ["topic", "part_id", "msg_offset", "ts", "payload_value"]
    )


def test_linger_first_read_always_samples(spark):
    from uforwarder_spark.operators.pipeline import linger_sampler_frame

    m = _linger_msgs(spark, [("t", 0, 1, 1_000, 5.0)])
    r = linger_sampler_frame(m, linger_ms=10_000).collect()[0]
    assert r.fresh and r.sample_age_ms == 0 and r.sampled_value == 5.0


def test_linger_boundary_gap_is_strict(spark):
    """Reference Linger.tickIfNecessary: now - oldTick > lingerNano —
    a gap EXACTLY equal to the linger does NOT re-sample; one ms more
    does."""
    from uforwarder_spark.operators.pipeline import linger_sampler_frame

    m = _linger_msgs(
        spark,
        [
            ("t", 0, 1, 1_000, 5.0),
            ("t", 0, 2, 11_000, 7.0),   # gap == linger: carried
            ("t", 0, 3, 11_001, 9.0),   # 10_001 since sample: fresh
        ],
    )
    got = {r.msg_offset: r for r in linger_sampler_frame(m, linger_ms=10_000).collect()}
    assert got[2].fresh is False and got[2].sampled_value == 5.0
    assert got[2].sample_age_ms == 10_000
    assert got[3].fresh is True and got[3].sampled_value == 9.0


def test_linger_tick_anchors_at_sample_not_read(spark):
    """The gate is rolling from the LAST SAMPLE instant: reads inside
    the interval do not push the anchor forward."""
    from uforwarder_spark.operators.pipeline import linger_sampler_frame

    m = _linger_msgs(
        spark,
        [
            ("t", 0, 1, 0, 1.0),
            ("t", 0, 2, 9_000, 2.0),    # carried (9s since sample)
            ("t", 0, 3, 10_500, 3.0),   # fresh: 10.5s since SAMPLE (1.5s since read 2)
        ],
    )
    got = {r.msg_offset: r for r in linger_sampler_frame(m, linger_ms=10_000).collect()}
    assert got[2].fresh is False and got[2].sampled_value == 1.0
    assert got[3].fresh is True and got[3].sampled_value == 3.0


def test_linger_shards_independent(spark):
    from uforwarder_spark.operators.pipeline import linger_sampler_frame

    m = _linger_msgs(
        spark,
        [
            ("t", 0, 1, 0, 1.0),
            ("t", 0, 2, 1_000, 2.0),
            ("u", 9, 1, 500, 8.0),      # other shard: its own chain
        ],
    )
    got = {(r.topic, r.msg_offset): r for r in linger_sampler_frame(m, linger_ms=10_000).collect()}
    assert got[("t", 2)].fresh is False
    assert got[("u", 1)].fresh is True and got[("u", 1)].sampled_value == 8.0


def test_pq_recall_against_bruteforce(spark):
    """D68: the PQ path is approximate by design — the gate is recall
    against the exact brute-force top-10, not score equality (that part
    is the oracle's job). At sf0.01 the 4-bit ADC keeps >=5/10 of the
    true neighbors (observed 7), and every returned score pair is
    internally consistent (approx_l2 on unit vectors in [0, 4], cosine
    in [-1, 1])."""
    from tests.conftest import SF_MED
    from uforwarder_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_pq,
    )

    pq = ann_topk_pq(spark, SF_MED).collect()
    bf = {r.vec_id for r in ann_topk_bruteforce(spark, SF_MED).collect()}
    assert len(pq) == 10
    assert len({r.vec_id for r in pq} & bf) >= 5
    for r in pq:
        assert 0.0 <= r.approx_l2 <= 4.0
        assert -1.0 <= r.cosine <= 1.0


def test_system_load_zero_span_guard(spark):
    """B22/E30 regression (r06 ADVICE): seconds-truncated timestamps
    make the observed span 0 whenever every message lands within one
    second — the first E30 micro-batch routinely does. Unguarded,
    Spark's x/0 -> NULL plus least(NULL, cap) skipping nulls silently
    turned every job's demand into the full cap (n_capped = 0, load =
    n_jobs/4 — wrong but plausible), while DuckDB raised on the
    inf -> bigint cast. greatest(span, 1) clamps the denominator: a
    sub-second window is one second of observation, so the rates stay
    finite and both engines agree."""
    from uforwarder_spark.operators.controller import (
        LOAD_CAP_MICRO,
        system_load_from,
    )

    jobs = spark.createDataFrame(
        [("t", 0, 10, 400), ("t", 1, 2_000_000, 1)],
        "topic string, part_id int, n_msgs bigint, n_bytes bigint",
    )
    span = spark.createDataFrame([(0,)], "span bigint")
    got = {r.topic: r for r in system_load_from(jobs, span).collect()}
    # job (t,0): scale = max(10/0.001, 400/0.08) = 10_000 units ->
    # 10e9 micro, capped; job (t,1) caps too -> n_capped = 2, demand =
    # 2*cap. The broken path reported the same demand with n_capped=0.
    assert got["t"].n_capped == 2
    assert got["t"].demand_micro == 2 * LOAD_CAP_MICRO
    # and the guard must not distort a normal (span > 0) derivation:
    # 1 msg / 1 byte over ~28 hours is far under one worker's capacity
    tiny = spark.createDataFrame(
        [("t", 0, 1, 1)], "topic string, part_id int, n_msgs bigint, n_bytes bigint"
    )
    wide = spark.createDataFrame([(100_000,)], "span bigint")
    got0 = system_load_from(tiny, wide).collect()[0]
    assert got0.n_capped == 0
    assert 0 < got0.demand_micro < LOAD_CAP_MICRO


def test_knn_graph_recall_against_bruteforce(spark):
    """D76 is approximate by design — the gate is per-vector recall
    against exact brute-force neighbors, not score equality (the
    oracle's job). For the query vector's row (vec_id 0), the graph's
    top-5 must overlap the exact top-5 by >= 2 on this data, every
    rank sequence must be 1..deg without gaps, and no self-edges."""
    from tests.conftest import SF_MED
    from uforwarder_spark.operators.similarity import (
        KNN_K,
        ann_topk_bruteforce,
        knn_graph_lsh,
    )

    edges = knn_graph_lsh(spark, SF_MED).collect()
    assert all(e.src != e.dst for e in edges)
    by_src = {}
    for e in edges:
        by_src.setdefault(e.src, []).append(e)
    for src, es in by_src.items():
        ranks = sorted(x.rank for x in es)
        assert ranks == list(range(1, len(es) + 1))
        assert len(es) <= KNN_K
    bf5 = {r.vec_id for r in ann_topk_bruteforce(spark, SF_MED).collect()[:5]}
    graph0 = {e.dst for e in by_src.get(0, [])}
    assert len(graph0 & bf5) >= 2


def test_kmv_sketch_accuracy_at_sf(spark):
    """D81: at sf0.001 every source's shingle set exceeds K=256, so the
    estimator branch is live on real data — the Jaccard estimate must
    track the exact audit within sketch error, and union estimates must
    sit within 25% of the exact union."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.dedup import KMV_K, kmv_sketch_overlap

    rows = kmv_sketch_overlap(spark, SF_SMALL).collect()
    assert len(rows) == 190  # 20 sources -> C(20,2) pairs
    assert all(r.k_used == KMV_K for r in rows)  # estimator branch live
    errs = [r.jacc_abs_err for r in rows]
    assert sum(errs) / len(errs) < 0.05
    for r in rows:
        exact_union = r.n_a + r.n_b - r.exact_inter
        assert abs(r.kmv_union_est - exact_union) / exact_union < 0.25


def test_hybrid_rrf_fusion_semantics(spark):
    """D83: fused rows must carry per-arm ranks that replay the RRF
    formula exactly, each arm's ranks are a prefix of 1..ARM_K with no
    repeats, and the output is the rrf-descending top-10 of the fused
    candidate union (so a doc present in BOTH arms at rank 1 would beat
    any single-arm doc by construction)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        RRF_ARM_K,
        RRF_K0,
        RRF_TOPK,
        hybrid_rrf_retrieval,
    )

    rows = hybrid_rrf_retrieval(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= RRF_TOPK
    lex_ranks = [r.lex_rank for r in rows if r.lex_rank is not None]
    sem_ranks = [r.sem_rank for r in rows if r.sem_rank is not None]
    assert len(lex_ranks) == len(set(lex_ranks))
    assert len(sem_ranks) == len(set(sem_ranks))
    assert all(1 <= x <= RRF_ARM_K for x in lex_ranks + sem_ranks)
    scores = []
    for r in rows:
        want = round(
            (1.0 / (RRF_K0 + r.lex_rank) if r.lex_rank is not None else 0.0)
            + (1.0 / (RRF_K0 + r.sem_rank) if r.sem_rank is not None else 0.0),
            6,
        )
        assert r.rrf_score == want
        # arm scores ride along iff the doc is in that arm
        assert (r.bm25_score is None) == (r.lex_rank is None)
        assert (r.cosine is None) == (r.sem_rank is None)
        scores.append(r.rrf_score)
    assert scores == sorted(scores, reverse=True)


# --- A16 pipeline health issue taxonomy (r08) ----------------------------
HMSG_COLS = [
    "topic", "part_id", "msg_offset", "ts", "size_bytes",
    "outcome", "retry_count", "acked", "latency_ms",
]


def _hmsgs(spark, rows):
    from uforwarder_spark.operators.pipeline import pipeline_health_frame

    base = datetime(2024, 1, 1, 0, 0, 0)
    full = [
        (t, p, o, base.replace(second=0) if ts is None else ts, sb, oc, rc, ak, lat)
        for (t, p, o, ts, sb, oc, rc, ak, lat) in rows
    ]
    return pipeline_health_frame(spark.createDataFrame(full, HMSG_COLS))


def _t(sec):
    from datetime import timedelta

    return datetime(2024, 1, 1, 0, 0, 0) + timedelta(seconds=sec)


def test_health_issue_window_set_semantics(spark):
    """Two over-rate messages in the SAME 10-s window count ONE window;
    split across two windows they count two (PipelineHealthState's
    recordIssue set-per-window rule)."""
    from uforwarder_spark.operators.pipeline import HEALTH_RATE_LIMIT

    def rows(second_of_third):
        # three msgs in one minute -> rate ranks 1,2,3; ranks 2 and 3
        # exceed HEALTH_RATE_LIMIT=1
        assert HEALTH_RATE_LIMIT == 1
        return [
            ("t", 0, 1, _t(1), 10, "OK", 0, True, 50),
            ("t", 0, 2, _t(2), 10, "OK", 0, True, 50),
            ("t", 0, 3, _t(second_of_third), 10, "OK", 0, True, 50),
        ]

    same = _hmsgs(spark, rows(3)).collect()[0]
    assert same.wins_msg_rate_limited == 1
    split = _hmsgs(spark, rows(11)).collect()[0]  # third msg in next 10-s window
    assert split.wins_msg_rate_limited == 2


def test_health_median_rule_is_strict_majority(spark):
    """Exactly half the window's RPCs above the threshold is NOT
    median-high (2*n_above > n is strict); one more flips it."""
    from uforwarder_spark.operators.pipeline import MED_LAT_HIGH

    lo, hi = MED_LAT_HIGH, MED_LAT_HIGH + 1  # lo does NOT count as above
    half = _hmsgs(spark, [
        ("t", 0, 1, _t(0), 10, "OK", 0, True, lo),
        ("t", 0, 2, _t(1), 10, "OK", 0, True, hi),
        ("t", 0, 3, _t(2), 10, "OK", 0, True, lo),
        ("t", 0, 4, _t(3), 10, "OK", 0, True, hi),
    ]).collect()[0]
    assert half.wins_median_latency_high == 0
    major = _hmsgs(spark, [
        ("t", 0, 1, _t(0), 10, "OK", 0, True, lo),
        ("t", 0, 2, _t(1), 10, "OK", 0, True, hi),
        ("t", 0, 3, _t(2), 10, "OK", 0, True, hi),
    ]).collect()[0]
    assert major.wins_median_latency_high == 1


def test_health_bytes_and_maxlat_boundaries_exclusive(spark):
    """bytes_run == limit and max latency == threshold do NOT flag;
    one past either does."""
    from uforwarder_spark.operators.pipeline import (
        HEALTH_BYTES_LIMIT,
        MAX_LAT_HIGH,
    )

    at = _hmsgs(spark, [
        ("t", 0, 1, _t(0), HEALTH_BYTES_LIMIT, "OK", 0, True, MAX_LAT_HIGH),
    ]).collect()[0]
    assert at.wins_bytes_rate_limited == 0
    assert at.wins_max_latency_high == 0
    past = _hmsgs(spark, [
        ("t", 0, 1, _t(0), HEALTH_BYTES_LIMIT + 1, "OK", 0, True, MAX_LAT_HIGH + 1),
    ]).collect()[0]
    assert past.wins_bytes_rate_limited == 1
    assert past.wins_max_latency_high == 1


def test_health_inflight_issue_at_depth_boundary(spark):
    """Unacked depth == INFLIGHT_LIMIT does not flag; the (limit+1)-th
    concurrently-unacked message does (A7's admit rule)."""
    from uforwarder_spark.operators.pipeline import INFLIGHT_LIMIT

    def burst(n):
        return [
            ("t", 0, i, _t(0), 10, "RETRY", 1, False, 50) for i in range(1, n + 1)
        ]

    at = _hmsgs(spark, burst(INFLIGHT_LIMIT)).collect()[0]
    assert at.wins_inflight_limited == 0
    over = _hmsgs(spark, burst(INFLIGHT_LIMIT + 1)).collect()[0]
    assert over.wins_inflight_limited == 1


def test_health_retry_queue_config_is_per_topic(spark):
    """A RETRY on the queueless topic flags RETRY_WITHOUT_RETRY_QUEUE;
    the same RETRY on a queued topic does not."""
    from uforwarder_spark.operators.pipeline import NO_RETRY_QUEUE_TOPIC

    rows = [
        (NO_RETRY_QUEUE_TOPIC, 0, 3, _t(0), 10, "RETRY", 1, False, 50),
        ("click", 0, 4, _t(0), 10, "RETRY", 1, False, 50),
    ]
    got = {r.topic: r for r in _hmsgs(spark, rows).collect()}
    assert got[NO_RETRY_QUEUE_TOPIC].wins_retry_no_queue == 1
    assert got["click"].wins_retry_no_queue == 0


def _seeded_event_log(n: int, seed: int):
    """A synthetic ``events`` table: ids 0..n-1 in ts order over 30
    days, the sf tables' schema, fully determined by (n, seed)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(np.random.SeedSequence(seed).spawn(3)[0])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    n_users = max(1, round(n * 0.015))
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    types = ["click", "error", "purchase", "signup", "view"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(types, size=n)),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def test_scale_window_samples_are_double_like_the_oracle(spark, tmp_path):
    """Per-window msgs/s is count / 300.0. DuckDB computes it in DOUBLE;
    Spark SQL would type it DECIMAL(27,6) and round to 6 dp. On this
    20,000-event log that rounding moves topic 'error's down proposal
    from 0.800 to 0.805, flipping down_accepted and the reactive
    branch, so both scale keys must match their oracles here."""
    import duckdb
    import pyarrow.parquet as pq

    from tests.parity import assert_parity
    from uforwarder_spark.registry import ORACLES, QUERIES

    pq.write_table(_seeded_event_log(20_000, 1), str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    try:
        for key in ("scale_window_proposal", "reactive_downscale_window"):
            got = QUERIES[key](spark, str(tmp_path)).toPandas()
            assert_parity(got, con.execute(ORACLES[key]).fetchdf(), key)
    finally:
        con.close()


# --- constant tables ---------------------------------------------------------
def _typed_rows(df):
    return (
        [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        sorted(df.collect(), key=repr),
    )


@pytest.mark.parametrize(
    "rows,names,build",
    [
        pytest.param(P.ROUTES, ["topic", "callee_uri"], P._routes_df, id="routes"),
        pytest.param(P.DELAYS, ["topic", "delay_ms"], P._delays_df, id="delays"),
        pytest.param(C.QUOTAS, ["topic", "quota_mps"], C._quotas_df, id="quotas"),
        pytest.param([(w,) for w in C.WORKERS], ["worker"], C._workers_df, id="workers"),
        pytest.param(
            [(w,) for w in C.WORKERS_EPOCH2],
            ["worker"],
            lambda spark: C._workers_df(spark, C.WORKERS_EPOCH2),
            id="workers_epoch2",
        ),
    ],
)
def test_constant_table_types_and_rows_match_create_data_frame(spark, rows, names, build):
    """Each in-plan constant table has the column types and rows that
    createDataFrame infers for the same Python list: int stays BIGINT
    (not INT), float stays DOUBLE (not the DECIMAL of a SQL literal)."""
    assert _typed_rows(build(spark)) == _typed_rows(spark.createDataFrame(rows, names))


@pytest.mark.parametrize(
    "rows",
    [[(0, "input", 3, None), (0, "gate", None, 7)], []],
    ids=["with_nulls", "empty"],
)
def test_local_table_with_ddl_schema_matches_create_data_frame(spark, rows):
    # the shape of the per-trigger accounting rows and the BPE merge table
    ddl = "batch_id long, stage string, stage_idx int, docs bigint"
    assert _typed_rows(local_table(spark, rows, ddl)) == _typed_rows(
        spark.createDataFrame(rows, ddl)
    )
