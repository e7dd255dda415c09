"""E1–E4: Structured Streaming pipelines, driven by a file-parquet stream
of the message log (stand-in for Kafka) and checked against the batch
operators computing the same semantics over the same data.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED, SF_SMALL
from tests.state_dirs import latest_batch_id
from uforwarder_spark import model
from uforwarder_spark.streaming import pipelines as P


@pytest.fixture(scope="module")
def msg_log_dir(tmp_path_factory):
    from uforwarder_spark.session import get_spark

    spark = get_spark("uforwarder-tests", shuffle_partitions="8")
    d = tmp_path_factory.mktemp("msglog")
    P.prepare_message_log(spark, SF_SMALL, str(d))
    return str(d)


def _age_files(src, offsets):
    """Set mtimes so maxFilesPerTrigger=1 picks the files in the intended
    order (file sources order by modification time)."""
    import os
    import time as _time

    now = _time.time()
    for sub, off in offsets.items():
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + off, now + off))


def _run_to_memory(df, name, checkpoint, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    return q


def test_e1_route_dispatch_foreachbatch(spark, msg_log_dir, tmp_path):
    seen: list[tuple[int, int]] = []

    def dispatch(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))
        assert batch_df.filter(F.col("callee_uri").isNull()).count() == 0

    stream = P.message_stream(spark, msg_log_dir, files_per_trigger=2)
    q = P.dispatch_pipeline(stream, dispatch, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    expected = model.messages(spark, SF_SMALL).filter(F.col("outcome") != "SKIP").count()
    assert sum(n for _, n in seen) == expected
    assert len(seen) >= 1


def test_e2_windowed_throughput_watermark(spark, msg_log_dir, tmp_path):
    stream = P.message_stream(spark, msg_log_dir)
    q = _run_to_memory(
        P.throughput_stream(stream), "e2_windows", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e2_windows").toPandas()
    assert len(got) > 0

    # Batch twin: per (topic, 5-min window) counts; append mode emits only
    # windows closed by the final watermark (max ts − 10 min lateness).
    m = model.messages(spark, SF_SMALL)
    batch = (
        m.groupBy(F.window("ts", "5 minutes").alias("win"), "topic")
        .agg(F.count("*").alias("n_msgs"), F.sum("size_bytes").alias("total_bytes"))
        .select(F.col("win.start").alias("window_start"), "topic", "n_msgs", "total_bytes")
        .toPandas()
    )
    bmap = {(r.topic, r.window_start): (r.n_msgs, r.total_bytes) for r in batch.itertuples()}
    for r in got.itertuples():
        assert bmap[(r.topic, r.window_start)] == (r.n_msgs, r.total_bytes)
    # everything but the tail inside the lateness horizon must have emitted
    assert len(got) >= len(batch) - 5 * 3  # 5 topics × ≤3 tail windows


def test_e3_retry_state_machine(spark, msg_log_dir, tmp_path):
    stream = P.message_stream(spark, msg_log_dir, files_per_trigger=2)
    q = _run_to_memory(
        P.retry_state_stream(stream), "e3_retry", str(tmp_path / "ckpt"), "update"
    )
    got = spark.table("e3_retry").toPandas()
    assert len(got) > 0
    # counts are cumulative & monotone → final state per key = column max
    final = got.groupby(["topic", "part_id"]).max().reset_index()

    m = model.messages(spark, SF_SMALL)
    batch = (
        m.groupBy("topic", "part_id")
        .agg(
            F.sum(F.when(F.col("outcome").isin("OK", "SKIP"), 1).otherwise(0)).alias("n_ok"),
            F.sum(
                F.when(
                    (F.col("outcome") == "RETRY") & (F.col("retry_count") < P.MAX_RETRIES), 1
                ).otherwise(0)
            ).alias("n_retry"),
            F.sum(
                F.when(
                    (F.col("outcome") == "DLQ")
                    | ((F.col("outcome") == "RETRY") & (F.col("retry_count") >= P.MAX_RETRIES)),
                    1,
                ).otherwise(0)
            ).alias("n_dlq"),
            F.max("msg_offset").alias("max_offset"),
        )
        .toPandas()
    )
    bmap = {
        (r.topic, r.part_id): (r.n_ok, r.n_retry, r.n_dlq, r.max_offset)
        for r in batch.itertuples()
    }
    assert len(final) == len(bmap)
    for r in final.itertuples():
        assert bmap[(r.topic, r.part_id)] == (r.n_ok, r.n_retry, r.n_dlq, r.max_offset)


def test_e4_streaming_dedup(spark, tmp_path):
    # source dir with a redelivered copy of every message (two file sets)
    src = tmp_path / "src"
    m = model.messages(spark, SF_SMALL)
    m.write.mode("overwrite").parquet(str(src))
    import shutil

    for i, f in enumerate(sorted(p for p in src.iterdir() if p.suffix == ".parquet")):
        shutil.copy(f, str(src / f"redelivery-{i}.parquet"))

    stream = P.message_stream(spark, str(src), files_per_trigger=2)
    q = _run_to_memory(
        P.dedup_stream(stream), "e4_dedup", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e4_dedup")
    n_unique = m.select("topic", "part_id", "msg_offset").distinct().count()
    assert got.count() == n_unique
    assert got.select("topic", "part_id", "msg_offset").distinct().count() == n_unique


def test_e5_stream_static_routing_join(spark, msg_log_dir, tmp_path):
    from uforwarder_spark.operators.pipeline import ROUTES

    routes = spark.createDataFrame(ROUTES, ["topic", "callee_uri"])
    stream = P.message_stream(spark, msg_log_dir)
    q = _run_to_memory(
        P.route_stream_dynamic(stream, routes), "e5_routes", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e5_routes")
    m = model.messages(spark, SF_SMALL).filter(F.col("outcome") != "SKIP")
    expected = m.join(routes, "topic")
    assert got.count() == expected.count()
    assert got.filter(F.col("callee_uri").isNull()).count() == 0
    by_uri = {r.callee_uri: r.n for r in got.groupBy("callee_uri").agg(F.count("*").alias("n")).collect()}
    for r in expected.groupBy("callee_uri").agg(F.count("*").alias("n")).collect():
        assert by_uri[r.callee_uri] == r.n


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Restarting from the same checkpoint must process each file once:
    the file-source offset log plays the role of committed Kafka offsets
    (reference KafkaCheckpointManager), so a restarted pipeline resumes
    where it stopped with no reprocessing and no loss."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    m = model.messages(spark, SF_SMALL)
    first = m.filter(F.col("part_id") < 4)
    second = m.filter(F.col("part_id") >= 4)
    first.write.mode("overwrite").parquet(str(src))

    def run_once():
        q = (
            P.message_stream(spark, str(src), files_per_trigger=2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    run_once()
    assert spark.read.parquet(out).count() == first.count()

    # new data lands while the pipeline is down; restart from checkpoint
    second.write.mode("append").parquet(str(src))
    run_once()
    got = spark.read.parquet(out)
    # exactly-once: every message appears once — no loss, no reprocessing
    assert got.count() == m.count()
    assert got.select("topic", "part_id", "msg_offset").distinct().count() == m.count()


def test_e6_streaming_sessionization(spark, tmp_path):
    """Sessions emitted by the stream (gap-split + event-time timeout)
    match the batch gaps-and-islands sessionizer once a watermark-flush
    closes every open session."""
    from datetime import datetime, timedelta

    from uforwarder_spark.model import load_table
    from uforwarder_spark.plans.relational import user_sessions

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_SMALL, "events").select("user_id", "ts", "event_id")
    ev.write.mode("overwrite").parquet(str(src))

    schema = "user_id long, ts timestamp, event_id long"

    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(str(src))
        )
        q = (
            P.session_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    run_once()
    # flush: one far-future event advances the watermark past every open
    # session's deadline; its own session stays open and never emits
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    flush = spark.createDataFrame(
        [(999_999_999, max_ts + timedelta(days=2), 0)], schema
    )
    flush.write.mode("append").parquet(str(src))
    run_once()

    got = spark.read.parquet(out).toPandas()
    batch = user_sessions(spark, SF_SMALL).toPandas()
    assert len(got) == len(batch)
    key = lambda df, a, b: sorted(zip(df["user_id"], df[a], df[b]))
    assert key(got, "n_events", "duration_s") == key(batch, "n_events", "duration_s")


def test_dispatch_failure_redelivers_same_batch(spark, msg_log_dir, tmp_path):
    """A dispatch (foreachBatch) failure aborts the micro-batch; on
    restart the SAME batch id is redelivered — the at-least-once +
    stable-batch-id contract consumers dedupe against (reference
    DedupHeaderInterceptor guards exactly this redelivery)."""
    calls: list[tuple[int, int]] = []
    fail_once = {"armed": True}

    def flaky_dispatch(batch_df, batch_id: int) -> None:
        n = batch_df.count()
        calls.append((batch_id, n))
        if fail_once["armed"]:
            fail_once["armed"] = False
            raise RuntimeError("simulated consumer outage")

    ckpt = str(tmp_path / "ckpt")
    stream = P.message_stream(spark, msg_log_dir, files_per_trigger=2)
    q = P.dispatch_pipeline(stream, flaky_dispatch, ckpt)
    try:
        q.awaitTermination(timeout=300)
    except Exception:
        pass  # the injected failure surfaces here
    assert not fail_once["armed"]

    stream2 = P.message_stream(spark, msg_log_dir, files_per_trigger=2)
    q2 = P.dispatch_pipeline(stream2, flaky_dispatch, ckpt)
    q2.awaitTermination(timeout=300)

    first_failed_id, first_failed_n = calls[0]
    redelivered = [c for c in calls[1:] if c[0] == first_failed_id]
    assert redelivered and redelivered[0][1] == first_failed_n  # same id, same rows
    # and the full stream still dispatches every non-SKIP message once per id
    from pyspark.sql import functions as F2

    expected = model.messages(spark, SF_SMALL).filter(F2.col("outcome") != "SKIP").count()
    unique_batches = dict(calls)  # later deliveries of an id overwrite earlier
    assert sum(unique_batches.values()) == expected


def test_e7_outcome_fanout(spark, msg_log_dir, tmp_path):
    out = str(tmp_path / "topics")
    stream = P.message_stream(spark, msg_log_dir, files_per_trigger=2)
    q = P.outcome_fanout_pipeline(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    m = model.messages(spark, SF_SMALL)
    expected = {
        "delivered": m.filter(F.col("outcome").isin("OK", "SKIP")).count(),
        "retry": m.filter(
            (F.col("outcome") == "RETRY") & (F.col("retry_count") < P.MAX_RETRIES)
        ).count(),
        "dlq": m.filter(
            (F.col("outcome") == "DLQ")
            | ((F.col("outcome") == "RETRY") & (F.col("retry_count") >= P.MAX_RETRIES))
        ).count(),
    }
    for sink, n in expected.items():
        assert spark.read.parquet(f"{out}/{sink}").count() == n
    assert sum(expected.values()) == m.count()  # partition of the stream


def test_e8_stream_stream_redelivery_join(spark, tmp_path):
    """Original and redelivery streams join on message identity; every
    RETRY message's redelivery pairs with its original exactly once."""
    m = model.messages(spark, SF_SMALL)
    orig_dir = tmp_path / "orig"
    redeliv_dir = tmp_path / "redeliv"
    m.write.mode("overwrite").parquet(str(orig_dir))
    retries = m.filter(F.col("outcome") == "RETRY")
    retries.write.mode("overwrite").parquet(str(redeliv_dir))

    joined = P.redelivery_join_stream(
        P.message_stream(spark, str(orig_dir)),
        P.message_stream(spark, str(redeliv_dir)),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("e8_joined")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = spark.table("e8_joined")
    assert got.count() == retries.count()
    assert got.select("topic", "part_id", "msg_offset").distinct().count() == retries.count()
    assert got.filter(F.col("o_outcome") != "RETRY").count() == 0


def test_e2_custom_window_size_rates(spark, msg_log_dir, tmp_path):
    """The per-second rates derive from each window's own bounds, so any
    window duration produces correct rates (regression for the
    hard-coded 300 s divisor)."""
    stream = P.message_stream(spark, msg_log_dir)
    q = _run_to_memory(
        P.throughput_stream(stream, window="2 minutes"),
        "e2_custom", str(tmp_path / "ckpt"), "append",
    )
    got = spark.table("e2_custom").toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        assert abs(r.msgs_per_sec - r.n_msgs / 120.0) < 1e-9
        assert abs(r.bytes_per_sec - r.total_bytes / 120.0) < 1e-9


def test_e9_streaming_token_bucket_matches_batch(spark, tmp_path):
    """E9: the streaming token bucket's verdicts must equal batch A18's
    when micro-batches respect per-shard time order — state (tokens,
    last event time) carries across batches."""
    import os
    import time as _time

    from uforwarder_spark.operators.ratelimit import token_bucket_frame

    m = model.messages(spark, SF_SMALL)
    cutoff = m.agg(F.expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)")).collect()[0][0]
    early = m.filter(F.expr(f"CAST(ts AS DOUBLE) <= {cutoff}"))
    late = m.filter(F.expr(f"CAST(ts AS DOUBLE) > {cutoff}"))

    src = tmp_path / "src"
    (early.coalesce(1).write.mode("overwrite").parquet(str(src / "f0")))
    _time.sleep(1.1)  # file-source orders by modification time
    (late.coalesce(1).write.mode("overwrite").parquet(str(src / "f1")))
    # make mtime ordering unambiguous
    now = _time.time()
    for sub, off in (("f0", -10), ("f1", 0)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                p = os.path.join(root, f)
                os.utime(p, (now + off, now + off))

    schema = P.MESSAGE_SCHEMA
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = _run_to_memory(
        P.token_bucket_stream(stream), "e9_bucket", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e9_bucket").toPandas().set_index(["topic", "part_id", "msg_offset"])
    want = token_bucket_frame(m).toPandas().set_index(["topic", "part_id", "msg_offset"])
    assert len(got) == len(want)
    joined = got.join(want, lsuffix="_s", rsuffix="_b")
    assert (joined["admitted_s"] == joined["admitted_b"]).all()


def test_e10_streaming_consumer_lag_matches_batch(spark, tmp_path):
    """E10: live lag equals batch A14 after the stream drains, with the
    log split into two offset-ordered micro-batches (per-shard offset
    order is Kafka's delivery guarantee)."""
    import os
    import time as _time

    from uforwarder_spark.operators.pipeline import consumer_lag

    m = model.messages(spark, SF_SMALL)
    median = m.agg(F.expr("percentile_approx(msg_offset, 0.5)")).collect()[0][0]
    src = tmp_path / "src"
    m.filter(F.col("msg_offset") <= median).coalesce(1).write.parquet(str(src / "f0"))
    m.filter(F.col("msg_offset") > median).coalesce(1).write.parquet(str(src / "f1"))
    now = _time.time()
    for sub, off in (("f0", -10), ("f1", 0)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + off, now + off))

    stream = (
        spark.readStream.schema(P.MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = _run_to_memory(
        P.consumer_lag_stream(stream), "e10_lag", str(tmp_path / "ckpt"), "update"
    )
    # update mode re-emits per batch: keep the LAST row per shard
    got = (
        spark.table("e10_lag")
        .toPandas()
        .groupby(["topic", "part_id"])
        .last()
        .sort_index()
    )
    want = (
        consumer_lag(spark, SF_SMALL)
        .toPandas()
        .set_index(["topic", "part_id"])
        .sort_index()
    )
    assert len(got) == len(want)
    for col in ("high_watermark", "committed_offset", "lag_msgs"):
        s, b = got[col], want[col]
        assert ((s == b) | (s.isna() & b.isna())).all(), col


def test_e11_autoscale_signal_matches_batch_windows(spark, msg_log_dir, tmp_path):
    """E11: every closed window's verdict equals the batch computation
    of the same window-vs-quota rule (B3's thresholds)."""
    from uforwarder_spark.operators.controller import QUOTAS

    quotas = spark.createDataFrame(QUOTAS, ["topic", "quota_mps"])
    stream = P.message_stream(spark, msg_log_dir)
    q = _run_to_memory(
        P.autoscale_signal_stream(stream, quotas),
        "e11_scale", str(tmp_path / "ckpt"), "append",
    )
    got = spark.table("e11_scale").toPandas()
    assert len(got) > 0
    m = model.messages(spark, SF_SMALL).toPandas()
    m["window_start"] = m["ts"].dt.floor("5min")
    batch = m.groupby(["topic", "window_start"]).size().rename("n").reset_index()
    qmap = dict(QUOTAS)
    merged = got.merge(batch, on=["topic", "window_start"], how="left")
    assert merged["n"].notna().all()  # every emitted window exists in batch
    for r in merged.itertuples():
        assert r.n_msgs == r.n
        mps = r.n / 300.0
        want = (
            "scale_up" if mps > qmap[r.topic] * 1.2
            else "scale_down" if mps < qmap[r.topic] * 0.5
            else "hold"
        )
        assert r.decision == want, (r.topic, r.window_start)


def test_e10_lag_state_survives_checkpoint_restart(spark, tmp_path):
    """E10 recovery: stop the query after the first half of the log,
    start a NEW query from the same checkpoint over the second half —
    the four-long lag state must round-trip the state store, and the
    final lag must equal the batch answer (a restart must not reset
    committed offsets or double-count lag)."""
    import os
    import time as _time

    from uforwarder_spark.operators.pipeline import consumer_lag

    m = model.messages(spark, SF_SMALL)
    median = m.agg(F.expr("percentile_approx(msg_offset, 0.5)")).collect()[0][0]
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def sink(batch_df, batch_id: int) -> None:
        # parquet-per-batch sink: the memory sink cannot recover from a
        # checkpoint, and the file sink rejects update-mode stateful ops
        batch_df.write.mode("append").parquet(out)

    def run_drain():
        stream = (
            spark.readStream.schema(P.MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            P.consumer_lag_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    m.filter(F.col("msg_offset") <= median).coalesce(1).write.parquet(str(src), mode="append")
    run_drain()  # first incarnation drains half the log, then stops
    _time.sleep(1.1)
    m.filter(F.col("msg_offset") > median).coalesce(1).write.parquet(str(src), mode="append")
    run_drain()  # second incarnation restores state from the checkpoint

    # final state per shard = the row with the highest watermark (hw is
    # monotone across batches; lag can tie at 0 so it cannot order rows)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["topic", "part_id", "high_watermark"])
        .groupby(["topic", "part_id"])
        .last()
        .sort_index()
    )
    want = (
        consumer_lag(spark, SF_SMALL)
        .toPandas()
        .set_index(["topic", "part_id"])
        .sort_index()
    )
    assert len(got) == len(want)
    for col in ("high_watermark", "committed_offset", "lag_msgs"):
        s, b = got[col], want[col]
        assert ((s == b) | (s.isna() & b.isna())).all(), col


def test_e12_scale_proposal_stream_matches_online_model(spark, tmp_path):
    """E12: the streaming ScaleWindow must replay the reference's online
    accept-and-rebuild loop — verified against a pure-Python port of
    BoundedWindow (the same port the B16 property test validates
    against the SQL histogram) run over the samples in stream order."""
    import math

    import pandas as pd

    # deterministic sample schedule: 3 files -> 3 micro-batches, strictly
    # increasing window_start so in-batch sort matches global order
    sched = {
        "click": [0.004] * 14,   # s = 0.16 in up window -> accept at n=10, reset
        "error": [0.003] * 14,   # s = 0.24 below down window -> accept 0.5*S
        "purchase": [0.004] * 8, # immature forever (n < 10)
    }
    rows = []
    for topic, mps_list in sched.items():
        for i, mps in enumerate(mps_list):
            rows.append((topic, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=5 * i), mps))
    df = pd.DataFrame(rows, columns=["topic", "window_start", "mps"])
    src = tmp_path / "samples"
    src.mkdir()
    for part, chunk in enumerate([df.iloc[::3], df.iloc[1::3], df.iloc[2::3]]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"f{part}")
        )
    stream = (
        spark.readStream.schema("topic string, window_start timestamp, mps double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = _run_to_memory(
        P.scale_proposal_stream(stream), "e12_scale", str(tmp_path / "ckpt"), "update"
    )
    got = spark.table("e12_scale").toPandas()
    final = {r.topic: r for r in got.itertuples()}  # update mode: last wins per key

    # pure-Python online model (BoundedWindow port + accept/reset loop)
    def online(topic, samples):
        cfg = {"click": (0.10, 0.10), "error": (1.00, 0.05), "purchase": (0.20, 0.08)}
        scale, quota = cfg[topic]
        NB, n, counts = 100, 0, None

        def bounds(s):
            return {
                "up": (s, 2 * s, 0.5, 1.2 * s, 2 * s),
                "down": (0.5 * s, s, 0.99, 0.5 * s, 0.8 * s),
                "hib": (0.0, s, 0.99, 0.0, 0.0),
            }

        counts = {c: [0] * NB for c in bounds(scale)}
        for mps in samples:
            s = mps / (quota / 4.0)
            b = bounds(scale)
            for comp, (lo, hi, _, _, _) in b.items():
                w = (hi - lo) / NB
                counts[comp][min(NB - 1, max(0, math.ceil((s - lo) / w)))] += 1
            n += 1
            if n < 10:
                continue
            for comp, (lo, hi, pct, out_lo, out_hi) in b.items():
                w = (hi - lo) / NB
                pivot = int(pct * n)
                tot, idx = 0, 0
                for idx in range(NB):
                    tot += counts[comp][idx]
                    if tot >= pivot:
                        break
                prop = lo + idx * w
                if out_lo <= prop <= out_hi:
                    scale, n = (prop if comp != "hib" else 0.0), 0
                    counts = {c: [0] * NB for c in bounds(max(scale, 1e-9))}
                    break
        return scale, n

    # stream order = file round-robin order per topic; each topic's
    # samples arrive in window_start order regardless of chunking
    for topic, mps_list in sched.items():
        want_scale, want_n = online(topic, mps_list)
        assert final[topic].scale == pytest.approx(want_scale, abs=0), topic
        assert final[topic].n_samples == want_n, topic
    assert final["click"].scale > 0.10  # accepted an up proposal
    assert final["error"].scale < 1.00  # accepted a down proposal
    q.stop()


def _delay_model(batches, delays):
    """Pure-Python replay of E13's recurrence: per shard, parked records
    carry across batches; each batch re-offers parked + new in offset
    order and pauses at the first not-yet-due record."""
    state: dict = {}
    out: dict = {}
    for b in batches:
        for (topic, pid), grp in b.groupby(["topic", "part_id"]):
            delay = delays.get(topic, 0)
            now_ms = int(grp["ts"].max().value // 10**6)
            parked = state.get((topic, pid), [])
            parked_set = {o for o, _ in parked}
            new = list(
                zip(
                    grp["msg_offset"].astype("int64").tolist(),
                    grp["ts"].astype("int64").tolist(),
                )
            )
            paused, keep = False, []
            for off, ts_ns in sorted(parked + new):
                due = delay == 0 or ts_ns // 10**6 + delay <= now_ms
                if paused or not due:
                    paused = True
                    keep.append((off, ts_ns))
                else:
                    out[(topic, pid, off)] = (off in parked_set, now_ms)
            state[(topic, pid)] = keep
    return out, state


def test_e13_streaming_delay_process_matches_model(spark, tmp_path):
    """E13: the live pause/park/resume ledger must equal the Python
    replay of the same micro-batch sequence — parked state carries
    across batches, resumed records surface with was_parked=True."""
    import os
    import time as _time

    m = model.messages(spark, SF_SMALL)
    cutoff = m.agg(F.expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)")).collect()[0][0]
    early = m.filter(F.expr(f"CAST(ts AS DOUBLE) <= {cutoff}"))
    late = m.filter(F.expr(f"CAST(ts AS DOUBLE) > {cutoff}"))

    src = tmp_path / "src"
    early.coalesce(1).write.parquet(str(src / "f0"))
    late.coalesce(1).write.parquet(str(src / "f1"))
    now = _time.time()
    for sub, off in (("f0", -10), ("f1", 0)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + off, now + off))

    stream = (
        spark.readStream.schema(P.MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    _run_to_memory(
        P.delay_process_stream(stream), "e13_delay", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e13_delay").toPandas()

    from uforwarder_spark.operators.pipeline import DELAYS

    cols = ["topic", "part_id", "msg_offset", "ts"]
    batches = [early.select(cols).toPandas(), late.select(cols).toPandas()]
    want, residual = _delay_model(batches, dict(DELAYS))

    assert len(got) == len(want)
    for row in got.itertuples():
        key = (row.topic, row.part_id, row.msg_offset)
        assert key in want, f"unexpected release {key}"
        wp, rel = want[key]
        assert row.was_parked == wp, key
        assert row.released_ms == rel, key
    # conservation: released + still-parked covers every input record
    n_residual = sum(len(v) for v in residual.values())
    assert len(got) + n_residual == m.count()
    # the delayed topics must actually exercise the park path
    assert got["was_parked"].any()
    assert n_residual > 0


def test_e14_bootstrap_phase_matches_batch(spark, tmp_path):
    """E14: after the stream drains, each shard's final phase and
    completed count equal batch A26's, and every message's online phase
    matches a replay of the cumulative-completed model; state survives
    the micro-batch boundary."""
    import os
    import time as _time

    from uforwarder_spark.operators.pipeline import (
        BOOT_COMPLETE_THRESHOLD,
        inflight_bootstrap,
    )

    m = model.messages(spark, SF_SMALL)
    med = m.agg(F.expr("percentile_approx(msg_offset, 0.5)")).collect()[0][0]
    early = m.filter(F.col("msg_offset") <= med)
    late = m.filter(F.col("msg_offset") > med)

    src = tmp_path / "src"
    early.coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    _time.sleep(1.1)
    late.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    now = _time.time()
    for sub, off in (("f0", -10), ("f1", 0)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + off, now + off))

    stream = (
        spark.readStream.schema(P.MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = _run_to_memory(
        P.bootstrap_phase_stream(stream), "e14_boot", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e14_boot").toPandas()
    assert len(got) == m.count()

    # per-message phase replay: phase is 'working' iff the completed
    # count BEFORE the message exceeds the threshold (offset order)
    mp = m.toPandas().sort_values(["topic", "part_id", "msg_offset"])
    mp["cum_before"] = mp.groupby(["topic", "part_id"])["acked"].cumsum() - mp["acked"]
    mp["want_phase"] = (mp["cum_before"] > BOOT_COMPLETE_THRESHOLD).map(
        {True: "working", False: "bootstrap"}
    )
    j = got.set_index(["topic", "part_id", "msg_offset"]).join(
        mp.set_index(["topic", "part_id", "msg_offset"])[["want_phase"]]
    )
    assert (j["phase"] == j["want_phase"]).all()

    # final state equals batch A26
    final = (
        got.sort_values("msg_offset")
        .groupby(["topic", "part_id"])
        .tail(1)
        .set_index(["topic", "part_id"])
    )
    want = (
        inflight_bootstrap(spark, SF_SMALL)
        .toPandas()
        .set_index(["topic", "part_id"])
    )
    for key, row in want.iterrows():
        frow = final.loc[key]
        assert frow["completed_after"] == row["n_completed"], key
        # stream tags phase at last acquire; batch reports phase from the
        # full completed count — they agree unless the very last message
        # itself crossed the threshold
        crossed_on_last = (
            row["n_completed"] - BOOT_COMPLETE_THRESHOLD == 1
            and frow["phase"] == "bootstrap"
        )
        assert frow["phase"] == row["phase"] or crossed_on_last, key


def test_e14_constants_in_sync():
    """The machine inlines A26's constants (by-value pickling); keep
    them in lockstep with the batch module."""
    import inspect

    from uforwarder_spark.operators.pipeline import (
        BOOT_CAP,
        BOOT_COMPLETE_THRESHOLD,
        STEADY_CAP,
    )
    from uforwarder_spark.streaming.pipelines import _bootstrap_machine

    src = inspect.getsource(_bootstrap_machine)
    assert f"= {BOOT_CAP}, {STEADY_CAP}, {BOOT_COMPLETE_THRESHOLD}" in src


def test_e15_incremental_dedup_matches_batch(spark, tmp_path):
    """E15: the streamed (per-micro-batch) incremental dedup must emit
    exactly the decisions batch D36 computes over the same incoming set
    — same matches, same jaccard, same keep/drop."""
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incremental_dedup

    ind = str(tmp_path / "incoming")
    P.prepare_incoming_docs(spark, SF_SMALL, ind)
    corpus = load_parallel(spark, SF_SMALL, "documents").filter(
        F.expr("CAST(substring(source, 4) AS INT) % 2 = 0")
    )
    out = str(tmp_path / "decisions")
    q = P.incremental_dedup_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        corpus,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    cols = ["doc_id", "match_doc_id", "jaccard", "action"]
    got = (
        spark.read.parquet(out)
        .select(*cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        incremental_dedup(spark, SF_SMALL)
        .select(*cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # at least one drop and one keep so both branches are exercised
    assert set(exp["action"]) == {"keep", "drop"}


def test_e16_aimd_stream_matches_batch_and_replay(spark, tmp_path):
    """E16: with shard logs sized to whole adaptation batches, the last
    emitted transition per shard equals batch A33's summary, and the
    full emitted trajectory equals a pure-Python AIMD replay; the
    in-flight partial batch survives the micro-batch boundary (the
    split point is NOT on a batch edge)."""
    import pandas as pd

    from uforwarder_spark.operators.pipeline import (
        AIMD_BATCH,
        AIMD_MAX,
        AIMD_MIN,
        INFLIGHT_LIMIT,
        aimd_limiter_frame,
    )

    rows = []
    # shard A: drops in batches 0 and 2; shard B: all-success
    for off in range(4 * AIMD_BATCH):
        outcome = "DLQ" if off in (10, 110) else "ACK"
        rows.append((off, "click", 0, outcome, outcome == "ACK"))
        rows.append((off, "view", 1, "ACK", off % 3 != 0))
    m = spark.createDataFrame(
        rows, ["msg_offset", "topic", "part_id", "outcome", "acked"]
    )

    src = tmp_path / "src"
    # split mid-batch: offsets [0, 70) then [70, 200)
    m.filter("msg_offset < 70").coalesce(1).write.parquet(str(src / "f0"))
    m.filter("msg_offset >= 70").coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    schema = (
        "msg_offset long, topic string, part_id long, outcome string, acked boolean"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    _run_to_memory(
        P.aimd_limit_stream(stream), "e16_aimd", str(tmp_path / "ckpt"), "append"
    )
    got = spark.table("e16_aimd").toPandas()

    # trajectory replay
    mp = m.toPandas().sort_values(["topic", "part_id", "msg_offset"])
    for (topic, part), g in mp.groupby(["topic", "part_id"]):
        lim, n_inc, n_dec, want = INFLIGHT_LIMIT, 0, 0, []
        for start in range(0, len(g), AIMD_BATCH):
            b = g.iloc[start : start + AIMD_BATCH]
            if len(b) < AIMD_BATCH:
                break
            has_drop = (b["outcome"] == "DLQ").any()
            has_succ = b["acked"].any()
            if has_drop:
                lim, n_dec = max(AIMD_MIN, lim // 2), n_dec + 1
            elif has_succ:
                lim, n_inc = min(AIMD_MAX, lim + 1), n_inc + 1
            want.append((start // AIMD_BATCH, has_drop, has_succ, lim, n_inc, n_dec))
        sg = got[(got["topic"] == topic) & (got["part_id"] == part)].sort_values(
            "batch_id"
        )
        assert (
            list(
                sg[
                    ["batch_id", "has_drop", "has_succ", "limit_after",
                     "n_increase", "n_decrease"]
                ].itertuples(index=False, name=None)
            )
            == want
        ), (topic, part)

    # whole-batch logs: final emitted row equals batch A33's summary
    finals = (
        got.sort_values("batch_id").groupby(["topic", "part_id"]).tail(1)
        .set_index(["topic", "part_id"])
    )
    batch = aimd_limiter_frame(m).toPandas().set_index(["topic", "part_id"])
    for key, row in batch.iterrows():
        assert finals.loc[key, "limit_after"] == row["final_limit"], key
        assert finals.loc[key, "n_increase"] == row["n_increase"], key
        assert finals.loc[key, "n_decrease"] == row["n_decrease"], key


def test_e16_constants_in_sync():
    import inspect

    from uforwarder_spark.operators.pipeline import (
        AIMD_BATCH,
        AIMD_INIT,
        AIMD_MAX,
        AIMD_MIN,
    )
    from uforwarder_spark.streaming.pipelines import _aimd_machine

    src = inspect.getsource(_aimd_machine)
    assert f"= {AIMD_BATCH}, {AIMD_INIT}, {AIMD_MIN}, {AIMD_MAX}" in src


def test_e17_linger_stream_matches_batch(spark, tmp_path):
    """E17: after the stream drains, every read's (fresh, age, value)
    equals batch A36's replay of the same log — the rolling gate
    continues across the micro-batch boundary."""
    from uforwarder_spark.operators.pipeline import linger_sampler_frame

    m = model.messages(spark, SF_SMALL)
    med = m.agg(F.expr("percentile_approx(msg_offset, 0.5)")).collect()[0][0]

    src = tmp_path / "src"
    m.filter(F.col("msg_offset") <= med).coalesce(1).write.parquet(str(src / "f0"))
    m.filter(F.col("msg_offset") > med).coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    stream = (
        spark.readStream.schema(P.MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    _run_to_memory(
        P.linger_sample_stream(stream), "e17_linger", str(tmp_path / "ckpt"), "append"
    )
    key = ["topic", "part_id", "msg_offset"]
    got = spark.table("e17_linger").toPandas().sort_values(key).reset_index(drop=True)
    want = (
        linger_sampler_frame(m).toPandas().sort_values(key).reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got[want.columns], want)


def test_e17_constants_in_sync():
    import inspect

    from uforwarder_spark.operators.pipeline import LINGER_MS
    from uforwarder_spark.streaming.pipelines import _linger_machine

    src = inspect.getsource(_linger_machine)
    assert f"LINGER_MS = {LINGER_MS:_}" in src or f"LINGER_MS = {LINGER_MS}" in src


def test_e18_cluster_assign_stream_matches_batch_estep(spark, tmp_path):
    """E18: the stateless streamed assignment equals batch D40's E-step
    against the same centroid frame (the k seed vectors)."""
    from uforwarder_spark.operators.similarity import (
        K_CLUSTERS,
        _emb,
        _kmeans_assign,
    )

    e = _emb(spark, SF_SMALL)
    from pyspark.sql import Window

    w = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id").limit(K_CLUSTERS)
        .select((F.row_number().over(w) - 1).cast("int").alias("cluster"),
                F.col("v").alias("c"))
    )
    want = (
        _kmeans_assign(e, seeds)
        .select("vec_id", "label", "cluster", F.round("dist", 6).alias("sq_dist"))
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )

    src = tmp_path / "src"
    med = e.agg(F.expr("percentile_approx(vec_id, 0.5)")).collect()[0][0]
    base = e.select("vec_id", "label", "v")
    base.filter(F.col("vec_id") <= med).coalesce(1).write.parquet(str(src / "f0"))
    base.filter(F.col("vec_id") > med).coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    stream = (
        spark.readStream.schema("vec_id long, label int, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    _run_to_memory(
        P.cluster_assign_stream(stream, seeds), "e18_assign",
        str(tmp_path / "ckpt"), "append",
    )
    got = spark.table("e18_assign").toPandas().sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want)


def test_e19_importance_weights_matches_batch(spark, tmp_path):
    """E19: after the incremental monitor drains, the latest weight
    table equals batch D39 over the same corpus; the totals merged
    across micro-batches (no batch re-reads the corpus)."""
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import importance_sampling_weights

    docs = load_parallel(spark, SF_SMALL, "documents")
    med = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]

    src = tmp_path / "src"
    docs.filter(F.col("doc_id") <= med).coalesce(1).write.parquet(str(src / "f0"))
    docs.filter(F.col("doc_id") > med).coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    stream = (
        spark.readStream.schema(P.DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "state")
    q = P.importance_weights_pipeline(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    latest = latest_batch_id(f"{state}/weights")
    assert latest >= 1  # the merge crossed at least one micro-batch boundary
    got = (
        spark.read.parquet(f"{state}/weights/batch_id={latest}")
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        importance_sampling_weights(spark, SF_SMALL)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want)


def test_e20_bloom_prefilter_matches_batch(spark, tmp_path):
    """E20: the streamed Bloom prefilter must emit exactly the decisions
    batch D43 computes over the same incoming set — same maybe/is-dup
    flags, same false-positive audit."""
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import bloom_dedup_prefilter

    ind = str(tmp_path / "incoming")
    P.prepare_incoming_docs(spark, SF_SMALL, ind)
    corpus = load_parallel(spark, SF_SMALL, "documents").filter(
        F.expr("CAST(substring(source, 4) AS INT) % 2 = 0")
    )
    out = str(tmp_path / "decisions")
    q = P.bloom_prefilter_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        corpus,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    cols = ["doc_id", "maybe_dup", "is_dup", "bloom_false_positive"]
    got = (
        spark.read.parquet(out)
        .select(*cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        bloom_dedup_prefilter(spark, SF_SMALL)
        .select(*cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the prefilter must actually cut work: some clean misses skip the join
    assert (~exp["maybe_dup"]).any()


def test_e21_entropy_monitor_converges_to_batch(spark, tmp_path):
    """E21: after the document stream drains, the last emitted entropy
    table must equal batch D45 over the full corpus exactly."""
    from uforwarder_spark.functions.text import ngram_entropy
    from uforwarder_spark.model import load_parallel

    ind = str(tmp_path / "docs")
    # stream the WHOLE corpus (not just odd sources) so the final state
    # covers exactly what the batch operator sees
    load_parallel(spark, SF_SMALL, "documents").write.mode("overwrite").parquet(ind)
    state = str(tmp_path / "state")
    q = P.entropy_monitor_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/entropy")
    cols = ["source", "n_tokens", "n_bigrams", "unigram_entropy", "bigram_entropy", "cond_entropy"]
    got = (
        spark.read.parquet(f"{state}/entropy/batch_id={last}")
        .select(*cols)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    exp = (
        ngram_entropy(spark, SF_SMALL)
        .select(*cols)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert last >= 1  # the merge path (not just the first batch) ran


def test_e22_hll_monitor_converges_to_batch(spark, tmp_path):
    """E22: after the stream drains, the final register state and the
    estimate must equal batch D49's bit-for-bit (MAX-merge makes order
    and replay irrelevant)."""
    import math

    from uforwarder_spark.functions.text import hll_distinct_tokens
    from uforwarder_spark.model import load_parallel

    ind = str(tmp_path / "docs")
    load_parallel(spark, SF_SMALL, "documents").write.mode("overwrite").parquet(ind)
    state = str(tmp_path / "state")
    q = P.hll_monitor_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/estimate")
    assert last >= 1  # the merge path ran
    got = {
        r.source: r.est
        for r in spark.read.parquet(f"{state}/estimate/batch_id={last}").collect()
    }
    exp = {r.source: r.hll_estimate for r in hll_distinct_tokens(spark, SF_SMALL).collect()}
    assert set(got) == set(exp)
    for src in exp:
        assert round(got[src]) == exp[src], src


def test_e23_hdr_quantiles_converge_to_batch(spark, tmp_path):
    """E23: once the message stream drains, the final quantile estimates
    must equal batch D54's est_value column exactly — the fixed bucket
    boundaries make the additive merge order-free."""
    from uforwarder_spark.operators.timeseries import hdr_histogram_quantiles

    from uforwarder_spark.model import messages

    ind = str(tmp_path / "log")
    # 4 files -> 2 triggers at 2 files each: the merge path must run
    messages(spark, SF_SMALL).repartition(4).write.mode("overwrite").parquet(ind)
    state = str(tmp_path / "state")
    q = P.hdr_quantile_pipeline(
        P.message_stream(spark, ind, files_per_trigger=2),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/quantiles")
    assert last >= 1  # the merge path (not just the first batch) ran
    got = {
        (r.topic, round(r.q, 2)): round(r.est, 6)
        for r in spark.read.parquet(f"{state}/quantiles/batch_id={last}").collect()
    }
    exp = {
        (r.topic, round(r.q, 2)): r.est_value
        for r in hdr_histogram_quantiles(spark, SF_SMALL).collect()
    }
    assert got == exp


def test_e24_funnel_stream_matches_batch(spark, tmp_path):
    """E24: with per-user event_id-ordered delivery (range-partitioned
    files), the users reaching each step equal batch C23's counts and
    the first-reach event ids are exact."""
    from uforwarder_spark.model import load_table
    from uforwarder_spark.plans.relational import funnel_conversion

    ind = str(tmp_path / "events")
    (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(ind)
    )
    # FileStreamSource orders files by (mtime, path); parallel part
    # writes get arbitrary mtimes, so pin them ascending in path order
    # to make per-user event_id-ordered delivery deterministic
    import glob
    import os
    import time

    base = time.time() - 1000
    for i, f in enumerate(sorted(glob.glob(f"{ind}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))
    schema = "user_id long, event_id long, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "steps")
    q = (
        P.funnel_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = spark.read.parquet(out)
    step_counts = {r.step: r.n for r in got.groupBy("step").count().withColumnRenamed("count", "n").collect()}
    exp = {r.step: r.n_users for r in funnel_conversion(spark, SF_SMALL).collect()}
    assert {int(k): v for k, v in step_counts.items()} == {int(k): v for k, v in exp.items()}
    # at most one row per (user, step): first-reach fires exactly once
    dups = got.groupBy("user_id", "step").count().filter("count > 1").count()
    assert dups == 0


def test_e25_bm25_index_converges_to_batch(spark, tmp_path):
    """E25: after the document stream drains, the live index's top-K
    equals batch D57's ranking bit-for-bit."""
    from uforwarder_spark.functions.text import bm25_topk
    from uforwarder_spark.model import load_parallel

    ind = str(tmp_path / "docs")
    load_parallel(spark, SF_SMALL, "documents").write.mode("overwrite").parquet(ind)
    state = str(tmp_path / "state")
    q = P.bm25_index_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/topk")
    assert last >= 1  # the merge path ran
    got = {
        r.doc_id: r.bm25_score
        for r in spark.read.parquet(f"{state}/topk/batch_id={last}").collect()
    }
    exp = {r.doc_id: r.bm25_score for r in bm25_topk(spark, SF_SMALL).collect()}
    assert got == exp


def test_e26_asof_stream_matches_batch(spark, tmp_path):
    """E26: with per-key ordered delivery, the streamed as-of matches
    equal batch C25 row for row (including NULL prior views)."""
    import glob
    import os
    import time

    from uforwarder_spark.model import load_table
    from uforwarder_spark.plans.relational import asof_join_purchases

    ind = str(tmp_path / "events")
    (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "event_type", "value")
        .filter("event_type IN ('view', 'purchase')")
        .repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(ind)
    )
    base = time.time() - 1000
    for i, f in enumerate(sorted(glob.glob(f"{ind}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "matches")
    q = (
        P.asof_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    cols = ["user_id", "purchase_id", "purchase_value", "prior_view_id", "id_gap"]
    got = (
        spark.read.parquet(out)
        .select(*cols)
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    exp = (
        asof_join_purchases(spark, SF_SMALL)
        .select(*cols)
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert exp["prior_view_id"].isna().any() or True  # NULLs allowed


def test_e27_dsir_model_converges_to_batch(spark, tmp_path):
    """E27: after the document stream drains, the live model's per-bucket
    log importance-ratio table equals the one batch D63 derives from the
    whole corpus, bit-for-bit (additive counts + shared ratio frame)."""
    import glob
    import re

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import (
        DSIR_BUCKETS,
        dsir_counts_frame,
        dsir_ratio_frame,
        dsir_token_buckets_frame,
    )

    ind = str(tmp_path / "docs")
    load_parallel(spark, SF_SMALL, "documents").write.mode("overwrite").parquet(ind)
    state = str(tmp_path / "state")
    q = P.dsir_model_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = max(
        int(re.search(r"batch_id=(\d+)", p).group(1))
        for p in glob.glob(f"{state}/ratio/batch_id=*")
    )
    got = {r.b: r.lr for r in spark.read.parquet(f"{state}/ratio/batch_id={last}").collect()}
    docs = load_parallel(spark, SF_SMALL, "documents").select(
        "doc_id",
        "text",
        F.expr("CAST(substring(source, 4) AS INT) % 2").alias("side"),
    )
    want = {
        r.b: r.lr
        for r in dsir_ratio_frame(
            dsir_counts_frame(dsir_token_buckets_frame(docs))
        ).collect()
    }
    assert got == want
    assert 0 < len(got) <= DSIR_BUCKETS  # fixed-width state forever


def test_e28_phash_dedup_matches_batch(spark, tmp_path):
    """E28: the streamed perceptual-hash decisions must equal batch
    D65's row-for-row on the same incoming/corpus split."""
    from uforwarder_spark.functions.multimodal import phash_incremental_dedup
    from uforwarder_spark.model import load_table

    d = load_table(spark, SF_SMALL, "documents")
    side = F.expr("CAST(substring(source, 4) AS INT) % 2")
    corpus = d.filter(side == 0)
    ind = str(tmp_path / "incoming")
    d.filter(side == 1).write.mode("overwrite").parquet(ind)

    out = str(tmp_path / "decisions")
    q = P.phash_dedup_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        corpus,
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    cols = ["doc_id", "phash", "is_exact_dup", "n_corpus_near"]
    got = spark.read.parquet(out).select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = (
        phash_incremental_dedup(spark, SF_SMALL)
        .select(cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def test_e29_contamination_gate_rolls_up_to_batch(spark, tmp_path):
    """E29: rolling the streamed per-doc decisions up must reproduce
    BOTH batch gates exactly — D20's per-source exact-hash counts (via
    'exact' rows) and D67's per-doc 13-gram counts (via 'ngram' rows).
    Runs at sf0.01, where the n-gram gate has real hits (the exact gate
    is empty at both parity SFs — asserted, not assumed)."""
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.dedup import (
        contamination_check,
        ngram_decontamination,
    )

    d = load_table(spark, SF_MED, "documents")
    ind = str(tmp_path / "incoming")
    d.write.mode("overwrite").parquet(ind)

    out = str(tmp_path / "decisions")
    q = P.contamination_gate_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        d,
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    dec = spark.read.parquet(out)
    # every incoming doc got at least one decision row
    assert dec.select("doc_id").distinct().count() == d.count()
    rolled = {
        r.source: (r.n_contaminated, r.n_eval_hit)
        for r in dec.filter("contaminated AND via = 'exact'")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated"),
            F.countDistinct("eval_doc_id").alias("n_eval_hit"),
        )
        .collect()
    }
    want = {
        r.source: (r.n_contaminated, r.n_eval_hit)
        for r in contamination_check(spark, SF_MED).collect()
    }
    assert rolled == want
    # n-gram gate: per-doc (n_gram_hits, n_eval_docs, contaminated)
    # must equal batch D67 for every non-eval doc
    g_rolled = {
        r.doc_id: (r.n_gram_hits, r.n_eval_docs)
        for r in dec.filter("via = 'ngram'")
        .groupBy("doc_id")
        .agg(
            F.first("n_gram_hits").alias("n_gram_hits"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .collect()
    }
    d67 = ngram_decontamination(spark, SF_MED).collect()
    g_want = {
        r.doc_id: (r.n_gram_hits, r.n_eval_docs) for r in d67 if r.contaminated
    }
    assert g_rolled == g_want
    assert len(g_want) > 0  # the gate actually fired at this SF
    # clean rows carry NULL eval ids, flagged rows real ones
    assert dec.filter("contaminated AND eval_doc_id IS NULL").count() == 0
    assert dec.filter("NOT contaminated AND eval_doc_id IS NOT NULL").count() == 0
    assert dec.filter("contaminated AND via IS NULL").count() == 0


def test_e30_system_load_converges_to_batch(spark, tmp_path):
    """E30: after the message stream drains, the derived load table
    equals batch B22's bit-for-bit (additive counters + MIN/MAX span
    merge through the shared system_load_from kernel). The log is
    written as 4 files so the counters actually merge across several
    micro-batches."""
    from uforwarder_spark.operators.controller import system_load_ratio

    src = str(tmp_path / "src")
    model.messages(spark, SF_SMALL).repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "state")
    q = P.system_load_pipeline(
        P.message_stream(spark, src, files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/load")
    assert last >= 1  # the merge path ran
    cols = ["topic", "n_jobs", "n_capped", "demand_micro", "system_load", "utilization"]
    got = (
        spark.read.parquet(f"{state}/load/batch_id={last}")
        .select(cols)
        .toPandas()
        .sort_values("topic")
        .reset_index(drop=True)
    )
    want = (
        system_load_ratio(spark, SF_SMALL)
        .select(cols)
        .toPandas()
        .sort_values("topic")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e30_state_layout_one_version_per_trigger(spark, tmp_path):
    """The versioned-state layout: three triggers leave batch_id=0..2
    under each of E30's tables, every version written by one writer as
    exactly one part file, and no version is deleted. AQE's partition
    coalescing is off for the run: at this size it would merge the
    state's shuffle partitions into one file by itself, and the single
    part file must come from the writer, as it does at scale."""
    import os

    src = str(tmp_path / "src")
    model.messages(spark, SF_SMALL).repartition(3).write.parquet(src)
    state = str(tmp_path / "state")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        P.system_load_pipeline(
            P.message_stream(spark, src, files_per_trigger=1), state, str(tmp_path / "ckpt")
        ).awaitTermination(timeout=300)
    finally:
        spark.conf.set(key, before)

    for kind in ("jobs", "load"):
        assert sorted(os.listdir(f"{state}/{kind}")) == [
            f"batch_id={n}" for n in range(3)
        ]
        for n in range(3):
            parts = [
                f for f in os.listdir(f"{state}/{kind}/batch_id={n}")
                if f.startswith("part-")
            ]
            assert len(parts) == 1, (kind, n, parts)


def test_e31_query_serving_matches_batch(spark, tmp_path):
    """E31: the union of streamed per-query result pages equals batch
    D69 row-for-row — same probed cells, same candidates, same ranks —
    regardless of how the query workload is chunked into batches."""
    from uforwarder_spark.operators.similarity import (
        QUERY_MOD,
        _emb,
        ann_multiquery_ivf,
    )

    e = _emb(spark, SF_SMALL)
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    src = tmp_path / "src"
    med = q.agg(F.expr("percentile_approx(qid, 0.5)")).collect()[0][0]
    q.filter(F.col("qid") <= med).coalesce(1).write.parquet(str(src / "f0"))
    q.filter(F.col("qid") > med).coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    stream = (
        spark.readStream.schema("qid long, qv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "pages")
    qy = P.ann_query_serving_pipeline(stream, e, out, str(tmp_path / "ckpt"))
    qy.awaitTermination(timeout=300)

    cols = ["qid", "vec_id", "label", "cosine", "rank"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    want = (
        ann_multiquery_ivf(spark, SF_SMALL)
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_e32_snapshot_diff_converges_to_batch(spark, tmp_path):
    """E32: after the CDC feed drains — every current doc upserted
    once, every prior-only doc tombstoned — the running ledger equals
    batch D70 bit-for-bit. The feed is split across 4 files so the
    per-(source, status) counters actually fold across several
    micro-batches, and upserts/tombstones land in different triggers."""
    from uforwarder_spark.operators.training import (
        SNAP_REMOVED_OFFSET,
        corpus_snapshot_diff,
        load_parallel,
    )

    cur = load_parallel(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    prior = (
        cur.filter(F.col("doc_id") % 10 != 7)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 10 == 3,
                F.expr("substr(text, 1, CAST(n_chars DIV 2 AS INT))"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            cur.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + SNAP_REMOVED_OFFSET).alias("doc_id"),
                "source",
                "text",
            )
        )
    )
    events = (
        cur.select(
            "doc_id", "source", "text", F.lit("upsert").alias("op")
        ).unionByName(
            cur.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + SNAP_REMOVED_OFFSET).alias("doc_id"),
                "source",
                F.lit(None).cast("string").alias("text"),
                F.lit("delete").alias("op"),
            )
        )
    )
    src = str(tmp_path / "src")
    events.repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id bigint, source string, text string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.snapshot_diff_pipeline(stream, prior, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/ledger")
    assert last >= 1  # the ledger actually folded across triggers
    cols = ["source", "status", "n_docs", "bytes_delta"]
    got = (
        spark.read.parquet(f"{state}/ledger/batch_id={last}")
        .select(cols)
        .toPandas()
        .sort_values(["source", "status"])
        .reset_index(drop=True)
    )
    want = (
        corpus_snapshot_diff(spark, SF_SMALL)
        .select(cols)
        .toPandas()
        .sort_values(["source", "status"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e33_substring_gate_matches_batch(spark, tmp_path):
    """E33: the union of streamed per-doc span verdicts equals batch
    D74 row-for-row, regardless of how the incoming crawl is chunked
    into micro-batches (the corpus window-hash index is static)."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incr_substring_dedup

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.substring_gate_pipeline(stream, corpus, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the gate actually ran per trigger
    cols = [
        "doc_id", "n_tokens", "n_dup_windows", "n_spans",
        "n_dup_tokens", "dup_frac", "flagged",
    ]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        incr_substring_dedup(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert want.flagged.any()  # non-vacuous: real cross-side spans exist
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e34_knn_ingest_matches_batch(spark, tmp_path):
    """E34: the union of streamed per-arrival edge pages equals batch
    D77 row-for-row, regardless of how the arrivals are chunked into
    micro-batches (the existing band/vector index is static)."""
    import os

    from uforwarder_spark.operators.similarity import _emb, incr_knn_edges

    e = _emb(spark, SF_SMALL)
    incoming = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v")
    existing = e.filter(F.col("vec_id") % 2 == 0)
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.knn_ingest_pipeline(stream, existing, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the ingest actually ran per trigger
    cols = ["src", "dst", "rank", "cosine"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values(["src", "rank"]).reset_index(drop=True)
    )
    want = (
        incr_knn_edges(spark, SF_SMALL)
        .select(cols).toPandas().sort_values(["src", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e35_quality_mixture_converges_to_batch(spark, tmp_path):
    """E35: after the doc stream drains, the per-(source, decile)
    mixture state equals batch D75 rolled up bit-for-bit (additive
    counters through the shared qc_frame kernel)."""
    from uforwarder_spark.functions.text import quality_classifier_score
    from uforwarder_spark.model import load_parallel

    src = str(tmp_path / "src")
    load_parallel(spark, SF_SMALL, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.quality_mixture_pipeline(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/mix")
    assert last >= 1  # the merge path ran
    cols = ["source", "quality_decile", "n_docs", "n_tokens", "n_keep"]
    got = (
        spark.read.parquet(f"{state}/mix/batch_id={last}")
        .select(cols).toPandas()
        .sort_values(["source", "quality_decile"]).reset_index(drop=True)
    )
    want = (
        quality_classifier_score(spark, SF_SMALL)
        .groupBy("source", "quality_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_keep"),
        )
        .select(cols).toPandas()
        .sort_values(["source", "quality_decile"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _asbuilt_reps(e):
    from pyspark.sql import Window as W

    from uforwarder_spark.operators.similarity import K_CLUSTERS

    w = W.orderBy("vec_id")
    return (
        e.orderBy("vec_id").limit(K_CLUSTERS)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cluster"),
            F.col("v").alias("c"),
        )
    )


def test_e36_index_drift_converges_to_batch(spark, tmp_path):
    """E36: after the vector stream drains, the derived drift table
    equals batch D79 bit-for-bit (additive count + DECIMAL-summed
    distance counters through the shared drift_stats_from kernel)."""
    from uforwarder_spark.operators.similarity import _emb, index_drift_stats

    e = _emb(spark, SF_SMALL)
    reps = _asbuilt_reps(e)
    src = str(tmp_path / "src")
    e.select("vec_id", "v").repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.index_drift_pipeline(stream, reps, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/drift")
    assert last >= 1  # the merge path ran
    cols = ["cell", "n_members", "mean_sq_dist", "load_share", "drifted", "overloaded"]
    got = (
        spark.read.parquet(f"{state}/drift/batch_id={last}")
        .select(cols).toPandas().sort_values("cell").reset_index(drop=True)
    )
    want = (
        index_drift_stats(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("cell").reset_index(drop=True)
    )
    assert bool(want.drifted.any()) and bool((~want.drifted).any())  # non-vacuous
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e37_decon_span_matches_batch(spark, tmp_path):
    """E37: the union of streamed per-doc span-cut rows equals batch
    D80 row-for-row, regardless of how the crawl is chunked into
    micro-batches (the eval 13-gram set is static; incoming eval docs
    are held out, exactly as in batch). The corpus is sf0.001 (volume)
    plus the D80 seeded quote scenario (doc 51 is an eval member by the
    hash rule; doc 1 quotes its full 13-gram) so real cuts exist."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import decon_span_removal

    eval_text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    )
    seeded = spark.createDataFrame(
        [
            (1, "intro words then " + eval_text + " and a trailing sentence", "en", "web", 99),
            (51, eval_text, "en", "eval", 80),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    all_docs = (
        load_parallel(spark, SF_SMALL, "documents")
        .withColumn("doc_id", F.col("doc_id") + F.lit(10000))
        .unionByName(seeded)
    )
    corpus_dir = str(tmp_path / "corpus")
    all_docs.write.mode("overwrite").parquet(f"{corpus_dir}/documents.parquet")
    all_docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    src = str(tmp_path / "src")
    all_docs.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.decon_span_pipeline(stream, all_docs, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the rewrite actually ran per trigger
    cols = [
        "doc_id", "source", "n_tokens", "n_matched_windows",
        "n_spans", "n_tokens_cut", "cleaned_md5",
    ]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        decon_span_removal(spark, corpus_dir)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert (want.n_tokens_cut > 0).any()  # non-vacuous: real cuts exist
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e38_kmv_sketches_converge_to_batch(spark, tmp_path):
    """E38: after the doc stream drains, the folded per-source KMV
    sketches yield pair estimates equal to batch D81's estimate columns
    bit-for-bit (sketch mergeability: distinct-union + bottom-k per
    trigger = bottom-k of the whole corpus)."""
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import kmv_sketch_overlap

    src = str(tmp_path / "src")
    load_parallel(spark, SF_SMALL, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.kmv_sketch_pipeline(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/pairs")
    assert last >= 1  # the merge path ran
    cols = ["src_a", "src_b", "k_used", "kmv_jacc", "kmv_union_est", "kmv_inter_est"]
    got = (
        spark.read.parquet(f"{state}/pairs/batch_id={last}")
        .select(cols).toPandas()
        .sort_values(["src_a", "src_b"]).reset_index(drop=True)
    )
    want = (
        kmv_sketch_overlap(spark, SF_SMALL)
        .select(cols).toPandas()
        .sort_values(["src_a", "src_b"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e39_hybrid_serving_matches_batch(spark, tmp_path):
    """E39: the union of streamed per-query fused pages equals batch
    D85 row-for-row — same arm ranks, same RRF scores — regardless of
    how the request workload is chunked into micro-batches."""
    from uforwarder_spark.functions.text import TOKENS_SPARK
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.similarity import (
        _RRF_QUERY_MOD,
        _emb,
        hybrid_rrf_multiquery,
    )

    docs = load_parallel(spark, SF_SMALL, "documents")
    e = _emb(spark, SF_SMALL)
    reqs = (
        docs.filter(F.col("doc_id") % _RRF_QUERY_MOD == 0)
        .select(
            F.col("doc_id").alias("qid"),
            F.array_distinct(F.expr(TOKENS_SPARK)).alias("terms"),
        )
        .join(
            e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")),
            "qid",
        )
    )
    src = tmp_path / "src"
    med = reqs.agg(F.expr("percentile_approx(qid, 0.5)")).collect()[0][0]
    reqs.filter(F.col("qid") <= med).coalesce(1).write.parquet(str(src / "f0"))
    reqs.filter(F.col("qid") > med).coalesce(1).write.parquet(str(src / "f1"))
    _age_files(src, {"f0": -10, "f1": 0})

    stream = (
        spark.readStream.schema("qid long, terms array<string>, qv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "pages")
    qy = P.hybrid_serving_pipeline(stream, docs, e, out, str(tmp_path / "ckpt"))
    qy.awaitTermination(timeout=300)

    cols = ["qid", "doc_id", "lex_rank", "sem_rank", "bm25_score", "cosine", "rrf_score", "rank"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    want = (
        hybrid_rrf_multiquery(spark, SF_SMALL)
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_e40_vocab_growth_converges_to_batch(spark, tmp_path):
    """E40: after a doc-id-ordered drain (3 files, so the vocab/moment
    state actually folds across several micro-batches and carry-ins are
    exercised), the fit table derived from the final state equals batch
    D84 bit-for-bit — DECIMAL moment addition is exact, so chunking
    cannot move a bit."""
    from uforwarder_spark.functions.text import heaps_vocab_growth
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents").select(
        "source", "doc_id", "text"
    )
    src = tmp_path / "src"
    n = docs.count()
    cuts = sorted(
        r.doc_id
        for r in docs.select("doc_id").orderBy("doc_id").collect()
    )
    c1, c2 = cuts[n // 3], cuts[2 * n // 3]
    docs.filter(F.col("doc_id") <= c1).coalesce(1).write.parquet(str(src / "f0"))
    docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)).coalesce(
        1
    ).write.parquet(str(src / "f1"))
    docs.filter(F.col("doc_id") > c2).coalesce(1).write.parquet(str(src / "f2"))
    _age_files(src, {"f0": -20, "f1": -10, "f2": 0})

    stream = (
        spark.readStream.schema("source string, doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "state")
    qy = P.vocab_growth_pipeline(stream, state, str(tmp_path / "ckpt"))
    qy.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/fit")
    assert last >= 2  # the fold really crossed micro-batches
    cols = ["source", "n_points", "n_tokens", "n_types", "heaps_beta", "heaps_lnk", "r2"]
    got = (
        spark.read.parquet(f"{state}/fit/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        heaps_vocab_growth(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e42_perplexity_gate_matches_batch(spark, tmp_path):
    """E42: the union of streamed per-doc perplexity rows equals batch
    D88 row-for-row when the stream replays the LM's own corpus,
    regardless of micro-batch chunking (scoring is row-group-local
    given a fixed LM)."""
    import os

    from uforwarder_spark.functions.text import bigram_perplexity
    from uforwarder_spark.model import load_parallel

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    src = str(tmp_path / "src")
    all_docs.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.perplexity_gate_pipeline(stream, all_docs, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # scoring actually ran per trigger
    cols = ["doc_id", "n_tok", "ce_unigram", "ce_bigram", "order_gain"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        bigram_perplexity(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e42_oov_text_scores_finitely(spark):
    """The kernel's left-join backoff: a crawled doc whose tokens and
    bigrams are absent from the LM corpus still scores finite
    cross-entropies (unseen bigram -> pure 0.3*p_add1 backoff, unseen
    token -> add-1 with count 0), and its order_gain is negative (the
    LM explains none of its word order)."""
    import numpy as np

    from uforwarder_spark.functions.text import (
        bigram_lm_frames,
        bigram_score_frame,
    )

    corpus = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    oov = spark.createDataFrame(
        [(10, "zyx wvu zyx qrs"), (11, "the cat sat")], ["doc_id", "text"]
    )
    uni, pc, ctx, tot = bigram_lm_frames(corpus)
    got = (
        bigram_score_frame(oov, uni, pc, ctx, tot)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got.doc_id) == [10, 11]
    assert np.isfinite(got.ce_bigram).all() and np.isfinite(got.ce_unigram).all()
    # fully-OOV doc: every bigram term is pure backoff, so the bigram CE
    # exceeds the unigram CE by exactly -ln(0.3) on the non-first tokens
    assert got.loc[0, "order_gain"] < 0
    # in-LM doc: observed bigrams beat the unigram model
    assert got.loc[1, "order_gain"] > 0


def test_e44_triplet_mining_matches_batch(spark, tmp_path):
    """E44: the union of streamed per-arrival triplet pages equals
    batch D90 row-for-row, regardless of how the arrivals are chunked
    into micro-batches (the existing band/vector index is static and
    triplet mining is per-anchor)."""
    import os

    from uforwarder_spark.operators.similarity import _emb, incr_triplet_mining

    e = _emb(spark, SF_SMALL)
    incoming = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v")
    existing = e.filter(F.col("vec_id") % 2 == 0)
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.triplet_mining_pipeline(stream, existing, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the mining actually ran per trigger
    cols = ["anchor", "pos_id", "pos_cosine", "neg_id", "neg_cosine", "margin"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("anchor").reset_index(drop=True)
    )
    want = (
        incr_triplet_mining(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("anchor").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e47_oov_domain_scores_through_backoff(spark):
    """The D93/E47 scoring kernel's left-join backoff: a domain whose
    live text is entirely out-of-vocabulary still contributes ALL its
    tokens (add-1 with c=0) — not a silently reduced subset — and its
    mean cross-entropy exceeds every in-vocabulary domain's (OOV-heavy
    text is the 'hard' text DoReMi must up-weight, so dropping OOV
    tokens would bias its weight DOWN)."""
    from uforwarder_spark.functions.text import (
        source_loss_frame,
        unigram_loss_frames,
    )

    corpus = spark.createDataFrame(
        [("src0", "the cat sat on the mat"), ("src1", "the dog sat on the rug")],
        ["source", "text"],
    )
    uni, tot = unigram_loss_frames(corpus)
    ingest = spark.createDataFrame(
        [("src0", "the cat sat"), ("srcX", "zyx wvu qrs")],
        ["source", "text"],
    )
    got = (
        source_loss_frame(ingest, uni, tot)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    assert list(got.source) == ["src0", "srcX"]
    assert list(got.n_tok) == [3, 3]  # OOV tokens counted, not dropped
    ce = got.sum_nll.astype(float) / got.n_tok
    assert ce[1] > ce[0]  # pure-OOV domain scores strictly harder


def test_e46_untracked_types_are_surfaced(spark, tmp_path):
    """E46: an event type absent from the frozen reference window must
    not vanish — it cannot be standardized, so it lands in the
    untracked/ output with its minute and event counts while tracked
    types keep their trajectory rows."""
    ref = spark.createDataFrame(
        [("click", "2024-01-01 00:%02d:00" % i, i) for i in range(10)],
        ["event_type", "ts_s", "event_id"],
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    novel = spark.createDataFrame(
        [
            ("click", "2024-01-01 01:%02d:00" % i, 100 + i)
            for i in range(5)
        ]
        + [("flood", "2024-01-01 01:%02d:00" % i, 200 + i) for i in range(8)],
        ["event_type", "ts_s", "event_id"],
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    src = str(tmp_path / "src")
    novel.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = P.cusum_monitor_pipeline(stream, ref, state, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    last = latest_batch_id(f"{state}/untracked")
    untracked = (
        spark.read.parquet(f"{state}/untracked/batch_id={last}")
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    assert list(untracked.event_type) == ["flood"]
    assert untracked.loc[0, "n_events_seen"] == 8
    table = spark.read.parquet(f"{state}/table/batch_id={last}").toPandas()
    assert set(table.event_type) == {"click"}  # tracked type still monitored


def test_e48_split_leakage_gate_matches_batch(spark, tmp_path):
    """E48: the union of streamed per-doc admission verdicts equals the
    same kernels run batch-side, regardless of chunking (the existing
    index and the split rule are static). A near-dup pair is seeded
    across the train/test boundary (doc 20000 -> train bucket, doc
    20055 -> test bucket under the md5 split) so the cross_split_leak
    branch is non-vacuous, plus a same-split pair (20001 train,
    20002 train) for dup_same_split."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import (
        _SPLIT_BUCKET_SPARK,
        _SPLIT_CASE,
        incr_band_frame,
        incr_shingle_frame,
        incremental_dedup_frame,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # existing corpus: even-source docs + two seeded originals
    ex_seed = spark.createDataFrame(
        [(20000, base + " one extra tail", "en", "src0", 99),
         (20001, base + " two extra tail", "en", "src2", 99)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    existing = (
        load_parallel(spark, SF_SMALL, "documents")
        .filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
        .unionByName(ex_seed)
    )
    # incoming crawl: odd-source docs + near-dups of the seeds — 20055
    # lands in the test bucket (cross-split vs 20000's train), 20002 in
    # train (same split as 20001)
    in_seed = spark.createDataFrame(
        [(20055, base + " one extra tails", "en", "src1", 99),
         (20002, base + " two extra tailz", "en", "src3", 99)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    incoming = (
        load_parallel(spark, SF_SMALL, "documents")
        .filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .unionByName(in_seed)
    )
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.split_leakage_gate_pipeline(stream, existing, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2
    cols = ["doc_id", "split", "match_doc_id", "match_split", "jaccard", "verdict"]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    # batch reference through the same kernels
    split_expr = F.expr(_SPLIT_CASE.format(b=f"({_SPLIT_BUCKET_SPARK})"))
    ex_sh3 = incr_shingle_frame(existing.select("doc_id", "text"))
    in_sh3 = incr_shingle_frame(incoming.select("doc_id", "text"))
    matched = incremental_dedup_frame(in_sh3, incr_band_frame(ex_sh3), ex_sh3)
    want = (
        matched.join(incoming.select("doc_id", split_expr.alias("split")), "doc_id")
        .join(
            existing.select(
                F.col("doc_id").alias("match_doc_id"), split_expr.alias("match_split")
            ),
            "match_doc_id",
            "left",
        )
        .select(
            "doc_id",
            "split",
            "match_doc_id",
            "match_split",
            "jaccard",
            F.when(F.col("match_doc_id").isNull(), "clean")
            .when(F.col("split") == F.col("match_split"), "dup_same_split")
            .otherwise("cross_split_leak")
            .alias("verdict"),
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    vc = got.verdict.value_counts()
    assert vc.get("cross_split_leak", 0) >= 1  # the seeded leak is caught
    assert vc.get("dup_same_split", 0) >= 1
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e49_audio_segments_match_batch(spark, tmp_path):
    """E49: the union of streamed per-doc segmentation rows equals
    batch D95 row-for-row regardless of chunking (fully per-doc, so
    the live twin is stateless)."""
    import os

    from uforwarder_spark.functions.multimodal import audio_silence_segments
    from uforwarder_spark.model import load_parallel

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    src = str(tmp_path / "src")
    all_docs.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.audio_segment_pipeline(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2
    cols = [
        "doc_id", "n_frames", "n_voiced", "n_segments",
        "longest_voiced", "mean_frame_energy",
    ]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        audio_silence_segments(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert (got.n_segments > 0).any() and (got.n_voiced < got.n_frames).any()
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# --- Kafka swap point (VERDICT r10 #6) ------------------------------------
def test_kafka_message_projection_roundtrips_the_contract(spark):
    """The one-line broker swap is a stated contract, not an
    implication: a Kafka-shaped frame (key/value binary + broker
    topic/partition/offset/timestamp — the fixed schema every
    format('kafka') read yields) whose value is the JSON-serialized
    payload must project onto EXACTLY MESSAGE_SCHEMA's columns with
    roundtripped values, so every E-pipeline consumes the same columns
    whichever source produced them."""
    msgs = model.messages(spark, SF_SMALL).limit(50)
    payload_cols = [
        f.name
        for f in P.MESSAGE_SCHEMA.fields
        if f.name not in ("topic", "part_id", "msg_offset", "ts")
    ]
    raw = msgs.select(
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(*payload_cols)).cast("binary").alias("value"),
        F.col("topic"),
        F.col("part_id").cast("int").alias("partition"),
        F.col("msg_offset").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    got = P.kafka_message_projection(raw)
    assert [f.name for f in got.schema.fields] == [
        f.name for f in P.MESSAGE_SCHEMA.fields
    ]
    want = msgs.select([f.name for f in P.MESSAGE_SCHEMA.fields])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_kafka_document_projection_roundtrips_the_contract(spark):
    docs = model.load_table(spark, SF_SMALL, "documents").limit(30)
    raw = docs.select(
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(*[f.name for f in P.DOC_SCHEMA.fields]))
        .cast("binary")
        .alias("value"),
        F.lit("crawl-ingest").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    got = P.kafka_document_projection(raw)
    assert [f.name for f in got.schema.fields] == [
        f.name for f in P.DOC_SCHEMA.fields
    ]
    want = docs.select([f.name for f in P.DOC_SCHEMA.fields])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_kafka_source_end_to_end_template(spark, tmp_path):
    """End-to-end live-broker template (the D46/PIL treatment): runs
    only where a broker AND the spark-sql-kafka connector exist —
    set SPARK_GRAFT_KAFKA_BOOTSTRAP to enable. The projection logic it
    exercises is covered broker-free by the two tests above."""
    import os

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no Kafka broker configured (SPARK_GRAFT_KAFKA_BOOTSTRAP unset)")
    stream = P.message_stream_kafka(spark, bootstrap, "uforwarder-messages")
    q = (
        P.route_stream(stream)
        .writeStream.format("memory")
        .queryName("kafka_e2e")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("kafka_e2e").count() >= 0


def test_e55_sentence_gate_matches_batch(spark, tmp_path):
    """E55: the union of streamed per-doc sentence-cut verdicts equals
    batch D106 row-for-row, regardless of how the incoming crawl is
    chunked into micro-batches (the corpus sentence-window index is
    static)."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incr_sentence_span_dedup

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.sentence_gate_pipeline(stream, corpus, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the gate actually ran per trigger
    cols = [
        "doc_id", "n_sentences", "n_dup_windows", "n_spans",
        "n_sentences_kept", "n_sentences_cut", "cleaned_md5",
    ]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        incr_sentence_span_dedup(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert (want.n_sentences_cut > 0).any()  # non-vacuous: real cross-side spans
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e56_paragraph_gate_matches_oneshot(spark, tmp_path):
    """E56: the union of streamed per-doc paragraph-cut verdicts equals
    the one-shot gate over the full crawl row-for-row, regardless of
    how the incoming crawl is chunked into micro-batches (the corpus
    paragraph index is static) — and carries D109's column names."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import (
        incr_sent_span_frame,
        para_frame,
        sent_window_frame,
    )

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
    src = str(tmp_path / "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.paragraph_gate_pipeline(stream, corpus, out, str(tmp_path / "ckpt"))
    q.awaitTermination(timeout=300)

    assert len(os.listdir(out)) >= 2  # the gate actually ran per trigger
    cols = [
        "doc_id", "n_paragraphs", "n_dup_windows", "n_spans",
        "n_paragraphs_kept", "n_paragraphs_cut", "cleaned_md5",
    ]
    got = (
        spark.read.parquet(out)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    ex_h = sent_window_frame(para_frame(corpus), s=1).select("h").distinct()
    want = (
        incr_sent_span_frame(para_frame(incoming), ex_h, s=1)
        .select(
            "doc_id",
            F.col("n_sentences").alias("n_paragraphs"),
            "n_dup_windows",
            "n_spans",
            F.col("n_sentences_kept").alias("n_paragraphs_kept"),
            F.col("n_sentences_cut").alias("n_paragraphs_cut"),
            "cleaned_md5",
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert (want.n_paragraphs_cut > 0).any()  # non-vacuous: real cross-side cuts
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e57_curation_gate_matches_oneshot_under_ordered_arrival(spark, tmp_path):
    """E57: under doc_id-ordered arrival, the union of admitted pages
    equals the ONE-SHOT composed gate (exact vs corpus+self -> span cut
    vs corpus index -> decon tiers) over the full crawl — the chunked
    ledger machinery composes to the one-shot semantics — and the
    per-batch accounting pages carry consistent stage rows."""
    import os

    import pandas as pd

    from tests.test_streaming_replay import DOCS_COLS, DOCS_SCHEMA, _write_chunks
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import (
        SENT_S,
        decon_eval_filter,
        decon_grams_frame,
        sent_frame,
        sent_window_frame,
    )
    from uforwarder_spark.operators.funnel import (
        _kept_units,
        decon_tier_stage,
        exact_norm_hash,
    )

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    is_eval = decon_eval_filter()
    eval_docs = all_docs.filter(is_eval)
    corpus = all_docs.filter(~is_eval).filter(
        F.expr("CAST(substring(source, 4) AS INT) % 2 = 0")
    )
    incoming = all_docs.filter(~is_eval).filter(
        F.expr("CAST(substring(source, 4) AS INT) % 2 = 1")
    )
    inc_pdf = incoming.toPandas()[DOCS_COLS].sort_values("doc_id")
    n_chunks = 3
    bounds = [len(inc_pdf) * k // n_chunks for k in range(n_chunks + 1)]
    chunks = [
        inc_pdf.iloc[bounds[k] : bounds[k + 1]].reset_index(drop=True)
        for k in range(n_chunks)
    ]
    import time as _time

    src = str(tmp_path / "src")
    _write_chunks(spark, chunks, DOCS_SCHEMA, src, _time.time() - 1000)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = P.curation_gate_pipeline(stream, corpus, eval_docs, state, str(tmp_path / "ck"))
    q.awaitTermination(timeout=300)

    got = (
        spark.read.parquet(f"{state}/admitted")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    # one-shot reference from the same kernels (the spec)
    corpus_h = corpus.select(exact_norm_hash().alias("h")).distinct()
    ex_h = sent_window_frame(sent_frame(corpus)).select("h").distinct()
    eval_grams = decon_grams_frame(eval_docs.select("doc_id", "text")).select("g").distinct()
    b = incoming.select("doc_id", "text").withColumn("h", exact_norm_hash())
    keep = b.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    cur = (
        b.join(keep, ["h", "doc_id"], "leftsemi")
        .join(corpus_h, "h", "left_anti")
        .select("doc_id", "text")
    )
    t = sent_frame(cur)
    pos = sent_window_frame(t).join(ex_h, "h", "leftsemi").select("doc_id", "p")
    kept = _kept_units(t, pos, SENT_S)
    rebuilt = F.when(
        F.col("kept").isNotNull(), F.expr("concat_ws(' ', kept)")
    ).otherwise(F.col("text"))
    after_span = (
        cur.join(kept, "doc_id", "left")
        .select("doc_id", rebuilt.alias("text"))
        .filter("text <> ''")
    )
    want = (
        decon_tier_stage(after_span, eval_grams)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # accounting pages: 4 contract-ordered stages per batch; inputs sum
    # to the crawl; the final stage sums to the admitted union; and the
    # span gate genuinely cut (cross-side spans exist at this SF)
    acc = spark.read.parquet(f"{state}/accounting").toPandas()
    assert set(acc.stage) == {"input", "exact_gate", "span_gate", "decon_gate"}
    assert acc[acc.stage == "input"].docs.sum() == len(inc_pdf)
    assert acc[acc.stage == "decon_gate"].docs.sum() == len(got)
    tok = acc.groupby("stage").tokens.sum()
    assert tok["span_gate"] < tok["exact_gate"]  # the span cut fired


def test_e57_curation_gate_all_dropped_writes_empty_pages(spark, tmp_path):
    """E57 edge: a crawl that is ENTIRELY known (every doc's normalized
    text already in the published corpus) must drain cleanly — empty
    admitted pages and empty ledger pages (no new hashes), with the
    accounting recording the full drop at the exact gate — not blow up
    on empty frames in the span/decon stages."""
    import os

    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import decon_eval_filter

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    eval_docs = all_docs.filter(decon_eval_filter())
    corpus = all_docs.filter(~decon_eval_filter())
    # the crawl IS the corpus (re-crawl of published docs)
    incoming = corpus.limit(40)
    src = str(tmp_path / "src")
    incoming.repartition(2).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = P.curation_gate_pipeline(stream, corpus, eval_docs, state, str(tmp_path / "ck"))
    q.awaitTermination(timeout=300)

    assert spark.read.parquet(f"{state}/admitted").count() == 0
    assert spark.read.parquet(f"{state}/hashes").count() == 0
    acc = spark.read.parquet(f"{state}/accounting").toPandas()
    assert acc[acc.stage == "input"].docs.sum() == 40
    assert acc[acc.stage == "exact_gate"].docs.sum() == 0
    assert acc[acc.stage == "decon_gate"].docs.sum() == 0
