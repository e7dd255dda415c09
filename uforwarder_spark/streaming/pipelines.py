"""E. Structured Streaming pipelines — uForwarder's always-on worker loop.

The reference's worker is a continuous pipeline: fetch → filter → route →
dispatch → ack/retry/DLQ (see ``/root/reference/uforwarder-core/src/main/
java/com/uber/data/kafka/datatransfer/worker/pipelines/KafkaPipeline
.java`` wiring fetcher → processor → dispatcher). Batch operators A1–A14
express those semantics over a static log; this module expresses the same
semantics over an unbounded stream with Structured Streaming.

In production the source is Kafka (``spark.readStream.format("kafka")``
with the same (topic, partition, offset) identity); tests use a
file-parquet stream of the identical message schema, which exercises the
same micro-batch planner, state store, and watermark machinery. Every
transform here takes and returns a (streaming) DataFrame, so the source
is swappable — exactly how uForwarder swaps OriginalTopic/RetryTopic/
DlqTopic fetchers in front of one processor (fetcher/*.java).

SCALE: streaming state (dedup keys, retry-machine state, window partial
aggs) is keyed by (topic, part_id) — uForwarder's shard unit — so state
store partitions align with the shuffle and nothing re-keys twice.
Watermarks bound state: dedup and window state is dropped once event time
passes the lateness horizon, so state size is O(active windows × keys),
not O(stream length).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..model import local_table, messages
from ..operators.pipeline import ROUTES

# Message schema shared by the batch projection (model.MESSAGES_SQL_BODY)
# and the streaming file source (streaming parquet readers need an explicit
# schema — there is no inference on an unbounded source).
MESSAGE_SCHEMA = StructType(
    [
        StructField("msg_offset", LongType()),
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("size_bytes", LongType()),
        StructField("payload_value", DoubleType()),
        StructField("outcome", StringType()),
        StructField("retry_count", LongType()),
        StructField("acked", BooleanType()),
        StructField("latency_ms", LongType()),
    ]
)

MAX_RETRIES = 5  # reference RetryUtils: retries exhausted → DLQ


# --- batchId-versioned state ------------------------------------------------
def _path(base: str, kind: str | None, batch_id: int) -> str:
    """``{base}/{kind}/batch_id=N``, or ``{base}/batch_id=N`` for a
    sink that is a single table."""
    return f"{base}/{kind}/batch_id={batch_id}" if kind else f"{base}/batch_id={batch_id}"


def _prev(spark: SparkSession, base: str, kind: str, batch_id: int) -> DataFrame | None:
    """Batch N-1's version of the ``kind`` table, or None if it was never
    written (expected before the first committed micro-batch).

    A bare ``except Exception`` here would also swallow transient read
    failures (FS hiccup, truncated footer) and silently reset the
    accumulated state to the current micro-batch — the ratio/estimate
    tables would still look valid, so the reset would be invisible.
    Probe existence explicitly with the Hadoop FS API and let any real
    read error propagate so the trigger fails and retries instead."""
    path = _path(base, kind, batch_id - 1)
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return None
    return spark.read.parquet(path)


def _merge(batch: DataFrame, prev: DataFrame | None, keys, *aggs) -> DataFrame:
    """Fold a micro-batch's partial table into batch N-1's: ``batch``
    alone on the first trigger, else the union regrouped by ``keys``."""
    if prev is None:
        return batch
    return batch.unionByName(prev).groupBy(*keys).agg(*aggs)


def _commit(df: DataFrame, base: str, kind: str | None, batch_id: int) -> str:
    """Write ``df`` as version N of a table — one part file, overwriting
    ``{base}/{kind}/batch_id=N`` — and return that path; callers that
    derive further tables from it re-read the path, so every derivation
    sees the committed bytes instead of recomputing the fold.

    REPLAY CONTRACT, shared by every pipeline below: foreachBatch is
    at-least-once — a crash between this write and the checkpoint
    commit re-runs batch N with the same rows. Each table has ONE
    writer (its pipeline's batch function), version N is derived only
    from batch N's rows and the N-1 versions (``_prev``; the pages up
    to N-1 for an append-only ledger, ``_read_pages``), and the write
    overwrites N instead of appending. A replay therefore rewrites the
    same directory with the same content, which makes the sinks
    effectively exactly-once. Old versions are never deleted: a replay
    of N must still find N-1, so on-disk state grows O(triggers × state
    size) until a retention policy exists."""
    path = _path(base, kind, batch_id)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _commit_read(df: DataFrame, base: str, kind: str, batch_id: int) -> DataFrame:
    """``_commit``, then version N read back with ``df``'s own schema:
    the committed bytes carry exactly that schema, so the read needs no
    schema-inference job (one per re-read per trigger otherwise)."""
    return df.sparkSession.read.schema(df.schema).parquet(_commit(df, base, kind, batch_id))


def _read_pages(spark: SparkSession, base: str, kind: str, upto: int) -> DataFrame | None:
    """Union of an append-only ledger's pages with batch_id <= upto — a
    crashed batch's own leftover page is excluded, so replays re-derive
    from exactly the pre-batch ledger.

    Only the genuinely-no-pages case returns None: a page dir with no
    part files is a crashed write's empty leftover (the rename into
    place never happened) and is skipped, but a dir WITH part files
    that fails to read (truncated footer, FS corruption) must PROPAGATE
    — a bare except here would silently empty the whole ledger,
    re-admitting every previously-seen key with no error surfaced
    (ADVICE r10). Failing the trigger so it retries is strictly safer
    than silently dropping dedup history."""
    import glob

    dirs = [
        p
        for p in glob.glob(f"{base}/{kind}/batch_id=*")
        if p.rsplit("=", 1)[-1].isdigit()
        and int(p.rsplit("=", 1)[-1]) <= upto
        and glob.glob(f"{p}/part-*")
    ]
    return spark.read.parquet(*dirs) if dirs else None


def _start(stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint_dir: str):
    """Run ``fn`` on every micro-batch until the backlog drains."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def reorder_gate(
    ev: DataFrame, state_dir: str, batch_id: int, watermark_s: int
) -> DataFrame:
    """Watermark-bounded reorder buffer — the STRONGER alternative to
    the enforced ordered-delivery contract (VERDICT r08 option (b)):
    in front of a batchId-versioned foreachBatch fold, hold back every
    event within `watermark_s` of the stream's max timestamp and
    release only the stable prefix, so any ≤ watermark_s within-key
    disorder (a topic keyed by something coarser than the fold's key,
    cross-partition interleave) is ABSORBED — the released stream is
    per-key (ts, event_id)-ordered across triggers and the downstream
    fold's batch-equality proof applies to it unchanged.

    Why released order holds: release is STRICT (ts < max − W, hold
    ts ≥ max − W — strictness is load-bearing: with ≤, two
    equal-second events with inverted ids exactly at the watermark
    would release out of order, a 0-second disorder inside the
    promise). Under the ≤ W bound every not-yet-arrived event t'
    satisfies max ≤ t' + W, i.e. t' ≥ wm, while every released event
    is strictly < wm — so anything already released precedes every
    missing event, equal-timestamp ties included. An event arriving
    after its watermark strictly passed is the > W lateness the gate
    does NOT promise to fix: it flows through and trips the fold's
    enforced contract guard (fail-fast with the contract's name), so
    the two mechanisms COMPOSE: the gate absorbs bounded disorder,
    the guard still catches unbounded lateness — Structured
    Streaming's own watermark semantics, but fail-fast instead of
    silently dropping. A NULL ts cannot be held (it would never
    release): it passes through to the fold, where the batch twin's
    own semantics (and the guard, once a carry exists) apply — gate
    on and gate off treat corrupt rows identically.

    The held residue is batchId-versioned parquet like every other
    state table (replay-idempotent: batch N re-derives from N−1). The
    final watermark advance releases everything — a drain test appends
    one sentinel event STRICTLY MORE than `watermark_s` past the real
    max (≥ max + watermark_s + 1 at this second granularity: a sentinel
    at exactly max + watermark_s gives wm == max, and the strict
    `ts < wm` release — load-bearing above — would hold every max-ts
    event forever). That is the stream-moved-on condition, not a
    special flush API; the drain tests use max + W + 100.

    SCALE: O(arrival-rate × watermark_s) held rows, one 1-row
    broadcast max per trigger, no shuffle — the filter is map-side."""
    held_prev = _prev(ev.sparkSession, state_dir, "held", batch_id)
    combined = ev if held_prev is None else ev.unionByName(held_prev)
    wm = combined.agg(
        (F.max("ts").cast("long") - watermark_s).alias("wm")
    )
    c = combined.crossJoin(F.broadcast(wm))
    released = c.filter(
        (F.col("ts").cast("long") < F.col("wm")) | F.col("ts").isNull()
    ).drop("wm")
    held = c.filter(
        (F.col("ts").cast("long") >= F.col("wm")) & F.col("ts").isNotNull()
    ).drop("wm")
    _commit(held, state_dir, "held", batch_id)
    return released


def prepare_message_log(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the batch message projection as a parquet directory a
    file-streaming source can tail. Tests use this to stand in for Kafka."""
    messages(spark, sf_dir).write.mode("overwrite").parquet(out_dir)


def message_stream(spark: SparkSession, input_dir: str, files_per_trigger: int = 4) -> DataFrame:
    """Unbounded message source (stand-in for the Kafka fetcher,
    fetcher/OriginalTopicKafkaFetcher.java). ``maxFilesPerTrigger`` plays
    the role of the fetcher's poll batching. The PRODUCTION source is
    one line away: ``message_stream_kafka`` below yields the identical
    columns from a live broker — every pipeline in this module is
    source-agnostic by that contract (VERDICT r10 #6)."""
    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


# Broker-supplied columns: Kafka's own (topic, partition, offset,
# timestamp) ARE the contract's (topic, part_id, msg_offset, ts) — the
# remaining MESSAGE_SCHEMA fields ride in the JSON value payload.
_KAFKA_BROKER_COLS = ("topic", "part_id", "msg_offset", "ts")


def kafka_message_projection(raw: DataFrame) -> DataFrame:
    """Map a Kafka-shaped frame — (key binary, value binary, topic,
    partition, offset, timestamp), the fixed schema every
    ``format("kafka")`` read yields — onto MESSAGE_SCHEMA columns.
    Broker metadata supplies (topic, part_id, msg_offset, ts); the
    JSON-decoded value supplies the rest. Pure column logic, so the
    mapping is TESTED on a static Kafka-shaped frame even where no
    broker (or kafka connector jar) exists — the end-to-end template
    is the env-gated skipped test (the D46/PIL treatment)."""
    payload_schema = StructType(
        [f for f in MESSAGE_SCHEMA.fields if f.name not in _KAFKA_BROKER_COLS]
    )
    p = F.from_json(F.col("value").cast("string"), payload_schema)
    return raw.select(
        F.col("offset").cast("long").alias("msg_offset"),
        F.col("topic"),
        F.col("partition").cast("long").alias("part_id"),
        F.col("timestamp").alias("ts"),
        *[p[f.name].alias(f.name) for f in payload_schema.fields],
    ).select([f.name for f in MESSAGE_SCHEMA.fields])


def message_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The live-broker message source (reference
    worker/fetcher/KafkaFetcher.java — the source the file stream
    stands in for): swap ``message_stream(spark, dir)`` for
    ``message_stream_kafka(spark, servers, topic)`` and every consumer
    pipeline runs unchanged, because both yield exactly
    MESSAGE_SCHEMA's columns. Requires the spark-sql-kafka connector
    on the classpath (not bundled here); maxOffsetsPerTrigger is the
    broker-side analogue of the file source's maxFilesPerTrigger."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_message_projection(raw)


# --- E1: filter → route → dispatch ---------------------------------------
def route_stream(stream: DataFrame) -> DataFrame:
    """Filter + route stage (filter/CompositeFilter.java,
    common/RoutingUtils.java): drop SKIP-filtered messages, resolve each
    message's consumer callee uri from its topic's routing config.

    SCALE: stateless — no shuffle, no state store; the routing map is a
    literal CASE expression (O(topics), codegen'd), the streaming
    equivalent of the batch broadcast join in A3."""
    route_expr = F.lit(None).cast("string")
    for topic, uri in reversed(ROUTES):
        route_expr = F.when(F.col("topic") == topic, F.lit(uri)).otherwise(route_expr)
    return (
        stream.filter(F.col("outcome") != "SKIP")
        .withColumn("callee_uri", route_expr)
        .filter(F.col("callee_uri").isNotNull())
    )


def dispatch_pipeline(
    stream: DataFrame,
    dispatch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Dispatch boundary (worker/dispatcher/DispatcherImpl.java): each
    micro-batch of routed messages is handed to ``dispatch`` — in
    production a gRPC fan-out, in tests a sink capture. foreachBatch is
    the Spark-idiomatic RPC edge: exactly-once per batch id, retried
    batches re-invoke with the same id so the callee can dedupe (which is
    precisely what DedupHeaderInterceptor.java guards)."""
    return _start(route_stream(stream), dispatch, checkpoint_dir)


# --- E2: windowed throughput with watermark -------------------------------
def throughput_stream(stream: DataFrame, window: str = "5 minutes", lateness: str = "10 minutes") -> DataFrame:
    """Streaming twin of A13 (controller/autoscalar/Throughput.java,
    limiter/WindowedAggregator.java): per-topic msgs/s and bytes/s in
    tumbling event-time windows, tolerating ``lateness`` of out-of-order
    arrival before a window finalizes.

    SCALE: partial aggregation happens map-side per micro-batch; the
    state store holds only open windows (watermark closes them), so state
    is O(topics × windows-in-horizon). Append mode emits each window once,
    on close — the autoscaler consumes a clean, final signal."""
    # rate denominator from the window's own bounds — no duration parsing
    win_secs = F.expr("CAST(unix_timestamp(win.end) - unix_timestamp(win.start) AS DOUBLE)")
    return (
        stream.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window).alias("win"), F.col("topic"))
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("size_bytes").alias("total_bytes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "topic",
            "n_msgs",
            "total_bytes",
            (F.col("n_msgs") / win_secs).alias("msgs_per_sec"),
            (F.col("total_bytes") / win_secs).alias("bytes_per_sec"),
        )
    )


# --- E3: stateful retry state machine -------------------------------------
RETRY_STATE_SCHEMA = StructType(
    [
        StructField("n_ok", LongType()),
        StructField("n_retry", LongType()),
        StructField("n_dlq", LongType()),
        StructField("max_offset", LongType()),
    ]
)
RETRY_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("n_ok", LongType()),
        StructField("n_retry", LongType()),
        StructField("n_dlq", LongType()),
        StructField("max_offset", LongType()),
    ]
)


def _retry_machine(key, pdfs: Iterator, state: GroupState):
    """Per-(topic, part_id) cumulative retry/DLQ transition counts.

    Transition rules mirror the reference's processor outcome handling
    (processor/ProcessorImpl.java + utils/RetryUtils.java):
      OK / SKIP                      → acked
      RETRY with retry_count <  MAX  → retry queue tier
      RETRY with retry_count >= MAX  → exhausted, lands in DLQ
      DLQ                            → DLQ (poison pill)
    """
    import pandas as pd

    n_ok, n_retry, n_dlq, max_off = (
        state.get if state.exists else (0, 0, 0, -1)
    )
    for pdf in pdfs:
        ok = pdf["outcome"].isin(["OK", "SKIP"])
        retry = (pdf["outcome"] == "RETRY") & (pdf["retry_count"] < MAX_RETRIES)
        dlq = (pdf["outcome"] == "DLQ") | (
            (pdf["outcome"] == "RETRY") & (pdf["retry_count"] >= MAX_RETRIES)
        )
        n_ok += int(ok.sum())
        n_retry += int(retry.sum())
        n_dlq += int(dlq.sum())
        if len(pdf):
            max_off = max(max_off, int(pdf["msg_offset"].max()))
    state.update((n_ok, n_retry, n_dlq, max_off))
    yield pd.DataFrame(
        {
            "topic": [key[0]],
            "part_id": [key[1]],
            "n_ok": [n_ok],
            "n_retry": [n_retry],
            "n_dlq": [n_dlq],
            "max_offset": [max_off],
        }
    )


def retry_state_stream(stream: DataFrame) -> DataFrame:
    """Stateful retry/DLQ state machine over the stream
    (applyInPandasWithState). Each micro-batch updates per-partition
    cumulative OK/retry/DLQ counts and emits the new state (update mode).

    SCALE: state is one tiny tuple per (topic, part_id) — bounded by the
    shard count, not the stream length. Arrow-batched; one shuffle to
    co-locate each key's rows with its state-store partition."""
    return stream.groupBy("topic", "part_id").applyInPandasWithState(
        _retry_machine,
        RETRY_OUTPUT_SCHEMA,
        RETRY_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- E5: stream-static routing join ---------------------------------------
def route_stream_dynamic(stream: DataFrame, routes: DataFrame) -> DataFrame:
    """Routing against a TABLE instead of a baked-in expression — the
    production shape: uForwarder's job configs (topic → consumer uri)
    change at runtime (controller job store, ``datatransfer/controller/
    storage/*``), so the routing relation is data, not code.

    Spark re-reads / re-broadcasts the static side per micro-batch, which
    is exactly the lightweight config-refresh the reference's workers get
    from controller heartbeats.

    SCALE: stream-static broadcast join — the routing table is O(topics),
    no stream-side shuffle, no state store."""
    return stream.filter(F.col("outcome") != "SKIP").join(F.broadcast(routes), "topic")


# --- E4: streaming dedup --------------------------------------------------
def dedup_stream(stream: DataFrame, lateness: str = "10 minutes") -> DataFrame:
    """Streaming dispatch dedup (dispatcher/grpc/DedupHeaderInterceptor
    .java): first delivery per (topic, part_id, msg_offset) wins;
    redeliveries inside the watermark horizon are dropped.

    SCALE: dropDuplicatesWithinWatermark keeps a state-store key per
    message id only within the lateness horizon — the watermark expires
    old keys, so state is O(throughput × horizon), not O(stream)."""
    return stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        ["topic", "part_id", "msg_offset"]
    )


# --- E6: streaming sessionization with event-time timeout -----------------
SESSION_GAP_S = 1800

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", LongType()),
        StructField("last_ts", LongType()),
        StructField("n_events", LongType()),
    ]
)
SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_s", LongType()),
        StructField("session_end_s", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_s", LongType()),
    ]
)


def _session_machine(key, pdfs: Iterator, state: GroupState):
    """Per-user session assembly: events extend the open session; a
    >SESSION_GAP_S event-time gap (or the watermark passing the gap —
    the timeout) closes it and emits one session row. The streaming twin
    of the batch gaps-and-islands operator (plans/relational.py C10)."""
    import pandas as pd

    out = []
    if state.hasTimedOut:
        start, last, n = state.get
        out.append((key[0], start, last, n, last - start))
        state.remove()
    else:
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(int(t.timestamp()) for t in pdf["ts"])
        ts_list.sort()
        start, last, n = state.get if state.exists else (None, None, 0)
        for t in ts_list:
            if last is not None and t - last > SESSION_GAP_S:
                out.append((key[0], start, last, n, last - start))
                start, last, n = t, t, 1
            else:
                start = t if start is None else start
                last, n = t, n + 1
        if last is not None:
            state.update((start, last, n))
            # the timeout must sit beyond the current watermark: historical
            # replays advance the watermark past old sessions' natural
            # deadline, which would otherwise be rejected
            deadline_ms = (last + SESSION_GAP_S) * 1000
            state.setTimeoutTimestamp(max(deadline_ms, state.getCurrentWatermarkMs() + 1))
    yield pd.DataFrame(
        out, columns=["user_id", "session_start_s", "session_end_s", "n_events", "duration_s"]
    )


def session_stream(stream: DataFrame, lateness: str = "10 minutes") -> DataFrame:
    """E6: streaming sessionization (applyInPandasWithState with
    EventTimeTimeout) — closed sessions emit exactly once, open sessions
    live in the state store until their gap times out against the
    watermark.

    SCALE: state is one tuple per ACTIVE user (bounded by concurrency ×
    gap, not stream length — timeouts evict); one shuffle on user_id per
    micro-batch, Arrow-batched."""
    return (
        stream.withWatermark("ts", lateness)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_machine,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- E7: outcome fan-out (retry / DLQ production) -------------------------
def outcome_fanout_pipeline(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """Produce side of the worker (processor/DlqDispatchManager.java,
    fetcher/RetryTopicKafkaFetcher.java): each micro-batch fans out by
    outcome — delivered traffic to the ack path, transient failures to
    the retry topic, poison/exhausted to the DLQ topic. Here the three
    "topics" are parquet directories; in production each write is
    ``sources.readers.serialize_for_kafka`` + the Kafka sink.

    SCALE: one foreachBatch with three filtered writes of the SAME
    cached micro-batch — the batch is scanned once, not three times.
    Each write overwrites its batchId-keyed directory, so a replayed
    batch rewrites instead of appending (the ``_commit`` replay
    contract; these sinks keep Spark's default part-file count).
    Readers see batch_id as a partition column."""
    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            delivered = batch_df.filter(F.col("outcome").isin("OK", "SKIP"))
            retry = batch_df.filter(
                (F.col("outcome") == "RETRY") & (F.col("retry_count") < MAX_RETRIES)
            )
            dlq = batch_df.filter(
                (F.col("outcome") == "DLQ")
                | ((F.col("outcome") == "RETRY") & (F.col("retry_count") >= MAX_RETRIES))
            )
            for name, part in (("delivered", delivered), ("retry", retry), ("dlq", dlq)):
                part.write.mode("overwrite").parquet(_path(out_dir, name, batch_id))
        finally:
            batch_df.unpersist()

    return _start(stream, fan_out, checkpoint_dir)


# --- E8: stream-stream redelivery correlation -----------------------------
def redelivery_join_stream(
    original: DataFrame, redelivered: DataFrame, lateness: str = "10 minutes"
) -> DataFrame:
    """Stream-stream INNER join: correlate each original dispatch with
    its retry-topic redelivery by message identity — how the reference
    ties a retry back to its first attempt (RetryTopicKafkaFetcher
    consumes copies carrying the original's (group, topic, partition,
    offset) in headers).

    State is bounded ONLY because the join carries an event-time range
    condition (r_ts between o_ts and o_ts + lateness) on top of the
    watermarks: per Spark's stream-stream join semantics, watermarks
    alone never let an equality-keyed inner join evict state — the time
    constraint is what tells the engine when a row can no longer match,
    so both sides' state stays O(throughput × horizon).

    SCALE: state-store-backed symmetric hash join keyed on the message
    identity — uniform keys, state bounded by the lateness horizon,
    never O(stream)."""
    o = (
        original.withWatermark("ts", lateness)
        .select(
            "topic", "part_id", "msg_offset",
            F.col("ts").alias("o_ts"),
            F.col("outcome").alias("o_outcome"),
        )
    )
    r = (
        redelivered.withWatermark("ts", lateness)
        .select(
            F.col("topic").alias("r_topic"),
            F.col("part_id").alias("r_part_id"),
            F.col("msg_offset").alias("r_msg_offset"),
            F.col("ts").alias("r_ts"),
        )
    )
    return o.join(
        r,
        (F.col("topic") == F.col("r_topic"))
        & (F.col("part_id") == F.col("r_part_id"))
        & (F.col("msg_offset") == F.col("r_msg_offset"))
        & F.expr(f"r_ts BETWEEN o_ts AND o_ts + INTERVAL {lateness}"),
    ).select("topic", "part_id", "msg_offset", "o_ts", "r_ts", "o_outcome")


# --- E9: streaming token bucket (flow control with carried state) ---------
TOKEN_STATE_SCHEMA = StructType(
    [
        StructField("tokens", DoubleType()),
        StructField("last_ts_ns", LongType()),
    ]
)
TOKEN_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("msg_offset", LongType()),
        StructField("ts", TimestampType()),
        StructField("admitted", BooleanType()),
    ]
)


def _bucket_machine(key, pdfs: Iterator, state: GroupState):
    """Continuous-refill token bucket carried ACROSS micro-batches: the
    streaming twin of operators/ratelimit.py's batch recurrence
    (reference worker/processor RateLimiter via ProcessorImpl.java).
    State per (topic, part_id) shard = (tokens, last event ns)."""
    import numpy as np
    import pandas as pd

    # constants inlined, NOT imported from the batch ratelimit module: a
    # package import at call time would need uforwarder_spark on the
    # WORKER's sys.path, defeating the by-value pickling below (the
    # module-bottom registration). Kept in sync by a unit test.
    BUCKET_RATE, BUCKET_BURST = 0.05, 5.0

    tokens, last_ns = state.get if state.exists else (BUCKET_BURST, -1)
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch):
        batch = batch.sort_values(["ts", "msg_offset"]).reset_index(drop=True)
        t = batch["ts"].to_numpy("datetime64[ns]").astype(np.int64)
        admitted = np.empty(len(t), dtype=bool)
        prev = None if last_ns < 0 else last_ns / 1e9
        for i, now_ns in enumerate(t):
            now = now_ns / 1e9
            if prev is not None:
                tokens = min(BUCKET_BURST, tokens + (now - prev) * BUCKET_RATE)
            prev = now
            if tokens >= 1.0:
                tokens -= 1.0
                admitted[i] = True
            else:
                admitted[i] = False
        batch["admitted"] = admitted
        state.update((float(tokens), int(t[-1])))
        yield batch[["topic", "part_id", "msg_offset", "ts", "admitted"]]


def token_bucket_stream(stream: DataFrame) -> DataFrame:
    """Streaming flow control: per-shard exact token-bucket admission
    with bucket state carried across micro-batches — what the batch A18
    computes retrospectively, decided live as messages arrive.

    Within a micro-batch each shard's rows are sorted by event time, so
    verdicts are deterministic given the batch sequence; a source that
    respects per-shard time order (Kafka partitions do) reproduces the
    batch operator's verdicts message-for-message.

    SCALE: state is ONE (double, long) tuple per (topic, part_id) —
    shard count, not stream length; one shuffle co-locates each shard
    with its state-store partition, Arrow moves each group once."""
    return stream.select("topic", "part_id", "msg_offset", "ts").groupBy(
        "topic", "part_id"
    ).applyInPandasWithState(
        _bucket_machine,
        TOKEN_OUTPUT_SCHEMA,
        TOKEN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- E10: live consumer lag ------------------------------------------------
LAG_STATE_SCHEMA = StructType(
    [
        StructField("min_unacked", LongType()),   # -1 = no gap seen yet
        StructField("committed", LongType()),     # -1 = nothing committed
        StructField("high_watermark", LongType()),
        StructField("lag", LongType()),
    ]
)
LAG_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("high_watermark", LongType()),
        StructField("committed_offset", LongType()),
        StructField("lag_msgs", LongType()),
    ]
)


def _lag_machine(key, pdfs: Iterator, state: GroupState):
    """Incremental commit-watermark + lag per shard: with per-shard
    offset-ordered arrival (Kafka's delivery guarantee), the full ack
    bitmap never needs to be held — before the first gap every ack
    advances the committed offset; from the first unacked message on,
    every message counts toward lag. State: four longs."""
    import pandas as pd

    min_unacked, committed, hw, lag = (
        state.get if state.exists else (-1, -1, -1, 0)
    )
    for pdf in pdfs:
        pdf = pdf.sort_values("msg_offset")
        for off, acked in zip(pdf["msg_offset"], pdf["acked"]):
            if min_unacked < 0:
                if acked:
                    committed = int(off)
                else:
                    min_unacked = int(off)
                    lag += 1
            else:
                lag += 1
            if off > hw:
                hw = int(off)
    state.update((min_unacked, committed, hw, lag))
    yield pd.DataFrame(
        {
            "topic": [key[0]],
            "part_id": [key[1]],
            "high_watermark": [hw],
            "committed_offset": [committed if committed >= 0 else None],
            "lag_msgs": [lag],
        }
    )


def consumer_lag_stream(stream: DataFrame) -> DataFrame:
    """Streaming twin of A14 (controller/rpc/ControllerWorkerService
    .java job status: lag relative to the commit point) — the live lag
    signal the controller's autoscaler would consume, updated every
    micro-batch instead of recomputed over the full log.

    SCALE: state is FOUR longs per (topic, part_id) — no ack bitmap,
    no offset set — because per-shard offset order (which Kafka
    guarantees within a partition) lets the commit watermark advance
    incrementally. One shuffle co-locates shards with their state-store
    partitions.

    Matches batch A14 message-for-message when micro-batches respect
    per-shard offset order (tested with an offset-split two-batch
    feed)."""
    return stream.select("topic", "part_id", "msg_offset", "acked").groupBy(
        "topic", "part_id"
    ).applyInPandasWithState(
        _lag_machine,
        LAG_OUTPUT_SCHEMA,
        LAG_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- E11: live autoscale signal -------------------------------------------
def autoscale_signal_stream(
    stream: DataFrame,
    quotas: DataFrame,
    window: str = "5 minutes",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of B3 (controller/autoscalar/AutoScalar.java):
    the live scale signal — each CLOSED throughput window (append mode:
    emitted once, final, when the watermark passes it) joins the
    broadcast quota table and carries its own scale verdict. Downstream
    this is the feed ScaleState's hysteresis (B8) consumes; with E10's
    live lag it closes the worker→controller loop in streaming form.

    SCALE: reuses E2's windowed partial aggregation (state = open
    windows only); the quota table is a stream-static broadcast join —
    O(topics), re-broadcast per micro-batch, no extra state."""
    thr = throughput_stream(stream, window=window, lateness=lateness)
    decision = (
        F.when(F.col("msgs_per_sec") > F.col("quota_mps") * 1.2, "scale_up")
        .when(F.col("msgs_per_sec") < F.col("quota_mps") * 0.5, "scale_down")
        .otherwise("hold")
    )
    return thr.join(F.broadcast(quotas), "topic").select(
        "window_start",
        "topic",
        "n_msgs",
        "msgs_per_sec",
        "quota_mps",
        decision.alias("decision"),
    )


# --- E12: live scale-window proposals --------------------------------------
SCALEWIN_STATE_SCHEMA = StructType(
    [
        StructField("scale", DoubleType()),
        StructField("n", LongType()),
        # three 100-bucket histograms, flattened
        StructField("up_counts", ArrayType(LongType())),
        StructField("down_counts", ArrayType(LongType())),
        StructField("hib_counts", ArrayType(LongType())),
    ]
)
SCALEWIN_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("n_samples", LongType()),
        StructField("scale", DoubleType()),
        StructField("verdict", StringType()),
        StructField("proposal", DoubleType()),
    ]
)

def _scalewin_machine(key, pdfs: Iterator, state: GroupState):
    """Online ScaleWindow (ScaleWindow.java:88 BoundedWindow +
    ScaleState.RunningState onSample): per topic, every closed
    throughput window contributes one scale sample to three bucketed
    histograms (up/down/hibernate). Once mature (n >= 10), the first
    computer whose percentile proposal passes its output bounds wins:
    the scale moves and all windows reset around the new scale —
    exactly the reference's accept-and-rebuild loop, which the batch
    B16 evaluates once at end-of-window instead."""
    import math

    import pandas as pd

    NB, MIN_N = 100, 10
    CFG = {
        "click": (0.10, 0.10),
        "view": (0.05, 0.10),
        "purchase": (0.20, 0.08),
        "signup": (0.12, 0.12),
        "error": (1.00, 0.05),
    }
    topic = key[0]
    scale0, quota = CFG.get(topic, (1.0, 0.1))

    def bounds(scale):
        return {
            "up": (scale, 2.0 * scale, 0.5, 1.2 * scale, 2.0 * scale),
            "down": (0.5 * scale, scale, 0.99, 0.5 * scale, 0.8 * scale),
            "hib": (0.0, scale, 0.99, 0.0, 0.0),
        }

    if state.exists:
        scale, n, up, down, hib = state.get
        counts = {"up": list(up), "down": list(down), "hib": list(hib)}
    else:
        scale, n = scale0, 0
        counts = {c: [0] * NB for c in bounds(scale)}

    verdict, proposal = "hold", None
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values("window_start").reset_index(drop=True)
    for mps in batch["mps"]:
        s = mps / (quota / 4.0)
        b = bounds(scale)
        for comp, (lo, hi, _, _, _) in b.items():
            width = (hi - lo) / NB
            idx = min(NB - 1, max(0, math.ceil((s - lo) / width)))
            counts[comp][idx] += 1
        n += 1
        if n < MIN_N:
            continue
        for comp, (lo, hi, pct, out_lo, out_hi) in b.items():
            width = (hi - lo) / NB
            pivot = int(pct * n)
            total, idx = 0, 0
            for idx in range(NB):
                total += counts[comp][idx]
                if total >= pivot:
                    break
            prop = lo + idx * width
            if out_lo <= prop <= out_hi:
                verdict = {"up": "scale_up", "down": "scale_down", "hib": "hibernate"}[comp]
                proposal = prop
                scale = prop if comp != "hib" else 0.0
                n = 0
                counts = {c: [0] * NB for c in bounds(max(scale, 1e-9))}
                break

    state.update((float(scale), int(n), counts["up"], counts["down"], counts["hib"]))
    yield pd.DataFrame(
        {
            "topic": [topic],
            "n_samples": [n],
            "scale": [scale],
            "verdict": [verdict],
            "proposal": [proposal],
        }
    )


def scale_proposal_stream(samples: DataFrame) -> DataFrame:
    """E12: the live autoscalar — B16's bucketed percentile windows fed
    one closed throughput window at a time, with histogram state carried
    across micro-batches and windows rebuilt around each accepted scale.
    Input: a (streaming) frame of (topic, window_start, mps) — i.e.
    throughput_stream's output renamed; with E11 this closes the full
    reference control loop (throughput → window → proposal) in
    streaming form.

    SCALE: state per topic = 3 x 100 bucket counts + 2 scalars —
    O(topics), independent of stream length; one shuffle co-locates each
    topic's samples with its state-store partition."""
    return samples.groupBy("topic").applyInPandasWithState(
        _scalewin_machine,
        SCALEWIN_OUTPUT_SCHEMA,
        SCALEWIN_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- E13: live delay-process (pause / park / resume) -----------------------
DELAY_STATE_SCHEMA = StructType(
    [
        StructField("parked_offsets", ArrayType(LongType())),
        StructField("parked_ts_ns", ArrayType(LongType())),
    ]
)
DELAY_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("msg_offset", LongType()),
        StructField("ts", TimestampType()),
        StructField("was_parked", BooleanType()),
        StructField("released_ms", LongType()),
    ]
)


def _delay_machine(key, pdfs: Iterator, state: GroupState):
    """Streaming KafkaDelayProcessManager (the live twin of batch A24,
    uforwarder-core/.../fetchers/kafka/KafkaDelayProcessManager.java):
    per shard, records whose ``ts + delay`` is still in the future park
    in carried state; each micro-batch first re-offers the parked queue,
    then consumes new records in offset order, stopping (pausing) at the
    first not-yet-due record. The poll instant is the shard's max event
    time in the batch — deterministic, so the test's Python model can
    replay it exactly."""
    import pandas as pd

    # Inlined per-topic processing delays (ms) — kept in sync with
    # operators.pipeline.DELAYS by a unit test; see the module-bottom
    # note for why state machines import nothing from the package.
    DELAYS_MS = {
        "click": 0,
        "view": 3_600_000,
        "purchase": 43_200_000,
        "signup": 86_400_000,
        "error": 259_200_000,
    }
    topic, part_id = key
    delay = DELAYS_MS.get(topic, 0)
    parked_off, parked_ts = state.get if state.exists else ([], [])

    batch = pd.concat(list(pdfs), ignore_index=True)
    if not len(batch):
        return
    now_ms = int(batch["ts"].max().value // 1_000_000)
    new_off = batch["msg_offset"].astype("int64").tolist()
    new_ts = [int(v) for v in batch["ts"].to_numpy("datetime64[ns]").astype("int64")]
    was_parked = dict.fromkeys(parked_off, True)
    merged = sorted(
        zip(parked_off + new_off, parked_ts + new_ts), key=lambda p: p[0]
    )

    released, still_parked = [], []
    paused = False
    for off, ts_ns in merged:
        due = delay == 0 or (ts_ns // 1_000_000) + delay <= now_ms
        if paused or not due:
            paused = True  # first not-yet-due record pauses the shard
            still_parked.append((off, ts_ns))
        else:
            released.append((off, ts_ns))

    if still_parked:
        state.update(([p[0] for p in still_parked], [p[1] for p in still_parked]))
    elif state.exists:
        state.remove()

    if released:
        yield pd.DataFrame(
            {
                "topic": topic,
                "part_id": part_id,
                "msg_offset": [o for o, _ in released],
                "ts": pd.to_datetime([t for _, t in released], unit="ns"),
                "was_parked": [o in was_parked for o, _ in released],
                "released_ms": now_ms,
            }
        )


def delay_process_stream(stream: DataFrame) -> DataFrame:
    """E13: live delayed-processing — batch A24's pause ledger decided
    record-by-record as micro-batches arrive, with the parked queue
    carried across batches and drained once deadlines pass.

    SCALE: state per shard = the parked record ids for ONE partition of
    ONE delayed topic — bounded by delay horizon x per-partition rate
    (exactly the memory the reference's in-process delayedRecords map
    holds, KafkaDelayProcessManager.java:41); payloads are NOT parked,
    only (offset, ts), so re-delivery on resume is an offset seek, not
    a buffer replay. One shuffle co-locates each shard with its
    state-store partition."""
    return stream.select("topic", "part_id", "msg_offset", "ts").groupBy(
        "topic", "part_id"
    ).applyInPandasWithState(
        _delay_machine,
        DELAY_OUTPUT_SCHEMA,
        DELAY_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# Ship this module's state machines BY VALUE: applyInPandasWithState
# functions defined at module level normally pickle by reference, which
# requires `uforwarder_spark` on every Python worker's sys.path. By-value
# registration removes that deployment constraint (same reason D12's
# decode is a closure) — the driver can run from any cwd without
# --py-files. Referenced globals (MAX_RETRIES, schemas) serialize with
# each function; heavyweight imports stay inside the functions.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


# --- E14: live bootstrap-limiter phase -------------------------------------
BOOT_STATE_SCHEMA = StructType(
    [
        StructField("completed", LongType()),
    ]
)
BOOT_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("msg_offset", LongType()),
        StructField("phase", StringType()),
        StructField("effective_cap", LongType()),
        StructField("completed_after", LongType()),
    ]
)


def _bootstrap_machine(key, pdfs: Iterator, state: GroupState):
    """Bootstrap→working phase transition carried ACROSS micro-batches:
    the streaming twin of batch A26 (reference
    uforwarder/.../worker/limiter/BootstrapLongFixedInflightLimiter.java:
    BootstrapPermit.complete flips the state once completed tasks exceed
    the threshold, permanently — completed never decreases, so the phase
    function is monotone). Each message is tagged with the phase in
    force when it acquires (offset order within the shard)."""
    import pandas as pd

    # constants inlined, NOT imported from the batch pipeline module (see
    # _bucket_machine's note on by-value pickling); synced by a unit test.
    BOOT_CAP, STEADY_CAP, THRESHOLD = 10, 50, 100

    completed = state.get[0] if state.exists else 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch):
        batch = batch.sort_values("msg_offset").reset_index(drop=True)
        phases, caps, after = [], [], []
        boot_eff = min(BOOT_CAP, STEADY_CAP)
        for acked in batch["acked"].to_numpy():
            working = completed > THRESHOLD
            phases.append("working" if working else "bootstrap")
            caps.append(STEADY_CAP if working else boot_eff)
            if acked:
                completed += 1
            after.append(completed)
        batch["phase"] = phases
        batch["effective_cap"] = caps
        batch["completed_after"] = after
        state.update((int(completed),))
        yield batch[
            ["topic", "part_id", "msg_offset", "phase", "effective_cap", "completed_after"]
        ]


def bootstrap_phase_stream(stream: DataFrame) -> DataFrame:
    """Live bootstrap limiter: each arriving message is admitted under
    the phase in force at its acquire instant, with the completed-count
    state carried across micro-batches — batch A26 decides the phase
    retrospectively from the whole log; this decides it online and
    converges to the same final phase per shard.

    SCALE: state is ONE long per (topic, part_id) shard; one shuffle
    aligns shards with state-store partitions; the per-group Python loop
    is an O(batch) scan over an Arrow batch (no cross-row lookups), the
    same cost class as the other state machines here."""
    return (
        stream.select("topic", "part_id", "msg_offset", "acked")
        .groupBy("topic", "part_id")
        .applyInPandasWithState(
            _bootstrap_machine,
            BOOT_OUTPUT_SCHEMA,
            BOOT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- E15: live incremental dedup ------------------------------------------
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def prepare_incoming_docs(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the D36 'incoming' side (odd-numbered sources) as a
    parquet directory a file stream can tail — the stand-in for a fresh
    crawl landing batch by batch."""
    from ..model import load_parallel

    (
        load_parallel(spark, sf_dir, "documents")
        .filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def document_stream(spark: SparkSession, input_dir: str, files_per_trigger: int = 2) -> DataFrame:
    """Unbounded incoming-document source (the crawl-ingest topic).
    The live-broker swap is ``document_stream_kafka`` below — same
    columns, one changed line (VERDICT r10 #6)."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


def kafka_document_projection(raw: DataFrame) -> DataFrame:
    """Map a Kafka-shaped frame onto DOC_SCHEMA columns: documents ride
    whole in the JSON value (no broker column doubles as a document
    field — doc identity is content, not offset). Pure column logic,
    tested on a static Kafka-shaped frame; see
    kafka_message_projection for the split-contract variant."""
    p = F.from_json(F.col("value").cast("string"), DOC_SCHEMA)
    return raw.select(
        *[p[f.name].alias(f.name) for f in DOC_SCHEMA.fields]
    )


def document_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The live-broker crawl-ingest source: swap
    ``document_stream(spark, dir)`` for this and every document
    pipeline (E15/E20/E28/E33/E53/...) runs unchanged — both yield
    exactly DOC_SCHEMA's columns. Requires the spark-sql-kafka
    connector on the classpath (not bundled here)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_document_projection(raw)


def incremental_dedup_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Live twin of batch D36 (incremental_dedup): each micro-batch of
    incoming documents is deduplicated against the STATIC existing
    corpus via the same asymmetric MinHash/LSH band join + best-match
    verification kernel (operators/dedup.incremental_dedup_frame), and
    the keep/drop decisions land in a batchId-partitioned parquet sink.

    SCALE: the existing-corpus shingle + band frames are computed once
    and persisted (at 100 TB: a maintained signature TABLE, refreshed as
    kept docs are admitted); each trigger touches only
    |batch| × colliding-bucket candidates. foreachBatch is at-least-once,
    so each batch overwrites its own batch_id=N directory — replays
    rewrite instead of duplicating (the ``_commit`` replay contract)."""
    from ..operators.dedup import (
        incr_band_frame,
        incr_shingle_frame,
        incremental_dedup_frame,
    )

    ex_sh3 = incr_shingle_frame(corpus_docs.select("doc_id", "text")).persist()
    ex_bands = incr_band_frame(ex_sh3).persist()
    ex_sh3.count(), ex_bands.count()  # materialize once, before the first trigger

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        in_sh3 = incr_shingle_frame(batch_df.select("doc_id", "text")).persist()
        try:
            decisions = incremental_dedup_frame(in_sh3, ex_bands, ex_sh3)
            decisions.write.mode("overwrite").parquet(_path(out_dir, None, batch_id))
        finally:
            in_sh3.unpersist()

    return _start(stream, dedup_batch, checkpoint_dir)


# --- E16: live AIMD inflight limit ----------------------------------------
AIMD_STATE_SCHEMA = StructType(
    [
        StructField("in_batch", LongType()),
        StructField("has_drop", BooleanType()),
        StructField("has_succ", BooleanType()),
        StructField("lim", LongType()),
        StructField("batch_id", LongType()),
        StructField("n_inc", LongType()),
        StructField("n_dec", LongType()),
    ]
)
AIMD_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("batch_id", LongType()),
        StructField("has_drop", BooleanType()),
        StructField("has_succ", BooleanType()),
        StructField("limit_after", LongType()),
        StructField("n_increase", LongType()),
        StructField("n_decrease", LongType()),
    ]
)


def _aimd_machine(key, pdfs: Iterator, state: GroupState):
    """Live AIMD adaptation carried across micro-batches: the streaming
    twin of batch A33 (reference uforwarder/.../worker/limiter/
    AdaptiveInflightLimiter.java doComplete). Dispatch results fold in
    offset order into fixed-size adaptation batches; every COMPLETED
    batch applies one transition (halve-on-drop / +1-on-success / hold)
    and emits one row. The in-flight partial batch — count and flags —
    rides in the state, so a batch spanning micro-batch boundaries
    produces the identical transition a batch replay would."""
    import pandas as pd

    # constants inlined, NOT imported from the batch module (see
    # _bucket_machine's note on by-value pickling); synced by a unit test.
    BATCH, LIM0, LMIN, LMAX = 50, 50, 4, 200

    if state.exists:
        in_batch, has_drop, has_succ, lim, batch_id, n_inc, n_dec = state.get
    else:
        in_batch, has_drop, has_succ, lim, batch_id, n_inc, n_dec = (
            0, False, False, LIM0, 0, 0, 0,
        )
    topic, part_id = key
    out = []
    frame = pd.concat(list(pdfs), ignore_index=True)
    if len(frame):
        frame = frame.sort_values("msg_offset").reset_index(drop=True)
        for outcome, acked in zip(
            frame["outcome"].to_numpy(), frame["acked"].to_numpy()
        ):
            has_drop = has_drop or outcome == "DLQ"
            has_succ = has_succ or bool(acked)
            in_batch += 1
            if in_batch == BATCH:
                if has_drop:
                    lim = max(LMIN, lim // 2)
                    n_dec += 1
                elif has_succ:
                    lim = min(LMAX, lim + 1)
                    n_inc += 1
                out.append(
                    (topic, part_id, batch_id, has_drop, has_succ, lim, n_inc, n_dec)
                )
                batch_id += 1
                in_batch, has_drop, has_succ = 0, False, False
    state.update(
        (int(in_batch), bool(has_drop), bool(has_succ), int(lim),
         int(batch_id), int(n_inc), int(n_dec))
    )
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "topic", "part_id", "batch_id", "has_drop", "has_succ",
                "limit_after", "n_increase", "n_decrease",
            ],
        )


def aimd_limit_stream(stream: DataFrame) -> DataFrame:
    """E16: the live adaptive inflight limit — batch A33 recovers the
    AIMD trajectory retrospectively from the whole log; this emits each
    limit transition the moment its adaptation batch completes, with the
    partial batch carried across micro-batches. After the stream drains,
    the emitted trajectory equals A33's fold over complete batches.

    SCALE: state is seven scalars per (topic, part_id) shard; one
    shuffle aligns shards with state-store partitions; the per-group
    loop is O(batch) over Arrow batches. The emitted frame is 1/50th of
    the message rate — the control signal, not the log."""
    return (
        stream.select("topic", "part_id", "msg_offset", "outcome", "acked")
        .groupBy("topic", "part_id")
        .applyInPandasWithState(
            _aimd_machine,
            AIMD_OUTPUT_SCHEMA,
            AIMD_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- E17: live linger sampler ---------------------------------------------
LINGER_STATE_SCHEMA = StructType(
    [
        StructField("last_tick_ms", LongType()),
        StructField("last_val", DoubleType()),
    ]
)
LINGER_OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("part_id", LongType()),
        StructField("msg_offset", LongType()),
        StructField("fresh", BooleanType()),
        StructField("sample_age_ms", LongType()),
        StructField("sampled_value", DoubleType()),
    ]
)


def _linger_machine(key, pdfs: Iterator, state: GroupState):
    """Live LingerSampler (reference uforwarder/.../consumerproxy/common/
    LingerSampler.java:14-52): each read returns the cached sample
    unless now - lastTick > linger (strict), in which case it samples
    fresh and the tick anchors at the read instant. The (lastTick,
    lastValue) pair rides in the state, so the rolling gate continues
    seamlessly across micro-batches — the online chain equals batch
    A36's replay over the same log."""
    import numpy as np
    import pandas as pd

    LINGER_MS = 10_000_000  # synced with batch pipeline.LINGER_MS by test

    last_tick = state.get[0] if state.exists else None
    last_val = state.get[1] if state.exists else 0.0
    frame = pd.concat(list(pdfs), ignore_index=True)
    if len(frame):
        frame = frame.sort_values(["ts", "msg_offset"]).reset_index(drop=True)
        t_ms = frame["ts"].to_numpy("datetime64[ns]").astype(np.int64) // 1_000_000
        vals = frame["payload_value"].to_numpy(np.float64)
        fresh = np.empty(len(t_ms), dtype=bool)
        age = np.empty(len(t_ms), dtype=np.int64)
        sampled = np.empty(len(t_ms), dtype=np.float64)
        for i, now in enumerate(t_ms):
            if last_tick is None or now - last_tick > LINGER_MS:
                last_tick, last_val = int(now), float(vals[i])
                fresh[i] = True
            else:
                fresh[i] = False
            age[i] = now - last_tick
            sampled[i] = last_val
        frame["fresh"] = fresh
        frame["sample_age_ms"] = age
        frame["sampled_value"] = sampled
        state.update((int(last_tick), float(last_val)))
        yield frame[
            ["topic", "part_id", "msg_offset", "fresh", "sample_age_ms", "sampled_value"]
        ]
    elif last_tick is not None:
        state.update((int(last_tick), float(last_val)))


def linger_sample_stream(stream: DataFrame) -> DataFrame:
    """E17: live at-most-one-sample-per-interval reads — batch A36
    decides freshness from the whole log; this decides it online with
    the (lastTick, lastValue) state carried across micro-batches and
    matches A36's chain exactly on the same log.

    SCALE: state is two scalars per (topic, part_id) shard; one shuffle,
    O(batch) numpy loop per group — the same cost class as E9/E13."""
    return (
        stream.select("topic", "part_id", "msg_offset", "ts", "payload_value")
        .groupBy("topic", "part_id")
        .applyInPandasWithState(
            _linger_machine,
            LINGER_OUTPUT_SCHEMA,
            LINGER_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- E18: live embedding cluster assignment --------------------------------
def cluster_assign_stream(stream: DataFrame, centroids: DataFrame) -> DataFrame:
    """E18: online semantic-cluster assignment — each arriving embedding
    is tagged with its nearest centroid (batch D40's E-step) as it
    lands, the streaming half of a semantic-dedup / routing loop where
    centroids are refreshed by a periodic batch M-step.

    The static centroid frame is collapsed (static-side agg is legal)
    into ONE row holding array<struct(cluster, c)>, broadcast onto the
    stream, and the argmin is a row-local fold over that array — the
    pipeline is STATELESS (append mode, no watermark, no state store):
    at 100 TB this is a pure map over the stream with a k x DIM double
    array riding in the broadcast, the cheapest possible shape.

    Ties break to the lower cluster id, like D40 (the fold keeps the
    strictly-smaller distance only)."""
    from ..operators.similarity import _kmeans_assign

    return _kmeans_assign(stream, centroids).select(
        "vec_id",
        "label",
        "cluster",
        F.round("dist", 6).alias("sq_dist"),
    )


# --- E19: live corpus-mixture monitor --------------------------------------
def importance_weights_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E19: the live twin of batch D39 — as document batches land, the
    per-source token totals are merged incrementally and the
    temperature-sampling weight table (weight ∝ token-share^(1/T),
    renormalized) is re-emitted, so loaders always read current
    mixture weights while the crawl is still running.

    State layout: ``{state_dir}/totals/batch_id=N`` holds the running
    (source, n_docs, n_tokens) totals AFTER batch N (merged from
    batch N's counts + batch N-1's totals); ``{state_dir}/weights/
    batch_id=N`` the weight table derived from them. foreachBatch is
    at-least-once, and a replay of batch N re-merges the SAME batch
    data with the SAME N-1 totals into the same directory — idempotent
    by construction (the ``_commit`` replay contract).

    SCALE: each trigger aggregates only its micro-batch (partial agg on
    source) and merges against a |sources|-row table; the weight math
    is the identical decimal-denominator pipeline as D39 on a frame of
    |sources| rows. Nothing ever re-reads the corpus."""
    from ..operators.training import weights_from_totals

    def update(batch_df: DataFrame, batch_id: int) -> None:
        totals = _fold_source_totals(batch_df, state_dir, batch_id)
        _commit(weights_from_totals(totals), state_dir, "weights", batch_id)

    return _start(stream, update, checkpoint_dir)


def _fold_source_totals(batch_df: DataFrame, state_dir: str, batch_id: int) -> DataFrame:
    """The running (source, n_docs, n_tokens) totals after batch N,
    committed to ``{state_dir}/totals`` and re-read — the additive
    state E19 and E54 both derive from."""
    from ..functions.tokenize import TOKENS_SPARK

    spark = batch_df.sparkSession
    batch_tot = (
        batch_df.select(
            "source",
            F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    merged = _merge(
        batch_tot,
        _prev(spark, state_dir, "totals", batch_id),
        ["source"],
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return _commit_read(merged, state_dir, "totals", batch_id)


# --- E20: live Bloom dedup prefilter ---------------------------------------
def bloom_prefilter_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E20: the live twin of batch D43 — incoming documents are tested
    against the STATIC existing-corpus Bloom bitset as they land; only
    the maybe-duplicates of each micro-batch pay the exact hash join,
    and the per-doc (maybe_dup, is_dup, bloom_false_positive) decisions
    land in a batchId-partitioned parquet sink.

    SCALE: the bitset and the exact hash table are computed ONCE from
    the static corpus before the first trigger (at 100 TB: a bitset
    maintained per corpus epoch, O(m) to broadcast however big the
    corpus); each trigger is |batch| rows of pure expression work plus
    an exact join over its maybe-dup sliver. foreachBatch overwrites
    its own batch_id=N directory, so at-least-once replays rewrite
    instead of duplicating (the ``_commit`` replay contract)."""
    from ..operators.dedup import bloom_bits_frame, bloom_hash_frame, bloom_prefilter_frame

    bits = bloom_bits_frame(corpus_docs.select("doc_id", "text")).persist()
    exist_h = (
        bloom_hash_frame(corpus_docs.select("doc_id", "text"))
        .select(F.col("h").alias("eh"))
        .distinct()
        .persist()
    )
    bits.count(), exist_h.count()  # materialize once, before the first trigger

    def prefilter_batch(batch_df: DataFrame, batch_id: int) -> None:
        decisions = bloom_prefilter_frame(
            bloom_hash_frame(batch_df.select("doc_id", "text")), bits, exist_h
        )
        decisions.write.mode("overwrite").parquet(_path(out_dir, None, batch_id))

    return _start(stream, prefilter_batch, checkpoint_dir)


# --- E21: live corpus-entropy monitor --------------------------------------
def entropy_monitor_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E21: the live twin of batch D45 — as document batches land, the
    per-(source, gram) unigram and bigram counts are merged into
    batchId-versioned running totals, and the entropy table (H₁, H₂,
    conditional) is re-derived per trigger via the SHARED
    entropy_from_counts frame, so corpus-predictability drift is
    visible while the crawl is still running. Converges to batch D45
    exactly once the stream drains.

    State layout: ``{state_dir}/{uni,big}/batch_id=N`` hold the merged
    (source, g, c) counts AFTER batch N; ``{state_dir}/entropy/
    batch_id=N`` the derived table. A replay of batch N re-merges the
    SAME batch against the SAME N-1 totals into the same directory —
    idempotent under at-least-once (the ``_commit`` replay contract).

    SCALE: counts are additive, so each trigger aggregates only its
    micro-batch and merges against the vocabulary-sized totals —
    nothing ever re-reads the corpus; gram cardinality (not corpus
    size) bounds the state, and the entropy derivation is |sources|
    rows of scalar math."""
    from ..functions.text import (
        _BIGRAMS_SPARK,
        entropy_from_counts,
        gram_counts_frame,
    )
    from ..functions.tokenize import TOKENS_SPARK

    def merge_counts(spark, batch_cnt: DataFrame, kind: str, batch_id: int) -> DataFrame:
        prev = _prev(spark, state_dir, kind, batch_id)
        merged = _merge(batch_cnt, prev, ["source", "g"], F.sum("c").cast("bigint").alias("c"))
        return _commit_read(merged, state_dir, kind, batch_id)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        uni, big = (
            merge_counts(spark, gram_counts_frame(batch_df, grams), kind, batch_id)
            for kind, grams in (("uni", TOKENS_SPARK), ("big", _BIGRAMS_SPARK))
        )
        _commit(entropy_from_counts(uni, big), state_dir, "entropy", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E22: live distinct-cardinality monitor --------------------------------
def hll_monitor_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E22: the live twin of batch D49 — each micro-batch's HLL
    registers fold into batchId-versioned running registers by MAX, and
    the per-source cardinality estimate is re-derived per trigger via
    the SHARED hll_estimate_frame. MAX is idempotent AND commutative,
    so at-least-once replay and batch arrival order are BOTH harmless —
    the strongest convergence guarantee in the E-family: the final
    estimate equals batch D49's to the bit.

    State layout: ``{state_dir}/regs/batch_id=N`` holds the merged
    (source, reg, r) registers AFTER batch N — at most |sources|·64
    rows regardless of corpus size; ``{state_dir}/estimate/batch_id=N``
    the derived (source, est) table.

    SCALE: per trigger the micro-batch aggregates to ≤ |sources|·64
    register rows map-side, merges against the same-sized state, and
    the estimate is |sources| rows of scalar math. Nothing re-reads the
    corpus; state is sketch-sized forever."""
    from ..functions.text import hll_estimate_frame, hll_register_frame

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _prev(spark, state_dir, "regs", batch_id)
        merged = _merge(
            hll_register_frame(batch_df), prev, ["source", "reg"], F.max("r").alias("r")
        )
        regs = _commit_read(merged, state_dir, "regs", batch_id)
        _commit(hll_estimate_frame(regs), state_dir, "estimate", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E23: live latency-quantile monitor ------------------------------------
def hdr_quantile_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E23: the live twin of batch D54 — each micro-batch's HDR bucket
    counts (FIXED 2^(k/8) boundaries, so bucket ids never depend on the
    data seen so far) merge into batchId-versioned running counts by
    plain addition, and the p50/p95/p99 estimate table is re-derived
    per trigger via the SHARED hdr_quantiles_frame — live latency
    percentiles with O(topics · 137) state forever. Equals batch D54's
    estimates exactly once the stream drains (the fixed boundaries are
    what make that convergence possible — an equi-width histogram's
    bins would shift as the observed range grows).

    State layout: ``{state_dir}/counts/batch_id=N`` (merged counts
    AFTER batch N), ``{state_dir}/quantiles/batch_id=N`` (derived
    estimates). Replays re-merge the same batch into the same directory
    — idempotent under at-least-once (the ``_commit`` replay contract)."""
    from ..operators.timeseries import hdr_bucket_counts_frame, hdr_quantiles_frame

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select("topic", F.col("payload_value").alias("v"))
        prev = _prev(spark, state_dir, "counts", batch_id)
        merged = _merge(
            hdr_bucket_counts_frame(ev), prev, ["topic", "bucket"],
            F.sum("c").cast("bigint").alias("c"),
        )
        cnt = _commit_read(merged, state_dir, "counts", batch_id)
        _commit(hdr_quantiles_frame(cnt), state_dir, "quantiles", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E24: live funnel monitor ----------------------------------------------
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("e1", LongType()),
        StructField("e2", LongType()),
        StructField("e3", LongType()),
        StructField("max_eid", LongType()),
    ]
)
FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("step", LongType()),
        StructField("event_id", LongType()),
    ]
)


def _funnel_machine(key, pdfs: Iterator, state: GroupState):
    """Per-user funnel progression: first view, first click after it,
    first purchase after that (event_id order). Emits one row per step
    the user NEWLY reaches — the live twin of batch C23.

    ORDERED-DELIVERY CONTRACT (enforced, not assumed): within one
    trigger events sort by event_id before folding, so intra-batch
    disorder is free; ACROSS triggers state cannot rewind, so the
    source must deliver each user's events in event_id order — real
    Kafka guarantees order per PARTITION, so the producer must key the
    topic by user (the reference's own assumption: its fetcher consumes
    each partition in offset order, AbstractKafkaFetcherThread.java).
    The machine keeps the max event_id it has folded per user and
    FAILS FAST with this contract's name when a later trigger delivers
    an earlier event — a mis-keyed topic can never silently diverge
    from the proven batch twin
    (tests/test_streaming_replay.py::test_ordered_delivery_contract_enforced).

    STATE SCHEMA v2 (round 9, adds max_eid): a checkpoint written by
    the pre-contract machine fails Spark's state-schema compatibility
    check on restart. Run the one-time in-place upgrader
    (``state_upgrade.upgrade_funnel_checkpoint_v1_to_v2``) — O(|users|)
    state rewrite, no replay from origin — then resume this machine on
    the same checkpoint; full replay remains the fallback."""
    import pandas as pd

    rows = []
    for pdf in pdfs:
        rows.extend(zip((int(x) for x in pdf["event_id"]), pdf["event_type"]))
    rows.sort()  # one sort across ALL Arrow chunks of this group
    e1, e2, e3, max_eid = (
        state.get if state.exists else (None, None, None, None)
    )
    if rows and max_eid is not None and rows[0][0] <= max_eid:
        raise ValueError(
            f"ordered-delivery contract violated for user {key[0]}: event_id "
            f"{rows[0][0]} arrived after {max_eid} was already folded — key "
            f"the source topic by user (per-partition order is Kafka's only "
            f"guarantee) or re-ingest in order"
        )
    out = []
    for eid, etype in rows:
        if e1 is None and etype == "view":
            e1 = eid
            out.append((key[0], 1, eid))
        elif e1 is not None and e2 is None and etype == "click" and eid > e1:
            e2 = eid
            out.append((key[0], 2, eid))
        elif e2 is not None and e3 is None and etype == "purchase" and eid > e2:
            e3 = eid
            out.append((key[0], 3, eid))
    if rows:
        max_eid = rows[-1][0] if max_eid is None else max(max_eid, rows[-1][0])
    state.update((e1, e2, e3, max_eid))
    yield pd.DataFrame(out, columns=["user_id", "step", "event_id"])


def _reorder_split(key, rows: list, last_n: int, max_eid):
    """Shared hold/release protocol of the count-bounded reorder
    machines (E24/E26): sort the merged held+incoming rows (event_id
    leads each tuple), split off the `last_n`-newest as the new held
    residue, and fail fast — the SAME contract the plain machines
    enforce — if a release row sorts at or below the already-folded
    max_eid (beyond-buffer lateness: ≥ last_n + 1 later events
    preceded it). One definition so the guard condition and message
    cannot drift between the two machines. Returns
    (release, held, new_max_eid)."""
    rows.sort()
    release, held = (
        (rows[:-last_n], rows[-last_n:]) if len(rows) > last_n else ([], rows)
    )
    if release and max_eid is not None and release[0][0] <= max_eid:
        raise ValueError(
            f"ordered-delivery contract violated for user {key[0]}: event_id "
            f"{release[0][0]} arrived after {max_eid} was already folded and "
            f"after more than reorder_last_n={last_n} later events — widen "
            f"the buffer, key the source topic by user, or re-ingest in order"
        )
    new_max = max_eid
    if release:
        new_max = release[-1][0] if max_eid is None else max(max_eid, release[-1][0])
    return release, held, new_max


def _validate_reorder_last_n(last_n: int) -> None:
    """reorder_last_n=0 would make rows[:-0] the empty slice — a
    machine that releases NOTHING forever while the held arrays grow
    unbounded, silently. Reject degenerate buffers at plan-build."""
    if last_n < 1:
        raise ValueError(
            f"reorder_last_n must be >= 1 (got {last_n}); use None for the "
            "plain enforced-contract machine"
        )


FUNNEL_REORDER_STATE_SCHEMA = StructType(
    [
        StructField("e1", LongType()),
        StructField("e2", LongType()),
        StructField("e3", LongType()),
        StructField("max_eid", LongType()),
        StructField("held_eids", ArrayType(LongType())),
        StructField("held_types", ArrayType(StringType())),
    ]
)


def _funnel_machine_reorder(last_n: int):
    """The _funnel_machine with a count-bounded per-user reorder
    buffer — the sequence-number analogue of E45's ts-watermark
    ``reorder_gate`` (event_id is the order key here, so the horizon
    is a COUNT, not a time): each trigger merges the user's held
    residue with the incoming rows, releases all but the `last_n`
    newest into the fold, and holds those newest in state. Any
    within-user disorder of positional displacement ≤ last_n is
    absorbed; an event arriving after `last_n` later events were
    already released is beyond the buffer's promise and trips the
    SAME enforced contract (the mechanisms compose, exactly like
    gate + guard on E45). Drained output equals the plain machine on
    the per-user all-but-`last_n`-newest prefix — the monitor's
    completed prefix, the E46 occupied-minutes convention."""

    def machine(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        rows = []
        for pdf in pdfs:
            rows.extend(zip((int(x) for x in pdf["event_id"]), pdf["event_type"]))
        if state.exists:
            e1, e2, e3, max_eid, h_eids, h_types = state.get
            rows.extend(zip((int(x) for x in h_eids or []), h_types or []))
        else:
            e1 = e2 = e3 = max_eid = None
        release, held, max_eid = _reorder_split(key, rows, last_n, max_eid)
        out = []
        for eid, etype in release:
            if e1 is None and etype == "view":
                e1 = eid
                out.append((key[0], 1, eid))
            elif e1 is not None and e2 is None and etype == "click" and eid > e1:
                e2 = eid
                out.append((key[0], 2, eid))
            elif e2 is not None and e3 is None and etype == "purchase" and eid > e2:
                e3 = eid
                out.append((key[0], 3, eid))
        state.update(
            (e1, e2, e3, max_eid, [e for e, _ in held], [t for _, t in held])
        )
        yield pd.DataFrame(out, columns=["user_id", "step", "event_id"])

    return machine


def funnel_stream(stream: DataFrame, reorder_last_n: int | None = None) -> DataFrame:
    """E24: live ordered-funnel tracking. State is THREE longs per user
    (bounded by user cardinality, not stream length); each trigger
    shuffles only its micro-batch on user_id. Emitted step rows are
    exactly the first-reach events batch C23 counts.
    ``reorder_last_n=B`` absorbs within-user disorder of displacement
    ≤ B via a count-bounded holdback (see _funnel_machine_reorder);
    default None keeps the plain enforced-contract machine."""
    if reorder_last_n is not None:
        _validate_reorder_last_n(reorder_last_n)
        return stream.groupBy("user_id").applyInPandasWithState(
            _funnel_machine_reorder(reorder_last_n),
            FUNNEL_OUTPUT_SCHEMA,
            FUNNEL_REORDER_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    return stream.groupBy("user_id").applyInPandasWithState(
        _funnel_machine,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- E25: live BM25 index maintenance --------------------------------------
def bm25_index_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E25: incremental search-index maintenance — each document batch
    appends its watch-term postings (doc, term, tf) and doc lengths to
    batchId-versioned index state, and the BM25 top-K for the watch
    query is re-ranked per trigger via the SHARED bm25_topk_from frame.
    Append-only ingest makes both state tables pure unions (a doc
    arrives exactly once), so the final ranking equals batch D57's
    bit-for-bit once the stream drains.

    State layout: ``{state_dir}/tf/batch_id=N`` and
    ``{state_dir}/dl/batch_id=N`` hold the accumulated index AFTER
    batch N; ``{state_dir}/topk/batch_id=N`` the ranking. Replays
    rewrite their own directories (the ``_commit`` replay contract).

    SCALE: per trigger the batch contributes |batch| doc-length rows
    and only watch-term postings; df/N/avdl derive from the index
    frames exactly as in batch. The doc-length table grows with the
    CORPUS — it IS the index (same argument as E15's signature store),
    not per-key stream state."""
    from ..functions.text import bm25_doclen_frame, bm25_tf_frame, bm25_topk_from

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text")
        new_tf = bm25_tf_frame(docs)
        new_dl = bm25_doclen_frame(docs)
        committed = []
        for kind, frame in (("tf", new_tf), ("dl", new_dl)):
            prev = _prev(spark, state_dir, kind, batch_id)
            merged = frame if prev is None else frame.unionByName(prev)
            committed.append(_commit_read(merged, state_dir, kind, batch_id))
        tf, dl = committed
        _commit(bm25_topk_from(tf, dl), state_dir, "topk", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E26: live as-of join ---------------------------------------------------
ASOF_STATE_SCHEMA = StructType(
    [StructField("last_view", LongType()), StructField("max_eid", LongType())]
)
ASOF_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_id", LongType()),
        StructField("purchase_value", DoubleType()),
        StructField("prior_view_id", LongType()),
        StructField("id_gap", LongType()),
    ]
)


def _asof_machine(key, pdfs: Iterator, state: GroupState):
    """Per-user streaming as-of: carry the most recent view id; each
    purchase emits its match row immediately — the live twin of batch
    C25. Two longs of state per user, emitted rows never revised.

    ORDERED-DELIVERY CONTRACT (enforced, not assumed): intra-batch
    disorder sorts away; across triggers the carried last-view cannot
    rewind, so the source must be keyed by user (per-partition order
    is Kafka's only guarantee — the reference's fetcher makes the same
    per-partition assumption, AbstractKafkaFetcherThread.java). The
    machine tracks the max folded event_id per user and FAILS FAST on
    a later trigger delivering an earlier event
    (tests/test_streaming_replay.py::test_ordered_delivery_contract_enforced).
    STATE SCHEMA v2 (round 9, adds max_eid): pre-contract checkpoints
    fail the state-schema compatibility check on restart. Run
    ``state_upgrade.upgrade_asof_checkpoint_v1_to_v2`` for the
    O(|users|) in-place migration (see _funnel_machine)."""
    import pandas as pd

    rows = []
    for pdf in pdfs:
        rows.extend(
            zip(
                (int(x) for x in pdf["event_id"]),
                pdf["event_type"],
                (float(x) for x in pdf["value"]),
            )
        )
    rows.sort()  # one sort across ALL Arrow chunks of this group
    last_view, max_eid = state.get if state.exists else (None, None)
    if rows and max_eid is not None and rows[0][0] <= max_eid:
        raise ValueError(
            f"ordered-delivery contract violated for user {key[0]}: event_id "
            f"{rows[0][0]} arrived after {max_eid} was already folded — key "
            f"the source topic by user (per-partition order is Kafka's only "
            f"guarantee) or re-ingest in order"
        )
    out = []
    for eid, etype, val in rows:
        if etype == "view":
            last_view = eid
        elif etype == "purchase":
            out.append(
                (
                    key[0],
                    eid,
                    val,
                    last_view,
                    None if last_view is None else eid - last_view,
                )
            )
    if rows:
        max_eid = rows[-1][0] if max_eid is None else max(max_eid, rows[-1][0])
    state.update((last_view, max_eid))
    yield pd.DataFrame(
        out,
        columns=["user_id", "purchase_id", "purchase_value", "prior_view_id", "id_gap"],
    )


ASOF_REORDER_STATE_SCHEMA = StructType(
    [
        StructField("last_view", LongType()),
        StructField("max_eid", LongType()),
        StructField("held_eids", ArrayType(LongType())),
        StructField("held_types", ArrayType(StringType())),
        StructField("held_values", ArrayType(DoubleType())),
    ]
)


def _asof_machine_reorder(last_n: int):
    """The _asof_machine behind the same count-bounded per-user
    reorder buffer as _funnel_machine_reorder: hold the `last_n`
    newest events, fold only the stable prefix, fail fast on
    beyond-buffer lateness. Drained output equals the plain machine
    on the per-user all-but-`last_n`-newest prefix."""

    def machine(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(
                    (int(x) for x in pdf["event_id"]),
                    pdf["event_type"],
                    (float(x) for x in pdf["value"]),
                )
            )
        if state.exists:
            last_view, max_eid, h_eids, h_types, h_vals = state.get
            rows.extend(
                zip(
                    (int(x) for x in h_eids or []),
                    h_types or [],
                    (float(x) for x in h_vals or []),
                )
            )
        else:
            last_view = max_eid = None
        release, held, max_eid = _reorder_split(key, rows, last_n, max_eid)
        out = []
        for eid, etype, val in release:
            if etype == "view":
                last_view = eid
            elif etype == "purchase":
                out.append(
                    (
                        key[0],
                        eid,
                        val,
                        last_view,
                        None if last_view is None else eid - last_view,
                    )
                )
        state.update(
            (
                last_view,
                max_eid,
                [e for e, _, _ in held],
                [t for _, t, _ in held],
                [v for _, _, v in held],
            )
        )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "purchase_id", "purchase_value", "prior_view_id", "id_gap",
            ],
        )

    return machine


def asof_stream(stream: DataFrame, reorder_last_n: int | None = None) -> DataFrame:
    """E26: live as-of join (purchases asof views). Structured Streaming
    has no asof join either — this is its canonical stateful
    re-expression: one long of state per user, append-only output,
    exactly the rows batch C25 computes. ``reorder_last_n=B`` absorbs
    within-user disorder of displacement ≤ B (see
    _asof_machine_reorder); default None keeps the plain
    enforced-contract machine."""
    if reorder_last_n is not None:
        _validate_reorder_last_n(reorder_last_n)
        return stream.groupBy("user_id").applyInPandasWithState(
            _asof_machine_reorder(reorder_last_n),
            ASOF_OUTPUT_SCHEMA,
            ASOF_REORDER_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    return stream.groupBy("user_id").applyInPandasWithState(
        _asof_machine,
        ASOF_OUTPUT_SCHEMA,
        ASOF_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --- E27: live DSIR model monitor ------------------------------------------
def dsir_model_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E27: the live twin of batch D63's feature model — as document
    batches land (target and candidate sides mixed, exactly as a crawl
    topic delivers them), each micro-batch's hashed-bucket token counts
    merge additively into batchId-versioned running counts, and the
    add-1-smoothed log importance-ratio table is re-derived per trigger
    via the SHARED dsir_ratio_frame — so a selection job always scores
    against the current model while ingest is still running. Equals
    batch D63's ratio table bit-for-bit once the stream drains (counts
    are additive; the ratio derivation is the same frame).

    State layout: ``{state_dir}/counts/batch_id=N`` (merged per-bucket
    target/candidate counts AFTER batch N), ``{state_dir}/ratio/
    batch_id=N`` (the model derived from them). Replays re-merge the
    same batch into the same directory — idempotent under
    at-least-once (the ``_commit`` replay contract).

    SCALE: state is <= DSIR_BUCKETS rows forever; each trigger
    partial-aggs only its micro-batch and merges against that
    fixed-width table. Nothing ever re-reads the corpus."""
    from ..operators.training import (
        dsir_counts_frame,
        dsir_ratio_frame,
        dsir_token_buckets_frame,
    )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(
            "doc_id",
            "text",
            F.expr("CAST(substring(source, 4) AS INT) % 2").alias("side"),
        )
        merged = _merge(
            dsir_counts_frame(dsir_token_buckets_frame(docs)),
            _prev(spark, state_dir, "counts", batch_id),
            ["b"],
            F.sum("ct").cast("bigint").alias("ct"),
            F.sum("cr").cast("bigint").alias("cr"),
        )
        cnt = _commit_read(merged, state_dir, "counts", batch_id)
        _commit(dsir_ratio_frame(cnt), state_dir, "ratio", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E28: live perceptual-hash image dedup ---------------------------------
def phash_dedup_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E28: the live twin of batch D65 — incoming image payloads are
    fingerprinted (Arrow aHash map) and tested against the STATIC
    corpus index (exact-hash groups + capped band table, built once
    before the first trigger) as they land; per-doc
    (is_exact_dup, n_corpus_near) decisions go to a batchId-partitioned
    parquet sink via the SHARED phash_match_frame, so stream and batch
    can never drift.

    SCALE: the index is per-corpus-epoch state (at 100 TB: a maintained
    signature TABLE refreshed as kept images are admitted — the E15/E20
    shape); each trigger pays one Arrow fingerprint map over its batch
    plus an asymmetric band join whose pairwise work scales with the
    batch's DISTINCT hashes. Payload bytes never shuffle. foreachBatch
    overwrites its own batch_id=N directory — at-least-once replays
    rewrite instead of duplicating."""
    from ..functions.multimodal import (
        phash_bands_frame,
        phash_frame,
        phash_match_frame,
    )

    corpus_ph = phash_frame(
        corpus_docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    g = corpus_ph.groupBy("phash").agg(
        F.count("*").cast("bigint").alias("n_exact")
    ).persist()
    bands = phash_bands_frame(g.select("phash")).persist()
    g.count(), bands.count()  # materialize once, before the first trigger

    def decide_batch(batch_df: DataFrame, batch_id: int) -> None:
        inc = phash_frame(
            batch_df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
        )
        phash_match_frame(inc, g, bands).write.mode("overwrite").parquet(
            _path(out_dir, None, batch_id)
        )

    return _start(stream, decide_batch, checkpoint_dir)


# --- E29: live decontamination gate ----------------------------------------
def contamination_gate_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E29: the live twin of batch D20 AND batch D67 — two held-out
    eval gates, both benchmark-sized at ANY corpus scale, built once
    and broadcast: (1) D20's whole-document normalized-hash set, and
    (2) D67's sliding 13-gram hash set (the GPT-3/PaLM rule: sharing
    ANY 13-gram with an eval doc is contamination, catching eval text
    quoted inside a larger page that the whole-doc hash misses). Each
    incoming batch is gated as it lands, emitting one row per
    (doc, matched eval doc) with ``via`` = 'exact' | 'ngram' — or a
    clean row with NULL eval_doc_id — to a batchId-partitioned sink.
    Rolling the decisions up reproduces batch D20's per-source counts
    and batch D67's per-doc gram/eval-doc counts exactly (the stream
    test asserts both). Per D67's convention, eval docs themselves are
    gated only by the exact rule (they are held out, not training
    candidates; an eval doc quoting another eval doc is not a training
    leak).

    SCALE: the gate is one scan + md5 (+ one gram explode) per batch
    and two broadcast joins — no shuffle touches the corpus; the only
    shuffled rows are broadcast-join SURVIVORS (contaminated docs,
    rare by construction). This is the shape a crawl pipeline uses to
    keep benchmark text out of training data AT INGEST instead of
    sweeping after the fact. foreachBatch overwrites its own
    batch_id=N directory (idempotent under at-least-once replays)."""
    from ..operators.dedup import decon_eval_filter, decon_grams_frame

    norm_h = F.md5(F.expr(r"trim(regexp_replace(lower(text), '\\s+', ' '))"))
    is_eval = decon_eval_filter()
    eval_docs = corpus_docs.select("doc_id", "text").filter(is_eval)
    eval_set = (
        eval_docs.select(F.col("doc_id").alias("eval_doc_id"), norm_h.alias("h"))
        .persist()
    )
    eval_set.count()  # materialize once, before the first trigger
    eval_grams = (
        decon_grams_frame(eval_docs)
        .select("g", F.col("doc_id").alias("eval_doc_id"))
        .distinct()
        .persist()
    )
    eval_grams.count()

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.select("doc_id", "source", norm_h.alias("h"))
        # matches drop self-hits (an eval doc streaming past its own
        # hash is not contamination); docs left with NO match row —
        # including eval docs whose only hit was themselves — get one
        # clean row via the anti-join, so every incoming doc decides.
        matches = (
            n.join(F.broadcast(eval_set), "h")
            .filter(F.col("doc_id") != F.col("eval_doc_id"))
            .select(
                "doc_id",
                "source",
                "eval_doc_id",
                F.lit("exact").alias("via"),
                F.lit(None).cast("long").alias("n_shared_grams"),
                F.lit(None).cast("long").alias("n_gram_hits"),
                F.lit(True).alias("contaminated"),
            )
        )
        # n-gram gate (D67): incoming NON-eval docs only; per surviving
        # (doc, eval_doc) pair the distinct shared-gram count, plus the
        # doc's distinct-gram total replicated on each pair row so the
        # batch rollup reproduces D67's n_gram_hits without restating
        # the join. Each doc's grams live entirely in its own batch, so
        # the per-doc aggregate is complete with no cross-batch state.
        ghits = (
            decon_grams_frame(batch_df.filter(~is_eval).select("doc_id", "text"))
            .join(F.broadcast(eval_grams), "g")
        )
        per_doc = ghits.groupBy("doc_id").agg(
            F.countDistinct("g").alias("n_gram_hits")
        )
        # source re-join direction: the survivor aggregate (one row per
        # contaminated (doc, eval_doc) pair — rare by construction) is
        # the SMALL side and the full batch projection the probe side.
        # No explicit broadcast hint: contamination volume is
        # data-dependent (a micro-batch full of quoted eval text could
        # blow a forced broadcast — the same reasoning that removed
        # batch D67's spine hint), so AQE broadcasts when the measured
        # aggregate is small and falls back to a shuffle join when a
        # pathological batch makes it large.
        gm_agg = (
            ghits.groupBy("doc_id", "eval_doc_id")
            .agg(F.countDistinct("g").alias("n_shared_grams"))
            .join(per_doc, "doc_id")
        )
        gmatches = (
            batch_df.select("doc_id", "source")
            .join(gm_agg, "doc_id")
            .select(
                "doc_id",
                "source",
                "eval_doc_id",
                F.lit("ngram").alias("via"),
                F.col("n_shared_grams").cast("long"),
                F.col("n_gram_hits").cast("long"),
                F.lit(True).alias("contaminated"),
            )
        )
        flagged = matches.unionByName(gmatches)
        clean = (
            n.join(flagged.select("doc_id").distinct(), "doc_id", "left_anti")
            .select(
                "doc_id",
                "source",
                F.lit(None).cast("long").alias("eval_doc_id"),
                F.lit(None).cast("string").alias("via"),
                F.lit(None).cast("long").alias("n_shared_grams"),
                F.lit(None).cast("long").alias("n_gram_hits"),
                F.lit(False).alias("contaminated"),
            )
        )
        flagged.unionByName(clean).write.mode("overwrite").parquet(
            _path(out_dir, None, batch_id)
        )

    return _start(stream, gate_batch, checkpoint_dir)


# --- E30: live system-load monitor ------------------------------------------
def system_load_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E30: the live twin of batch B22 — the rebalancer's supply/demand
    feedback ratio (Scalar.onLoad) maintained continuously instead of
    recomputed per sweep. Each micro-batch contributes per-job message/
    byte counters (additive) and the observed ts span (MIN/MAX-merge);
    the merged state re-derives the per-topic demand table and system
    ratio through the SHARED system_load_from kernel, so after the
    stream drains the load table equals batch B22 bit-for-bit.
    ``{state_dir}/jobs/batch_id=N`` holds (topic, part_id, n_msgs,
    n_bytes, mn, mx) after batch N — O(jobs) rows forever;
    ``{state_dir}/load/batch_id=N`` the derived B22 table. Replays
    re-merge the same batch into the same directory — idempotent under
    at-least-once (the E19/E21/E22 shape, covered by the replay-
    injection harness's state-snapshot pattern).

    SCALE: per trigger the micro-batch aggregates map-side to O(jobs)
    rows and merges against O(jobs) state; the load derivation is
    O(topics) scalar math. Nothing ever re-reads the log."""
    from ..operators.controller import system_load_from

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_jobs = (
            batch_df.withColumn("sec", F.expr("unix_timestamp(ts)"))
            .groupBy("topic", "part_id")
            .agg(
                F.sum(F.when(F.col("outcome") != "SKIP", 1).otherwise(0))
                .cast("bigint")
                .alias("n_msgs"),
                F.sum(
                    F.when(F.col("outcome") != "SKIP", F.col("size_bytes")).otherwise(0)
                )
                .cast("bigint")
                .alias("n_bytes"),
                F.min("sec").alias("mn"),
                F.max("sec").alias("mx"),
            )
        )
        merged = _merge(
            batch_jobs,
            _prev(spark, state_dir, "jobs", batch_id),
            ["topic", "part_id"],
            F.sum("n_msgs").cast("bigint").alias("n_msgs"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        state = _commit_read(merged, state_dir, "jobs", batch_id)
        span = state.agg((F.max("mx") - F.min("mn")).alias("span"))
        jobs = state.filter(F.col("n_msgs") > 0).select(
            "topic", "part_id", "n_msgs", "n_bytes"
        )
        _commit(system_load_from(jobs, span), state_dir, "load", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E31: live ANN query serving --------------------------------------------
def ann_query_serving_pipeline(
    query_stream: DataFrame, emb: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E31: the live twin of batch D69 — a stream of query vectors
    served against the STATIC corpus through the IVF coarse-cell index
    (the FAISS search path as a serving loop). The index frames — cell
    representatives and the cell-tagged corpus — are built once from
    the static embeddings table and persisted before the first trigger;
    each micro-batch of (qid, qv) queries runs the SHARED
    ivf_multiquery_topk kernel and lands its per-query top-K pages in a
    batchId-keyed sink. Stateless per query, so replays overwrite their
    own batch_id=N directory (idempotent under at-least-once); the
    union of streamed pages equals batch D69 row-for-row (the stream
    test asserts it).

    SCALE: per trigger the probe stage is |batch queries| × O(cells)
    row-local work; the probed (qid, cell) table broadcasts onto the
    cell-partitioned corpus so only probed cells are scanned; rank
    windows partition per query. Nothing re-reads the corpus between
    triggers beyond the probed cells, and no state accumulates."""
    from ..operators.similarity import QUERY_MOD, ivf_multiquery_topk

    rep_ids = emb.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    reps = (
        emb.join(F.broadcast(rep_ids), ["label", "vec_id"])
        .select("label", F.col("v").alias("rep_v"))
        .persist()
    )
    reps.count()  # materialize once, before the first trigger
    corpus = emb.filter(F.col("vec_id") % QUERY_MOD != 0).persist()
    corpus.count()

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        queries = batch_df.select("qid", "qv")
        _commit(ivf_multiquery_topk(queries, corpus, reps), out_dir, None, batch_id)

    return _start(query_stream, serve, checkpoint_dir)


# --- E32: live incremental snapshot diff ------------------------------------
def snapshot_diff_pipeline(
    change_stream: DataFrame, prior: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E32: the live twin of batch D70 — the Delta-/LakeFS-style
    snapshot audit maintained continuously from a CDC feed instead of
    recomputed per publish. ``change_stream`` carries doc events
    (doc_id, source, text, op) with op = 'upsert' | 'delete' (a
    tombstone for a prior doc); ``prior`` is the last PUBLISHED
    snapshot (doc_id, source, text). Each micro-batch classifies ONLY
    its touched docs against the prior — added / removed / changed /
    unchanged, through the shared ``snapshot_diff_hashed`` kernel — and
    folds the per-(source, status) doc counts + byte deltas into the
    batchId-versioned running ledger at ``{state_dir}/ledger/batch_id=N``.
    After the current snapshot has fully streamed past (every current
    doc upserted once, every prior-only doc tombstoned), the ledger
    equals batch D70's table bit-for-bit (the stream test asserts it).
    Contract: at most one event per doc_id per trigger (a log-compacted
    CDC topic's delivery shape).

    Replays re-derive batch N's ledger from the batch_id=N-1 state and
    overwrite batch_id=N — idempotent under at-least-once redelivery
    (the E15/E30 shape, covered by the replay-injection harness).

    SCALE: the prior snapshot is reduced ONCE to its 16-byte hash form
    (doc_id, source, h, nb) — 100 TB of text becomes tens of GB of
    state — and each trigger touches it through a BROADCAST semi-
    restriction on the batch's doc_ids, so the prior is never shuffled
    and full documents never leave their scan; the full-outer diff then
    joins two O(batch)-sized frames, and the ledger fold is an
    O(sources × 4) partial agg. On a real deployment the hashed prior
    is a doc_id-bucketed table so the touched-id probe also prunes
    files instead of re-scanning the hash frame per trigger."""
    from ..operators.training import snapshot_diff_hashed, snapshot_hash_frame

    prior_h = snapshot_hash_frame(prior).persist()
    prior_h.count()  # materialize the hash form once, before trigger 1

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ups = snapshot_hash_frame(
            batch_df.filter(F.col("op") == "upsert").select("doc_id", "source", "text")
        )
        touched = batch_df.select("doc_id").distinct()
        p_touched = prior_h.join(F.broadcast(touched), "doc_id")
        merged = _merge(
            snapshot_diff_hashed(ups, p_touched),
            _prev(spark, state_dir, "ledger", batch_id),
            ["source", "status"],
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bytes_delta").cast("bigint").alias("bytes_delta"),
        )
        _commit(merged, state_dir, "ledger", batch_id)

    return _start(change_stream, fold, checkpoint_dir)


# --- E33: live exact-substring ingest gate ----------------------------------
def substring_gate_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E33: the live twin of batch D74 — the Lee-et-al exact-substring
    rule as an at-ingest gate: each micro-batch of crawled docs is
    checked for >= 50-token spans already present in the PUBLISHED
    corpus, through the shared ``incr_substring_frame`` kernel, and its
    per-doc span verdicts (the spans to cut before the doc enters the
    corpus) land in a batchId-keyed sink. Stateless per batch, so
    replays overwrite their own batch_id=N directory (idempotent under
    at-least-once); the union of streamed verdicts equals batch D74
    row-for-row (the stream test asserts it).

    SCALE: the corpus index is built ONCE — one DISTINCT 16-byte hash
    per unique corpus window, persisted before the first trigger (at
    100 TB a hash-bucketed index table maintained per publish, the
    D36 band-table convention); each trigger pays |batch| window
    hashing plus a semi-join probed from the batch side, and only
    matching positions reach the per-doc island windows. Documents
    shorter than the window emit nothing, exactly as in batch."""
    from ..operators.dedup import es_token_frame, es_window_frame, incr_substring_frame

    ex_h = (
        es_window_frame(es_token_frame(corpus_docs)).select("h").distinct().persist()
    )
    ex_h.count()  # materialize the index once, before the first trigger

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        t_in = es_token_frame(batch_df.select("doc_id", "text"))
        _commit(incr_substring_frame(t_in, ex_h), out_dir, None, batch_id)

    return _start(stream, gate, checkpoint_dir)


# --- E34: live kNN-graph ingest ---------------------------------------------
def knn_ingest_pipeline(
    vec_stream: DataFrame, existing: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E34: the live twin of batch D77 — the embedding store's ingest
    loop: each micro-batch of newly embedded vectors gets its
    top-K neighbors against the EXISTING index through the shared
    ``incr_knn_frame`` kernel (band probe → distinct candidate pairs →
    one cosine per pair → per-src rank window), landing edge pages in
    a batchId-keyed sink. The existing-corpus band table and vector
    table are built and persisted once before the first trigger (at
    100 TB: a persisted band table + vec_id-bucketed vectors,
    maintained per publish — the D36 band-table convention). Stateless
    per batch, so replays overwrite their own batch_id=N directory
    (idempotent under at-least-once); the union of streamed edges
    equals batch D77 row-for-row (the stream test asserts it).

    SCALE: per trigger the work is |batch| signature folds + a band
    join probed from the batch side + one cosine per surviving pair;
    nothing rebuilds the graph and nothing re-reads the corpus beyond
    the dst fetch for survivors."""
    from ..operators.similarity import incr_knn_frame, knn_band_frame

    ex = existing.persist()
    ex.count()
    ex_bands = knn_band_frame(ex).persist()
    ex_bands.count()  # materialize the index once, before the first trigger

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.select("vec_id", "v")
        _commit(incr_knn_frame(incoming, ex_bands, ex), out_dir, None, batch_id)

    return _start(vec_stream, ingest, checkpoint_dir)


# --- E35: live quality-mixture monitor --------------------------------------
def quality_mixture_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E35: the live twin of batch D75's mixture rollup — the
    per-(source, quality-decile) composition of the corpus maintained
    continuously as docs land (the number a crawl operator watches to
    see a source's quality drift BEFORE the next training mix is cut).
    Each micro-batch scores its docs through the SHARED qc_frame
    kernel and folds per-(source, decile) doc/token/keep counters
    additively into ``{state_dir}/mix/batch_id=N`` — the E19/E30
    batchId-versioned shape, idempotent under at-least-once replays.
    After the stream drains, the state equals batch D75 grouped by
    (source, quality_decile) bit-for-bit (the stream test asserts it).

    SCALE: the classifier is a zero-shuffle per-row fold; per trigger
    the only exchange is the partial agg to O(sources × 10) rows,
    merged against O(sources × 10) state. Nothing ever re-reads the
    corpus."""
    from ..functions.text import qc_frame

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_mix = (
            qc_frame(batch_df.select("doc_id", "source", "text"))
            .groupBy("source", "quality_decile")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_keep"),
            )
        )
        merged = _merge(
            batch_mix,
            _prev(spark, state_dir, "mix", batch_id),
            ["source", "quality_decile"],
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_keep").cast("bigint").alias("n_keep"),
        )
        _commit(merged, state_dir, "mix", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E36: live index-drift monitor ------------------------------------------
def index_drift_pipeline(
    vec_stream: DataFrame, reps: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E36: the live twin of batch D79 — the index-refresh TRIGGER
    maintained continuously: each micro-batch of vectors is assigned to
    the as-built representatives (the shared _kmeans_assign kernel,
    broadcast packed reps, row-local), and per-cell (count,
    DECIMAL-summed squared distance) counters fold additively into
    ``{state_dir}/cells/batch_id=N``; the derived drift table
    (``{state_dir}/drift/batch_id=N``) goes through the SHARED
    drift_stats_from derivation, so after the stream drains it equals
    batch D79 bit-for-bit — DECIMAL addition is exact, so arrival
    chunking cannot move a single bit. Replays re-merge the same batch
    into the same directory (idempotent under at-least-once; the
    E19/E30 shape). When a drift row flips ``drifted``/``overloaded``,
    the operator runs the D72 refresh — monitor, act, audit: one index
    story.

    SCALE: per trigger the E-step is a row-local fold over the batch,
    the only exchange is the O(k) partial agg, and state is O(k) rows
    forever. Nothing ever re-reads the corpus."""
    from ..operators.similarity import _kmeans_assign, drift_stats_from

    packed = reps.persist()
    packed.count()  # materialize once, before the first trigger

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_cells = (
            _kmeans_assign(batch_df.select("vec_id", "v"), packed)
            .groupBy("cluster")
            .agg(
                F.count("*").cast("bigint").alias("n_members"),
                F.sum(F.expr("CAST(round(dist, 7) AS DECIMAL(20,7))")).alias("sum_d"),
            )
        )
        merged = _merge(
            batch_cells,
            _prev(spark, state_dir, "cells", batch_id),
            ["cluster"],
            F.sum("n_members").cast("bigint").alias("n_members"),
            F.sum("sum_d").cast("decimal(20,7)").alias("sum_d"),
        )
        state = _commit_read(merged, state_dir, "cells", batch_id)
        _commit(drift_stats_from(state), state_dir, "drift", batch_id)

    return _start(vec_stream, fold, checkpoint_dir)


# --- E37: live span-level decontamination ------------------------------------
def decon_span_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E37: the live twin of batch D80 — span-level decontamination as
    an at-ingest REWRITE instead of E29's drop verdict: each micro-batch
    of crawled docs has every token covered by a matched eval 13-gram
    cut (adjacent matches merged into maximal islands) through the
    shared ``decon_span_frame`` kernel, and the per-doc cut accounting +
    cleaned-text md5 land in a batchId-keyed sink. Incoming eval docs
    are held out, not rewritten (the D67/D80 convention — they are not
    training candidates). Stateless per batch, so replays overwrite
    their own batch_id=N directory (idempotent under at-least-once);
    the union of streamed rows equals batch D80 row-for-row (the
    stream test asserts it).

    SCALE: the eval 13-gram set is benchmark-sized at ANY corpus scale
    — built once from the held-out set, persisted before the first
    trigger, broadcast per trigger by the shared kernel. Each trigger
    pays |batch| tokenization + one gram explode; only broadcast-join
    survivors reach the per-doc island windows, and the cut is the D78
    ROW-LOCAL filter-with-index — full documents never shuffle."""
    from ..operators.dedup import (
        decon_eval_filter,
        decon_grams_frame,
        decon_span_frame,
    )

    eval_grams = (
        decon_grams_frame(corpus_docs.filter(decon_eval_filter()).select("doc_id", "text"))
        .select("g")
        .distinct()
        .persist()
    )
    eval_grams.count()  # materialize once, before the first trigger

    def rewrite(batch_df: DataFrame, batch_id: int) -> None:
        candidates = batch_df.filter(~decon_eval_filter()).select(
            "doc_id", "source", "text"
        )
        _commit(decon_span_frame(candidates, eval_grams), out_dir, None, batch_id)

    return _start(stream, rewrite, checkpoint_dir)


# --- E38: live KMV source-overlap sketches -----------------------------------
def kmv_sketch_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E38: the live twin of batch D81's sketch path — per-source KMV
    (bottom-k) shingle sketches maintained continuously as docs land,
    with the pair-wise overlap estimates re-derived per trigger. This
    is the KMV deployment shape Beyer et al. designed for: sketches are
    MERGEABLE, so each micro-batch's bottom-k folds into state by
    distinct-union + bottom-k again (bottom-k(bottom-k(A) ∪
    bottom-k(B)) = bottom-k(A ∪ B)), and after the stream drains the
    state IS the sketch of the whole corpus — the estimate columns
    equal batch D81's bit-for-bit (the stream test asserts it; the
    exact-audit columns are the batch grader's job and are exactly what
    a live deployment drops). State re-merged by a replayed batch is
    unchanged (set union is idempotent — the E19/E30 shape).

    SCALE: per trigger the corpus-facing work is |batch| tokenization +
    one shingle explode + one batch-vocab-bounded distinct; the fold
    touches only |sources|·k state rows, and the pair derivation is
    O(|sources|²·k) on broadcast frames through the SHARED
    kmv_pair_estimates kernel. Nothing ever re-reads the corpus, and
    state is |sources|·k rows forever."""
    from ..operators.dedup import kmv_bottomk, kmv_hash_frame, kmv_pair_estimates

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = kmv_bottomk(kmv_hash_frame(batch_df.select("source", "text")))
        prev = _prev(spark, state_dir, "sketch", batch_id)
        merged = kmv_bottomk(
            batch_sk if prev is None else batch_sk.unionByName(prev).distinct()
        )
        state = _commit_read(merged, state_dir, "sketch", batch_id)
        _commit(kmv_pair_estimates(state), state_dir, "pairs", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E39: live hybrid-RRF query serving --------------------------------------
def hybrid_serving_pipeline(
    query_stream: DataFrame,
    docs: DataFrame,
    emb: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """E39: the live twin of batch D85 — a stream of hybrid retrieval
    requests (qid, terms array, qv vector: the "more-like-this" request
    a serving tier receives) answered against the STATIC corpus through
    both arms — the BM25 posting/doc-length index and the corpus vector
    table — fused per query by reciprocal-rank (the D83 combiner).
    The serving index frames are built once from the static tables and
    persisted before the first trigger; each micro-batch runs the
    SHARED rrf_multiquery_frame kernel and lands per-query top-K pages
    in a batchId-keyed sink. Stateless per query, so replays overwrite
    their own batch_id=N directory (idempotent under at-least-once);
    the union of streamed pages equals batch D85 row-for-row (the
    stream test asserts it).

    SCALE: per trigger the lexical arm touches only the batch's posting
    slice (batch terms broadcast onto the persisted tf table) and the
    semantic arm broadcasts the request batch onto one corpus-vector
    scan; every window is per-QUERY; no state accumulates. At 100 TB
    the vector arm swaps to the IVF probed path (E31) with the same
    fusion kernel downstream."""
    from ..functions.text import TOKENS_SPARK
    from ..operators.similarity import _RRF_QUERY_MOD, rrf_multiquery_frame

    corpus = (
        docs.filter(F.col("doc_id") % _RRF_QUERY_MOD != 0)
        .select("doc_id", F.expr(TOKENS_SPARK).alias("ts"))
        .persist()
    )
    corpus.count()  # materialize once, before the first trigger
    tf = (
        corpus.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    tf.count()
    dl = corpus.select(
        "doc_id", F.expr("CAST(size(ts) AS BIGINT)").alias("dl")
    ).persist()
    dl.count()
    corpus_vecs = (
        emb.filter(F.col("vec_id") % _RRF_QUERY_MOD != 0)
        .select(F.col("vec_id").alias("doc_id"), "v")
        .persist()
    )
    corpus_vecs.count()

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        qterms = batch_df.select(
            "qid", F.explode("terms").alias("term")
        ).distinct()
        qvecs = batch_df.select("qid", "qv")
        _commit(
            rrf_multiquery_frame(qterms, qvecs, tf, dl, corpus_vecs), out_dir, None, batch_id
        )

    return _start(query_stream, serve, checkpoint_dir)


# --- E40: live vocabulary-growth monitor -------------------------------------
def vocab_growth_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E40: the live twin of batch D84 — the per-source Heaps'-law
    vocabulary-growth fit maintained continuously as docs land (the
    monitor that tells a crawl operator a source has gone templated —
    its β collapsing — while the crawl is still running, instead of at
    the next corpus audit). Each micro-batch extends the per-source
    ingest curve: tokens anti-join the batchId-versioned vocab state to
    find genuinely-new types, per-doc curve points pick up the running
    (N, V) carry-in from state, and the points' 8-dp DECIMAL OLS terms
    (the SHARED heaps_xy_frame kernel) fold ADDITIVELY into per-source
    moment state — DECIMAL addition is exact and order-free, so after
    the stream drains doc-id-ordered (the E24/E26 per-key delivery
    convention) the fit table re-derived through the SHARED
    heaps_fit_from kernel equals batch D84 bit-for-bit (the stream
    test asserts it). Replays re-derive batch N's state from
    batch_id=N-1 and overwrite — idempotent under at-least-once
    redelivery (the E19/E30 shape, replay-injection proven).

    SCALE: per trigger the corpus-facing work is |batch| tokenization +
    one batch-vocab-bounded first-occurrence agg + an anti-join against
    the vocab state (vocab-sized — orders of magnitude below the
    corpus, the E21/E25 state class); the curve window sees one row per
    BATCH DOC; moment state is O(sources)·9 forever. Nothing ever
    re-reads the corpus."""
    from pyspark.sql import Window

    from ..functions.text import (
        TOKENS_SPARK,
        heaps_fit_from,
        heaps_moments_frame,
        heaps_xy_frame,
    )

    _M_COLS = ["sx_d", "sy_d", "sxy_d", "sxx_d", "syy_d"]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = batch_df.select(
            "source", "doc_id", F.expr(TOKENS_SPARK).alias("ts")
        )
        per_doc = toks.select(
            "source", "doc_id", F.expr("CAST(size(ts) AS BIGINT)").alias("n_toks")
        )
        exploded = toks.select("source", "doc_id", F.explode("ts").alias("token"))
        batch_vocab = exploded.groupBy("source", "token").agg(
            F.min("doc_id").alias("fd")
        )
        prev_vocab = _prev(spark, state_dir, "vocab", batch_id)
        new_first = (
            batch_vocab
            if prev_vocab is None
            else batch_vocab.join(prev_vocab, ["source", "token"], "left_anti")
        )
        new_types = new_first.groupBy(
            "source", F.col("fd").alias("doc_id")
        ).agg(F.count("*").cast("bigint").alias("nt"))
        prev_m = _prev(spark, state_dir, "moments", batch_id)
        carry = (
            prev_m.select(
                "source",
                F.col("n_tokens").alias("base_n"),
                F.col("n_types").alias("base_v"),
            )
            if prev_m is not None
            else None
        )
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        curve = per_doc.join(new_types, ["source", "doc_id"], "left")
        if carry is not None:
            curve = curve.join(F.broadcast(carry), "source", "left")
        else:
            curve = curve.withColumn("base_n", F.lit(None).cast("bigint")).withColumn(
                "base_v", F.lit(None).cast("bigint")
            )
        curve = curve.select(
            "source",
            "doc_id",
            (
                F.sum("n_toks").over(w) + F.coalesce(F.col("base_n"), F.lit(0))
            ).alias("big_n"),
            (
                F.sum(F.coalesce(F.col("nt"), F.lit(0))).over(w)
                + F.coalesce(F.col("base_v"), F.lit(0))
            ).alias("v"),
        ).filter((F.col("big_n") > 0) & (F.col("v") > 0))
        merged = _merge(
            heaps_moments_frame(heaps_xy_frame(curve)),
            prev_m,
            ["source"],
            F.sum("n_points").cast("bigint").alias("n_points"),
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
            F.max("n_types").cast("bigint").alias("n_types"),
            *[F.sum(c).alias(c) for c in _M_COLS],
        ).select(
            "source",
            "n_points",
            "n_tokens",
            "n_types",
            *[F.col(c).cast("decimal(28,8)").alias(c) for c in _M_COLS],
        )
        state = _commit_read(merged, state_dir, "moments", batch_id)
        _commit(heaps_fit_from(state), state_dir, "fit", batch_id)
        new_vocab = batch_vocab.select("source", "token")
        if prev_vocab is not None:
            new_vocab = new_vocab.unionByName(
                prev_vocab.select("source", "token")
            ).distinct()
        _commit(new_vocab, state_dir, "vocab", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E41: live Zipf-drift monitor ---------------------------------------------
def zipf_drift_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E41: the live twin of batch D44 — the per-source Zipf
    rank-frequency fit maintained continuously as docs land (slope
    drifting away from ≈ −1 is the live signature of a source turning
    templated/synthetic mid-crawl — the distribution-shape complement
    of E40's growth-side β). Per micro-batch the (source, token) counts
    fold ADDITIVELY into batchId-versioned state (vocab-bounded, the
    E21 class); the fit CANNOT fold — rank order shifts as counts grow
    — so slope/r² re-derive per trigger from the merged counts through
    the SHARED zipf_fit_from kernel. Counts are exact integers, so the
    drained fit equals batch D44 bit-for-bit under ANY chunking (no
    ordered-delivery requirement — unlike E40, nothing here depends on
    doc order). Replays re-derive batch N's state from batch_id=N-1
    and overwrite — idempotent (the ``_commit`` replay contract).

    SCALE: per trigger the corpus-facing work is |batch| tokenization +
    one batch-vocab-bounded partial agg; the fold and the re-derive
    touch only the vocab-sized count state (the rank window partitions
    BY SOURCE over the vocab frame, never the corpus). Nothing ever
    re-reads the corpus; state is vocab-bounded forever."""
    from ..functions.text import TOKENS_SPARK, zipf_fit_from

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_cnt = (
            batch_df.select("source", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
            .groupBy("source", "token")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        merged = _merge(
            batch_cnt,
            _prev(spark, state_dir, "counts", batch_id),
            ["source", "token"],
            F.sum("c").cast("bigint").alias("c"),
        )
        state = _commit_read(merged, state_dir, "counts", batch_id)
        _commit(zipf_fit_from(state), state_dir, "fit", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E42: live perplexity gate -------------------------------------------------
def perplexity_gate_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E42: the live twin of batch D88 — at-ingest perplexity scoring
    against a PUBLISHED interpolated bigram LM: the (uni, bigram,
    context, totals) frames are trained once from the corpus via the
    shared ``bigram_lm_frames`` kernel and persisted before the first
    trigger (the E33/E34/E39 once-built serving-index shape; a D72-style
    refresh swaps them between triggers); each micro-batch of crawled
    docs scores statelessly through the shared ``bigram_score_frame``
    kernel — ce_unigram / ce_bigram / order_gain per doc, the CCNet-band
    admission signal — into a batchId-keyed sink. Replays overwrite
    their own batch_id=N directory (idempotent under at-least-once);
    the union of streamed rows equals batch D88 row-for-row when the
    stream replays the LM's own corpus (the stream test asserts it),
    and out-of-vocabulary ingest text scores finitely through the
    kernel's documented left-join backoff.

    SCALE: the LM frames are vocab-bounded at ANY corpus scale and are
    never rebuilt per trigger; each trigger pays |batch| tokenization +
    the token-key joins against the persisted frames (AQE broadcasts
    them when they fit) + one per-doc partial agg. Nothing re-reads the
    corpus; nothing is pairwise."""
    from ..functions.text import bigram_lm_frames, bigram_score_frame

    # uni and pc come back eagerly checkpointed; only the frames derived
    # from them need materializing before the first trigger
    uni, pc, ctx, tot = bigram_lm_frames(corpus_docs.select("doc_id", "text"))
    ctx, tot = ctx.persist(), tot.persist()
    ctx.count(), tot.count()

    def score(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        _commit(bigram_score_frame(docs, uni, pc, ctx, tot), out_dir, None, batch_id)

    return _start(stream, score, checkpoint_dir)


# --- E43: live PMI collocation monitor -----------------------------------------
def pmi_collocation_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E43: the live twin of batch D86 — the top-K PMI collocation
    table maintained continuously as docs land (a new high-PMI pair
    appearing mid-crawl is the live signature of a phrase entering the
    corpus — the association-side complement of E41's distribution
    fit). Per micro-batch the unigram AND adjacent-pair counts fold
    ADDITIVELY into batchId-versioned state (vocab- / pair-bounded,
    the E21/E41 class); PMI and the top-K CANNOT fold — every count
    shifts every probability — so the table re-derives per trigger
    from the merged counts through the SHARED ``pmi_topk_from`` kernel
    (N and M come from the state tables themselves). Counts are exact
    integers, so the drained table equals batch D86 bit-for-bit under
    ANY chunking; replays re-derive batch N's state from batch_id=N-1
    and overwrite — idempotent (the ``_commit`` replay contract).

    SCALE: per trigger the corpus-facing work is |batch| tokenization
    + two batch-vocab-bounded partial aggs; the fold and the re-derive
    touch only the vocab-/pair-sized count state (the kernel's top-K is
    limit-first, its joins broadcast the vocab table). Nothing ever
    re-reads the corpus; state is vocab-bounded forever."""
    from ..functions.text import pmi_count_frames, pmi_topk_from

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_uni, batch_pc = pmi_count_frames(batch_df)
        prev_uni = _prev(spark, state_dir, "uni", batch_id)
        prev_pc = _prev(spark, state_dir, "pc", batch_id)
        uni = _merge(
            batch_uni, prev_uni, ["token"], F.sum("freq").cast("bigint").alias("freq")
        )
        pc = _merge(
            batch_pc, prev_pc, ["tok_l", "tok_r"],
            F.sum("pair_freq").cast("bigint").alias("pair_freq"),
        )
        uni = _commit_read(uni, state_dir, "uni", batch_id)
        pc = _commit_read(pc, state_dir, "pc", batch_id)
        _commit(pmi_topk_from(uni, pc), state_dir, "topk", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E44: live contrastive-triplet mining --------------------------------------
def triplet_mining_pipeline(
    vec_stream: DataFrame, existing: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E44: the live twin of batch D90 — the embedding-training
    curation loop run at ingest: each micro-batch of newly embedded
    vectors mines its (anchor, positive, hard-negative) triplets
    against the EXISTING index through the shared
    ``_incr_scored_frame`` + ``triplets_from_scored`` kernels (band probe → distinct candidate
    pairs → one cosine per pair → per-anchor positive pick + margin-cut
    hard-negative pick), landing triplet pages in a batchId-keyed
    sink. The existing-corpus band table and vector table are built
    and persisted once before the first trigger (the E34 serving-index
    shape). Stateless per batch, so replays overwrite their own
    batch_id=N directory (idempotent under at-least-once); the union
    of streamed triplets equals batch D90 row-for-row (the stream test
    asserts it).

    SCALE: per trigger the work is |batch| signature folds + a
    batch-probed band join + one cosine per surviving pair; the two
    per-anchor windows see only the batch's candidates. Nothing
    re-mines the corpus graph and nothing re-reads the corpus beyond
    the dst fetch for survivors."""
    from ..operators.similarity import (
        _incr_scored_frame,
        knn_band_frame,
        triplets_from_scored,
    )

    ex = existing.persist()
    ex.count()
    ex_bands = knn_band_frame(ex).persist()
    ex_bands.count()  # materialize the index once, before the first trigger

    def mine(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.select("vec_id", "v")
        # per-trigger persist released in finally — a long-running
        # stream must not accumulate one cached frame per trigger
        # (the incremental_dedup convention)
        scored = _incr_scored_frame(incoming, ex_bands, ex).persist()
        try:
            _commit(triplets_from_scored(scored), out_dir, None, batch_id)
        finally:
            scored.unpersist()

    return _start(vec_stream, mine, checkpoint_dir)


# --- E45: live Markov-transition monitor ---------------------------------------
def markov_monitor_pipeline(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    reorder_watermark_s: int | None = None,
):
    """E45: the live twin of batch D91 — the first-order event-type
    transition matrix maintained continuously as the event log lands
    (a transition row surging out of rank is the live signature of a
    behavior shift — bot traffic, a broken funnel step). The subtle
    part is the BATCH SEAM: a user's last event in trigger N pairs
    with their first event in trigger N+1, so a stateless per-batch
    count would silently drop every boundary transition. Each trigger
    therefore unions the batchId-versioned per-user CARRY state (each
    user's single latest (ts, event_id, event_type) row) with the
    batch, extracts pairs through the shared ``markov_pairs_frame``
    kernel — one carry row per user means every extracted pair
    involves a batch event, so nothing double-counts — folds the
    (from, to) counts ADDITIVELY into batchId-versioned count state,
    and re-derives probabilities/ranks through the shared
    ``markov_table_from`` kernel (probabilities cannot fold: every
    count shifts every row total). Counts are exact integers, so the
    drained table equals batch D91 bit-for-bit under any contiguous
    time-ordered chunking; replays re-derive batch N's state from
    batch_id=N-1 and overwrite — idempotent (the ``_commit`` replay contract).

    ORDERED-DELIVERY CONTRACT (enforced, not assumed): the carry
    mechanism is sound only if each user's events arrive in
    (ts, event_id) order across triggers — real Kafka guarantees order
    per PARTITION, so the producer must key the topic by user (the
    reference's fetcher makes the same per-partition assumption,
    AbstractKafkaFetcherThread.java). Each trigger therefore guards
    the batch at scan time: any event sorting BEFORE its user's
    carried last-seen (ts, event_id) raises a descriptive error inside
    the projection (executor-side ``raise_error`` — fail-fast on the
    first violating row, no extra pass), so a mis-keyed topic can
    never silently drop or double-count a boundary transition
    (tests/test_streaming_replay.py::test_ordered_delivery_contract_enforced).
    When the source's disorder is BOUNDED rather than absent (a topic
    keyed coarser than user), pass ``reorder_watermark_s=W``: the
    ``reorder_gate`` buffer absorbs any ≤ W within-user disorder
    before the fold (the guard then only fires on > W lateness — the
    two mechanisms compose; see reorder_gate).

    SCALE: per trigger the work is one lead window over
    |batch| + |touched users| rows partitioned per user; the carry
    state is O(users), the count state O(event-types²) forever, and
    the re-derive touches only the tiny count table. Nothing ever
    re-reads the log."""
    from pyspark.sql import Window

    from ..operators.timeseries import markov_pairs_frame, markov_table_from

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select("user_id", "ts", "event_id", "event_type")
        if reorder_watermark_s is not None:
            ev = reorder_gate(ev, state_dir, batch_id, reorder_watermark_s)
        prev_carry = _prev(spark, state_dir, "carry", batch_id)
        prev_counts = _prev(spark, state_dir, "counts", batch_id)
        if prev_carry is not None:
            # ordered-delivery guard: a batch event sorting before its
            # user's carried last-seen key violates the per-user order
            # contract — raise at scan time rather than mis-count.
            carry_keys = prev_carry.select(
                "user_id", F.struct("ts", "event_id").alias("carry_key")
            )
            ev = (
                ev.join(carry_keys, "user_id", "left")
                .withColumn(
                    "event_id",
                    F.when(
                        F.col("carry_key").isNull()
                        # STRICT >: an event EQUAL to the carried key is
                        # an at-least-once redelivery of the already-
                        # folded event — accepting it would extract a
                        # spurious self-transition (silent double-count);
                        # E24/E26 treat the same case (<= max_eid) as a
                        # violation, so the three twins agree (review r09)
                        | (F.struct("ts", "event_id") > F.col("carry_key")),
                        F.col("event_id"),
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "ordered-delivery contract violated for user "
                                ),
                                F.col("user_id").cast("string"),
                                F.lit(
                                    ": an event arrived before the user's carried "
                                    "last-seen (ts, event_id) — key the source "
                                    "topic by user (per-partition order is "
                                    "Kafka's only guarantee) or re-ingest in order"
                                ),
                            )
                        )
                    ),
                )
                .drop("carry_key")
            )
        combined = ev if prev_carry is None else ev.unionByName(prev_carry)
        batch_cnt = (
            markov_pairs_frame(combined)
            .groupBy("event_from", "event_to")
            .agg(F.count("*").cast("bigint").alias("n_trans"))
        )
        counts = _merge(
            batch_cnt, prev_counts, ["event_from", "event_to"],
            F.sum("n_trans").cast("bigint").alias("n_trans"),
        )
        w_last = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        carry = (
            combined.withColumn("rn", F.row_number().over(w_last))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        committed_counts = _commit_read(counts, state_dir, "counts", batch_id)
        _commit(carry, state_dir, "carry", batch_id)
        table = markov_table_from(committed_counts)
        _commit(table, state_dir, "table", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E46: live CUSUM rate-anomaly monitor --------------------------------------
def cusum_monitor_pipeline(
    stream: DataFrame, reference_events: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E46: the live twin of batch D92 — Page's CUSUM running
    continuously over the event stream, the deployed shape of a rate
    alarm: reference moments (μ, σ per type) frozen ONCE from the
    reference window via the shared ``cusum_stats_frame`` kernel and
    persisted (the published CUSUM practice — you standardize against
    the baseline you calibrated, not against a distribution that
    drifts under you). The boundary subtlety is the INCOMPLETE MINUTE:
    a minute straddling a trigger would fold a partial count into an
    irreversible recurrence. Solved additively: per-(type, minute)
    counts merge by plain sum into batchId-versioned state (straddled
    minutes complete themselves when their remainder arrives), and the
    trajectory re-derives per trigger through the shared
    ``cusum_fold_from`` kernel over COMPLETED minutes only — every
    minute strictly before the type's latest occupied minute. The fold
    is prefix-stable, so the drained table equals batch D92 restricted
    to the same completed prefix, bit-for-bit, under ANY time-ordered
    chunking; replays re-derive batch N's state from batch_id=N-1 and
    overwrite — idempotent (the ``_commit`` replay contract). Event types ABSENT
    from the reference window cannot be standardized and are surfaced
    per trigger in an `untracked/` output (type, minutes, events) —
    never silently dropped — so the operator knows to re-calibrate.

    DETECTION SEMANTICS — one-sided, occupied minutes only (ADVICE
    r07, stated as a contract rather than implied): (1) "completed"
    means strictly before the type's latest OCCUPIED minute, so a type
    that stops emitting entirely keeps its last minute open forever —
    the data itself can never close it; (2) zero-count minutes never
    enter the per-minute series (counts come from events, and the fold
    standardizes only observed minutes), so a rate DROP or a full
    outage does not push s_t upward and cannot alarm. This monitor is
    therefore a rate-SURGE detector, exactly mirroring batch D92's
    occupied-minutes semantics (which is what the batch-equality
    property proves). A deployment that needs outage/drop alarms
    composes two known moves ON TOP of this state, neither of which
    changes the stored counts: close minutes by WALL CLOCK (treat
    every minute < now//60 as complete — a trigger-time bound, not a
    data bound) and densify the closed range per type with zero-count
    rows before the fold (a sequence join against the minutes-sized
    state, no log re-read); a two-sided CUSUM then runs the same
    recurrence on −z. Kept out of the default path so the live table
    stays bit-equal to its batch twin.

    SCALE: per trigger the corpus-facing work is one batch-sized
    partial agg to minutes; the merge and the re-derive touch only the
    minutes-sized count state (the E21 state class — ~526k rows/year
    per type at ANY event volume) and the per-type fold runs inside
    codegen. Nothing ever re-reads the log."""
    from pyspark.sql import Window

    from ..operators.timeseries import (
        cusum_fold_from,
        cusum_minute_counts,
        cusum_stats_frame,
    )

    stats = cusum_stats_frame(
        cusum_minute_counts(reference_events.select("event_type", "ts"))
    ).persist()
    stats.count()  # freeze the reference model before the first trigger

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merged = _merge(
            cusum_minute_counts(batch_df.select("event_type", "ts")),
            _prev(spark, state_dir, "minutes", batch_id),
            ["event_type", "m"],
            F.sum("c").cast("bigint").alias("c"),
        )
        state = _commit_read(merged, state_dir, "minutes", batch_id)
        wmax = Window.partitionBy("event_type")
        completed = (
            state.withColumn("mx", F.max("m").over(wmax))
            .filter(F.col("m") < F.col("mx"))
            .drop("mx")
        )
        _commit(cusum_fold_from(completed, stats), state_dir, "table", batch_id)
        # A type with NO reference moments cannot be standardized — the
        # fold's stats join would silently drop it, and a brand-new
        # event type flooding mid-stream is exactly the anomaly class a
        # rate monitor must not swallow. Surface such types explicitly
        # so the operator re-calibrates (a D72-style stats refresh)
        # instead of flying blind.
        untracked = (
            state.join(stats.select("event_type"), "event_type", "left_anti")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_minutes_seen"),
                F.sum("c").cast("bigint").alias("n_events_seen"),
            )
        )
        _commit(untracked, state_dir, "untracked", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E47: live DoReMi mixture monitor -------------------------------------------
def mixture_reweight_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E47: the live twin of batch D93 — the DoReMi multiplicative-
    weights mixture maintained continuously as docs land (a domain's
    weight climbing is the live signature of its text getting harder
    for the reference model — the signal the next training run's
    sampler consumes). The unigram scoring LM is frozen ONCE from the
    published corpus via the shared ``unigram_loss_frames`` kernel and
    persisted (the E42 LM convention; a proxy-model swap changes only
    this frame); each micro-batch scores through the shared
    ``source_loss_frame`` kernel and folds its per-source
    (n_tok, DECIMAL sum_nll) rows ADDITIVELY into batchId-versioned
    state (the E19/E21 class); weights CANNOT fold — the corpus mean
    and the softmax denominator shift with every token — so the
    mixture re-derives per trigger through the shared
    ``doremi_weights_from`` kernel. DECIMAL addition is exact, so the
    drained mixture equals batch D93 bit-for-bit under ANY chunking;
    replays re-derive batch N's state from batch_id=N-1 and overwrite —
    idempotent (the ``_commit`` replay contract).

    SCALE: per trigger the corpus-facing work is |batch| tokenization
    + the token-key join against the persisted vocab frame + one
    partial agg to O(sources) rows; the fold and the re-derive touch
    only the O(sources) loss state. Nothing ever re-reads the corpus;
    state is sources-sized forever."""
    from ..functions.text import (
        doremi_weights_from,
        source_loss_frame,
        unigram_loss_frames,
    )

    # uni comes back eagerly checkpointed; freeze the derived totals
    # before the first trigger
    uni, tot = unigram_loss_frames(corpus_docs.select("source", "text"))
    tot = tot.persist()
    tot.count()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merged = _merge(
            source_loss_frame(batch_df.select("source", "text"), uni, tot),
            _prev(spark, state_dir, "loss", batch_id),
            ["source"],
            F.sum("n_tok").cast("bigint").alias("n_tok"),
            # decimal(28,8) = Spark's natural sum type for the
            # (18,8) per-token terms; wide enough for 100 TB-scale
            # corpus-lifetime sums (10^20 integer digits headroom)
            F.sum("sum_nll").cast("decimal(28,8)").alias("sum_nll"),
        )
        loss = _commit_read(merged, state_dir, "loss", batch_id)
        _commit(doremi_weights_from(loss), state_dir, "weights", batch_id)

    return _start(stream, fold, checkpoint_dir)


# --- E48: live split-leakage admission gate -------------------------------------
def split_leakage_gate_pipeline(
    stream: DataFrame, existing_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E48: D94's audit turned into the AT-INGEST admission gate — the
    production shape where leakage is cheapest to stop: before a
    crawled doc enters its md5-assigned split, it is near-dup-checked
    (the D36 asymmetric MinHash kernel — batch-probed band join
    against the persisted corpus index, exact-Jaccard verification
    inside colliding buckets only) against the EXISTING corpus; a
    verified match in a DIFFERENT split is flagged
    ``cross_split_leak`` (admitting it would hand eval answers to
    train — the Dodge et al. contamination mode D94 audits after the
    fact), a same-split match is the ordinary ``dup_same_split``
    dedup decision, and unmatched docs are ``clean``. Per-doc verdict
    rows land in a batchId-keyed sink. The existing shingle/band/split
    frames are built and persisted once before the first trigger (the
    E33/E34 serving-index shape). Stateless per batch, so replays
    overwrite their own batch_id=N directory (idempotent under
    at-least-once); the union of streamed verdicts equals the same
    kernels run batch-side (the stream test asserts it, with a seeded
    cross-split near-dup so the leak branch is non-vacuous).

    SCALE: per trigger the work is |batch| shingling + the batch-probed
    band join + one exact Jaccard per surviving candidate + an
    O(batch) split join; the per-trigger shingle persist is released
    in a finally (the E44 convention). Nothing re-reads the corpus
    beyond the shingle fetch for survivors."""
    from ..operators.dedup import (
        _SPLIT_BUCKET_SPARK,
        _SPLIT_CASE,
        incr_band_frame,
        incr_shingle_frame,
        incremental_dedup_frame,
    )

    split_expr = F.expr(_SPLIT_CASE.format(b=f"({_SPLIT_BUCKET_SPARK})"))
    ex_sh3 = incr_shingle_frame(existing_docs.select("doc_id", "text")).persist()
    ex_bands = incr_band_frame(ex_sh3).persist()
    ex_splits = existing_docs.select(
        F.col("doc_id").alias("match_doc_id"), split_expr.alias("match_split")
    ).persist()
    for f in (ex_sh3, ex_bands, ex_splits):
        f.count()  # materialize the serving index once, before the first trigger

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        in_docs = batch_df.select("doc_id", "text")
        in_sh3 = incr_shingle_frame(in_docs).persist()
        try:
            matched = incremental_dedup_frame(in_sh3, ex_bands, ex_sh3)
            verdicts = (
                matched.join(
                    in_docs.select("doc_id", split_expr.alias("split")), "doc_id"
                )
                .join(ex_splits, "match_doc_id", "left")
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
            )
            _commit(verdicts, out_dir, None, batch_id)
        finally:
            in_sh3.unpersist()

    return _start(stream, gate, checkpoint_dir)


# --- E49: live audio segmentation ----------------------------------------------
def audio_segment_pipeline(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """E49: the live twin of batch D95 — VAD-style silence/voiced
    segmentation run at ingest on each micro-batch of audio payloads:
    the shared ``audio_frame_energy`` kernel (Arrow-batched int16
    decode + exact int64 frame energies; payload bytes never leave the
    stage) feeds the same threshold gate + per-doc gaps-and-islands
    windows, landing per-doc segmentation rows in a batchId-keyed
    sink — the admission features a speech pipeline filters on
    (too-silent, too-fragmented) before a clip enters the corpus.
    Fully per-doc, so stateless per trigger; replays overwrite their
    own batch_id=N directory (idempotent under at-least-once); the
    union of streamed rows equals batch D95 row-for-row (the stream
    test asserts it).

    SCALE: per trigger the work is |batch| payload decode inside ONE
    Arrow-batched map + batch-sized island windows per doc; no state,
    nothing ever re-read."""
    from ..functions.multimodal import audio_segments_frame

    def segment(batch_df: DataFrame, batch_id: int) -> None:
        bins = batch_df.select(
            "doc_id", F.encode("text", "utf-8").alias("payload")
        )
        _commit(audio_segments_frame(bins), out_dir, None, batch_id)

    return _start(stream, segment, checkpoint_dir)


# --- E50: live tokenizer-fertility monitor -----------------------------------
def _fertility_monitor_pipeline(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    token_field: str,
    attach_nsyms,
):
    """Shared foreachBatch body of the tokenizer-fertility monitors
    (E50 BPE / E51 unigram-LM / E52 WordPiece): per trigger one
    batch-sized token explode handed to `attach_nsyms(occ)` — the ONLY
    family-specific piece, returning (doc_id, source, word, n_syms)
    under the frozen trained model (left join + chars+1 OOV for
    E50/E52; exact Viterbi OOV for E51) — then per-source
    (n_docs, ws_tokens, {token_field}, n_chars) folded ADDITIVELY into
    ``{state_dir}/fert/batch_id=N`` (the E19/E35 idempotent class:
    replays re-derive batch N from N−1 and overwrite bit-identically)
    and fertility / chars-per-token re-derived per trigger into
    ``{state_dir}/ratios/batch_id=N`` (ratios cannot fold). One
    definition for all three families (review r09 — the r08 bench
    refactor's lesson: verbatim fold copies with coordinated touch
    points silently diverge on the next edit).

    SCALE: training is vocab-bounded and happens once in the wrapper;
    per trigger the corpus-facing work is the explode + the
    vocab-table join inside attach_nsyms + an O(sources) partial agg
    merged against O(sources) state. Nothing ever re-reads the
    corpus."""
    sum_cols = ["n_docs", "ws_tokens", token_field, "n_chars"]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.tokenize import TOKENS_SPARK

        spark = batch_df.sparkSession
        occ = batch_df.select(
            "doc_id", "source", F.explode(F.expr(TOKENS_SPARK)).alias("word")
        )
        batch_sums = attach_nsyms(occ).groupBy("source").agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("ws_tokens"),
            F.sum("n_syms").cast("bigint").alias(token_field),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
        )
        merged = _merge(
            batch_sums,
            _prev(spark, state_dir, "fert", batch_id),
            ["source"],
            *[F.sum(c).cast("bigint").alias(c) for c in sum_cols],
        )
        state = _commit_read(merged, state_dir, "fert", batch_id)
        ratios = state.select(
            "source",
            "n_docs",
            "ws_tokens",
            token_field,
            "n_chars",
            F.round(
                F.col(token_field).cast("double") / F.col("ws_tokens"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double") / F.col(token_field), 6
            ).alias("chars_per_token"),
        )
        _commit(ratios, state_dir, "ratios", batch_id)

    return _start(stream, fold, checkpoint_dir)


def _frozen_seg_attach(seg: DataFrame):
    """The E50/E52 attach_nsyms: LEFT-join the frozen (word, n_syms)
    vocab; an unseen word falls back to character count + 1 (chars +
    '</w>' — the at-ingest OOV rule D98's docstring states; the
    published corpus itself never hits it)."""

    def attach(occ: DataFrame) -> DataFrame:
        return occ.join(seg, "word", "left").select(
            "doc_id",
            "source",
            "word",
            F.coalesce(
                F.col("n_syms"), (F.length("word") + 1).cast("bigint")
            ).alias("n_syms"),
        )

    return attach


def bpe_fertility_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E50: the live twin of batch D98 — per-source fertility under the
    TRAINED BPE tokenizer maintained continuously as docs land
    (fertility climbing on a source is the live signature of its text
    drifting away from the tokenizer's training distribution — the
    signal that schedules a re-train, the drift class E36 watches for
    the IVF index and E41 for the token distribution). The
    segmentation table is trained ONCE from the published corpus via
    the shared D97 chain (``bpe_train_frames`` over
    ``_bpe_words_frame`` — the E42 frozen-LM convention; a re-train
    swaps one frame) and persisted before the first trigger; the fold
    is the shared ``_fertility_monitor_pipeline``. After the stream
    drains the published corpus, the ratio table equals batch D98
    bit-for-bit (integer sums are exact; the stream test asserts
    it)."""
    from ..functions.text import _bpe_words_frame, bpe_train_frames

    _merges, final = bpe_train_frames(_bpe_words_frame(corpus_docs))
    seg = final.select(
        "word",
        F.expr("CAST(size(split(sym_str, ' ')) AS BIGINT)").alias("n_syms"),
    ).persist()
    seg.count()  # freeze the trained segmentation before the first trigger
    return _fertility_monitor_pipeline(
        stream, state_dir, checkpoint_dir, "bpe_tokens", _frozen_seg_attach(seg)
    )


# --- E51: live unigram-LM fertility monitor ----------------------------------
def unigram_fertility_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E51: the live twin of batch D100 — per-source fertility under
    the TRAINED unigram-LM tokenizer (Kudo 2018, D99); with E50/E52
    all three published tokenizer families' fertility drift is watched
    on the same stream. The model is trained ONCE from the published
    corpus via the shared D99 chain (``sp_train_frames`` over
    ``_sp_words_frame`` — the E42/E50 frozen-model convention) and its
    per-word segment counts persisted before the first trigger; the
    fold is the shared ``_fertility_monitor_pipeline``.

    OOV handling is EXACT, not a bound: each trigger left-anti-joins
    the batch's distinct words against the frozen (word, n_pieces)
    table and Viterbi-segments only the unseen remainder through the
    SAME closure-captured kernel the trainer's E-step used — the live
    monitor reports the trained model's true segmentation for ANY
    input text, and the published corpus replays bit-equal to batch
    D100 (no unseen words there by construction; a word containing a
    character outside the trained charset takes the kernel's
    documented per-char floor)."""
    from ..functions.text import (
        SP_MAXL,
        _sp_viterbi_kernel,
        _sp_words_frame,
        sp_train_frames,
    )

    # ONE corpus-sized words frame reused by training and segmentation
    # (review r09: building it twice doubled the only corpus-sized
    # startup stage; the batch twin reuses it the same way)
    words = _sp_words_frame(corpus_docs)
    final = sp_train_frames(words)
    vocab = {r["piece"]: r["lp"] for r in final.select("piece", "lp").collect()}
    seg = words.mapInPandas(
        _sp_viterbi_kernel(vocab, SP_MAXL, "npieces"),
        schema="word string, n_pieces long",
    ).persist()
    seg.count()  # freeze the trained segmentation before the first trigger

    def attach(occ: DataFrame) -> DataFrame:
        # exact OOV path: segment only the batch's unseen distinct words
        unseen = (
            occ.select("word", F.lit(1).cast("bigint").alias("freq"))
            .distinct()
            .join(seg.select("word"), "word", "left_anti")
        )
        seg_b = seg.unionByName(
            unseen.mapInPandas(
                _sp_viterbi_kernel(vocab, SP_MAXL, "npieces"),
                schema="word string, n_pieces long",
            )
        )
        return occ.join(seg_b, "word").select(
            "doc_id", "source", "word", F.col("n_pieces").alias("n_syms")
        )

    return _fertility_monitor_pipeline(
        stream, state_dir, checkpoint_dir, "sp_tokens", attach
    )


# --- E52: live WordPiece fertility monitor ------------------------------------
def wordpiece_fertility_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E52: the live twin of batch D102 — per-source fertility under
    the TRAINED WordPiece tokenizer; with E50 (BPE) and E51
    (unigram-LM) this puts ALL THREE published tokenizer families'
    fertility drift on the same stream, so vocab budgets stay
    comparable online across every trainer the repo ships. The
    segmentation table is trained ONCE from the published corpus via
    the shared D101 chain (``wp_train_frames`` over
    ``_bpe_words_frame`` — the frozen-model convention) and persisted
    before the first trigger; the fold is the shared
    ``_fertility_monitor_pipeline`` with the E50 chars+1 OOV rule.
    After the stream drains the published corpus, the ratio table
    equals batch D102 bit-for-bit."""
    from ..functions.text import _bpe_words_frame, wp_train_frames

    _merges, final = wp_train_frames(_bpe_words_frame(corpus_docs))
    seg = final.select(
        "word",
        F.expr("CAST(size(split(sym_str, ' ')) AS BIGINT)").alias("n_syms"),
    ).persist()
    seg.count()  # freeze the trained segmentation before the first trigger
    return _fertility_monitor_pipeline(
        stream, state_dir, checkpoint_dir, "wp_tokens", _frozen_seg_attach(seg)
    )


# --- E53: live domain-cap admission gate ------------------------------------
def domain_caps_pipeline(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """E53: the live twin of batch D103 — the FineWeb/RefinedWeb first
    curation stage as an INGEST GATE: each arriving document batch is
    URL-deduplicated against everything already seen and admitted only
    while its domain is under the DOMAIN_DOC_CAP, with the same
    overflow accounting the batch key reports. This is the shape a streaming
    crawl actually needs: admission decisions are made ONCE, at
    arrival, and never revised.

    State layout: ``{state_dir}/urls/batch_id=N`` holds ONLY the URLs
    batch N saw first (source, domain, url, rep_id) — the dedup ledger
    is the UNION of all pages ≤ N, written APPEND-ONLY so the
    per-trigger write is O(batch), never O(history) (rewriting the
    full ledger each trigger would be quadratic I/O over the stream's
    life — the E32 rule that corpus-sized state is never re-written,
    adapted to a ledger that genuinely grows); ``{state_dir}/domains/
    batch_id=N`` — the running per-domain counter table (batchId-
    versioned, the E19 shape) with EXACTLY batch D103's output schema
    (n_docs / n_urls / n_url_dups / n_kept / n_overflow /
    first_doc_id); ``{state_dir}/admitted/batch_id=N`` — the rows
    batch N admitted. foreachBatch is at-least-once and a replay of
    batch N re-derives from pages/state ≤ N-1 ONLY (its own leftover
    page is excluded by the batch-id filter) and overwrites its own
    directories — idempotent by construction.

    Semantics vs batch: admission is FIRST-COME (the streaming rule —
    a crawler admits what arrives first); batch D103 keeps the CAP
    lowest-doc_id representatives. Under doc_id-ordered arrival
    (contiguous chunking on the id that defines batch keep-first) the
    two coincide and the drained ``domains`` table equals batch D103
    bit-for-bit (property-tested with random contiguous chunking,
    mid-stream restart and replay injection); out-of-order arrival
    yields first-come admission — a DIFFERENT valid policy, not silent
    corruption, because every counter still folds additively.

    SCALE: per trigger the fact-sized work is ONE (domain, url) partial
    agg over the batch plus an ASYMMETRIC batch×seen anti join on the
    unique url key (the E15/E33/E36 incoming×existing discipline —
    per-trigger cost scales with the batch, never with history);
    the cap check joins the |domains|-row counter table; the URL
    ledger is append-only and bucketable by url hash at 100 TB, the
    published crawl-dedup ledger shape.

    Reference analogue: none (training-data pipeline family; published
    rule per the FineWeb/RefinedWeb curation recipes — PAPERS.md)."""
    from pyspark.sql import Window

    from ..operators.dedup import (
        DOMAIN_DOC_CAP,
        domain_url_frame,
        domain_url_groups,
    )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        d = domain_url_frame(batch_df.select("doc_id", "source", "text"))
        batch_urls = domain_url_groups(d)
        prev_urls = _read_pages(spark, state_dir, "urls", batch_id - 1)
        new_urls = (
            batch_urls
            if prev_urls is None
            else batch_urls.join(prev_urls.select("url"), "url", "left_anti")
        )
        prev_dom = _prev(spark, state_dir, "domains", batch_id)
        ranked = new_urls.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("domain").orderBy("rep_id")),
        )
        kept0 = (
            prev_dom.select("domain", F.col("n_kept").alias("kept0"))
            if prev_dom is not None
            else None
        )
        j = (
            ranked
            if kept0 is None
            else ranked.join(kept0, "domain", "left")
        )
        if kept0 is None:
            j = j.withColumn("kept0", F.lit(0).cast("bigint"))
        adm = j.withColumn(
            "admitted",
            (F.coalesce(F.col("kept0"), F.lit(0)) + F.col("rk")) <= DOMAIN_DOC_CAP,
        )

        # 1. URL ledger page: ONLY this batch's newly-seen urls
        #    (admitted or not — a rejected URL is still seen; a
        #    re-fetch must not re-rank). Append-only: the full ledger
        #    is the union of pages, never rewritten.
        url_cols = ["source", "domain", "url", "rep_id"]
        _commit(adm.select(*url_cols), state_dir, "urls", batch_id)

        # 2. admitted rows of THIS batch (the gate's output)
        admitted = adm.filter("admitted").select(
            F.col("rep_id").alias("doc_id"), "source", "domain", "url"
        )
        _commit(admitted, state_dir, "admitted", batch_id)

        # 3. per-domain counters: additive deltas merged onto the
        #    previous table; n_url_dups re-derives (n_docs - n_urls)
        batch_dom = d.groupBy("source", "domain").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        url_dom = adm.groupBy("source", "domain").agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.sum(F.when(F.col("admitted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("admitted"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_overflow"),
        )
        delta = batch_dom.join(url_dom, ["source", "domain"], "left").select(
            "source",
            "domain",
            "n_docs",
            F.coalesce("n_urls", F.lit(0)).cast("bigint").alias("n_urls"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_overflow", F.lit(0)).cast("bigint").alias("n_overflow"),
            "first_doc_id",
        )
        merged = delta
        if prev_dom is not None:
            merged = merged.unionByName(
                prev_dom.select(
                    "source", "domain", "n_docs", "n_urls", "n_kept",
                    "n_overflow", "first_doc_id",
                )
            )
        merged = merged.groupBy("source", "domain").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_urls").cast("bigint").alias("n_urls"),
            F.sum("n_kept").cast("bigint").alias("n_kept"),
            F.sum("n_overflow").cast("bigint").alias("n_overflow"),
            F.min("first_doc_id").alias("first_doc_id"),
        )
        domains = merged.select(
            "source",
            "domain",
            "n_docs",
            "n_urls",
            (F.col("n_docs") - F.col("n_urls")).cast("bigint").alias("n_url_dups"),
            "n_kept",
            "n_overflow",
            "first_doc_id",
        )
        _commit(domains, state_dir, "domains", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E54: live multi-epoch budget monitor -----------------------------------
def multi_epoch_monitor_pipeline(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """E54: the live twin of batch D104 — as document batches land, the
    running per-source token totals (E19's additive state, reused
    verbatim) re-derive the D52 largest-remainder quotas and the
    Muennighoff multi-epoch accounting, so a mixture planner always
    sees CURRENT epochs/unique-vs-repeated numbers while the crawl is
    still running (a source whose epochs climbs is exhausting its
    supply — the live signal to shift budget before training starts).

    State layout: ``{state_dir}/totals/batch_id=N`` — the running
    (source, n_docs, n_tokens) totals AFTER batch N (the E19 merge,
    shared shape); ``{state_dir}/epochs/batch_id=N`` — the D104 table
    re-derived from them. Totals fold additively so replays re-merge
    bit-identically (the E19 idempotence argument verbatim); the
    derivation runs the SAME shared kernels as batch D104
    (weights_from_totals → quota_frame → the epoch arithmetic), so the
    drained table equals batch D104 bit-for-bit under any chunking.

    SCALE: per trigger one partial agg over the micro-batch + a
    |sources|-row merge; everything downstream is control-plane-sized.
    Nothing ever re-reads the corpus.

    Reference analogue: none (training-data pipeline family; published
    rule per Muennighoff et al. 2023 — PAPERS.md)."""
    from ..operators.training import multi_epoch_frame

    def update(batch_df: DataFrame, batch_id: int) -> None:
        totals = _fold_source_totals(batch_df, state_dir, batch_id)
        _commit(multi_epoch_frame(totals), state_dir, "epochs", batch_id)

    return _start(stream, update, checkpoint_dir)


# --- E55: live sentence-span ingest gate -------------------------------------
def sentence_gate_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E55: the live twin of batch D106 — the C4 three-sentence
    keep-one rule as an at-ingest gate: each micro-batch of crawled
    docs is checked for {SENT_S}-sentence spans already present in the
    PUBLISHED corpus through the shared ``incr_sent_span_frame``
    kernel (keep-one falls out for free at ingest: the corpus IS the
    canonical occurrence), and its per-doc cut verdicts — kept/cut
    sentence accounting plus the cleaned-text identity — land in a
    batchId-keyed sink. Stateless per batch, so replays overwrite
    their own batch_id=N directory (idempotent under at-least-once);
    the union of streamed verdicts equals batch D106 row-for-row (the
    stream test asserts it).

    SCALE: the corpus index is built ONCE — one DISTINCT 16-byte hash
    per unique corpus sentence window, persisted before the first
    trigger (at 100 TB a hash-bucketed index table maintained per
    publish, the D36 band-table convention; ~an order sparser than
    E33's per-token window index); each trigger pays |batch| sentence
    windowing plus a semi-join probed from the batch side, and only
    matching positions reach the per-doc island merge and the
    row-local cut. Docs with fewer than {SENT_S} sentences emit
    nothing, exactly as in batch.

    Reference analogue: none — training-data dedup family (SURVEY §2
    E; C4 rule, live at-ingest form)."""
    from ..operators.dedup import incr_sent_span_frame, sent_frame, sent_window_frame

    ex_h = (
        sent_window_frame(sent_frame(corpus_docs)).select("h").distinct().persist()
    )
    ex_h.count()  # materialize the index once, before the first trigger

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        t_in = sent_frame(batch_df.select("doc_id", "text"))
        _commit(incr_sent_span_frame(t_in, ex_h), out_dir, None, batch_id)

    return _start(stream, gate, checkpoint_dir)


# --- E56: live paragraph ingest gate -----------------------------------------
def paragraph_gate_pipeline(
    stream: DataFrame, corpus_docs: DataFrame, out_dir: str, checkpoint_dir: str
):
    """E56: the live twin of batch D109's unit — the MassiveText /
    Gopher repeated-paragraph rule as an at-ingest gate: each
    micro-batch of crawled docs is checked for declared paragraphs
    (PARA_G-sentence blocks) already present verbatim in the PUBLISHED
    corpus through the same ``incr_sent_span_frame`` kernel E55 uses,
    at span length 1 over paragraph frames (keep-one falls out for
    free at ingest: the corpus IS the canonical occurrence). Per-doc
    verdicts — kept/cut paragraph accounting plus the cleaned-text
    identity, in D109's column names — land in a batchId-keyed sink.
    Stateless per batch, so replays overwrite their own batch_id=N
    directory (idempotent under at-least-once); the union of streamed
    verdicts over ANY chunking equals the one-shot gate over the full
    crawl (the stream tests assert both).

    SCALE: the corpus index is one DISTINCT 16-byte hash per unique
    corpus PARAGRAPH — ~PARA_G x sparser than E55's sentence-window
    index, the sparsest in the gate family — persisted once before the
    first trigger (at 100 TB a hash-bucketed index table maintained
    per publish, the D36 band-table convention); each trigger pays
    |batch| paragraph blocking plus a semi-join probed from the batch
    side, and only matching positions reach the per-doc island merge
    and the row-local cut.

    Reference analogue: none — training-data dedup family (SURVEY §2
    E; MassiveText/Gopher paragraph rule, live at-ingest form)."""
    from ..operators.dedup import incr_sent_span_frame, para_frame, sent_window_frame

    ex_h = (
        sent_window_frame(para_frame(corpus_docs), s=1)
        .select("h")
        .distinct()
        .persist()
    )
    ex_h.count()  # materialize the index once, before the first trigger

    _PARA_COLS = [
        ("n_sentences", "n_paragraphs"),
        ("n_dup_windows", "n_dup_windows"),
        ("n_spans", "n_spans"),
        ("n_sentences_kept", "n_paragraphs_kept"),
        ("n_sentences_cut", "n_paragraphs_cut"),
        ("cleaned_md5", "cleaned_md5"),
    ]

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        t_in = para_frame(batch_df.select("doc_id", "text"))
        out = incr_sent_span_frame(t_in, ex_h, s=1).select(
            "doc_id", *[F.col(a).alias(b) for a, b in _PARA_COLS]
        )
        _commit(out, out_dir, None, batch_id)

    return _start(stream, gate, checkpoint_dir)


# --- E57: composed live curation gate ----------------------------------------
def curation_gate_pipeline(
    stream: DataFrame,
    corpus_docs: DataFrame,
    eval_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """E57: the composed span-family funnel (operators/funnel.py) as an
    at-ingest gate — the three contract-ordered stages chained PER
    MICRO-BATCH, so a crawler admits only text that survives the whole
    published curation recipe:

      1. EXACT gate (D1 rule at ingest): a doc whose normalized-text
         hash is in the published corpus, in the seen-hash ledger, or
         repeated within the batch (min doc_id keeps) is dropped.
         The ledger is APPEND-ONLY per-batch pages of newly-seen
         hashes (the E53 URL-ledger convention: full ledger = union of
         pages, per-trigger write O(batch), never a history-sized
         rewrite) — recorded for EVERY new hash, survivor or not, so a
         re-crawl of a doc that a later stage cut is still caught at
         the exact stage.
      2. SPAN gate (E55's grade): surviving docs' sentence windows
         probe the once-persisted corpus index; matched spans are cut
         row-locally and the text is REBUILT from the kept sentences
         (the funnel's materializing cut); docs cut to nothing drop.
      3. DECON tier gate (D108 rule): the shared decon_tier_stage —
         'dirty' drops, 'not_clean' cuts the matched token spans,
         'clean' passes.

    Stage order is the funnel's CONTRACT ORDER, and the same proofs
    carry: exact-first is efficiency (it commutes with the decon drop
    — proven in tests/test_curation_funnel.py), decon-last is
    semantics (it grades the text that will be trained on). Admitted
    (doc_id, text) and a one-row per-stage accounting land in
    batchId-keyed pages; replays re-derive from exactly the pre-batch
    ledger (their own leftover page is excluded) and overwrite their
    own pages bit-identically (proven: replay injection + mid-stream
    restart + random chunking). Under doc_id-ordered arrival the union
    of admitted pages equals the ONE-SHOT composed gate over the full
    crawl (proven — the chunked ledger machinery composes to the
    one-shot semantics).

    SCALE: the three reference sets are built ONCE (exact-hash set,
    sentence-window index, eval-gram set — at 100 TB: hash-bucketed
    tables maintained per publish); each trigger pays |batch| hashing/
    windowing/gramming plus three batch-side-probed joins; the ledger
    read is the union of O(#batches) small pages (at scale: a
    compacted bucketed table, the E53 note). No stage shuffles more
    than the batch.

    Reference analogue: none — training-data curation family (SURVEY
    §2 E; the C4/RefinedWeb/Llama-2 composed recipe, live at-ingest
    form)."""
    from ..functions.tokenize import TOKENS_SPARK
    from ..operators.dedup import decon_grams_frame, sent_frame, sent_window_frame
    from ..operators.funnel import _kept_units, decon_tier_stage, exact_norm_hash

    corpus_h = (
        corpus_docs.select(exact_norm_hash().alias("h")).distinct().persist()
    )
    ex_h = (
        sent_window_frame(sent_frame(corpus_docs)).select("h").distinct().persist()
    )
    eval_grams = (
        decon_grams_frame(eval_docs.select("doc_id", "text"))
        .select("g")
        .distinct()
        .persist()
    )
    # materialize all three reference sets before the first trigger
    corpus_h.count(), ex_h.count(), eval_grams.count()

    _tok_n = F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)")

    def _acct(frame: DataFrame, stage: str):
        row = frame.agg(
            F.count("*").cast("bigint").alias("docs"),
            F.coalesce(F.sum(_tok_n), F.lit(0)).cast("bigint").alias("tokens"),
        ).collect()[0]
        return {"stage": stage, "docs": row.docs, "tokens": row.tokens}

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            "doc_id", "text", exact_norm_hash().alias("h")
        ).localCheckpoint()
        prev = _read_pages(spark, state_dir, "hashes", batch_id - 1)

        # 1. exact gate: within-batch keep-min, then corpus + ledger
        keep = b.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
        cur = (
            b.join(keep, ["h", "doc_id"], "leftsemi")
            .join(corpus_h, "h", "left_anti")
        )
        if prev is not None:
            cur = cur.join(prev.select("h"), "h", "left_anti")
        cur = cur.localCheckpoint()

        # ledger page: this batch's newly-seen hashes (survivors AND
        # within-batch dups of them — one row per new hash class)
        new_h = keep.select("h").join(corpus_h, "h", "left_anti")
        if prev is not None:
            new_h = new_h.join(prev.select("h"), "h", "left_anti")
        _commit(new_h, state_dir, "hashes", batch_id)

        # 2. span gate (E55 grade) with the funnel's materializing cut
        after_exact = cur.select("doc_id", "text")
        t = sent_frame(after_exact)
        pos = (
            sent_window_frame(t)
            .join(ex_h, "h", "leftsemi")
            .select("doc_id", "p")
        )
        from ..operators.dedup import SENT_S

        kept = _kept_units(t, pos, SENT_S)
        rebuilt = F.when(
            F.col("kept").isNotNull(), F.expr("concat_ws(' ', kept)")
        ).otherwise(F.col("text"))
        after_span = (
            after_exact.join(kept, "doc_id", "left")
            .select("doc_id", rebuilt.alias("text"))
            .filter("text <> ''")
            .localCheckpoint()
        )

        # 3. decon tier gate (shared stage — D67 drop / D80 cut / D108
        # tier on one detection head)
        admitted = decon_tier_stage(after_span, eval_grams).localCheckpoint()

        _commit(admitted, state_dir, "admitted", batch_id)
        acct = [
            _acct(batch_df.select("doc_id", "text"), "input"),
            _acct(after_exact, "exact_gate"),
            _acct(after_span, "span_gate"),
            _acct(admitted, "decon_gate"),
        ]
        rows = [
            (batch_id, a["stage"], i, a["docs"], a["tokens"])
            for i, a in enumerate(acct)
        ]
        schema = "batch_id long, stage string, stage_idx long, docs long, tokens long"
        _commit(local_table(spark, rows, schema), state_dir, "accounting", batch_id)

    return _start(stream, gate, checkpoint_dir)
