"""One benchmark workload in one Spark session; started by ``run.py``.

Phases, in order:

1. set-up: import the package (registers every operator) and call
   ``get_spark``; ``setup_s`` runs from the launcher's spawn time to here.
2. warm-up (untimed): a few tiny jobs that do not touch the package pay
   the engine's own start-up, while a second thread has DuckDB compute the
   expected outputs (and write the stream's files).
3. timed: one pass over the day's calls, each built and then collected,
   or one drain of every twin.  Each is the operator's first use in the
   process, as in a day job or a restarted worker draining its backlog.
4. check (untimed): every collected result or drained sink is compared
   with its expected output; a mismatch is a failed op.

With ``--trace 1`` the timed phase also records spans, job groups and
streaming progress.  Everything goes through public APIs: registered
``QUERIES`` builders, ``setJobGroup``, ``StatusTracker``,
``StreamingQueryListener`` and the event log.  The summary is written as
JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import proctree

# -- workloads ----------------------------------------------------------------
# Registered keys in the examples' stage order, one per module layer of the
# per-layer table.  The order is fixed: the first call of a process runs
# slower, and a seed-chosen order would move that cost between calls.
PROXY_DAY = [
    "worker_pipeline_summary",
    "partition_assignment",
    "worker_lease_reassignment",
    "token_bucket_exact",
    "reactive_downscale_window",
]
CURATION_DAY = [
    "dedup_minhash_lsh",
    "ann_topk_int8_rescore",
    "importance_sampling_weights",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "multimodal_phash_dedup",
]
DAYS = {"proxy_day": PROXY_DAY, "curation_day": CURATION_DAY}
TWINS = ["dispatch", "lag", "throughput", "dedup", "system_load"]

# Per-layer table rows: every row on every traced run, 0 where the
# workload makes no call into that layer.
BATCH_MODULES = [
    "operators.pipeline",
    "operators.controller",
    "operators.liveness",
    "operators.ratelimit",
    "operators.scaling",
    "operators.dedup",
    "operators.similarity",
    "operators.training",
    "operators.jaccard",
    "functions.text",
    "functions.multimodal",
]
MODULE_FIELDS = [
    ("build_s", "s"),
    ("run_s", "s"),
    ("build_jobs", "count"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_bytes", "B"),
    ("python_bytes", "B"),
    ("exec_util", "ratio"),
]
TWIN_FIELDS = [
    ("trigger_ms_p50", "ms"),
    ("add_batch_ms", "ms"),
    ("plan_ms", "ms"),
    ("commit_ms", "ms"),
    ("disk_bytes", "B"),
]
SETUP_FIELDS = [("registry.import_s", "s"), ("session.get_spark_s", "s")]
TWIN_TIMEOUT_S = 60.0
SHUFFLE_PARTITIONS = "8"
LOAD_COLS = ["topic", "n_jobs", "n_capped", "demand_micro", "system_load", "utilization"]


def layer_units() -> dict[str, str]:
    units = {f"{m}.{f}": u for m in BATCH_MODULES for f, u in MODULE_FIELDS}
    units.update({f"streaming.pipelines.{t}.{f}": u for t in TWINS for f, u in TWIN_FIELDS})
    units.update(SETUP_FIELDS)
    return units


# -- tracing ------------------------------------------------------------------
class Tracer:
    """In-memory spans (id, name, start, end, parent, trace id); off = no-op."""

    def __init__(self, on: bool, trace_id: str):
        self.on = on
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def _new(self, name: str, start: float, parent: int | None) -> dict:
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": None,
                "parent": parent,
                "trace_id": self.trace_id,
            }
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        rec = self._new(name, time.time(), self._stack[-1] if self._stack else None)
        self._stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """A finished span recorded from another thread (stream triggers)."""
        if self.on:
            self._new(name, start, parent)["end"] = end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_eventlog(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU and run time, shuffle and Python bytes,
    from this application's Spark event log (one uncompressed file)."""
    py_names = {"data sent to Python workers", "data returned from Python workers"}
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                acc = out[g]
                tm = ev.get("Task Metrics") or {}
                acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") in py_names:
                        acc["python_bytes"] += float(a.get("Update") or 0)
    return out


# -- oracles ------------------------------------------------------------------
def duck(data: str):
    """A DuckDB connection with the workload's tables as views.  Used only
    outside the timed phase."""
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        path = f"{data}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(data: str, keys: list[str]) -> dict[str, object]:
    """Each key's expected rows (or the exception that prevented them)."""
    from uforwarder_spark.registry import ORACLES

    out: dict[str, object] = {}
    con = duck(data)
    try:
        for k in keys:
            try:
                if k in ORACLES:
                    out[k] = con.execute(ORACLES[k]).fetchdf()
                elif k == "token_bucket_exact":
                    # rows-only key: token_bucket_summary's per-shard
                    # DuckDB fold of the same recurrence, rolled up per topic
                    out[k] = con.execute(
                        "SELECT topic, CAST(sum(n_msgs) AS BIGINT) AS n_msgs, "
                        "CAST(sum(n_admitted) AS BIGINT) AS n_admitted, "
                        "CAST(sum(n_throttled) AS BIGINT) AS n_throttled "
                        f"FROM ({ORACLES['token_bucket_summary']}) GROUP BY topic"
                    ).fetchdf()
                else:
                    out[k] = LookupError(f"{k}: no oracle")
            except Exception as e:  # recorded; the key then fails its check
                out[k] = e
    finally:
        con.close()
    return out


# -- day workloads --------------------------------------------------------------
class DayRun:
    """Closed loop, one caller: each call is built, then its rows are
    collected, in order; each call is the operator's first use in the
    process (planning, code generation, JIT, Python worker start), as in
    a day job."""

    def __init__(self, spark, data: str, keys: list[str], tracer: Tracer):
        from uforwarder_spark.registry import QUERIES

        self.spark = spark
        self.data = data
        self.keys = keys
        self.tracer = tracer
        self.queries = QUERIES
        self.attempted = 0
        self.failed: list[str] = []
        self.rows: dict[str, object] = {}
        self.expect: dict[str, object] = {}

    def timed(self, sampler: proctree.Sampler) -> dict:
        from uforwarder_spark.session import release_operator_caches

        traced = self.tracer.on
        sc = self.spark.sparkContext
        per_call: dict[str, tuple[float, float]] = {}
        jobs: dict[str, list[int]] = {}
        sampler.begin()
        with self.tracer.span("pass"):
            for k in self.keys:
                self.attempted += 1
                try:
                    with self.tracer.span(k):
                        if traced:
                            sc.setJobGroup(f"{k}|build", k)
                        a = time.perf_counter()
                        with self.tracer.span(f"{k}.build"):
                            df = self.queries[k](self.spark, self.data)
                        b = time.perf_counter()
                        if traced:
                            sc.setJobGroup(f"{k}|run", k)
                        with self.tracer.span(f"{k}.run"):
                            self.rows[k] = df.toPandas()
                        c = time.perf_counter()
                        release_operator_caches(self.spark)
                    per_call[k] = (b - a, c - b)
                except Exception as e:  # a failed op: counted and named
                    self.failed.append(f"{k}: {str(e)[:300]}")
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    jobs[k] = job_counts(sc, k)
        cpu, peak, written = sampler.end()
        return {
            "wall_s": sum(b + r for b, r in per_call.values()),
            "cpu_s": cpu,
            "peak_rss_mb": peak / 2**20,
            "written_mb": written / 2**20,
            "steps_ms": [(b + r) * 1e3 for b, r in per_call.values()],
            "per_call": per_call,
            "jobs": jobs,
        }

    def prepare(self) -> None:
        self.expect = oracle_rows(self.data, self.keys)

    def verify(self) -> None:
        """Compare every collected result with its oracle (untimed)."""
        from tests.parity import assert_parity

        for k, got in self.rows.items():
            try:
                want = self.expect[k]
                if isinstance(want, Exception):
                    raise want
                assert_parity(got, want, k)
            except Exception as e:  # a failed op: counted and named
                self.failed.append(f"check {k}: {str(e)[:300]}")


def job_counts(sc, key: str) -> list[int]:
    """[builder jobs, action jobs, completed tasks] of ``key``'s job groups,
    from StatusTracker."""
    st = sc.statusTracker()
    build = st.getJobIdsForGroup(f"{key}|build")
    run = st.getJobIdsForGroup(f"{key}|run")
    stages: set[int] = set()
    for jid in [*build, *run]:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None:
            tasks += si.numCompletedTasks
    return [len(build), len(run), tasks]


def day_layers(res: dict, groups: dict, cores: int) -> dict[str, float]:
    from uforwarder_spark.registry import QUERIES

    layer = {f"{m}.{f}": 0.0 for m in BATCH_MODULES for f, _ in MODULE_FIELDS}
    run_s: dict[str, float] = defaultdict(float)
    exec_run: dict[str, float] = defaultdict(float)
    for k, (b, r) in res["per_call"].items():
        m = QUERIES[k].__module__.removeprefix("uforwarder_spark.")
        n_build, n_run, n_tasks = res["jobs"][k]
        layer[f"{m}.build_s"] += b
        layer[f"{m}.run_s"] += r
        layer[f"{m}.build_jobs"] += n_build
        layer[f"{m}.jobs"] += n_build + n_run
        layer[f"{m}.tasks"] += n_tasks
        run_s[m] += r
        for phase in ("build", "run"):
            g = groups.get(f"{k}|{phase}", {})
            layer[f"{m}.executor_cpu_s"] += g.get("executor_cpu_s", 0.0)
            layer[f"{m}.shuffle_bytes"] += g.get("shuffle_bytes", 0.0)
            layer[f"{m}.python_bytes"] += g.get("python_bytes", 0.0)
        exec_run[m] += groups.get(f"{k}|run", {}).get("executor_run_s", 0.0)
    for m, r in run_s.items():
        layer[f"{m}.exec_util"] = exec_run[m] / (r * cores)
    return layer


# -- stream workload ------------------------------------------------------------
def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class StreamRun:
    """Closed-loop backlog drain: the message log as offset-ordered files,
    one file per trigger, through each twin in turn, one query at a time."""

    def __init__(self, spark, data: str, work: str, n_files: int, rng, tracer: Tracer):
        self.spark = spark
        self.data = data
        self.work = work
        self.n_files = n_files
        self.rng = rng
        self.tracer = tracer
        self.src = os.path.join(work, "stream-src")
        self.attempted = 0
        self.failed: list[str] = []
        self.n_msgs = 0
        self.expect: dict = {}

    def prepare(self) -> None:
        """Write the log files and compute every twin's expected output.

        Files hold contiguous offset ranges of near-equal size (the seed
        jitters the cuts by up to 10%); mtimes follow offset order, because
        the file source orders by modification time."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uforwarder_spark.model import messages_sql
        from uforwarder_spark.registry import ORACLES

        con = duck(self.data)
        try:
            msgs = con.execute(f"{messages_sql('events')} ORDER BY msg_offset").arrow()
            ex = self.expect
            ex["dispatch"] = con.execute(
                f"SELECT count(*) FROM ({messages_sql('events')}) WHERE outcome <> 'SKIP'"
            ).fetchone()[0]
            ex["dedup"] = con.execute(
                "SELECT count(*) FROM (SELECT DISTINCT topic, part_id, msg_offset "
                f"FROM ({messages_sql('events')}))"
            ).fetchone()[0]
            ex["lag"] = con.execute(ORACLES["consumer_lag"]).fetchdf().set_index(
                ["topic", "part_id"]
            ).sort_index()
            ex["system_load"] = con.execute(ORACLES["system_load_ratio"]).fetchdf()[LOAD_COLS]
            win = con.execute(
                "SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, topic, "
                "count(*) AS n_msgs, CAST(sum(size_bytes) AS BIGINT) AS total_bytes "
                f"FROM ({messages_sql('events')}) GROUP BY ALL"
            ).fetchdf()
            ex["throughput"] = {
                (r.topic, r.window_start.value): (r.n_msgs, r.total_bytes)
                for r in win.itertuples()
            }
        finally:
            con.close()
        schema = pa.schema(
            [
                ("msg_offset", pa.int64()),
                ("topic", pa.string()),
                ("part_id", pa.int64()),
                ("ts", pa.timestamp("us", tz="UTC")),
                ("size_bytes", pa.int64()),
                ("payload_value", pa.float64()),
                ("outcome", pa.string()),
                ("retry_count", pa.int64()),
                ("acked", pa.bool_()),
                ("latency_ms", pa.int64()),
            ]
        )
        msgs = msgs.cast(schema)
        n = self.n_msgs = msgs.num_rows
        step = n / self.n_files
        cuts = [0]
        for i in range(1, self.n_files):
            cuts.append(int(i * step + self.rng.uniform(-0.1, 0.1) * step))
        cuts.append(n)
        os.makedirs(self.src)
        now = time.time()
        for i in range(self.n_files):
            path = os.path.join(self.src, f"part-{i:04d}.parquet")
            pq.write_table(msgs.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            t = now - 10 * (self.n_files - i)
            os.utime(path, (t, t))

    def _start(self, twin: str, base: str):
        from uforwarder_spark.streaming import pipelines as P

        ckpt, state = os.path.join(base, "ckpt"), os.path.join(base, "state")
        stream = P.message_stream(self.spark, self.src, files_per_trigger=1)
        sink: dict = {"base": base, "ckpt": ckpt, "state": state, "counts": []}
        if twin == "dispatch":
            counts = sink["counts"]

            def dispatch(batch_df, batch_id: int) -> None:
                counts.append(batch_df.count())

            return P.dispatch_pipeline(stream, dispatch, ckpt), sink
        if twin == "system_load":
            return P.system_load_pipeline(stream, state, ckpt), sink
        build, mode = {
            "lag": (P.consumer_lag_stream, "update"),
            "throughput": (P.throughput_stream, "append"),
            "dedup": (P.dedup_stream, "append"),
        }[twin]
        sink["table"] = f"perfbench_{twin}"
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(sink["table"])
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q, sink

    def timed(self, sampler: proctree.Sampler) -> dict:
        """Drain every twin once, in ``TWINS`` order, one query at a time."""
        queries: list[tuple[str, str, int | None]] = []
        drained: list[tuple[str, dict]] = []
        walls: dict[str, float] = {}
        triggers: list[float] = []
        disk: dict[str, int] = {}
        sampler.begin()
        with self.tracer.span("drain"):
            for twin in TWINS:
                self.attempted += 1
                base = os.path.join(self.work, "stream", twin)
                q = None
                with self.tracer.span(f"streaming.pipelines.{twin}") as sid:
                    a = time.perf_counter()
                    try:
                        q, sink = self._start(twin, base)
                        queries.append((str(q.id), twin, sid))
                        done = q.awaitTermination(timeout=TWIN_TIMEOUT_S)
                    except Exception as e:  # the query failed: counted, named
                        done = None
                        self.failed.append(f"drain {twin}: {str(e)[:300]}")
                    if q is not None and not done:
                        # stop it first; its directories go only after this
                        q.stop()
                    if done is False:
                        self.failed.append(f"drain {twin}: not drained in {TWIN_TIMEOUT_S:.0f}s")
                    walls[twin] = time.perf_counter() - a
                if q is None:
                    # it never started: no progress and no sink to report
                    shutil.rmtree(base, ignore_errors=True)
                    continue
                triggers.extend(
                    p["durationMs"]["triggerExecution"]
                    for p in q.recentProgress
                    if p["numInputRows"] > 0
                )
                disk[twin] = dir_bytes(sink["ckpt"], sink["state"])
                if done:
                    drained.append((twin, sink))
                else:
                    shutil.rmtree(sink["base"], ignore_errors=True)
        cpu, peak, written = sampler.end()
        for twin, sink in drained:
            self.verify(twin, sink)
            if "table" in sink:
                self.spark.catalog.dropTempView(sink["table"])
            shutil.rmtree(sink["base"], ignore_errors=True)
        wall = sum(walls.values())
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_rss_mb": peak / 2**20,
            "written_mb": written / 2**20,
            "steps_ms": triggers,
            "disk": disk,
            "queries": queries,
            "drain_msgs_per_s": self.n_msgs * len(TWINS) / wall,
        }

    def verify(self, twin: str, sink: dict) -> None:
        """Compare a drained twin's output with its batch twin's oracle,
        after the drain (untimed); a mismatch is a failed op."""
        from tests.parity import assert_parity

        exp = self.expect[twin]
        try:
            if twin == "dispatch":
                got = sum(sink["counts"])
                if got != exp:
                    raise AssertionError(f"dispatched {got} rows, want {exp} non-SKIP")
            elif twin == "dedup":
                got = self.spark.table(sink["table"]).count()
                if got != exp:
                    raise AssertionError(f"{got} rows, want {exp} distinct ids")
            elif twin == "lag":
                # update mode re-emits per batch: the last row per shard
                got = (
                    self.spark.table(sink["table"])
                    .toPandas()
                    .groupby(["topic", "part_id"])
                    .last()
                    .sort_index()
                )
                if len(got) != len(exp):
                    raise AssertionError(f"{len(got)} shards, want {len(exp)}")
                for col in ("high_watermark", "committed_offset", "lag_msgs"):
                    s, b = got[col], exp[col]
                    if not ((s == b) | (s.isna() & b.isna())).all():
                        raise AssertionError(f"last {col} per shard differs from consumer_lag")
            elif twin == "throughput":
                got = self.spark.table(sink["table"]).toPandas()
                for r in got.itertuples():
                    if exp.get((r.topic, r.window_start.value)) != (r.n_msgs, r.total_bytes):
                        raise AssertionError(f"window ({r.topic}, {r.window_start}) differs")
                # append mode holds back the windows inside the lateness
                # horizon: at most 3 per topic
                if len(got) < len(exp) - 5 * 3:
                    raise AssertionError(f"{len(got)} closed windows of {len(exp)}")
            elif twin == "system_load":
                load = os.path.join(sink["state"], "load")
                last = max(
                    int(d.split("=")[1]) for d in os.listdir(load) if d.startswith("batch_id=")
                )
                got = self.spark.read.parquet(f"{load}/batch_id={last}").select(*LOAD_COLS)
                assert_parity(got.toPandas(), exp, "system_load")
        except Exception as e:  # a failed op: counted and named
            self.failed.append(f"check {twin}: {str(e)[:300]}")


def make_listener():
    """A StreamingQueryListener that keeps every non-empty trigger's
    progress, keyed by query id, with the time it arrived."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.by_query: dict[str, list[dict]] = defaultdict(list)
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.numInputRows <= 0:
                return
            rec = {
                "end": time.time(),
                "durationMs": dict(p.durationMs),
                "commitTimeMs": sum(s.commitTimeMs for s in p.stateOperators),
            }
            with self._lock:
                self.by_query[str(p.id)].append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def per_twin(self, queries: list[tuple[str, str, int | None]], tracer: Tracer):
            """Group progress by twin; add one span per trigger under the
            twin's span.  ``queries`` holds (query id, twin, span id)."""
            out: dict[str, list[dict]] = defaultdict(list)
            with self._lock:
                for qid, twin, sid in queries:
                    for e in self.by_query.get(qid, []):
                        out[twin].append(e)
                        start = e["end"] - e["durationMs"].get("triggerExecution", 0) / 1e3
                        tracer.add(f"streaming.pipelines.{twin}.trigger", start, e["end"], sid)
            return out

    return ProgressLog()


def stream_layers(events: dict[str, list[dict]], disk: dict[str, int]) -> dict[str, float]:
    def ms(e: dict, *keys: str) -> float:
        return sum(e["durationMs"].get(k, 0) for k in keys)

    layer = {}
    for twin in TWINS:
        ev = events.get(twin, [])
        pre = f"streaming.pipelines.{twin}."

        def med(fn) -> float:
            return statistics.median(fn(e) for e in ev) if ev else 0.0

        layer[pre + "trigger_ms_p50"] = med(lambda e: ms(e, "triggerExecution"))
        layer[pre + "add_batch_ms"] = med(lambda e: ms(e, "addBatch"))
        layer[pre + "plan_ms"] = med(lambda e: ms(e, "latestOffset", "getBatch", "queryPlanning"))
        layer[pre + "commit_ms"] = med(
            lambda e: ms(e, "walCommit", "commitOffsets") + e["commitTimeMs"]
        )
        layer[pre + "disk_bytes"] = float(disk.get(twin, 0))
    return layer


def warm_engine(spark, work: str, streaming: bool) -> None:
    """Pay the engine's first-use costs before the clock starts: a parquet
    write and read, a shuffle, Arrow collection, one pandas UDF (starts
    the Python workers) and, for the stream, one stateful streaming query.
    None of it touches the package, so no work of the program's can hide
    here; without it the first timed call would carry several seconds of
    JVM start-up whose size varies from run to run."""
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup", "src")
    spark.range(2000).withColumn("k", F.col("id") % 7).write.parquet(path)
    df = spark.read.parquet(path)
    df.groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("s")).toPandas()
    df.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), schema=df.schema).toPandas()
    if streaming:
        q = (
            spark.readStream.schema(df.schema)
            .parquet(path)
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("perfbench_warmup")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "warmup", "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout=TWIN_TIMEOUT_S):
            q.stop()
        spark.catalog.dropTempView("perfbench_warmup")
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)


# -- main ---------------------------------------------------------------------
def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=[*DAYS, "proxy_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True, help="summary JSON path")
    p.add_argument("--stream-files", type=int, required=True)
    p.add_argument("--t0", type=float, required=True, help="launcher's spawn time")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_import = time.time()
    import uforwarder_spark  # noqa: F401  (registers every operator)
    from uforwarder_spark.session import get_spark

    t_session = time.time()
    spark = get_spark(f"perfbench-{args.workload}", shuffle_partitions=SHUFFLE_PARTITIONS)
    t_ready = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    setup = {
        "setup_s": t_ready - args.t0,
        "registry.import_s": t_session - t_import,
        "session.get_spark_s": t_ready - t_session,
    }
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    rng = random.Random(args.seed)
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    if args.workload in DAYS:
        run = DayRun(spark, args.data, DAYS[args.workload], tracer)
    else:
        run = StreamRun(spark, args.data, args.work, args.stream_files, rng, tracer)
    listener = None
    if tracer.on and isinstance(run, StreamRun):
        listener = make_listener()
        spark.streams.addListener(listener)
    # DuckDB computes the expected outputs (and writes the stream's files)
    # while the engine warms up; both finish before the clock starts
    prep_error: list[Exception] = []

    def prepare() -> None:
        try:
            run.prepare()
        except Exception as e:  # re-raised on the main thread below
            prep_error.append(e)

    prep = threading.Thread(target=prepare)
    prep.start()
    t_warm = time.time()
    warm_engine(spark, args.work, streaming=isinstance(run, StreamRun))
    warmup_s = time.time() - t_warm
    prep.join()
    if prep_error:
        raise prep_error[0]
    with proctree.Sampler(os.getpid()) as sampler:
        res = run.timed(sampler)
    spark.stop()
    t_verify = time.time()
    if isinstance(run, DayRun):
        run.verify()
    verify_s = time.time() - t_verify

    summary = {
        "setup": setup,
        "warmup_s": warmup_s,
        "verify_s": verify_s,
        "attempted": run.attempted,
        "failed": run.failed,
        "timed": {k: v for k, v in res.items() if k not in ("per_call", "jobs", "disk", "queries")},
    }
    if tracer.on:
        if isinstance(run, DayRun):
            # the event log is complete only once the context has stopped
            layers = day_layers(res, read_eventlog(os.path.join(args.work, "eventlog")), cores)
            layers.update(stream_layers({}, {}))
        else:
            layers = {f"{m}.{f}": 0.0 for m in BATCH_MODULES for f, _ in MODULE_FIELDS}
            layers.update(stream_layers(listener.per_twin(res["queries"], tracer), res["disk"]))
        layers["registry.import_s"] = setup["registry.import_s"]
        layers["session.get_spark_s"] = setup["session.get_spark_s"]
        summary["layers"] = layers
        tracer.dump(os.path.join(args.work, "spans.json"))
        summary["n_spans"] = len(tracer.spans)
    with open(args.out, "w") as f:
        json.dump(summary, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
