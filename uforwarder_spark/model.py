"""Message model: the ``events`` table viewed as a Kafka-shaped message log.

uForwarder's unit of work is a message identified by
(cluster, topic, partition, offset) with headers and a payload
(see reference ``uforwarder-core/.../worker/dispatcher/DispatcherMessage.java``
and ``idl/.../kafka-consumer-proxy.proto``). We map the synthetic ``events``
table onto that model with pure SQL expressions so every downstream operator
is deterministic and DuckDB-oracle-checkable:

    topic      := event_type                  (5 distinct topics)
    part_id    := user_id % 8                 (per-topic partition id)
    msg_offset := event_id                    (monotone within a partition)
    ts         := ts                          (enqueue timestamp)
    size_bytes := length(props) + 64          (payload size proxy)

Dispatch outcomes (reference ``DispatcherResponse.Code``: OK / RETRY /
DLQ / SKIP) are simulated deterministically from message identity:

    SKIP  if event_id % 97 == 0                      (filtered by consumer)
    DLQ   if topic == 'error' and event_id % 11 == 0 (poison pill)
    RETRY if topic == 'error' or event_id % 13 == 0  (transient failure)
    OK    otherwise

    retry_count := event_id % 6 for RETRY/DLQ messages else 0
    acked       := outcome in (OK, SKIP)  -- SKIP acks per AckManager skip path
    latency_ms  := 5 + (event_id * 7) % 200  (simulated dispatch latency)

SCALE: all columns are narrow map-side projections; at 100 TB the log would
be parquet partitioned by (topic, date) so per-topic operators prune at the
scan. No shuffle happens here, and no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

N_PARTITIONS = 8

# The types spark.createDataFrame infers for plain Python values.
_PY_SQL_TYPES = {int: "BIGINT", float: "DOUBLE", str: "STRING"}


def _inferred_type(name: str, values: list) -> str:
    kinds = {type(v) for v in values if v is not None}
    if len(kinds) != 1 or next(iter(kinds)) not in _PY_SQL_TYPES:
        raise TypeError(f"column {name!r}: cannot infer one SQL type from {kinds or 'no values'}")
    return _PY_SQL_TYPES[kinds.pop()]


def local_table(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A small constant table (routes, workers, quotas, delays, per-trigger
    accounting rows) as an in-plan ``LocalRelation``.

    ``schema`` is either a list of column names, typed the way
    createDataFrame types plain Python values (int → BIGINT, never INT;
    float → DOUBLE, never the DECIMAL a SQL literal like ``0.10`` gets;
    str → STRING), or a DDL string such as
    ``"batch_id long, stage string"``.

    SCALE: createDataFrame over a Python list runs ``sc.parallelize``:
    the plan holds an RDD of pickled rows, and every action over it, a
    broadcast included, runs ``defaultParallelism`` Python tasks (one
    per executor core on a cluster, each with a Python worker) to ship a
    handful of rows. A ``VALUES`` table plans as ``LocalTableScan``: the
    rows are in the plan, nothing crosses into Python, and broadcasting
    it runs at most one JVM task per row. Values bind as named
    parameters, so quoting and NULL need no escaping here."""
    if isinstance(schema, str):
        cols = [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(schema)]
    else:
        cols = [(n, _inferred_type(n, [r[j] for r in rows])) for j, n in enumerate(schema)]
    args = {f"p{i}_{j}": v for i, row in enumerate(rows) for j, v in enumerate(row)}
    cells = [[f"CAST(:p{i}_{j} AS {t})" for j, (_, t) in enumerate(cols)] for i in range(len(rows))]
    # VALUES needs a row: an empty table is one typed NULL row filtered out.
    values = ", ".join(
        "(" + ", ".join(r) + ")" for r in cells or [[f"CAST(NULL AS {t})" for _, t in cols]]
    )
    names = ", ".join(f"`{n}`" for n, _ in cols)
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names}){where}", args=args)


# 60-bit integer hash of a string expression, identical cross-engine
# (Spark conv() vs DuckDB hex cast) — the repo's standard trick for
# deterministic simulated state shared by operators and their oracles.
H_SPARK = "CAST(conv(substr(md5({col}), 1, 15), 16, 10) AS BIGINT)"
H_DUCK = "('0x' || substr(md5({col}), 1, 15))::BIGINT"

# The same definitions as ANSI SQL, reused verbatim by oracle_sql() in
# __spark_entry__.py so Spark and DuckDB compute identical frames.
MESSAGES_SQL_BODY = """
SELECT
  event_id                                            AS msg_offset,
  event_type                                          AS topic,
  user_id % 8                                         AS part_id,
  ts                                                  AS ts,
  CAST(length(props) + 64 AS BIGINT)                  AS size_bytes,
  value                                               AS payload_value,
  CASE
    WHEN event_id % 97 = 0 THEN 'SKIP'
    WHEN event_type = 'error' AND event_id % 11 = 0 THEN 'DLQ'
    WHEN event_type = 'error' OR event_id % 13 = 0 THEN 'RETRY'
    ELSE 'OK'
  END                                                 AS outcome,
  CASE
    WHEN event_id % 97 = 0 THEN 0
    WHEN event_type = 'error' OR event_id % 13 = 0 THEN event_id % 6
    ELSE 0
  END                                                 AS retry_count,
  (event_id % 97 = 0) OR NOT (event_type = 'error' OR event_id % 13 = 0)
                                                      AS acked,
  CAST(5 + (event_id * 7) % 200 AS BIGINT)            AS latency_ms
FROM events
"""


def messages_sql(events_rel: str = "events") -> str:
    """The message-log projection as a SQL query string."""
    return MESSAGES_SQL_BODY.replace("FROM events", f"FROM {events_rel}")


def _ts_unit(path: str) -> str | None:
    """Physical unit of the parquet ``ts`` column ('ns'/'us'/...), or None.

    Probing the footer with pyarrow lets us enable the nanosAsLong legacy
    config only for generations that actually need it, instead of flipping
    it session-wide (which would silently corrupt any *other* nanos column
    read later in the session).
    """
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "*.parquet"))
            if not parts:
                return None
            f = parts[0]
        meta = pq.ParquetFile(f)
        # INT96 is the legacy Spark/Hive timestamp encoding: pyarrow's
        # arrow schema reports it as timestamp[ns], but Spark's plain
        # reader handles INT96 natively — treating it as INT64-nanos
        # would apply the raw-long schema and fail the read. Distinguish
        # by the parquet PHYSICAL type, read from the file schema (NOT
        # row-group metadata: Spark's empty part files have zero row
        # groups, and glob may hand us one first).
        for i in range(len(meta.schema)):
            col = meta.schema.column(i)
            if col.name == "ts" and col.physical_type == "INT96":
                return "int96"
        field = meta.schema_arrow.field("ts")
        return getattr(field.type, "unit", None)
    except Exception:
        return None


def _events_ns_schema(path: str):
    """Explicit read schema for a TIMESTAMP(NANOS) events file: ts as raw
    LongType (the physical INT64), every other column mapped from the
    parquet footer. Reading with an explicit schema sidesteps the
    session-wide nanosAsLong legacy conf entirely — no other table read
    in the session can be affected."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    pa_to_spark = {
        "int32": T.IntegerType,
        "int64": T.LongType,
        "float": T.FloatType,
        "double": T.DoubleType,
        "string": T.StringType,
        "large_string": T.StringType,
        "bool": T.BooleanType,
    }
    f = path
    if os.path.isdir(path):
        f = glob.glob(os.path.join(path, "*.parquet"))[0]
    fields = []
    for field in pq.read_schema(f):
        if field.name == "ts":
            fields.append(T.StructField("ts", T.LongType()))
        else:
            fields.append(T.StructField(field.name, pa_to_spark[str(field.type)]()))
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Driver generations vary the physical type of events.ts:
        #   TIMESTAMP(NANOS)  -> Spark rejects; read via an explicit
        #                        schema with ts as raw long nanos, then
        #                        truncate to micros (the same truncation
        #                        DuckDB applies, so oracle parity holds)
        #   TIMESTAMP(MICROS) -> arrives as TIMESTAMP_NTZ
        # Normalize EVERY generation to TIMESTAMP_LTZ: the session TZ is
        # pinned to UTC (session.py), so NTZ->LTZ is value-preserving and
        # oracle parity holds, and downstream unix_millis()/DOUBLE casts
        # (which reject NTZ) work uniformly.
        from pyspark.sql import functions as F

        path = f"{sf_dir}/{name}.parquet"
        unit = _ts_unit(path)
        if unit == "ns":
            try:
                schema = _events_ns_schema(path)
            except Exception:
                # a future generation added a column type the footer
                # mapper doesn't know: degrade to the legacy session conf
                # (narrower isolation, but the table still loads)
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                schema = None
            df = spark.read.schema(schema).parquet(path) if schema else spark.read.parquet(path)
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif unit is None:
            # Probe inconclusive (pyarrow missing / file unreadable): the
            # generation may still be TIMESTAMP(NANOS), which the plain
            # reader rejects at schema resolution. Try plain first; on
            # failure retry via the legacy nanos conf (the degraded path
            # above) so NANOS generations load without pyarrow.
            try:
                df = spark.read.parquet(path)
                df.schema  # force schema resolution now
            except Exception:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = spark.read.parquet(path)
                df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        else:
            df = spark.read.parquet(path)
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark size conf in any of its documented spellings:
    '128m', '128MB', '64kb', '1g', bare bytes."""
    import re

    m = re.fullmatch(r"\s*([0-9.]+)\s*([kmgtp]?)b?\s*", conf_val.lower())
    if not m:
        raise ValueError(f"unparseable size: {conf_val!r}")
    num, suffix = m.groups()
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    return int(float(num) * mult[suffix])


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table and ensure at least default-parallelism partitions.

    The synthetic test files are single-split parquet, so CPU-bound
    per-row work (tokenize/shingle/hash/fold) would otherwise run on one
    core. The split estimate replicates Spark's own maxSplitBytes
    formula (FilePartition: min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / defaultParallelism))) from a pure filesystem probe
    rather than df.rdd.getNumPartitions(), which converts to an RDD and
    costs 35–100 ms of planning per fresh DataFrame. Any table whose
    scan already parallelizes estimates >= target and is never
    re-shuffled; any probe failure assumes small and repartitions (the
    safe direction for the per-row-CPU operators that call this).
    """
    import glob
    import os

    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"
    try:
        files = glob.glob(os.path.join(path, "*.parquet")) if os.path.isdir(path) else [path]
        total = sum(os.path.getsize(f) for f in files)
        max_bytes = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _size_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4m"))
        bytes_per_core = (total + len(files) * open_cost) // max(1, target)
        max_split = min(max_bytes, max(open_cost, bytes_per_core))
        est_splits = max(1, -(-total // max(1, max_split)))
    except Exception:
        est_splits = 1  # unreadable probe: assume small, repartition
    if est_splits < target:
        df = df.repartition(target)
    return df


def messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → message log. Pure projection; no shuffle, no UDFs."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(MESSAGES_SQL_BODY)
