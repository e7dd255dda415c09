"""C. Relational core — the query surface over the engine's tables.

These exercise scan/filter/project, decimal-exact aggregation, multi-way
broadcast joins, window functions, anti joins, and top-k — the building
blocks every other operator composes.

Exactness strategy (so the DuckDB oracle hash-matches bit-for-bit):
money math is done in DECIMAL (exact, associative — immune to Spark's
nondeterministic partition-order double summation), cast to DOUBLE only in
the final projection; every top-k / rank has a unique-key tiebreaker.

SCALE: dims (region/nation/customer/supplier/part) are broadcast —
lineitem/orders never shuffle for those joins; aggregations are partial
(map-side combine) before the single shuffle on the group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import load_parallel, load_table
from ..registry import register

DEC = "decimal(18,2)"


def _dec(c: str):
    return F.col(c).cast(DEC)


# --- C1 ------------------------------------------------------------------
Q1_ORACLE = """
SELECT
  l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))
           * CAST(1 + l_tax AS DECIMAL(8,4))), 2) AS DOUBLE)      AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)      AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / count(*)       AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. SCALE: single scan → partial agg → 1 shuffle on
    2 low-cardinality keys; filter + 7-column pruning pushed to parquet.
    load_parallel spreads the CPU-bound decimal partial agg when the file
    yields fewer splits than cores (measured 1.66 s → 1.21 s at sf0.1's
    3-split lineitem); at real scale splits ≥ cores and it is a no-op."""
    li = load_parallel(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    charge = disc_price * (1 + F.col("l_tax")).cast("decimal(8,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(8,4)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- C2 ------------------------------------------------------------------
Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", Q3_ORACLE)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (o_orderpriority stands in for o_shippriority). SCALE:
    customer is broadcast; orders⋈lineitem shuffles once on orderkey. Deterministic
    top-k via (revenue DESC, o_orderdate, l_orderkey) tiebreak."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).alias("_rev"))
        .select(
            "l_orderkey",
            F.col("_rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --- C3 ------------------------------------------------------------------
Q5_ORACLE = """
SELECT
  n_name,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register("tpch_q5_local_supplier", Q5_ORACLE)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. SCALE: region/nation/supplier/customer broadcast;
    the only shuffle joins orders⋈lineitem on orderkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --- C4 ------------------------------------------------------------------
Q6_ORACLE = """
SELECT
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", Q6_ORACLE)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: SCALE: all four predicates + 3-column pruning push to the parquet
    scan (verify via PushedFilters in .explain); single partial agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(8,4)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --- C5 ------------------------------------------------------------------
TOP_CUSTOMERS_ORACLE = """
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_name, n_name
)
SELECT n_name, c_name, total_rev, cust_rank FROM (
  SELECT *, CAST(rank() OVER (PARTITION BY n_name
                  ORDER BY total_rev DESC, c_custkey) AS INT) AS cust_rank
  FROM rev
) WHERE cust_rank <= 3
"""


@register("top_customers_window", TOP_CUSTOMERS_ORACLE)
def top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank per nation. SCALE: agg shuffles on custkey; the rank window
    re-shuffles on n_name only (25 partitions — AQE coalesces)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("total_rev"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("total_rev").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("cust_rank", F.rank().over(w).cast("int"))
        .filter(F.col("cust_rank") <= 3)
        .select("n_name", "c_name", "total_rev", "cust_rank")
    )


# --- C6 ------------------------------------------------------------------
NO_LINEITEM_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
"""


@register("orders_without_lineitems", NO_LINEITEM_ORACLE)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: orders with no lineitems. SCALE: single shuffle on orderkey;
    lineitem side pruned to the join key column only."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )


# --- C7 ------------------------------------------------------------------
CUST_STATS_ORACLE = """
SELECT
  c_custkey, c_name,
  count(o_orderkey)                                     AS n_orders,
  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent,
  count(CASE WHEN o_orderstatus = 'F' THEN 1 END)       AS n_finished
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
HAVING count(o_orderkey) >= 5
"""


@register("customer_order_stats", CUST_STATS_ORACLE)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + conditional agg + having. SCALE: orders shuffles on custkey
    once; customer is broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        F.broadcast(cust)
        .join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        )
        .filter(F.col("n_orders") >= 5)
    )


# --- C8 ------------------------------------------------------------------
RUNNING_REV_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS order_date,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
  FROM orders GROUP BY o_orderdate
)
SELECT order_date,
       CAST(day_rev AS DOUBLE) AS day_rev,
       CAST(sum(day_rev) OVER (ORDER BY order_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS cum_rev
FROM daily
"""


@register("running_revenue", RUNNING_REV_ORACLE)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue by order date. SCALE: daily pre-agg shrinks the window
    input to ~|dates| rows before the single-partition ordered window —
    at 100 TB the window runs over ~2.5k rows, not 150B."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("order_date")).agg(
        F.sum(_dec("o_totalprice")).alias("_day_rev")
    )
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "order_date",
        F.col("_day_rev").cast("double").alias("day_rev"),
        F.sum("_day_rev").over(w).cast("double").alias("cum_rev"),
    )


# --- C9 ------------------------------------------------------------------
ROLLUP_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS priority, year(o_orderdate) AS yr,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT coalesce(priority, 'ALL')            AS priority,
       coalesce(CAST(yr AS BIGINT), -1)     AS order_year,
       count(*)                             AS n_orders,
       CAST(round(sum(price), 2) AS DOUBLE) AS total_price
FROM o
GROUP BY ROLLUP(priority, yr)
"""


@register("rollup_revenue", ROLLUP_ORACLE)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (priority, year) → (priority) → () in one pass
    — the hypertable-rollup pattern: Catalyst expands the grouping sets
    and keeps the aggregation partial, so all three levels cost one
    shuffle of the base agg, not three scans.

    SCALE: rollup output is O(|priorities| × |years|); decimal-exact
    money sum; NULL grouping levels are coalesced to sentinel values so
    downstream consumers (and the oracle hash) see a total order."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        _dec("o_totalprice").alias("price"),
    )
    return (
        o.rollup("priority", "yr")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("price"), 2).cast("double").alias("total_price"))
        .select(
            F.coalesce(F.col("priority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("yr"), F.lit(-1)).alias("order_year"),
            "n_orders",
            "total_price",
        )
    )


# --- C10 -----------------------------------------------------------------
SESSION_GAP_S = 1800
SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM e
)
SELECT user_id, session_id,
       count(*) AS n_events,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id
"""


def sessions_frame(events: DataFrame) -> DataFrame:
    """Per-event session assignment of C10: (user_id, ts, event_id,
    session_id) where session_id is the 0-based running count of
    >30-min-gap starts per user under (ts, event_id) order."""
    from pyspark.sql import Window

    epoch = F.expr("CAST(unix_timestamp(ts) AS BIGINT)")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn(
            "new_session",
            F.when(epoch - F.lag(epoch).over(w) > SESSION_GAP_S, 1).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w_run))
        .drop("new_session")
    )


@register("user_sessions", SESSIONS_ORACLE)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: split each user's event stream on >30-min gaps
    (gaps-and-islands via lag + running sum) and aggregate per session —
    the canonical event-analytics operator over the message log.

    SCALE: one shuffle on user_id serves the lag window, the running
    sum, AND the final agg (same partitioning throughout). user_id is
    high-cardinality → uniform; a key owning a data-sized row share
    serializes the per-user sort into one task. The segment-and-carry
    island merge that split it was slower on every measured workload,
    hot key included, and was removed (docs/SCALE.md rounds 9-10)."""
    ev = load_table(spark, sf_dir, "events")
    return sessions_frame(ev).groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.expr("CAST(unix_timestamp(max(ts)) AS BIGINT)")
            - F.expr("CAST(unix_timestamp(min(ts)) AS BIGINT)")
        ).alias("duration_s"),
    )


# --- C11 -----------------------------------------------------------------
Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


@register("tpch_q4_order_priority", Q4_ORACLE)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (the synthetic lineitem lacks commit/receipt
    dates, so "late" becomes "has a returned item"): orders with at
    least one flagged lineitem, counted by priority — the LEFT SEMI
    join (EXISTS dedups by construction, no distinct needed).

    SCALE: semi join shuffles both sides on orderkey but ships only the
    join key from lineitem (column pruning) and short-circuits per
    order; the priority agg is a broadcastable residue."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- C12 -----------------------------------------------------------------
Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue,
       CAST(round(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE)      AS acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_revenue", Q10_ORACLE)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items in
    a 6-month window.

    SCALE: customer (SF×150k rows) and nation broadcast; the only
    shuffle is lineitem⋈orders on orderkey + the custkey agg; the top-20
    is a TakeOrderedAndProject (per-partition heap, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select(
            "c_custkey", "c_name", "n_name", "revenue",
            F.round(_dec("c_acctbal"), 2).cast("double").alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- C13 -----------------------------------------------------------------
Q14_ORACLE = """
SELECT
  CAST(round(sum(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4)) ELSE 0 END), 2) AS DOUBLE)
  / CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) * 100.0
  AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""


@register("tpch_q14_promo_revenue", Q14_ORACLE)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from PROMO-type parts.
    Both sums stay DECIMAL (exact) and are rounded BEFORE the one
    double division, so the single output value hash-matches.

    SCALE: part broadcast; one scan of the month's lineitem slice, one
    1-row partial agg — no shuffle of fact data at all."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.round(F.sum(promo), 2).cast("double")
                / F.round(F.sum(revenue), 2).cast("double")
                * 100.0
            ).alias("promo_revenue_pct")
        )
    )


# --- C14 -----------------------------------------------------------------
Q18_QTY = 300

Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
       sum(l_quantity) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > {Q18_QTY}
"""


@register("tpch_q18_large_orders", Q18_ORACLE)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds the large-volume
    threshold, with their customer. l_quantity values are small integers
    in doubles, so the sum is exact and order-independent — no decimal
    needed for the HAVING.

    SCALE: the quantity filter aggregates lineitem FIRST (orderkey
    partial agg, >99% selectivity cut), and only surviving orderkeys
    join orders + broadcast customer — the large fact never joins
    unreduced."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round(_dec("o_totalprice"), 2).cast("double").alias("totalprice"),
            "total_qty",
        )
    )


# --- C15 -----------------------------------------------------------------
Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


@register("tpch_q15_top_supplier", Q15_ORACLE)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum quarterly revenue
    (ties all returned, per spec). The max is compared in DECIMAL —
    exact equality, engine-independent.

    SCALE: one suppkey partial agg over the quarter's slice; the max is
    a 1-row broadcast back onto the (tiny, |suppliers|-sized) revenue
    frame; supplier broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue_expr = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(revenue_expr), 2).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.mx)
        .join(F.broadcast(s), rev.supplier_no == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


# --- C16 -----------------------------------------------------------------
Q7_NATION_A = "NATION_20"
Q7_NATION_B = "NATION_11"

Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(extract(year FROM l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4)) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
      OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("tpch_q7_volume_shipping", Q7_ORACLE)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.

    SCALE: supplier+nation and customer+nation are broadcast dims, so the
    only shuffle is the lineitem⋈orders orderkey join; the disjunctive
    nation-pair predicate is applied on the two broadcast sides BEFORE the
    fact join (each side keeps only the two nations), so the big join's
    inputs are pre-cut. The shipdate filter pushes to the parquet scan."""
    pair = [Q7_NATION_A, Q7_NATION_B]
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .filter(F.col("n_name").isin(pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .filter(F.col("n_name").isin(pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    volume = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(volume), 2).cast("double").alias("revenue"))
    )


# --- C17 -----------------------------------------------------------------
Q8_REGION = "ASIA"
Q8_NATION = "NATION_20"
Q8_TYPE = "PROMO"

Q8_ORACLE = f"""
SELECT o_year,
       CAST(round(sum(CASE WHEN nation = '{Q8_NATION}' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
         / CAST(round(sum(volume), 2) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4)) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{Q8_REGION}'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
    AND p_type = '{Q8_TYPE}'
) all_nations
GROUP BY o_year
HAVING round(sum(volume), 2) > 0
"""


@register("tpch_q8_market_share", Q8_ORACLE)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's revenue for one
    part type, by order year (p_type stands in for the spec's two-level
    type match; the cut-down part table has no p_mfgr).

    Exactness: both the CASE'd numerator and the denominator are summed in
    DECIMAL and rounded BEFORE the single double division, so the ratio's
    operands are bit-identical across engines.

    SCALE: part, supplier+nation, customer+nation+region are all broadcast;
    lineitem⋈orders on orderkey is the only shuffle, and the p_type filter
    cuts lineitem via the broadcast part join before it."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    volume = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    zero = F.lit(0).cast(DEC)
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == Q8_NATION, F.col("volume")).otherwise(zero)), 2
            ).alias("nat_vol"),
            F.round(F.sum("volume"), 2).alias("total_vol"),
        )
        .filter(F.col("total_vol") > 0)
        .select(
            "o_year",
            (F.col("nat_vol").cast("double") / F.col("total_vol").cast("double")).alias("mkt_share"),
        )
    )


# --- C18 -----------------------------------------------------------------
Q13_EXCLUDE_PRIORITY = "1-URGENT"

Q13_ORACLE = f"""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCLUDE_PRIORITY}'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@register("tpch_q13_customer_distribution", Q13_ORACLE)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, counting
    customers with zero qualifying orders (o_orderpriority exclusion
    stands in for the spec's o_comment NOT LIKE — the cut-down orders
    table has no comment column). The exclusion lives in the JOIN
    CONDITION, not a WHERE, so excluded-only customers still appear with
    c_count = 0 — the semantics the left join exists to preserve.

    SCALE: two partial aggs — custkey then c_count — each map-side
    combined; the left join shuffles on custkey with the filter applied
    map-side to the orders scan. No window, no skew key (custkey is
    uniform)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != Q13_EXCLUDE_PRIORITY),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- C19 -----------------------------------------------------------------
Q17_BRAND = "Brand#13"
Q17_MAX_SIZE = 25

Q17_ORACLE = f"""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l_partkey AS agg_partkey,
         0.2 * avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) part_agg ON agg_partkey = l_partkey
WHERE p_brand = '{Q17_BRAND}' AND p_size < {Q17_MAX_SIZE}
  AND l_quantity < avg_qty
"""


@register("tpch_q17_small_quantity", Q17_ORACLE)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue lost if small-quantity orders for one
    brand's parts were not taken (p_size < N stands in for the spec's
    p_container — not in the cut-down part table). The spec's correlated
    subquery is decorrelated into a per-partkey avg aggregate joined back
    — the standard unnesting Catalyst itself would choose.

    Exactness: the quantity threshold compares doubles computed the same
    way in both engines (0.2 * avg); the revenue sum is DECIMAL, divided
    by 7.0 once at the end.

    SCALE: the brand filter cuts part to ~1/25 broadcast; the per-partkey
    avg aggregates lineitem restricted to those parts (broadcast
    semi-cut BEFORE the agg), then joins back broadcast — the fact table
    shuffles zero times."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND) & (F.col("p_size") < Q17_MAX_SIZE)
    )
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    avg_qty = (
        branded.groupBy(F.col("l_partkey").alias("agg_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("avg_qty"))
    )
    return (
        branded.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("agg_partkey"))
        .filter(F.col("l_quantity") < F.col("avg_qty"))
        .agg(
            (F.round(F.sum(_dec("l_extendedprice")), 2).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


# --- C20 -----------------------------------------------------------------
Q9_ORACLE = """
SELECT nation, o_year,
       CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))
           - CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%bolt%'
) profit
GROUP BY nation, o_year
"""


@register("tpch_q9_product_profit", Q9_ORACLE)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit per supplier nation per year for parts matching
    a name pattern (p_retailprice × quantity stands in for the spec's
    ps_supplycost — the cut-down schema has no partsupp table; the join
    tree, the LIKE filter, and the profit expression shape are the
    spec's).

    SCALE: part (LIKE-filtered), supplier+nation broadcast; the only
    shuffle join is lineitem⋈orders on orderkey, and the broadcast part
    join cuts lineitem BEFORE it. The profit expression is DECIMAL
    end-to-end — the sum is exact and order-free — with one rounded
    cast to double at the end."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    amount = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)") - (
        _dec("p_retailprice") * _dec("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


# --- C21 -----------------------------------------------------------------
Q22_CUTOFF = "1999-01-01"

Q22_ORACLE = f"""
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS ab
  FROM customer WHERE c_acctbal > 0.0
),
idle AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
  FROM customer c CROSS JOIN avg_bal
  WHERE c.c_acctbal > ab
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF}'
    )
)
SELECT c_mktsegment, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS totacctbal
FROM idle GROUP BY c_mktsegment
"""


@register("tpch_q22_idle_balances", Q22_ORACLE)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: customers with above-average positive balances and no
    recent orders, grouped (c_mktsegment stands in for the spec's phone
    country code — no phone column in the cut-down schema; the
    scalar-subquery + NOT EXISTS anti-join shape is the spec's).

    Threshold determinism: a raw double avg is accumulation-order
    dependent in BOTH engines, and a customer sitting exactly at the
    threshold would flip — so both sides compute the average as an
    exact DECIMAL sum cast to double before the one division, making
    the threshold bit-identical.

    SCALE: the 1-row average broadcasts onto customer; the anti join
    shuffles customer against recent-orders custkeys (both custkey-
    uniform); the final agg is tiny. Orders is date-pruned at the scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q22_CUTOFF).cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("ab")
    )
    idle = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("totacctbal"),
    )


# --- C22 -----------------------------------------------------------------
# TPC-H Q19 adapted to the cut-down schema: the spec's three OR'd
# (brand, container, quantity, size, shipmode, shipinstruct) clauses keep
# their brand/size/quantity structure; container/shipmode/shipinstruct
# are not in the generated tables.
Q19_CLAUSES = [
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#34", 1, 15, 20, 30),
]
_Q19_PRED_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {s0} AND {s1} "
    f"AND l_quantity BETWEEN {q0} AND {q1})"
    for b, s0, s1, q0, q1 in Q19_CLAUSES
)
_Q19_QTY_LO = min(c[3] for c in Q19_CLAUSES)
_Q19_QTY_HI = max(c[4] for c in Q19_CLAUSES)

Q19_ORACLE = f"""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,4))), 2) AS DOUBLE)
         AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {_Q19_PRED_SQL}
"""


@register("tpch_q19_disjunctive_filter", Q19_ORACLE)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from qualifying small-shipment part+lineitem
    combinations under an OR-of-ANDs predicate that mixes columns of
    BOTH join sides — the classic "disjunctive join predicate" plan
    shape.

    SCALE: Catalyst cannot push a cross-table disjunction through the
    join, so each side gets its hand-derived ENVELOPE pushed instead:
    part is pre-cut to the union of the three (brand, size) boxes
    (broadcast after the cut), lineitem to the overall quantity range
    [min, max of all clauses] at the scan — plan shows PushedFilters on
    l_quantity. The full mixed predicate then runs post-join on the
    envelope survivors only; the fact table never shuffles (broadcast
    join) and never reads a row outside the quantity envelope.

    Exactness: DECIMAL revenue, rounded then cast once."""
    part_env = F.lit(False)
    for b, s0, s1, _, _ in Q19_CLAUSES:
        part_env = part_env | (
            (F.col("p_brand") == b) & F.col("p_size").between(s0, s1)
        )
    p = load_table(spark, sf_dir, "part").filter(part_env)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(_Q19_QTY_LO, _Q19_QTY_HI)
    )
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    full_pred = F.lit(False)
    for b, s0, s1, q0, q1 in Q19_CLAUSES:
        full_pred = full_pred | (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s0, s1)
            & F.col("l_quantity").between(q0, q1)
        )
    return joined.filter(full_pred).agg(
        F.round(
            F.sum(_dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")), 2
        )
        .cast("double")
        .alias("revenue")
    )


# --- C23 -----------------------------------------------------------------
FUNNEL_STEPS = ["view", "click", "purchase"]  # strictly ordered by event_id

FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(event_id) AS e1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.event_id) AS e2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.event_id > s1.e1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.event_id) AS e3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.event_id > s2.e2
  GROUP BY e.user_id
),
counts AS (
  SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
),
top AS (SELECT n_users AS n_top FROM counts WHERE step = 1)
SELECT c.step, c.event_type, c.n_users,
       round(CAST(c.n_users AS DOUBLE)
             / lag(c.n_users, 1, c.n_users) OVER (ORDER BY c.step), 6)
         AS conv_from_prev,
       round(CAST(c.n_users AS DOUBLE) / t.n_top, 6) AS conv_from_top
FROM counts c CROSS JOIN top t
"""


@register("funnel_conversion", FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users progress view → click →
    purchase, where each step must happen strictly AFTER the user's
    first instance of the previous step (event_id order — unique and
    monotone, so the funnel is generation-proof and tie-free).
    Step-over-step and step-over-top conversion rates per row.

    SCALE: three conditional min-aggregations, all shuffled on user_id
    — a key whose cardinality scales with the data, so no hot reducer;
    the step joins are user-co-partitioned (AQE reuses the exchange)
    and the final rates run on a 3-row frame. No corpus-sized window
    anywhere.

    Reference analogue: none (events-domain analytics family)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("e1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("event_id") > F.col("e1"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("e2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("event_id") > F.col("e2"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("e3"))
    )
    counts = (
        s1.agg(F.count("*").alias("n_users")).select(
            F.lit(1).alias("step"), F.lit("view").alias("event_type"), "n_users"
        )
        .unionByName(
            s2.agg(F.count("*").alias("n_users")).select(
                F.lit(2).alias("step"), F.lit("click").alias("event_type"), "n_users"
            )
        )
        .unionByName(
            s3.agg(F.count("*").alias("n_users")).select(
                F.lit(3).alias("step"), F.lit("purchase").alias("event_type"), "n_users"
            )
        )
    )
    from pyspark.sql import Window

    # 3-row frame: the unpartitioned lag window is control-plane-sized
    top = counts.filter(F.col("step") == 1).select(F.col("n_users").alias("n_top"))
    w = Window.orderBy("step")
    return (
        counts.crossJoin(F.broadcast(top))
        .select(
            "step",
            "event_type",
            "n_users",
            F.round(
                F.col("n_users").cast("double")
                / F.lag("n_users", 1, None).over(w).cast("double"),
                6,
            ).alias("conv_from_prev"),
            F.round(F.col("n_users").cast("double") / F.col("n_top"), 6).alias("conv_from_top"),
        )
        .withColumn(
            "conv_from_prev",
            F.coalesce(F.col("conv_from_prev"), F.lit(1.0)),
        )
    )


# --- C24 -----------------------------------------------------------------
WEEK_S = 604800  # epoch seconds per week

RETENTION_ORACLE = f"""
WITH act AS (
  SELECT user_id, epoch_ms(ts) // 1000 // {WEEK_S} AS week
  FROM events GROUP BY user_id, epoch_ms(ts) // 1000 // {WEEK_S}
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
),
size_ AS (
  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY cohort_week
),
ret AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS k, count(*) AS n_active
  FROM act a JOIN cohort c ON c.user_id = a.user_id
  GROUP BY c.cohort_week, a.week - c.cohort_week
)
SELECT r.cohort_week, CAST(r.k AS BIGINT) AS week_k, s.cohort_size,
       r.n_active,
       round(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM ret r JOIN size_ s USING (cohort_week)
"""


@register("retention_cohorts", RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by their first-activity
    week; for each (cohort, week-offset k) the fraction of the cohort
    still active — the standard growth-analytics triangle.

    SCALE: the (user, week) activity grid is the only event-scale agg
    (shuffled on a scaling key, map-side combined); cohorts derive from
    it (|users| rows), and the retention cells are |cohorts|·|weeks|.
    Week ids are integer epoch arithmetic on the normalized LTZ
    timestamps — identical in both engines across every ts generation.

    Reference analogue: none (events-domain analytics family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", (F.unix_millis("ts") / 1000).cast("long").alias("sec")
    )
    act = ev.select(
        "user_id", (F.col("sec") / WEEK_S).cast("long").alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    size = cohort.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    ret = (
        act.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_k"))
        .agg(F.count("*").alias("n_active"))
    )
    return (
        ret.join(F.broadcast(size), "cohort_week")
        .select(
            "cohort_week",
            F.col("week_k").cast("bigint").alias("week_k"),
            "cohort_size",
            "n_active",
            F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


# --- C25 -----------------------------------------------------------------
ASOF_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, value FROM events
  WHERE event_type IN ('view', 'purchase')
),
tagged AS (
  SELECT user_id, event_id, event_type, value,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
  FROM ev
)
SELECT user_id,
       event_id AS purchase_id,
       value AS purchase_value,
       prior_view_id,
       event_id - prior_view_id AS id_gap
FROM tagged WHERE event_type = 'purchase'
"""


@register("asof_join_purchases", ASOF_ORACLE)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: each purchase matched to the same user's most recent
    PRIOR view (the attribution primitive; identical in shape to
    trades-asof-quotes). Spark has no asof-join operator, so this is
    the canonical DataFrame re-expression: union both sides into one
    stream, carry the last view id forward with an
    ignore-nulls last_value window, and keep the purchase rows —
    one pass, no per-row lookup, no join explosion. Purchases with no
    prior view emit NULL (left-asof semantics). Ordered by event_id —
    unique, so tie-free and generation-proof.

    SCALE: ONE window partitioned by user_id — a key whose cardinality
    scales with the data (the C10 sessionization argument); the type
    filter prunes the scan to the two participating event classes
    before the shuffle. This beats the naive formulation (purchases
    join views on user + view_id < purchase_id, then per-purchase
    argmax), which pays a join blow-up of views x purchases per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    ).filter(F.col("event_type").isin("view", "purchase"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "prior_view_id",
        F.last(
            F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        "prior_view_id",
        (F.col("event_id") - F.col("prior_view_id")).alias("id_gap"),
    )


# --- C26 -----------------------------------------------------------------
IMPACT_WINDOW_S = 60  # seconds after an error event

RANGE_JOIN_ORACLE = f"""
WITH err AS (
  SELECT user_id, event_id AS err_id, epoch_ms(ts) AS err_ms
  FROM events WHERE event_type = 'error'
),
hit AS (
  SELECT err.user_id, err.err_id,
         count(*) AS n_events,
         CAST(round(sum(e.value::DECIMAL(18,2)), 2) AS DOUBLE) AS sum_value
  FROM err
  JOIN events e
    ON e.user_id = err.user_id
   AND epoch_ms(e.ts) > err.err_ms
   AND epoch_ms(e.ts) <= err.err_ms + {IMPACT_WINDOW_S} * 1000
  GROUP BY err.user_id, err.err_id
)
SELECT err.user_id, err.err_id,
       coalesce(h.n_events, 0) AS n_events,
       coalesce(h.sum_value, 0.0) AS sum_value
FROM err LEFT JOIN hit h ON h.err_id = err.err_id AND h.user_id = err.user_id
"""


@register("range_join_error_impact", RANGE_JOIN_ORACLE)
def range_join_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: for every error event, the count and value of the
    same user's activity in the (0, 60 s] window after it — the blast-
    radius/interval-join primitive (each error defines an interval,
    probes join by containment). Errors with a quiet aftermath emit 0.

    SCALE: the interval predicate rides ON an equi key (user_id), so
    the join hash-partitions on a scaling key and the range condition
    is a residual filter — never a cartesian. When no equi key exists,
    the same operator generalizes by BINNING: explode each interval
    into fixed-width time bins, equi-join on bin, re-filter exactly —
    bounded fan-out of interval_len/bin_width per interval.

    Exactness: the value sum is DECIMAL (order-free), rounded once;
    window bounds are integer millisecond arithmetic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_millis("ts").alias("ms"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ms").alias("err_ms")
    )
    probe = ev.select("user_id", "ms", "v")
    hit = (
        err.join(
            probe,
            (err.user_id == probe.user_id)
            & (probe.ms > err.err_ms)
            & (probe.ms <= err.err_ms + IMPACT_WINDOW_S * 1000),
        )
        .groupBy(err.user_id, "err_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("v"), 2).cast("double").alias("sum_value"),
        )
    )
    return (
        err.select("user_id", "err_id")
        .join(hit, ["user_id", "err_id"], "left")
        .select(
            "user_id",
            "err_id",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


# --- C27 -----------------------------------------------------------------
CUBE_ORACLE = """
WITH o AS (
  SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT coalesce(priority, 'ALL') AS priority,
       coalesce(segment, 'ALL')  AS segment,
       count(*)                  AS n_orders,
       CAST(round(sum(price), 2) AS DOUBLE) AS total_price
FROM o
GROUP BY CUBE(priority, segment)
"""


@register("cube_revenue", CUBE_ORACLE)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, segment): all four grouping sets — both
    margins, each single dimension, and the grand total — in one pass
    (C9's rollup covers the hierarchical subset; cube completes the
    grouping-sets surface).

    SCALE: Catalyst expands the cube BEFORE the partial agg, so one
    shuffle carries all 4 grouping sets at O(cells) cost; the customer
    dim joins broadcast. Sentinel-coalesced NULL levels keep the
    output (and the oracle hash) totally ordered."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return (
        j.cube("priority", "segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("price"), 2).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("priority", F.lit("ALL")).alias("priority"),
            F.coalesce("segment", F.lit("ALL")).alias("segment"),
            "n_orders",
            "total_price",
        )
    )


# --- C28 -----------------------------------------------------------------
PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_PIVOT_COLS_DUCK = ",\n       ".join(
    f"""CAST(round(sum(CASE WHEN priority = '{p}' THEN price END), 2) AS DOUBLE)
         AS "p{i + 1}" """
    for i, p in enumerate(PIVOT_PRIORITIES)
)

PIVOT_ORACLE = f"""
WITH o AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
         o_orderpriority AS priority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT order_year,
       {_PIVOT_COLS_DUCK}
FROM o GROUP BY order_year
"""


@register("pivot_priority_revenue", PIVOT_ORACLE)
def pivot_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: yearly revenue with one column per order priority — the
    wide report shape BI consumers ask of an engine. The pivot values
    are ENUMERATED literals (p1..p5), which is what makes pivot
    scale-planning sound: Spark's pivot with explicit values compiles
    to conditional aggregates in ONE partial-agg pass — never the
    two-pass distinct-discovery variant (an extra full scan) the
    values-less API falls back to.

    SCALE: one shuffle on order_year; each cell is a map-side
    conditional DECIMAL sum; output is |years| rows.

    Exactness: decimal sums rounded then cast once; empty cells are
    NULL in both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    p = (
        o.groupBy("order_year")
        .pivot("priority", PIVOT_PRIORITIES)
        .agg(F.round(F.sum("price"), 2).cast("double"))
    )
    renames = [F.col("order_year")] + [
        F.col(f"`{p_}`").alias(f"p{i + 1}") for i, p_ in enumerate(PIVOT_PRIORITIES)
    ]
    return p.select(*renames)


# --- C29 -----------------------------------------------------------------
Q12_ORACLE = """
WITH l AS (
  SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 14 DAY THEN 'EXPRESS'
              WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 'REGULAR'
              ELSE 'DEFERRED' END AS ship_bucket,
         o_orderpriority AS prio
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
)
SELECT ship_bucket,
       CAST(sum(CASE WHEN prio IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN prio NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM l
WHERE ship_bucket IN ('REGULAR', 'DEFERRED')
GROUP BY ship_bucket
ORDER BY ship_bucket
"""


@register("tpch_q12_shipmode_priority", Q12_ORACLE)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (the synthetic lineitem has no l_shipmode /
    commit/receipt dates, so "ship mode" becomes the DERIVED ship-lag
    bucket — EXPRESS <=14d, REGULAR <=60d, DEFERRED beyond — and Q12's
    two-mode filter keeps the slow pair): did low-priority orders ride
    the slow buckets?  The high/low split is Q12's conditional
    aggregate, verbatim.

    Lag compares raw timestamps (l_shipdate <= o_orderdate + INTERVAL),
    never datediff — identical semantics in Spark and DuckDB even if a
    timestamp ever carries a time-of-day component.

    SCALE: the ONLY fact-sized exchange is lineitem join orders on
    orderkey (both fact tables at real SF — SMJ is the right plan; AQE
    may broadcast at test SF); the year filter prunes lineitem at the
    scan, the bucket filter is map-side post-join, and the 2-row
    conditional agg is partial before its tiny shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    bucket = (
        F.when(
            F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 14 DAYS"), "EXPRESS"
        )
        .when(F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), "REGULAR")
        .otherwise("DEFERRED")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("ship_bucket", bucket)
        .filter(F.col("ship_bucket").isin("REGULAR", "DEFERRED"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # mirror the oracle's NOT IN exactly: a NULL priority counts
            # in NEITHER bucket (when(~high) is NULL→otherwise 0, same
            # as CASE NULL NOT IN (...) THEN 1 ELSE 0) — never the
            # complement when(high, 0).otherwise(1), which would count
            # a NULL row as low and hash-diverge on nullable data
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


# --- C30 -----------------------------------------------------------------
Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_9'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("tpch_q21_waiting_suppliers", Q21_ORACLE)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 "suppliers who kept orders waiting" (adapted: "late"
    is shipped >60 days after the order date — the synthetic schema has
    no commit/receipt dates): for finished ('F') orders, count each
    nation-NATION_9 supplier's late lineitems on MULTI-supplier orders
    where it was the ONLY late supplier.  The oracle keeps Q21's
    literal correlated EXISTS / NOT-EXISTS self-join pair, so the two
    engines derive the answer through genuinely different shapes.

    SCALE: the published plan for Q21 needs TWO extra self-joins of the
    fact table; this derivation collapses both into per-order counts —
    one (orderkey, suppkey) partial agg (late flag + late-row count)
    followed by a per-ORDER window over that residue — so lineitem is
    scanned exactly once, in one linear pipeline with no self-
    referencing branch (a groupBy + join-back would make Spark build
    the fact subtree twice), and every exchange after the
    lineitem-orders orderkey join carries only per-(order,supplier)
    residue rows.  EXISTS(other supplier) == n_suppliers > 1 and
    NOT EXISTS(other late supplier) == n_late_suppliers == 1 exactly
    because counts are computed per order.  supplier/nation broadcast;
    the top-20 is a TakeOrderedAndProject."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int")
    # one pass over F-order lineitems -> per-(order, supplier) residue
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"), F.sum("late").alias("late_rows"))
    )
    w = Window.partitionBy("l_orderkey")
    waits = (
        ls.withColumn("n_suppliers", F.count("*").over(w))
        .withColumn("n_late_suppliers", F.sum("is_late").over(w))
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_suppliers") > 1)
            & (F.col("n_late_suppliers") == 1)
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    return (
        waits.join(F.broadcast(s), waits.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("late_rows").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --- C31 -----------------------------------------------------------------
Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = ps.l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
  AND ps.l_suppkey IS NOT NULL
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("tpch_q16_supplier_part_types", Q16_ORACLE)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape "parts/supplier relationship" (adapted: the
    synthetic schema has no partsupp table, so the part-supplier
    relation is RECONSTRUCTED as DISTINCT (l_partkey, l_suppkey) from
    the fact log — who ever shipped what; "customer complaints" becomes
    a negative account balance): how many qualified suppliers can serve
    each (brand, type, size) slice, excluding one brand, one type, and
    suppliers on the complaint list (Q16's NOT IN).

    SCALE: the ONLY fact-sized exchange is the DISTINCT on the pair key
    (map-side partial dedup first); the complaint list is a broadcast
    LEFT ANTI join (s_suppkey is never NULL on the subquery side, and
    BOTH sides drop NULL probes unconditionally: the Spark plan
    pre-filters l_suppkey IS NOT NULL and the oracle carries the same
    explicit predicate — necessary because NOT IN over an EMPTY
    complaint list is TRUE even for a NULL probe (ADVICE r09: with zero
    negative-balance suppliers the clause-free oracle would keep NULL
    pairs the anti-join path drops) — so NOT IN == anti join exactly,
    with no non-empty-subquery assumption), the
    brand/type/size filters push into the broadcast part dim's scan,
    and count(DISTINCT suppkey) is Spark's standard two-shuffle
    expand — both on slice-sized residue, not the fact table."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    complaints = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49)
    )
    return (
        pairs.join(F.broadcast(complaints), pairs.l_suppkey == complaints.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --- C32 -----------------------------------------------------------------
Q11_ORACLE = """
WITH nv AS (
  SELECT n_name,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(round(value_dec, 2) AS DOUBLE) AS value
FROM nv
WHERE CAST(value_dec AS DECIMAL(28,6)) * CAST(1000 AS DECIMAL(4,0))
    > (SELECT CAST(sum(value_dec) AS DECIMAL(28,6)) FROM nv)
      * CAST(42 AS DECIMAL(2,0))
ORDER BY value DESC
"""


@register("tpch_q11_important_balances", Q11_ORACLE)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape "important stock concentration" (adapted: no
    partsupp, so "value held" becomes revenue shipped BY each
    supplier nation): nations whose revenue exceeds a fixed fraction
    (0.042) of the GLOBAL total — Q11's defining HAVING-above-a-
    scalar-subquery pattern.

    Exactness: the per-nation sums AND the global total stay DECIMAL
    (exact, associative), and the 0.042 threshold compares as
    INTEGER-SCALED decimals — value·1000 > total·42 on operands
    down-cast to DECIMAL(28,6) so neither engine's product exceeds
    its precision cap (a naive total × 0.042 overflows Spark's
    precision 38 and gets silently rounded under allowPrecisionLoss,
    while DuckDB resolves the overflow differently — the one place
    the two engines could disagree). The (28,6) down-cast bounds
    values at 10^22: unreachable for money totals, and chosen so
    both products stay exact. Rounding to DOUBLE happens only in the
    final projection.

    SCALE: supplier + nation broadcast, so the fact table never
    shuffles for a join; one partial agg to 25 nation rows; the global
    total re-aggregates those 25 rows and rides back as a broadcast
    1-row cross join (the repo's standard scalar-attach) — no second
    fact scan, unlike the literal Q11 which scans partsupp twice."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = _dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    nv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("value_dec"))
    )
    total = nv.agg(F.sum("value_dec").cast("decimal(28,6)").alias("total_dec"))
    return (
        nv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("decimal(28,6)") * F.lit(1000).cast("decimal(4,0)")
            > F.col("total_dec") * F.lit(42).cast("decimal(2,0)")
        )
        .select("n_name", F.round("value_dec", 2).cast("double").alias("value"))
        .orderBy(F.col("value").desc())
    )
