"""Changefeed-query-style analytic suite over the test tables (SURVEY §2 B).

The reference's query surface is CockroachDB changefeed queries
(projections/filters over mutation streams) plus whatever the target
database runs; we exercise the equivalent relational surface with
Spark-first plans. Every query has a DuckDB oracle in ``ORACLES``.

Correctness discipline shared by both sides:
- Money math is computed in exact DECIMAL (no double accumulation
  divergence), then the *final* aggregate is cast to DOUBLE — an exact
  decimal converts to the identical IEEE double in Spark and DuckDB.
- Every computed column is aliased identically in both dialects.
- No bare LIMIT/top-k on columns with possible ties; tie-breaks are total.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEC_Q = "decimal(12,2)"  # quantities / prices
DEC_R = "decimal(6,4)"  # rates (discount / tax)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from cdc_sink_spark.session import table

    return table(spark, sf_dir, name)


def _dbl(c) -> F.Column:
    return c.cast("double")


# --------------------------------------------------------------------------
# B1: pricing summary (TPC-H Q1 shape). Pure scan+agg: predicate pushes to
# parquet, aggregation is partial/map-side, no join, one shuffle on the
# 8-value grouping key.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC_Q)
    price = F.col("l_extendedprice").cast(DEC_Q)
    disc = F.col("l_discount").cast(DEC_R)
    tax = F.col("l_tax").cast(DEC_R)
    one = F.lit(1).cast(DEC_R)
    # The disc_price product feeds BOTH sum_disc_price and sum_charge,
    # and whole-stage codegen does NOT subexpression-eliminate it inside
    # the hash aggregate (verified: zero subExpr blocks in the generated
    # code for the inline form) — so project it ONCE before the agg. The
    # expression tree per output column is unchanged (bit-identical
    # results); the scan-side decimal multiply runs once per row, not
    # twice. ~10% on a single-row-group local scan; proportionally more
    # at real scale where per-row agg work dominates the partial pass.
    pre = li.filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        qty.alias("__q"),
        price.alias("__p"),
        disc.alias("__d"),
        (price * (one - disc)).alias("__dp"),
        tax.alias("__t"),
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum("__q")).alias("sum_qty"),
            _dbl(F.sum("__p")).alias("sum_base_price"),
            _dbl(F.sum("__dp").cast("decimal(38,6)")).alias("sum_disc_price"),
            _dbl(
                F.sum(F.col("__dp") * (one + F.col("__t"))).cast("decimal(38,6)")
            ).alias("sum_charge"),
            (_dbl(F.sum("__q")) / F.count(F.lit(1))).alias("avg_qty"),
            (_dbl(F.sum("__p")) / F.count(F.lit(1))).alias("avg_price"),
            (_dbl(F.sum("__d")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM((CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# B2: shipping-priority (Q3 shape). customer is a small dim at every SF
# relative to lineitem -> broadcast; orders⋈lineitem shuffles on orderkey.
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast(DEC_Q)
    disc = F.col("l_discount").cast(DEC_R)
    one = F.lit(1).cast(DEC_R)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dbl(F.sum(price * (one - disc)).cast("decimal(38,4)")).alias("revenue"))
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


# --------------------------------------------------------------------------
# B3: local-supplier volume (Q5 shape). region/nation/supplier broadcast;
# the only big shuffles are lineitem⋈orders (orderkey) and the final agg.
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC_Q)
    disc = F.col("l_discount").cast(DEC_R)
    one = F.lit(1).cast(DEC_R)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dbl(F.sum(price * (one - disc)).cast("decimal(38,4)")).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# B4: forecast revenue change (Q6 shape). Scan+filter+global agg — the
# filters all push into the parquet reader (PushedFilters), zero joins.
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC_Q)
    disc = F.col("l_discount").cast(DEC_R)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").cast(DEC_R) >= F.lit("0.05").cast(DEC_R))
            & (F.col("l_discount").cast(DEC_R) <= F.lit("0.07").cast(DEC_R))
            & (F.col("l_quantity") < 24)
        )
        .agg(_dbl(F.sum(price * disc).cast("decimal(38,4)")).alias("revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


Q6_SQL = """
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(6,4)) BETWEEN CAST('0.05' AS DECIMAL(6,4)) AND CAST('0.07' AS DECIMAL(6,4))
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# B5: returned-items revenue per customer (Q10 shape).
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast(DEC_Q)
    disc = F.col("l_discount").cast(DEC_R)
    one = F.lit(1).cast(DEC_R)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dbl(F.sum(price * (one - disc)).cast("decimal(38,4)")).alias("revenue"))
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""


# --------------------------------------------------------------------------
# B6: tumbling-window event aggregation — the batch analogue of the
# streaming windowed agg; groups on (hour bucket, type).
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    val = F.col("value").cast(DEC_Q)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dbl(F.sum(val)).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


EVENTS_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# --------------------------------------------------------------------------
# B7: latest event per user — argmax per key. This is exactly the CDC
# last-write-wins shape (msort.UniqueByKey) on a real table: one shuffle
# on the key, row_number instead of a global sort.
def events_latest_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


EVENTS_LATEST_SQL = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# B8: gap-based sessionization (30-min inactivity). lag + conditional sum
# windows; single shuffle on user_id, sort within partition only.
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microseconds, not whole seconds: a 1800.5 s gap is a new session.
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = us - F.lag(us, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


EVENTS_SESSION_SQL = """
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM (
  SELECT user_id, ts,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
      CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
           OR LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
)
GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# B9: top-k per group with a total tie-break (deterministic top-3 parts by
# retail price per brand).
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rank_in_brand", F.row_number().over(w))
        .filter(F.col("rank_in_brand") <= 3)
        .select("p_brand", "rank_in_brand", "p_partkey", "p_name", "p_retailprice")
    )


TOPK_SQL = """
SELECT p_brand, rank_in_brand, p_partkey, p_name, p_retailprice FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rank_in_brand
  FROM part
) WHERE rank_in_brand <= 3
"""


# --------------------------------------------------------------------------
# B10: ROLLUP aggregation over the region/nation/customer hierarchy.
def grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast(DEC_Q)
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), _dbl(F.sum(bal)).alias("sum_acctbal"))
    )


ROLLUP_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --------------------------------------------------------------------------
# B11: AS-OF join — each purchase event matched to the customer's latest
# order at-or-before the event. Spark lacks ASOF JOIN; the scalable
# construction is the union/last_value trick: one shuffle on the key, a
# within-partition sort, no n×m join blowup. (DuckDB has native ASOF JOIN
# for the oracle.) We return the matched *orderdate* (deterministic even
# when several orders share it).
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    orders = _t(spark, sf_dir, "orders")
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
    )
    u = left.unionByName(right)
    w = Window.partitionBy("k").orderBy("t", "side").rowsBetween(Window.unboundedPreceding, 0)
    matched = F.max(F.when(F.col("side") == 0, F.col("t"))).over(w)
    return (
        u.withColumn("matched_orderdate", matched)
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id"),
            F.col("k").alias("user_id"),
            F.col("t").alias("event_ts"),
            "matched_orderdate",
        )
    )


ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts AS event_ts, o.o_orderdate AS matched_orderdate
FROM (SELECT * FROM events WHERE event_type = 'purchase') e
ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


# --------------------------------------------------------------------------
# B12: time-range self-join, bucketed. Naive |t1-t2|<=300s self-join is a
# cross product per user; bucketing time into 300-s cells turns it into an
# equi-join on (user, cell) with each left row probing its cell and the
# next — O(n·k) instead of O(n²) per key, and it's a plain shuffle join
# Catalyst can plan.
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Microseconds, not whole seconds: a pair 300.5 s apart is no match.
    width = 300 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("us")
    )
    bucket = F.expr(f"us div {width}")
    left = ev.withColumn("b0", bucket).withColumn(
        "b", F.explode(F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1))
    )
    right = ev.withColumn("b", bucket).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("us").alias("r_us"),
        "b",
    )
    pairs = left.join(
        right,
        (left.user_id == right.r_user)
        & (left.b == right.b)
        & (left.event_id < right.r_event)
        & (F.abs(left.us - right.r_us) <= width),
    ).select("user_id", "event_id", "r_event").distinct()
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


RANGE_JOIN_SQL = """
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND ABS(epoch(a.ts) - epoch(b.ts)) <= 300
GROUP BY a.user_id
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "events_windowed_agg": events_windowed_agg,
    "events_latest_by_user": events_latest_by_user,
    "events_sessionize": events_sessionize,
    "top_k_per_group": top_k_per_group,
    "grouping_sets_rollup": grouping_sets_rollup,
    "asof_join": asof_join,
    "range_join_bucketed": range_join_bucketed,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "events_windowed_agg": EVENTS_WINDOW_SQL,
    "events_latest_by_user": EVENTS_LATEST_SQL,
    "events_sessionize": EVENTS_SESSION_SQL,
    "top_k_per_group": TOPK_SQL,
    "grouping_sets_rollup": ROLLUP_SQL,
    "asof_join": ASOF_SQL,
    "range_join_bucketed": RANGE_JOIN_SQL,
}


# --------------------------------------------------------------------------
# B13: JSON payload projection — the changefeed-query shape `SELECT
# (props->>'k') FROM events` (cdc queries project fields out of JSON
# payloads; get_json_object is codegen'd, no UDF).
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    val = F.col("value").cast(DEC_Q)
    return (
        ev.select(k.alias("k"), val.alias("v"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl(F.sum("v").cast("decimal(38,2)")).alias("sum_value"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""

QUERIES["events_json_extract"] = events_json_extract
ORACLES["events_json_extract"] = EVENTS_JSON_SQL


# --------------------------------------------------------------------------
# B22: daily OHLC downsampling — the continuous-aggregate / hypertable
# rollup shape: first/last by event time plus min/max per bucket, all
# from one shuffle on (user, day).
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    val = F.col("value").cast(DEC_Q)
    base = ev.withColumn("day", day)
    return (
        base.withColumn("rn_open", F.row_number().over(w))
        .withColumn("rn_close", F.row_number().over(wd))
        .groupBy("user_id", "day")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, val)).cast("double").alias("open"),
            F.max(F.when(F.col("rn_close") == 1, val)).cast("double").alias("close"),
            F.min(val).cast("double").alias("low"),
            F.max(val).cast("double").alias("high"),
            F.count(F.lit(1)).alias("n"),
        )
    )


OHLC_SQL = """
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
  CAST(MAX(CASE WHEN rn_open = 1 THEN v END) AS DOUBLE) AS open,
  CAST(MAX(CASE WHEN rn_close = 1 THEN v END) AS DOUBLE) AS close,
  CAST(MIN(v) AS DOUBLE) AS low,
  CAST(MAX(v) AS DOUBLE) AS high,
  COUNT(*) AS n
FROM (
  SELECT user_id, date_trunc('day', ts) AS day, CAST(value AS DECIMAL(12,2)) AS v,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS rn_open,
    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_close
  FROM events
)
GROUP BY user_id, day
"""


# --------------------------------------------------------------------------
# B23: exact percentiles per group (median / p90, linear interpolation).
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


PERCENTILE_SQL = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# B24: fixed-width histogram of event values (width 5), zero-bucket-safe.
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 5).cast("long") * 5
    return ev.groupBy(bucket.alias("bucket_lo")).agg(F.count(F.lit(1)).alias("n"))


HISTOGRAM_SQL = """
SELECT CAST(floor(value / 5) AS BIGINT) * 5 AS bucket_lo, COUNT(*) AS n
FROM events GROUP BY 1
"""

QUERIES["events_ohlc_daily"] = events_ohlc_daily
ORACLES["events_ohlc_daily"] = OHLC_SQL
QUERIES["value_percentiles"] = value_percentiles
ORACLES["value_percentiles"] = PERCENTILE_SQL
QUERIES["value_histogram"] = value_histogram
ORACLES["value_histogram"] = HISTOGRAM_SQL


# --------------------------------------------------------------------------
# B25: as-of join with tolerance — matches older than 30 days are
# nulled (the sensor-data asof shape: stale reference data is no match).
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = asof_join(spark, sf_dir)
    tol = 30 * 86400
    fresh = (
        F.col("event_ts").cast("timestamp_ltz").cast("long")
        - F.col("matched_orderdate").cast("timestamp_ltz").cast("long")
    ) <= tol
    return base.select(
        "event_id",
        "user_id",
        "event_ts",
        F.when(fresh, F.col("matched_orderdate")).alias("matched_orderdate"),
    )


ASOF_TOL_SQL = """
SELECT event_id, user_id, event_ts,
  CASE WHEN epoch(event_ts) - epoch(matched_orderdate) <= 2592000
       THEN matched_orderdate END AS matched_orderdate
FROM (
  SELECT e.event_id, e.user_id, e.ts AS event_ts, o.o_orderdate AS matched_orderdate
  FROM (SELECT * FROM events WHERE event_type = 'purchase') e
  ASOF LEFT JOIN orders o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
)
"""


# --------------------------------------------------------------------------
# B26: manual pivot — per-user event-type counts as columns (the
# changefeed-metrics wide table shape). CASE pivot keeps the plan a
# single grouped aggregation; Spark's .pivot would need a distinct scan.
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == k, 1).otherwise(0)).alias(f"n_{k}")
        for k in kinds
    ]
    return ev.groupBy("user_id").agg(*aggs)


PIVOT_SQL = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""

QUERIES["asof_join_tolerance"] = asof_join_tolerance
ORACLES["asof_join_tolerance"] = ASOF_TOL_SQL
QUERIES["events_pivot"] = events_pivot
ORACLES["events_pivot"] = PIVOT_SQL


# --------------------------------------------------------------------------
# B27: set operations — INTERSECT/EXCEPT of customer key sets.
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big_spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC_Q)).alias("s"))
        .filter(F.col("s") > F.lit(500000).cast(DEC_Q))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    both = building.intersect(big_spenders).withColumn("bucket", F.lit("both"))
    only_building = building.exceptAll(big_spenders).withColumn("bucket", F.lit("building_only"))
    return both.unionByName(only_building).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("min_key")
    )


SET_OPS_SQL = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
big AS (
  SELECT o_custkey AS c_custkey FROM orders
  GROUP BY o_custkey
  HAVING SUM(CAST(o_totalprice AS DECIMAL(12,2))) > CAST(500000 AS DECIMAL(12,2))
)
SELECT bucket, COUNT(*) AS n, MIN(c_custkey) AS min_key FROM (
  SELECT c_custkey, 'both' AS bucket FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
  UNION ALL
  SELECT c_custkey, 'building_only' FROM (SELECT * FROM building EXCEPT ALL SELECT * FROM big)
) GROUP BY bucket
"""


# --------------------------------------------------------------------------
# B28: ntile quartiles of customers by balance within nation.
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal"), F.col("c_custkey"))
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast(DEC_Q)).cast("decimal(38,2)").cast("double").alias("sum_bal"),
        )
    )


QUARTILE_SQL = """
SELECT c_nationkey, quartile, COUNT(*) AS n,
  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_bal
FROM (
  SELECT c_nationkey, c_acctbal,
         CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
  FROM customer
)
GROUP BY c_nationkey, quartile
"""

QUERIES["customer_set_ops"] = customer_set_ops
ORACLES["customer_set_ops"] = SET_OPS_SQL
QUERIES["customer_balance_quartiles"] = customer_balance_quartiles
ORACLES["customer_balance_quartiles"] = QUARTILE_SQL


# --------------------------------------------------------------------------
# B29: funnel — users who completed signup -> click -> purchase in
# chronological order (min event time per stage, strictly increasing).
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    completed = (
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_signup") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(completed.cast("long")).alias("n_completed"),
        F.sum((F.col("t_signup").isNotNull() & F.col("t_click").isNotNull()
               & (F.col("t_signup") < F.col("t_click"))).cast("long")).alias("n_signup_click"),
    )


FUNNEL_SQL = """
SELECT COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
            AND t_signup < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_completed,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
            AND t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click
FROM (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
"""


# --------------------------------------------------------------------------
# B30: weekly retention — users active in week w who return in w+1.
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    nxt = weeks.select(
        F.col("user_id").alias("u2"),
        (F.col("week") - F.expr("INTERVAL 7 DAYS")).alias("prev_week"),
    )
    joined = weeks.join(
        nxt, (weeks.user_id == F.col("u2")) & (weeks.week == F.col("prev_week")), "left"
    )
    return joined.groupBy("week").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum(F.col("u2").isNotNull().cast("long")).alias("retained_next_week"),
    )


RETENTION_SQL = """
WITH weeks AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
SELECT CAST(w.week AS TIMESTAMP) AS week, COUNT(*) AS active_users,
       CAST(SUM(CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained_next_week
FROM weeks w
LEFT JOIN weeks n ON n.user_id = w.user_id AND n.week = w.week + INTERVAL 7 DAY
GROUP BY w.week
"""


# --------------------------------------------------------------------------
# B31: running balance — exact-decimal cumulative sum per user over time.
def user_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bal = F.sum(F.col("value").cast(DEC_Q)).over(w)
    return ev.select(
        "user_id", "event_id", bal.cast("decimal(38,2)").cast("double").alias("running_bal")
    )


RUNNING_BAL_SQL = """
SELECT user_id, event_id,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS running_bal
FROM events WHERE user_id < 20
"""


# --------------------------------------------------------------------------
# B32: correlation via explicit decimal sums (engine-independent formula
# assembly: exact decimal aggregates -> one deterministic double expr).
def value_corr_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(12,2)")
    y = F.col("user_id").cast("decimal(12,2)")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("decimal(38,2)").cast("double").alias("sx"),
        F.sum(y).cast("decimal(38,2)").cast("double").alias("sy"),
        F.sum(x * y).cast("decimal(38,4)").cast("double").alias("sxy"),
        F.sum(x * x).cast("decimal(38,4)").cast("double").alias("sxx"),
        F.sum(y * y).cast("decimal(38,4)").cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select("event_type", corr.alias("corr_value_user"))


CORR_SQL = """
SELECT event_type,
  (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_value_user
FROM (
  SELECT event_type,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sx,
    CAST(CAST(SUM(CAST(user_id AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sy,
    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(user_id AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
    CAST(CAST(SUM(CAST(user_id AS DECIMAL(12,2)) * CAST(user_id AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS syy
  FROM events GROUP BY event_type
)
"""

QUERIES["events_funnel"] = events_funnel
ORACLES["events_funnel"] = FUNNEL_SQL
QUERIES["events_retention"] = events_retention
ORACLES["events_retention"] = RETENTION_SQL
QUERIES["user_running_balance"] = user_running_balance
ORACLES["user_running_balance"] = RUNNING_BAL_SQL
QUERIES["value_corr_by_type"] = value_corr_by_type
ORACLES["value_corr_by_type"] = CORR_SQL


# --------------------------------------------------------------------------
# B33: z-score anomaly counts — per-type mean/std assembled from exact
# decimal moments (deterministic across engines/parallelism), then a
# second pass flags |z| > 3. Two scans, no window over the full table.
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(12,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("decimal(38,2)").cast("double").alias("sx"),
        F.sum(x * x).cast("decimal(38,4)").cast("double").alias("sxx"),
    ).select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt(F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))).alias("std"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return j.groupBy("event_type").agg(
        F.sum((F.abs(z) > 3).cast("long")).alias("n_anomalies"),
        F.count(F.lit(1)).alias("n_events"),
    )


ZSCORE_SQL = """
WITH stats AS (
  SELECT event_type,
    CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS mean,
    sqrt(CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE)
         - (CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
           * (CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) AS std
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  CAST(SUM(CASE WHEN abs((e.value - s.mean) / s.std) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
  COUNT(*) AS n_events
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type
"""


# --------------------------------------------------------------------------
# B34: month-over-month order growth — lag over the monthly rollup.
def orders_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC_Q)).cast("decimal(38,2)").cast("double").alias("revenue"),
    )
    # Global window is fine HERE: the input is the monthly rollup
    # (one row per calendar month), not the orders table.
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.when(prev.isNotNull() & (prev != 0), (F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


MOM_SQL = """
SELECT CAST(month AS TIMESTAMP) AS month, n_orders, revenue,
  CASE WHEN prev IS NOT NULL AND prev <> 0 THEN (revenue - prev) / prev END AS mom_growth
FROM (
  SELECT month, n_orders, revenue, LAG(revenue) OVER (ORDER BY month) AS prev
  FROM (
    SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
  )
)
"""

QUERIES["events_anomaly_zscore"] = events_anomaly_zscore
ORACLES["events_anomaly_zscore"] = ZSCORE_SQL
QUERIES["orders_growth_mom"] = orders_growth_mom
ORACLES["orders_growth_mom"] = MOM_SQL
