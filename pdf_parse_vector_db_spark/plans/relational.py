"""Relational breadth suite (SURVEY §2.10 X7) over the TPC-H-ish fixtures.

The reference performs no relational joins/aggregations beyond its search
path (SURVEY §2.3 J2, §2.4 A8 — all *absent*); this module proves the
engine's general query surface with stock DataFrame plans, every one
oracle-checked against DuckDB. Per-operator scale notes inline; common
discipline:

  * small dims (region, nation, supplier) are explicitly `broadcast()` —
    at 100 TB the fact-side scan never shuffles for those joins;
  * fact-fact joins (orders⋈lineitem) shuffle on the join key once and AQE
    handles skew/coalescing;
  * aggregates are partial+final hash aggs (map-side combine before the
    shuffle) by construction of groupBy().agg();
  * predicates are simple column comparisons → pushed into the Parquet
    scan (verify with .explain: PushedFilters), columns pruned (ReadSchema);
  * every surfaced float is rounded identically in plan and oracle, and
    every LIMIT is preceded by a total order with a unique tiebreak so both
    engines select the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.plans.registry import QuerySpec
from pdf_parse_vector_db_spark.sources.registry import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Q1-style pricing summary: scan-heavy filter + wide hash agg (map-side
# combine shrinks 600k rows to 6 groups before any shuffle).
# --------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Q6-style forecast revenue: pure pushed-down range filters + single agg —
# the canonical "does the filter reach the scan" query.
# --------------------------------------------------------------------------


def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),  # ansi: double arithmetic
            F.count(F.lit(1)).alias("n_items"),
        )
    )


REVENUE_FORECAST_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 25
"""


# --------------------------------------------------------------------------
# Q3-style shipping priority: 3-way join, one fact-fact shuffle join +
# grouped revenue + deterministic top-10.
# --------------------------------------------------------------------------


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(  # ansi: double arithmetic
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q5-style regional revenue: 6-way star join; nation/region/supplier are
# broadcast (no fact shuffle for them), customer⋈orders⋈lineitem shuffles
# on their keys.
# --------------------------------------------------------------------------


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(  # ansi: double arithmetic
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


REGIONAL_REVENUE_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# Ranking window: top-3 orders per customer (W6-class operator).
# --------------------------------------------------------------------------


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", "o_totalprice")
    )


TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, rnk, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


# --------------------------------------------------------------------------
# Analytic window: order-over-order delta per customer (lag).
# --------------------------------------------------------------------------


def order_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.round(prev, 2).alias("prev_totalprice"),
        F.round(F.col("o_totalprice") - prev, 2).alias("delta"),
    )


ORDER_DELTAS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       round(lag(o_totalprice) OVER w, 2) AS prev_totalprice,
       round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------------------------------------
# ntile decile split of customers by balance.
# --------------------------------------------------------------------------


def customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("decile")
    )


CUSTOMER_DECILES_SQL = """
SELECT decile,
       count(*) AS customers,
       round(avg(c_acctbal), 4) AS avg_acctbal,
       round(min(c_acctbal), 2) AS min_acctbal,
       round(max(c_acctbal), 2) AS max_acctbal
FROM (
  SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer
)
GROUP BY decile
ORDER BY decile
"""


# --------------------------------------------------------------------------
# Semi / anti joins (J2-class): customers with / without orders per nation.
# --------------------------------------------------------------------------


def nations_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    return (
        with_orders.join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("customers_with_orders"))
        .orderBy("n_name")
    )


NATIONS_CUSTOMER_ORDERS_SQL = """
SELECT n_name, count(*) AS customers_with_orders
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
ORDER BY n_name
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# Set op (§2.6): nations that have customers but no suppliers.
# --------------------------------------------------------------------------


def nations_cust_not_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return cust.exceptAll(supp).orderBy("nationkey")


NATIONS_CUST_NOT_SUPP_SQL = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


# --------------------------------------------------------------------------
# Rollup (A8-class): order totals by (status, priority) with subtotals.
# --------------------------------------------------------------------------


def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


ROLLUP_ORDER_TOTALS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


# --------------------------------------------------------------------------
# Date math (F18-class): monthly order volume.
# --------------------------------------------------------------------------


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_year", "o_month")
    )


ORDERS_BY_MONTH_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(month(o_orderdate) AS INTEGER) AS o_month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Pivot: order counts per priority × status (conditional-count form in SQL).
# --------------------------------------------------------------------------


def priority_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("cnt_p"),
    ).orderBy("o_orderpriority")


PRIORITY_STATUS_PIVOT_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Dimension stats: market segment + part brand profiles.
# --------------------------------------------------------------------------


def segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


SEGMENT_STATS_SQL = """
SELECT c_mktsegment,
       count(*) AS customers,
       round(avg(c_acctbal), 4) AS avg_acctbal,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def brand_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


BRAND_TYPE_STATS_SQL = """
SELECT p_brand,
       count(*) AS n_parts,
       count(DISTINCT p_type) AS n_types,
       round(avg(p_retailprice), 4) AS avg_price,
       max(p_size) AS max_size
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# Events: JSON access (get_json_object ≅ json_extract_string) + event-time
# tumbling-hour aggregation in batch form (the streaming twin lives in
# streaming/, same plan under readStream).
# --------------------------------------------------------------------------


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_STATS_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's native VARIANT type:
    parse_json once into a variant column, typed extraction with
    variant_get — the shredded-binary path that replaces per-field
    get_json_object string re-parsing (one parse per row instead of one
    per extraction; at 100 TB the difference is a full CPU pass per extra
    field). Groups by k-decile of the extracted field; means computed in
    exact integer micros (value is 2-dp, so float avg would sit on
    half-way rounding boundaries across engines)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
            "value",
        )
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(
                F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
                # ansi: group count >= 1 times a nonzero literal
                / (F.count(F.lit(1)) * F.lit(1000000.0)),
                6,
            ).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


EVENTS_VARIANT_STATS_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS avg_value
FROM events
GROUP BY 1
ORDER BY k_bucket
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour")
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1
ORDER BY 1
"""


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap-fill: a dense (event_type × hour) spine
    over the observed range, empty buckets carried as n_events=0 with the
    value metric forward-filled from the last observed hour — the standard
    downsample-then-interpolate shape time-series stores (Timescale
    `time_bucket_gapfill` + `locf`) ship as a built-in.

    Scale shape: both join sides are ALREADY aggregated (hourly rollups and
    a generated spine of |types|×|hours| rows — metadata-sized, from a
    1-row min/max agg exploded distributively, never a driver loop). The
    forward-fill window partitions by event_type, so state per partition is
    one scalar; no global sort. At 100 TB the hourly pre-agg is the only
    big stage and it partial-aggregates map-side.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = span.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(hours)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, on=["event_type", "hour"], how="left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("sum_value").isNull().alias("filled"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
        .orderBy("event_type", "hour")
    )


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span
),
spine AS (
  SELECT t.event_type, h.hour
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN hours h
)
SELECT s.event_type, s.hour,
       coalesce(n_events, 0) AS n_events,
       sum_value IS NULL AS filled,
       last_value(sum_value IGNORE NULLS)
         OVER (PARTITION BY s.event_type ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS sum_value_locf
FROM spine s LEFT JOIN hourly USING (event_type, hour)
ORDER BY s.event_type, s.hour
"""


# --------------------------------------------------------------------------
# Ordered-statistic aggregates + cardinality/quantile sketches. Exact
# percentile (linear interpolation, identical in Spark `percentile` and
# DuckDB `quantile_cont`) is the oracle-checked tier; it buffers each
# group's values, so at 100 TB the scale path is the mergeable-sketch tier
# below (approx_percentile = bounded-error GK sketch, approx_count_distinct
# = HyperLogLog++) whose per-group state is KB-sized and combines map-side
# like any partial aggregate. ndv_sketch_accuracy surfaces the sketch
# error against the exact answer so the trade is measured, not assumed
# (bound pinned in tests/test_properties.py).
# --------------------------------------------------------------------------


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


PRICE_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year —
    the fact table joins BOTH dimension paths (customer-nation and
    supplier-nation) with a disjunctive pair condition.

    Scale shape: both nation dims broadcast; the only wide exchange is the
    lineitem⋈orders fact-fact join; the pair filter applies before the
    year rollup so non-qualifying rows never reach the agg."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("c_nationkey") == F.col("c_nk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n2, F.col("s_nationkey") == F.col("s_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(  # ansi: double arithmetic
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


VOLUME_SHIPPING_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from OR-of-AND bracket conditions spanning
    both join sides (brand × size × quantity) — the disjunctive-predicate
    query that tests whether a planner can still prune and broadcast when
    no single conjunct is globally true. Part dim broadcasts; the
    disjunction evaluates post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(_t(spark, sf_dir, "part"))
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(  # ansi: double arithmetic
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


DISCOUNTED_REVENUE_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 25 AND 50)
"""


def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance of above-average-
    balance customers who never ordered — scalar-subquery threshold plus
    anti join. The threshold attaches as a broadcast 1-row cross join (no
    driver round-trip); the orders anti-join exchanges only custkeys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


SALES_OPPORTUNITY_SQL = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust cleaning: winsorize `value` at [p1, p99] per event
    type and report raw vs clipped means — the tail-clipping step a
    feature pipeline applies before normalization (vs dropping rows, which
    robust_outliers covers).

    Scale shape: percentiles aggregate to a |types|-row table that
    BROADCASTS back for the clip — the clip pass stays map-side. (The
    one-scan alternative — percentile as a window over each type's whole
    partition — funnels n/|types| rows through single tasks; two scans +
    broadcast is the right trade at 100 TB.) Means sum integer micros so
    the hash can't drift on float order."""
    ev = _t(spark, sf_dir, "events")
    p = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = ev.join(F.broadcast(p), on="event_type").select(
        "event_type",
        F.col("p01"),
        F.col("p99"),
        F.round(F.col("value") * 1e6).cast("long").alias("raw_micros"),
        F.round(F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")) * 1e6)
        .cast("long")
        .alias("win_micros"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("p01"), 4).alias("p01"),
            F.round(F.max("p99"), 4).alias("p99"),
            # ansi: group count >= 1 times a nonzero literal (both averages)
        F.round(F.sum("raw_micros").cast("double") / (F.count(F.lit(1)) * 1e6), 6).alias(
                "mean_raw"
            ),
            # ansi: group count >= 1 times a nonzero literal
        F.round(F.sum("win_micros").cast("double") / (F.count(F.lit(1)) * 1e6), 6).alias(
                "mean_winsorized"
            ),
        )
        .orderBy("event_type")
    )


WINSORIZED_STATS_SQL = """
WITH p AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY 1
),
c AS (
  SELECT e.event_type, p.p01, p.p99,
         CAST(round(e.value * 1000000) AS BIGINT) AS raw_micros,
         CAST(round(least(greatest(e.value, p.p01), p.p99) * 1000000) AS BIGINT) AS win_micros
  FROM events e JOIN p USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(p01), 4) AS p01,
       round(max(p99), 4) AS p99,
       round(CAST(sum(raw_micros) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_raw,
       round(CAST(sum(win_micros) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_winsorized
FROM c
GROUP BY event_type
ORDER BY event_type
"""


#: portable HLL geometry: m = 2^8 registers from a 60-bit md5-derived hash
#: (15 hex chars — fits SIGNED 64-bit in both engines; 16 would overflow
#: Spark's conv→BIGINT), leaving 52 bits for the rank pattern.
_HLL_M = 256
_HLL_WBITS = 52


def hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom HyperLogLog with ENGINE-PORTABLE registers (Flajolet et al.
    2007): bucket = low 8 bits of a 60-bit md5 hash, rank = leading-zero
    count of the remaining 52 bits — every register value and the final
    estimate are bit-identical across engines, so unlike the engine-
    internal sketch in ndv_sketch_accuracy the ESTIMATE itself sits under
    the oracle value hash.

    Determinism trick: Σ 2^(-M_j) is accumulated as exact BIGINTs in
    units of 2^-52 (shiftleft(1, 52 - M)), so float summation order can't
    perturb the harmonic mean; the estimator formula then runs once per
    group on exact integers. Scale shape: one (group, bucket) exchange
    (≤ |groups|·256 keys after map-side max), then a |groups|-row agg —
    the sketch property that makes distinct-counting mergeable at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    h = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    bucket = h % _HLL_M
    w = F.expr("CAST(h / 256 AS BIGINT)")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.expr("bin(CAST(h / 256 AS BIGINT))"))
    )
    regs = (
        ev.select("event_type", "user_id")
        .withColumn("h", h)
        .withColumn("bucket", bucket)
        .withColumn("rho", rho)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("M"))
    )
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)  # ansi: Python constant math
    unit = float(1 << _HLL_WBITS)
    per_group = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_WBITS} - M)")).alias("z_units"),
    )
    z_total = (
        F.col("z_units").cast("double")
        + (F.lit(_HLL_M) - F.col("present")).cast("double") * F.lit(unit)
    )
    # ansi: z_total = sum of m positive 2^-reg terms -> >= m * 2^-31 > 0
    e_raw = F.lit(alpha * _HLL_M * _HLL_M * unit) / z_total
    v = F.lit(_HLL_M) - F.col("present")
    estimate = F.when(
        (e_raw <= 2.5 * _HLL_M) & (v > 0), F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v)  # ansi: v > 0 guards this CASE arm
    ).otherwise(e_raw)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_ndv"))
    return (
        per_group.withColumn("hll_ndv", F.round(estimate, 4))
        .join(exact, on="event_type")
        .withColumn(
            "rel_err",
            F.round(F.try_divide(F.abs(F.col("hll_ndv") - F.col("exact_ndv")), F.col("exact_ndv")), 4),  # rel_err NULL on empty input
        )
        .select("event_type", "exact_ndv", "hll_ndv", "rel_err")
        .orderBy("event_type")
    )


def hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the distributed-distinct workhorse,
    demonstrated under the oracle hash: registers are mergeable by
    register-wise MAX, and merging the five per-event-type sketches gives
    the EXACT same registers — hence the exact same estimate — as
    sketching the union stream directly. That associativity is what lets
    100 TB of partitions sketch independently and combine at any fan-in
    without a second pass over data.

    One row: merged-sketch estimate, direct-sketch estimate, their
    equality flag (must be true by construction — the audit would catch
    any nonassociative 'sketch' masquerading as mergeable), exact
    distinct, and the relative error.
    """
    ev = _t(spark, sf_dir, "events")
    h = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    rho = F.when(F.expr(f"CAST(h / {_HLL_M} AS BIGINT)") == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.expr(f"bin(CAST(h / {_HLL_M} AS BIGINT))"))
    )
    base = (
        ev.select("event_type", "user_id")
        .withColumn("h", h)
        .withColumn("bucket", F.col("h") % _HLL_M)
        .withColumn("rho", rho)
    )
    per_group = base.groupBy("event_type", "bucket").agg(F.max("rho").alias("M"))
    merged = per_group.groupBy("bucket").agg(F.max("M").alias("M"))
    direct = base.groupBy("bucket").agg(F.max("rho").alias("M"))

    def estimate(regs: DataFrame, name: str) -> DataFrame:
        alpha = 0.7213 / (1 + 1.079 / _HLL_M)  # ansi: Python constant math
        unit = float(1 << _HLL_WBITS)
        g = regs.agg(
            F.count(F.lit(1)).alias("present"),
            F.sum(F.expr(f"shiftleft(1L, {_HLL_WBITS} - M)")).alias("z_units"),
        )
        z_total = (
            F.col("z_units").cast("double")
            + (F.lit(_HLL_M) - F.col("present")).cast("double") * F.lit(unit)
        )
        # ansi: z_total = sum of m positive 2^-reg terms -> >= m * 2^-31 > 0
        e_raw = F.lit(alpha * _HLL_M * _HLL_M * unit) / z_total
        v = F.lit(_HLL_M) - F.col("present")
        est = F.when(
            (e_raw <= 2.5 * _HLL_M) & (v > 0),
            # ansi: v > 0 guards this CASE arm (lazy CASE WHEN)
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
        ).otherwise(e_raw)
        return g.select(F.round(est, 4).alias(name))

    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_ndv"))
    return (
        estimate(merged, "est_merged")
        .crossJoin(estimate(direct, "est_direct"))
        .crossJoin(exact)
        .select(
            "est_merged",
            "est_direct",
            (F.col("est_merged") == F.col("est_direct")).alias("merge_consistent"),
            "exact_ndv",
            F.round(
                # try_divide: empty input -> exact_ndv = 0 -> NULL rel_err
                F.try_divide(
                    F.abs(F.col("est_merged") - F.col("exact_ndv")), F.col("exact_ndv")
                ), 4
            ).alias("rel_err"),
        )
    )


_HLL_REGS_SQL = f"""
  SELECT event_type,
         hv % {_HLL_M} AS bucket,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END AS rho
  FROM (SELECT event_type,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        FROM events)
"""


def _hll_est_sql(regs_cte: str, name: str) -> str:
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)  # ansi: Python constant math
    unit = float(1 << _HLL_WBITS)
    return f"""
  SELECT round(CASE WHEN e_raw <= CAST({2.5 * _HLL_M} AS DOUBLE) AND ({_HLL_M} - present) > 0
                    THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - present))
                    ELSE e_raw END, 4) AS {name}
  FROM (
    SELECT present,
           CAST({alpha} AS DOUBLE) * {_HLL_M} * {_HLL_M} * CAST({unit} AS DOUBLE)
             / (CAST(z_units AS DOUBLE) + ({_HLL_M} - present) * CAST({unit} AS DOUBLE))
             AS e_raw
    FROM (
      SELECT CAST(count(*) AS BIGINT) AS present,
             CAST(sum(1::BIGINT << ({_HLL_WBITS} - M)) AS BIGINT) AS z_units
      FROM {regs_cte}
    )
  )
"""


HLL_MERGE_AUDIT_SQL = f"""
WITH r AS ({_HLL_REGS_SQL}),
pg AS (SELECT event_type, bucket, max(rho) AS M FROM r GROUP BY 1, 2),
merged_regs AS (SELECT bucket, max(M) AS M FROM pg GROUP BY bucket),
direct_regs AS (SELECT bucket, max(rho) AS M FROM r GROUP BY bucket),
em AS ({_hll_est_sql("merged_regs", "est_merged")}),
ed AS ({_hll_est_sql("direct_regs", "est_direct")}),
exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv FROM events)
SELECT est_merged, est_direct,
       est_merged = est_direct AS merge_consistent,
       exact_ndv,
       round(abs(est_merged - exact_ndv) / exact_ndv, 4) AS rel_err
FROM em CROSS JOIN ed CROSS JOIN exact
"""


HLL_PORTABLE_SQL = f"""
WITH h AS (
  SELECT event_type, user_id,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
r AS (
  SELECT event_type,
         hv % {_HLL_M} AS bucket,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END AS rho
  FROM h
),
regs AS (
  SELECT event_type, bucket, max(rho) AS M FROM r GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS present,
         CAST(sum(1::BIGINT << ({_HLL_WBITS} - M)) AS BIGINT) AS z_units
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type, present,
         (CAST(z_units AS DOUBLE)
          + ({_HLL_M} - present) * CAST({float(1 << _HLL_WBITS)} AS DOUBLE))
           AS z_total
  FROM g
),
e2 AS (
  SELECT event_type, present,
         CAST({0.7213 / (1 + 1.079 / _HLL_M)} AS DOUBLE) * {_HLL_M} * {_HLL_M}
           * CAST({float(1 << _HLL_WBITS)} AS DOUBLE) / z_total AS e_raw
  FROM est
),
hll AS (
  SELECT event_type,
         round(CASE WHEN e_raw <= CAST({2.5 * _HLL_M} AS DOUBLE)
                     AND ({_HLL_M} - present) > 0
                    THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - present))
                    ELSE e_raw END, 4) AS hll_ndv
  FROM e2
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv
  FROM events GROUP BY 1
)
SELECT x.event_type, x.exact_ndv, l.hll_ndv,
       round(abs(l.hll_ndv - x.exact_ndv) / x.exact_ndv, 4) AS rel_err
FROM exact x JOIN hll l ON x.event_type = l.event_type
ORDER BY x.event_type
"""


#: sketch-vs-exact acceptance bounds surfaced by ndv_sketch_accuracy.
#: HLL++ at rsd=0.02 lands within a few percent (measured ≤0.06 across
#: the fixtures); 0.10 catches a broken sketch without flaking on
#: legitimate estimator noise. The GK percentile sketch at accuracy
#: 10000 is near-exact; 5% relative (1e-2 absolute floor for
#: near-zero medians) is equally generous.
_NDV_REL_BOUND = 0.10
_P50_REL_BOUND = 0.05


def ndv_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier vs exact, per event_type — ORACLE-CHECKABLE since
    round 9: the engine-specific estimates (HLL++ distinct-user count,
    GK median) can never hash-match another engine, so instead of
    surfacing them raw (which kept this query rows-only through rounds
    1-8) the output carries the EXACT answers plus within-bound BOOLEANS;
    the DuckDB twin computes the same exact answers and emits literal
    TRUE. A sketch regression — wrong column, broken estimator, silently
    changed rsd — now FAILS the value hash instead of hiding behind a
    rows-only check. (The raw estimates remain pinned numerically by
    tests/test_properties.py and the portable-register HLL tier,
    hll_portable, stays fully hash-checked.)"""
    ev = _t(spark, sf_dir, "events")
    # Exact NDV as a TWO-LEVEL aggregate joined back on the tiny group key
    # (round 11, guide §2.3/§2.4): mixing count(DISTINCT user_id) with the
    # percentile aggregates planned an Expand that doubled every event row
    # through the aggregation (and through the percentile buffers). Split,
    # the NDV leg partial-aggregates (event_type, user_id) map-side — the
    # exchange carries distinct pairs, not rows — and the percentile leg
    # runs Expand-free. count(DISTINCT) ignores NULLs, hence the filter;
    # an all-NULL group would drop from the leg, hence the left join +
    # coalesce(0). GROUP BY keeps a NULL event_type as a group of its own,
    # so the join is null-safe: plain equality never matches NULL and
    # would give that group exact_ndv = 0. Values identical (exactness is
    # the query's contract).
    ndv = (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("__et"), "user_id")
        .distinct()
        .groupBy("__et")
        .agg(F.count(F.lit(1)).alias("exact_ndv"))
    )
    out = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("hll_ndv"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50_value"),
            F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 4).alias("sketch_p50_value"),
        )
        .join(ndv, F.col("event_type").eqNullSafe(F.col("__et")), how="left")
        .withColumn(
            "exact_ndv", F.coalesce(F.col("exact_ndv"), F.lit(0).cast("bigint"))
        )
        .select(
            "event_type",
            "exact_ndv",
            "exact_p50_value",
            (
                F.abs(F.col("hll_ndv") - F.col("exact_ndv"))
                # ansi: exact_ndv >= 1 — every group has at least one user
                <= F.col("exact_ndv") * _NDV_REL_BOUND
            ).alias("ndv_within_bound"),
            (
                F.abs(F.col("sketch_p50_value") - F.col("exact_p50_value"))
                <= F.greatest(
                    F.abs(F.col("exact_p50_value")) * _P50_REL_BOUND, F.lit(0.01)
                )
            ).alias("p50_within_bound"),
        )
    )
    return out.orderBy("event_type")


NDV_SKETCH_ACCURACY_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_ndv,
       round(quantile_cont(value, 0.5), 4) AS exact_p50_value,
       TRUE AS ndv_within_bound,
       TRUE AS p50_within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def ndv_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic slice of ndv_sketch_accuracy — exact distinct-user
    counts and exact median value per event_type — cross-checked against
    DuckDB, so the sketch query's baseline columns are driver-verified even
    though the HLL/GK estimates themselves can't hash-match across
    engines."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_ndv"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50_value"),
        )
        .orderBy("event_type")
    )


NDV_EXACT_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_ndv,
       round(quantile_cont(value, 0.5), 4) AS exact_p50_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# SQL front door: the SAME ANSI text runs through spark.sql() AND the DuckDB
# oracle, character for character — the dialect-common subset (CTEs, joins,
# window ranking, round) parses identically in both engines. This is the
# API-parity proof that a SQL-first user of the engine needs no DataFrame
# code at all; Catalyst plans the text exactly like the equivalent
# DataFrame chain (broadcast dims, windowed top-3 per group).
# --------------------------------------------------------------------------

SQL_FRONT_DOOR = """
WITH ranked AS (
  SELECT n_name, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name AS nation, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM ranked
WHERE rn <= 3
ORDER BY nation, rn
"""


def sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("orders", "customer", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(SQL_FRONT_DOOR)


QUERIES = [
    QuerySpec("sql_front_door", sql_front_door, SQL_FRONT_DOOR, "identical ANSI text through spark.sql and the oracle"),
    QuerySpec("pricing_summary", pricing_summary, PRICING_SUMMARY_SQL, "TPC-H Q1 shape"),
    QuerySpec("revenue_forecast", revenue_forecast, REVENUE_FORECAST_SQL, "TPC-H Q6 shape"),
    QuerySpec("shipping_priority", shipping_priority, SHIPPING_PRIORITY_SQL, "TPC-H Q3 shape"),
    QuerySpec("regional_revenue", regional_revenue, REGIONAL_REVENUE_SQL, "TPC-H Q5 shape"),
    QuerySpec("top_orders_per_customer", top_orders_per_customer, TOP_ORDERS_PER_CUSTOMER_SQL, "ranking window"),
    QuerySpec("order_deltas", order_deltas, ORDER_DELTAS_SQL, "lag analytic window"),
    QuerySpec("customer_deciles", customer_deciles, CUSTOMER_DECILES_SQL, "ntile window"),
    QuerySpec("nations_customer_orders", nations_customer_orders, NATIONS_CUSTOMER_ORDERS_SQL, "left-semi join"),
    QuerySpec("customers_without_orders", customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL, "left-anti join"),
    QuerySpec("nations_cust_not_supp", nations_cust_not_supp, NATIONS_CUST_NOT_SUPP_SQL, "EXCEPT set op"),
    QuerySpec("rollup_order_totals", rollup_order_totals, ROLLUP_ORDER_TOTALS_SQL, "rollup grouping sets"),
    QuerySpec("orders_by_month", orders_by_month, ORDERS_BY_MONTH_SQL, "date math"),
    QuerySpec("priority_status_pivot", priority_status_pivot, PRIORITY_STATUS_PIVOT_SQL, "pivot"),
    QuerySpec("segment_stats", segment_stats, SEGMENT_STATS_SQL, "dim profile agg"),
    QuerySpec("brand_type_stats", brand_type_stats, BRAND_TYPE_STATS_SQL, "distinct agg"),
    QuerySpec("events_json_stats", events_json_stats, EVENTS_JSON_STATS_SQL, "JSON access"),
    QuerySpec("events_variant_stats", events_variant_stats, EVENTS_VARIANT_STATS_SQL, "VARIANT-typed semi-structured extraction (parse once, typed get)"),
    QuerySpec("events_hourly", events_hourly, EVENTS_HOURLY_SQL, "event-time tumbling hour (batch)"),
    QuerySpec("events_gapfill", events_gapfill, EVENTS_GAPFILL_SQL, "dense resample + LOCF gap-fill"),
    QuerySpec("price_percentiles", price_percentiles, PRICE_PERCENTILES_SQL, "exact ordered-statistic agg"),
    QuerySpec("winsorized_stats", winsorized_stats, WINSORIZED_STATS_SQL, "p1/p99 winsorized robust means"),
    QuerySpec("volume_shipping", volume_shipping, VOLUME_SHIPPING_SQL, "Q7 shape: bilateral nation-pair trade by year"),
    QuerySpec("discounted_revenue", discounted_revenue, DISCOUNTED_REVENUE_SQL, "Q19 shape: OR-of-AND bracket revenue"),
    QuerySpec("sales_opportunity", sales_opportunity, SALES_OPPORTUNITY_SQL, "Q22 shape: scalar-subquery threshold + anti join"),
    QuerySpec("hll_portable", hll_portable, HLL_PORTABLE_SQL, "portable HyperLogLog: estimate under the oracle hash"),
    QuerySpec("hll_merge_audit", hll_merge_audit, HLL_MERGE_AUDIT_SQL, "HLL register-merge associativity: merged-from-groups == direct sketch"),
    QuerySpec("ndv_sketch_accuracy", ndv_sketch_accuracy, NDV_SKETCH_ACCURACY_SQL, "HLL++/GK sketch tier vs exact: exact answers + within-bound booleans (oracle-backed since r9)"),
    QuerySpec("ndv_exact", ndv_exact, NDV_EXACT_SQL, "exact NDV/median slice of the sketch query"),
]
