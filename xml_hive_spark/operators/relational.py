"""Tier-B relational surface (SURVEY.md §2.B): the operators the reference
delivers by Hive delegation, delivered here by Catalyst.

Scale notes (100 TB design intent), per operator family:

- Joins: small dims (``region``, ``nation``) are explicitly broadcast; fact
  joins stay shuffle joins keyed on the join column, with AQE handling skew
  (session defaults in ``session.py``). No driver-side collects anywhere.
- Aggregations: expressed declaratively so Catalyst plans partial (map-side)
  + final HashAggregate — no shuffle of raw rows for the agg queries.
- Filters/projections: expressed on the scan so parquet gets
  PushedFilters + pruned ReadSchema (checked in tests/test_plans.py).
- Top-k: ``orderBy().limit(k)`` so Spark plans TakeOrderedAndProject
  (per-partition heap + single small merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

import pandas as pd

from xml_hive_spark.operators import davg, dsum, query, register_views, t

# ------------------------------------------------------------ TPC-H-style


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("agg", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → partial+final hash aggregate.
    Flagship query (also ``entry(spark)``)."""
    li = t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE)                          AS order_date,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "agg", "topk", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k.

    Scale: customer/orders/lineitem all shuffle on their join keys; the
    final top-10 is TakeOrderedAndProject (no global sort)."""
    cust = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    tags=("join", "agg", "broadcast", "tpch"),
)
def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. nation/region broadcast (tiny dims —
    broadcast survives any scale-up since they're fixed-size); fact-side
    joins shuffle on keys."""
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf, "lineitem")
    supp = t(spark, sf, "supplier")
    nation = F.broadcast(t(spark, sf, "nation"))
    region = F.broadcast(t(spark, sf, "region").filter(F.col("r_name") == "EUROPE"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@query(
    "q6_revenue_forecast",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("filter", "agg", "tpch"),
)
def q6_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate should
    reach the parquet scan as PushedFilters."""
    li = t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       n_name, round(c_acctbal, 2) AS acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name, round(c_acctbal, 2)
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(t(spark, sf, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name", "acctbal")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q18_large_volume_customer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
       qty AS total_qty
FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
""",
    tags=("join", "agg", "subquery", "tpch"),
)
def q18_large_volume_customer(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate subquery (HAVING) feeding a join —
    the agg shrinks lineitem to order grain before the join, so the join
    input is orders-sized, not lineitem-sized."""
    li = t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("qty"))
        .filter(F.col("qty") > 150)
    )
    orders = t(spark, sf, "orders")
    cust = t(spark, sf, "customer")
    return (
        big.join(orders, orders.o_orderkey == big.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("qty").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(50)
    )


# ----------------------------------------------------------- scans/filters


@query(
    "scan_project_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-06-01' AND l_quantity >= 40
""",
    tags=("scan", "filter", "project"),
)
def scan_project_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Projection + predicate — both must reach the parquet scan
    (column pruning + PushedFilters; asserted in tests/test_plans.py)."""
    li = t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        & (F.col("l_quantity") >= 40)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("qty"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


# ------------------------------------------------------------------- joins


@query(
    "join_broadcast_dims",
    oracle="""
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
    tags=("join", "broadcast"),
)
def join_broadcast_dims(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit broadcast join (Hive mapjoin equivalent)."""
    nation = t(spark, sf, "nation")
    region = F.broadcast(t(spark, sf, "region"))
    return nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "join_left_outer_agg",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS n_orders,
       CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(30,6))) AS DOUBLE) AS spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
    tags=("join", "outer", "agg"),
)
def join_left_outer_agg(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce("o_totalprice", F.lit(0.0))).alias("spend"),
        )
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT SEMI JOIN (HiveQL's native spelling)."""
    cust = t(spark, sf, "customer")
    big_orders = t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with no high-value order (anti join; the plain
    no-orders-at-all variant is vacuous on this data — every customer
    has orders)."""
    cust = t(spark, sf, "customer")
    big = t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_nonequi_range",
    oracle="""
SELECT o_orderpriority, count(*) AS n_late
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderpriority
""",
    tags=("join", "theta"),
)
def join_nonequi_range(spark: SparkSession, sf: str) -> DataFrame:
    """Equi key + range predicate (theta join). The range condition rides
    on the hash join rather than forcing a cross product."""
    orders = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


@query(
    "join_cross",
    oracle="""
SELECT r_name, status FROM region
CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
""",
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    region = t(spark, sf, "region")
    status = t(spark, sf, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return region.crossJoin(status).select("r_name", "status")


# ------------------------------------------------------------ aggregations


@query(
    "agg_stats",
    oracle="""
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       round(min(l_extendedprice), 2)   AS min_price,
       round(max(l_extendedprice), 2)   AS max_price,
       round(stddev_samp(l_extendedprice), 2) AS sd_price
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )


@query(
    "agg_distinct_count",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "distinct"),
)
def agg_distinct_count(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query("agg_approx_distinct", tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ approximate distinct — the scale path for count-distinct
    (single pass, fixed memory; exact distinct shuffles every key).
    No SQL oracle: sketch implementations differ; driver records a
    rows-only check and tests bound the relative error instead."""
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts")
    )


@query(
    "agg_rollup",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_price",
        )
    )


@query(
    "agg_cube",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL')    AS status,
       coalesce(o_orderpriority, 'ALL')  AS priority,
       count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "sum_price",
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL')   AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ----------------------------------------------------------------- windows


@query(
    "window_rank_topn",
    oracle="""
SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rn
FROM (SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) x
WHERE rn <= 3
""",
    tags=("window", "rank"),
)
def window_rank_topn(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-N via ranking window — the scalable 'greatest N per
    key' pattern (one shuffle on the partition key, no self-join)."""
    orders = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


@query(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW), 2) AS running_spend
FROM orders
""",
    tags=("window", "frame"),
)
def window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT user_id, event_id,
       round(value - lag(value) OVER w, 3) AS delta_value,
       lead(event_type) OVER w             AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("window", "lag"),
)
def window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 3).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "window_moving_avg",
    oracle="""
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / count(*) OVER w AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
    tags=("window", "frame"),
)
def window_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        (
            F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg"),
    )


@query(
    "window_ntile",
    oracle="""
SELECT quartile, count(*) AS n, round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM (SELECT c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer) x
GROUP BY quartile
""",
    tags=("window", "ntile"),
)
def window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """Exact global ntile(4) WITHOUT a whole-table single-partition sort
    (`Window.orderBy` with no partitionBy collapses the table to one
    task — the scale-killer flagged in round 1).

    Two-pass formulation, every step partition-parallel or domain-bounded:
    1. histogram on a deterministic coarse key (floor(acctbal) — value
       domain ~11k buckets, independent of row count);
    2. prefix-sum the histogram for per-bucket global offsets (the only
       single-partition window runs over the domain-sized histogram, not
       the table);
    3. rank locally within each coarse bucket (hash-partitioned window)
       and add the bucket offset → exact global row number, since
       (c_acctbal, c_custkey) is a total order;
    4. closed-form ntile from the row number: the first N mod n tiles get
       ceil(N/n) rows, the rest floor(N/n) — identical to SQL NTILE."""
    cust = t(spark, sf, "customer").withColumn("cb", F.floor("c_acctbal"))

    hist = cust.groupBy("cb").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("cb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "cb", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    totals = cust.agg(F.count(F.lit(1)).alias("n_total"))

    w_loc = Window.partitionBy("cb").orderBy("c_acctbal", "c_custkey")
    ranked = (
        cust.join(F.broadcast(offsets), "cb")
        .crossJoin(F.broadcast(totals))
        .withColumn("rn", F.row_number().over(w_loc) + F.col("off"))
    )
    # closed-form tile assignment in exact integer arithmetic: the first
    # r = N mod 4 tiles have big = N div 4 + 1 rows, the rest small rows
    quartile = F.expr(
        "CAST(IF(rn <= (n_total % 4) * (n_total DIV 4 + 1),"
        "        (rn - 1) DIV (n_total DIV 4 + 1) + 1,"
        "        n_total % 4 + (rn - 1 - (n_total % 4) * (n_total DIV 4 + 1))"
        "          DIV greatest(n_total DIV 4, 1) + 1) AS INT)"
    )
    return (
        ranked.select("c_acctbal", quartile.alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


# -------------------------------------------------------------- sort/limit


@query(
    "topk_orders",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
""",
    tags=("sort", "topk"),
)
def topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """orderBy().limit() → TakeOrderedAndProject: per-partition heaps,
    single tiny merge on the driver side of the exchange — O(k) memory
    regardless of input size."""
    orders = t(spark, sf, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# ----------------------------------------------------------------- set ops


@query(
    "set_union_all",
    oracle="""
SELECT c_custkey AS entity_key, 'customer' AS src FROM customer WHERE c_acctbal > 9000
UNION ALL
SELECT s_suppkey AS entity_key, 'supplier' AS src FROM supplier
""",
    tags=("setop",),
)
def set_union_all(spark: SparkSession, sf: str) -> DataFrame:
    cust = (
        t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("src"))
    )
    supp = t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("entity_key"), F.lit("supplier").alias("src")
    )
    return cust.unionByName(supp)


@query(
    "set_intersect",
    oracle="""
SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT
SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
""",
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.intersect(a)


@query(
    "set_except",
    oracle="""
SELECT p_partkey FROM part WHERE p_size >= 30
EXCEPT
SELECT l_partkey AS p_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-06-01'
""",
    tags=("setop",),
)
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    part = t(spark, sf, "part").filter(F.col("p_size") >= 30).select("p_partkey")
    ordered = (
        t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return part.subtract(ordered)  # EXCEPT (distinct) semantics


# ------------------------------------------------------- scalar functions


@query(
    "string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_name)                                   AS name_upper,
       length(p_name)                                  AS name_len,
       substring(p_type, 1, 4)                         AS type_prefix,
       concat(p_brand, '-', p_type)                    AS brand_type,
       CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) AS brand_num,
       replace(p_name, 'widget', 'gadget')             AS renamed,
       trim(concat(' ', p_name, ' '))                  AS trimmed
FROM part
""",
    tags=("functions", "string"),
)
def string_functions(spark: SparkSession, sf: str) -> DataFrame:
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.regexp_replace("p_name", "widget", "gadget").alias("renamed"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
    )


@query(
    "date_functions",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                       AS order_year,
       month(o_orderdate)                      AS order_month,
       day(o_orderdate)                        AS order_day,
       quarter(o_orderdate)                    AS order_quarter,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
FROM orders
""",
    tags=("functions", "date"),
)
def date_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal functions. Note the reference stores temporals as strings
    (XMLToAvroSchema.scala:44-46) so its date ops imply casts; our parquet
    tables carry real timestamps."""
    o = t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@query(
    "math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_extendedprice - 50000), 4)   AS abs_centered,
       CAST(ceil(l_quantity) AS BIGINT)          AS qty_ceil,
       CAST(floor(l_quantity / 7) AS BIGINT)     AS qty_bucket,
       round(sqrt(l_extendedprice), 4)           AS price_sqrt,
       round(ln(l_extendedprice), 6)             AS price_ln,
       round(pow(l_discount, 2), 6)              AS disc_sq,
       l_orderkey % 7                            AS key_mod
FROM lineitem WHERE l_orderkey < 500
""",
    tags=("functions", "math"),
)
def math_functions(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 50000), 4).alias("abs_centered"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "array_functions",
    oracle="""
SELECT vec_id,
       len(embedding)                                    AS dim,
       round(CAST(embedding[1] AS DOUBLE), 4) + 0        AS first_val,
       round(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE))), 3) + 0            AS vec_sum,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm
FROM embeddings
""",
    tags=("functions", "array", "nested"),
)
def array_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Array higher-order functions over the embedding column — repeated
    XML elements land as exactly this ArrayType shape
    (XMLToAvroSchema.scala:140-158)."""
    e = t(spark, sf, "embeddings")
    to_d = lambda acc, x: acc + x.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # + 0.0 squashes IEEE negative zero: DuckDB round() preserves
        # -0.0 while Spark's returns +0.0, and the driver canonicalizer
        # distinguishes them (surfaced by the sf0.1 local gate, where
        # embedding[0] values in (-5e-5, 0) exist; same guard as vec_sum)
        (F.round(F.element_at("embedding", 1).cast("double"), 4)
         + F.lit(0.0)).alias("first_val"),
        (F.round(F.aggregate("embedding", F.lit(0.0), to_d), 3) + F.lit(0.0)).alias(
            "vec_sum"
        ),
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
            3,
        ).alias("l2_norm"),
    )


@query(
    "explode_positional",
    oracle="""
SELECT i AS pos, CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) / 1048576.0 / count(*) AS avg_val
FROM embeddings, range(64) r(i)
WHERE vec_id < 100
GROUP BY i
""",
    tags=("functions", "array", "explode"),
)
def explode_positional(spark: SparkSession, sf: str) -> DataFrame:
    """posexplode → per-position aggregate (LATERAL VIEW equivalent)."""
    e = t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    return (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.floor(F.col("val").cast("double") * F.lit(1048576.0)).cast("long"))
                / F.lit(1048576.0)
                / F.count(F.lit(1))
            ).alias("avg_val")
        )
    )


@query(
    "json_functions",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(json_extract_string(props, '$.k') AS INTEGER)
""",
    tags=("functions", "json"),
)
def json_functions(spark: SparkSession, sf: str) -> DataFrame:
    """JSON scalar extraction over the events.props column (Hive
    get_json_object surface)."""
    ev = t(spark, sf, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k_val"), "value"
        )
        .groupBy("k_val")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
    )


@query(
    "struct_nested_access",
    oracle="""
SELECT c_custkey, c_name AS name_from_struct,
       round(c_acctbal, 2) AS bal_from_struct
FROM customer WHERE c_nationkey < 5
""",
    tags=("nested", "struct"),
)
def struct_nested_access(spark: SparkSession, sf: str) -> DataFrame:
    """Build a struct column and read it back by dotted path — the query
    shape nested XML records produce (SURVEY.md §2.B nested-field row)."""
    cust = t(spark, sf, "customer").filter(F.col("c_nationkey") < 5)
    nested = cust.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")
        ).alias("info"),
    )
    return nested.select(
        "c_custkey",
        F.col("info.name").alias("name_from_struct"),
        F.round(F.col("info.bal"), 2).alias("bal_from_struct"),
    )


# -------------------------------------------------------------------- UDFs


@query(
    "udf_python_scalar",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band
FROM customer
""",
    tags=("udf",),
)
def udf_python_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Row-at-a-time Python UDF (Hive GenericUDF surface). Deliberately the
    slow path — kept tiny; the vectorized twin is pandas_udf_scalar."""
    from pyspark.sql.types import StringType as _S

    @F.udf(returnType=_S())
    def bal_band(bal: float) -> str:
        if bal < 0:
            return "negative"
        return "low" if bal < 5000 else "high"

    cust = t(spark, sf, "customer")
    return cust.select("c_custkey", bal_band("c_acctbal").alias("bal_band"))


@query(
    "pandas_udf_scalar",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS net_revenue
FROM lineitem GROUP BY l_returnflag
""",
    tags=("udf", "pandas"),
)
def pandas_udf_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-vectorized scalar UDF (10-100x the row-at-a-time path;
    SURVEY.md §2.B UDF row)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def net_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    li = t(spark, sf, "lineitem")
    return (
        li.select("l_returnflag", net_price("l_extendedprice", "l_discount").alias("np"))
        .groupBy("l_returnflag")
        .agg(dsum("np").alias("net_revenue"))
    )


@query(
    "grouped_agg_pandas_udf",
    oracle="""
SELECT c_nationkey,
       sum(floor(c_acctbal * 1048576.0)) / 1048576.0 / count(*) AS mean_bal
FROM customer GROUP BY c_nationkey
""",
    tags=("udf", "pandas", "agg"),
)
def grouped_agg_pandas_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Hive UDAF surface).

    Determinism: pandas Series.mean() uses pairwise summation whose
    rounding depends on arrival order; quantizing addends with
    floor(x * 2^20) makes the integer sum associative so the mean is
    bit-identical across engines (same convention as
    apply_in_pandas_centered)."""
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def mean_bal(bal: pd.Series) -> float:
        q = sum(math.floor(x * 1048576.0) for x in bal)
        return q / 1048576.0 / len(bal)

    cust = t(spark, sf, "customer")
    return cust.groupBy("c_nationkey").agg(
        mean_bal("c_acctbal").alias("mean_bal")
    )
