"""Relational query surface over the TPC-H-shaped tables.

The reference implements no relational operators (SURVEY.md §2A: its only
SQL is DDL and point INSERT/SELECT, e.g. reference
``03-consumer/src/main/java/com/exam/worker/MySQLProcessData.java:47-48,111``),
so this module is the query engine surface mandated by BASELINE.json:
filters, joins, aggregates and the window-function zoo; subqueries,
statistical aggregates, pivot/unpivot, conditional scalars, array and
string functions, percentiles; full outer/cross joins and explode; the
warehouse-operations queries (SCD2 merge, join-key skew, IQR outlier
fences); a CSV connector round-trip; and grid-bucketed spatial joins,
GROUPS/EXCLUDE frame emulations, the table fingerprint, time-decayed
counters and Fellegi–Sunter linkage patterns.

Scale notes:
- filters are applied straight on the parquet scan → Catalyst pushes them
  into ``PushedFilters``; projections prune ``ReadSchema``;
- ``region``/``nation`` arrive pre-wrapped in ``broadcast()`` (bounded
  dimensions); other join strategies are left to Catalyst + AQE, which
  picks broadcast vs sort-merge from runtime stats;
- aggregations use built-in hash aggregates with map-side partial
  aggregation — no Python in any hot path in this module.

Oracle discipline (registry docstring + SCALE.md): grid/cell math runs on
INTEGERS derived from the portable md5 hash (never floats in join keys);
haversine doubles appear only inside the final rounded measure and the
distance threshold; decayed weights are dyadic rationals quantized to
exact 1e6-scaled BIGINTs; every probability is an exact-int ratio with
multiplication order written identically in both engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import portable_hash64
from ..operators import merge
from ..operators.merge import scd2_apply
from ..operators.ranking import attach_global_order_stats
from ..sources import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Projection + filter (the minimal scan shape: pruned columns, pushed
# predicate — ReadSchema shows only the 4 referenced columns)
# --------------------------------------------------------------------------
@query(
    "filter_project_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'R'
    """,
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row IEEE arithmetic is bit-identical across engines — no rounding
    # needed (rounding would actually INTRODUCE nondeterminism: the 2dp×2dp
    # product ties exactly at .xx5, where float repr decides the direction)
    l = _t(spark, sf_dir, "lineitem")
    return l.filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# --------------------------------------------------------------------------
# Aggregation: TPC-H Q1 style pricing summary (filter + hash agg, 8 measures)
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(ROUND(l_extendedprice * 100, 0)) / 100.0, 2)      AS sum_base_price,
           ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)) / 10000.0, 2) AS sum_disc_price,
           ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0)) / 1000000.0, 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)                              AS avg_price,
           ROUND(AVG(l_discount), 4)                                   AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.round(F.col("l_extendedprice") * 100, 0)) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(F.round(disc_price * 10000, 0)) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(F.round(disc_price * (1 + F.col("l_tax")) * 1000000, 0)) / 1000000.0, 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 3-way join + agg + top-k: TPC-H Q3 style shipping priority (flagship)
# --------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)) / 10000.0, 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0))
                / 10000.0, 2,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# 6-way join: TPC-H Q5 style local-supplier volume
# --------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)) / 10000.0, 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")  # broadcast (bounded dim)
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")  # broadcast
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0))
                / 10000.0, 2,
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Scalar aggregate with tight pushed-down filter: TPC-H Q6 style
# --------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(ROUND(l_extendedprice * l_discount * 10000, 0)) / 10000.0, 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0))
                / 10000.0, 2,
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# Non-equi (theta) semi-join: TPC-H Q4 style order priority check —
# orders having at least one line item shipped >90 days after the order date
# --------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# Join family: inner / left / semi / anti over customer × orders
# --------------------------------------------------------------------------
@query(
    "join_inner_segment_sales",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(ROUND(o.o_totalprice * 100, 0)) / 100.0, 2) AS total_sales
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100.0, 2).alias("total_sales"),
        )
    )


@query(
    "join_left_order_counts",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti_dormant_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Range (band) join against a small in-query tier dimension — broadcast NLJ
# --------------------------------------------------------------------------
_TIERS = [
    (0.0, 100_000.0, "small"),
    (100_000.0, 250_000.0, "medium"),
    (250_000.0, 1e18, "large"),
]


@query(
    "join_range_price_tiers",
    oracle="""
    SELECT t.tier, COUNT(*) AS n_orders,
           ROUND(SUM(ROUND(o.o_totalprice * 100, 0)) / 100.0, 2) AS total_sales
    FROM orders o
    JOIN (VALUES (0.0, 100000.0, 'small'),
                 (100000.0, 250000.0, 'medium'),
                 (250000.0, 1e18, 'large')) AS t(lo, hi, tier)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
)
def join_range_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    tiers = F.broadcast(
        spark.createDataFrame(_TIERS, schema="lo double, hi double, tier string")
    )
    return (
        o.join(tiers, (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi))
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100.0, 2).alias("total_sales"),
        )
    )


# --------------------------------------------------------------------------
# Aggregation variants: distinct, rollup, cube, grouping sets
# --------------------------------------------------------------------------
@query(
    "agg_distinct_customers",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_rollup_year_status",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(ROUND(o_totalprice * 100, 0)) / 100.0, 2) AS total_sales
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderstatus)
    """,
)
def agg_rollup_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    return o.rollup("o_year", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100.0, 2).alias("total_sales"),
    )


@query(
    "agg_cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(ROUND(o_totalprice * 100, 0)) / 100.0, 2) AS total_sales
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    o = _t(spark, sf_dir, "orders")
    view = f"orders_gs_{uuid.uuid4().hex[:8]}"  # collision-free temp view
    o.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(ROUND(o_totalprice * 100, 0)) / 100.0, 2) AS total_sales
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Window functions: ranking, lag, running frame
# --------------------------------------------------------------------------
@query(
    "window_rank_top_orders",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_rank_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@query(
    "window_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(ROUND(o_totalprice * 100, 0)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS running_spend
    FROM orders
    """,
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.round(F.col("o_totalprice") * 100, 0)).over(w) / 100.0, 2).alias("running_spend"),
    )


# --------------------------------------------------------------------------
# Sort / limit (deterministic top-k with unique tiebreak)
# --------------------------------------------------------------------------
@query(
    "sort_limit_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
    """,
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# Set operations (SQL UNION/INTERSECT/EXCEPT are DISTINCT variants)
# --------------------------------------------------------------------------
@query(
    "set_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --------------------------------------------------------------------------
# Scalar function surface: string / date / math / json
# --------------------------------------------------------------------------
@query(
    "scalar_string_part",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name)                                  AS name_upper,
           CAST(LENGTH(p_name) AS INT)                    AS name_len,
           SUBSTRING(p_type, 1, 5)                        AS type_prefix,
           CONCAT(p_brand, ':', p_type)                   AS brand_type,
           REGEXP_EXTRACT(p_type, '^(\\w+)', 1)           AS type_first_word
    FROM part
    """,
)
def scalar_string_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
    )


@query(
    "scalar_date_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)    AS o_year,
           CAST(quarter(o_orderdate) AS INT) AS o_quarter,
           COUNT(*) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def scalar_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
            "o_totalprice",
        )
        .groupBy("o_year", "o_quarter")
        .agg(F.count("*").alias("n_orders"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


@query(
    "scalar_math_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(ABS(l_discount - 0.05), 6)        AS disc_dev,
           ROUND(SQRT(l_quantity), 6)              AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6)           AS price_ln,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k,
           MOD(l_orderkey, 7)                      AS key_mod7
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def scalar_math_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


@query(
    "scalar_json_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val
    FROM events
    """,
)
def scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


# ==========================================================================
# Subqueries, statistical aggregates, pivot, window frames and functions,
# conditional scalars, array functions, percentiles
# ==========================================================================


# --------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): lineitems under 50% of the
# part's average quantity
# --------------------------------------------------------------------------
@query(
    "subquery_below_avg_quantity",
    oracle="""
    SELECT ROUND(SUM(ROUND(l.l_extendedprice * 100, 0)) / 100.0 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
)
def subquery_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery decorrelated the scalable way: pre-aggregate
    per-part averages once, join — Catalyst does the same rewrite for the
    SQL form; one extra shuffle instead of per-row subquery execution."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_qty = l.groupBy("l_partkey").agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum(F.round(F.col("l_extendedprice") * 100, 0)) / 100.0 / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# IN / NOT IN subqueries
# --------------------------------------------------------------------------
@query(
    "subquery_in_top_nations",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
)
def subquery_in_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return c.join(
        n, c.c_nationkey == n.n_nationkey, "left_semi"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Statistical aggregates
# --------------------------------------------------------------------------
@query(
    "agg_stats_prices",
    oracle="""
    SELECT o_orderstatus,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS price_stddev,
           ROUND(VAR_SAMP(o_totalprice), 2)    AS price_var,
           ROUND(MIN(o_totalprice), 2)         AS price_min,
           ROUND(MAX(o_totalprice), 2)         AS price_max
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_stats_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.5)
                 / 100.0, 2)  AS p50,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), 0.95)
                 / 100.0, 2) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    both linear interpolation). Interpolation runs over integer CENTS: the
    2-decimal prices make p50 midpoints land exactly on .005 boundaries
    where float noise flips the rounding — integer halves are exact in
    doubles, so both engines agree. At 100 TB use ``approx_percentile`` —
    t-digest sketch, one pass, mergeable."""
    l = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    # one array-percentile aggregate: a single per-group sort serves both
    # quantiles (two scalar percentile() calls each re-sorted the group)
    ps = F.percentile(cents, F.array(F.lit(0.5), F.lit(0.95)))
    return (
        l.groupBy("l_returnflag")
        .agg(ps.alias("ps"))
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0] / 100.0, 2).alias("p50"),
            F.round(F.col("ps")[1] / 100.0, 2).alias("p95"),
        )
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           MIN(o_orderkey) FILTER (WHERE o_totalprice = mx) AS top_orderkey,
           ROUND(ANY_VALUE(mx), 2) AS top_price
    FROM (
      SELECT *, MAX(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
      FROM orders)
    GROUP BY o_orderpriority
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax per group (max_by with deterministic tiebreak on the key)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    return (
        o.withColumn("mx", F.max("o_totalprice").over(w))
        .groupBy("o_orderpriority")
        .agg(
            F.min(F.when(F.col("o_totalprice") == F.col("mx"), F.col("o_orderkey"))).alias(
                "top_orderkey"
            ),
            F.round(F.first("mx"), 2).alias("top_price"),
        )
    )


# --------------------------------------------------------------------------
# Pivot
# --------------------------------------------------------------------------
@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("status_F"),
        F.coalesce("O", F.lit(0)).alias("status_O"),
        F.coalesce("P", F.lit(0)).alias("status_P"),
    )


# --------------------------------------------------------------------------
# Window function zoo: rank/dense_rank/ntile/lead + RANGE frame
# --------------------------------------------------------------------------
@query(
    "window_rank_variants",
    oracle="""
    SELECT o_orderkey, o_custkey,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4)     OVER w AS quartile,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS BIGINT)
             AS n_similar_priced
    FROM orders WHERE o_custkey <= 50
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers within ±10k of the current order's price."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, 10000)
    )
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.count("*").over(w).alias("n_similar_priced"),
    )


# --------------------------------------------------------------------------
# Conditional scalars: CASE / COALESCE / NULLIF / IF
# --------------------------------------------------------------------------
@query(
    "scalar_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 250000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_display,
           CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                THEN 1 ELSE 0 END AS is_urgent
    FROM orders
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 250000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_display"
        ),
        F.when(
            F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"), 1
        )
        .otherwise(0)
        .alias("is_urgent"),
    )


# --------------------------------------------------------------------------
# Array functions over the embeddings table
# --------------------------------------------------------------------------
@query(
    "scalar_array_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component
    FROM embeddings
    """,
)
def scalar_array_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double")), 4
        ).alias("vec_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vec_max"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_component"),
    )


# --------------------------------------------------------------------------
# union all (bag semantics, unlike set_union_nations)
# --------------------------------------------------------------------------
@query(
    "set_union_all_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return o.union(c)


# --------------------------------------------------------------------------
# exists-with-aggregate (TPC-H Q22 shape): customers with above-average
# balance and no orders
# --------------------------------------------------------------------------
@query(
    "q22_global_sales_opportunity",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_custs,
           ROUND(SUM(ROUND(c.c_acctbal * 100, 0)) / 100.0, 2) AS total_bal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 150000)
    GROUP BY n.n_name
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab")).first()["ab"]
    )
    return (
        c.filter(F.col("c_acctbal") > avg_bal)
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum(F.round(F.col("c_acctbal") * 100, 0)) / 100.0, 2).alias("total_bal"),
        )
    )


@query(
    "agg_salted_distinct_customers",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_salted_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct through the explicit hot-group salting path
    (operators/skew.py::salted_distinct_count): salt by hash of the
    distinct column, partial distinct per (group, salt), SUM partials.
    The oracle is the plain COUNT(DISTINCT) — the salted plan must be
    value-identical, which is what makes the skew mitigation safe to
    reach for at 100 TB."""
    from ..operators.skew import salted_distinct_count

    o = _t(spark, sf_dir, "orders")
    return salted_distinct_count(
        o, ["o_orderpriority"], "o_custkey", n_salts=64, alias="n_customers"
    )


@query(
    "scalar_map_order_attrs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           3 AS n_keys,
           'odate,priority,status' AS key_list
    FROM orders
    """,
)
def scalar_map_order_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build a map, merge another with
    map_concat, read it back via element_at / map_keys / size. The oracle
    checks the extracted VALUES directly (DuckDB's map semantics differ;
    the point is that the map round-trip loses nothing). Maps stay inside
    codegen — at scale this is projection-only."""
    o = _t(spark, sf_dir, "orders")
    m = F.map_concat(
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("priority"), F.col("o_orderpriority"),
        ),
        F.create_map(F.lit("odate"), F.col("o_orderdate").cast("string")),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status"),
        F.element_at(m, "priority").alias("priority"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("key_list"),
    )


# ==========================================================================
# Full outer join, cross join, explode/lateral, date arithmetic, string
# functions
# ==========================================================================


@query(
    "join_full_outer_activity",
    oracle="""
    WITH big_buyers AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ), neg_balance AS (
      SELECT c_custkey AS custkey, c_acctbal
      FROM customer WHERE c_acctbal < 0
    )
    SELECT COALESCE(b.custkey, n.custkey) AS custkey,
           b.n_big, n.c_acctbal
    FROM big_buyers b FULL OUTER JOIN neg_balance n ON b.custkey = n.custkey
    """,
)
def join_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        o.filter(F.col("o_totalprice") > 200000)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_big"))
    )
    neg = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey"), "c_acctbal"
    )
    j = big.alias("b").join(neg.alias("n"), F.col("b.custkey") == F.col("n.custkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("b.custkey"), F.col("n.custkey")).alias("custkey"),
        "n_big",
        "c_acctbal",
    )


@query(
    "join_cross_region_segments",
    oracle="""
    SELECT r.r_name, s.seg, COUNT(c.c_custkey) AS n_custs
    FROM region r
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey AND c.c_mktsegment = s.seg
    GROUP BY r.r_name, s.seg
    """,
)
def join_cross_region_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (dense grid), left-joined to facts —
    the standard 'all combinations incl. empty cells' report shape."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    segs = c.select(F.col("c_mktsegment").alias("seg")).distinct()
    grid = r.crossJoin(F.broadcast(segs))
    return (
        grid.join(n, n.n_regionkey == r.r_regionkey, "left")
        .join(
            c,
            (c.c_nationkey == n.n_nationkey) & (c.c_mktsegment == F.col("seg")),
            "left",
        )
        .groupBy("r_name", "seg")
        .agg(F.count("c_custkey").alias("n_custs"))
    )


@query(
    "explode_doc_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    )
    GROUP BY tok
    """,
)
def explode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode → token frequency table (the UNNEST/LATERAL VIEW
    shape; also the first stage of any inverted index build)."""
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)) / 10000.0, 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
           AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
           AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30
           AND p.p_size BETWEEN 1 AND 15)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive band predicates across
    both join sides — the optimizer extracts the common sub-predicates
    (brand IN (...), quantity/size bounds) and pushes them below the join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30)
           & F.col("p_size").between(1, 15))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0))
            / 10000.0, 2,
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(
    "scalar_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)              AS due_date,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           CAST(last_day(o_orderdate) AS DATE)                      AS month_end,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR)          AS year_month
    FROM orders WHERE o_custkey <= 20
    """,
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.last_day(F.col("o_orderdate")).alias("month_end"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
    )


@query(
    "scalar_string_zoo",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0')     AS padded_key,
           trim(p_name)                                   AS trimmed,
           replace(p_type, ' ', '_')                      AS type_snake,
           CAST(strpos(p_type, 'BRASS') AS INT)           AS brass_pos,
           reverse(p_brand)                               AS brand_rev,
           repeat(p_brand, 2)                             AS brand_twice,
           left(p_name, 3)                                AS name3,
           CAST(contains(p_type, 'STEEL') AS BOOLEAN)     AS is_steel
    FROM part
    """,
)
def scalar_string_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.trim("p_name").alias("trimmed"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.instr("p_type", "BRASS").alias("brass_pos"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.substring("p_name", 1, 3).alias("name3"),
        F.col("p_type").contains("STEEL").alias("is_steel"),
    )


# ==========================================================================
# Warehouse operations: SCD2 merge (MERGE INTO expressed relationally),
# join-key skew diagnostics (which key needs salting), and robust IQR
# outlier fences that do not move when the outliers do
# ==========================================================================


@query(
    "merge_scd2_customers",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, 0 AS valid_from,
             CAST(NULL AS INT) AS valid_to
      FROM customer
    ), updates AS (
      SELECT c_custkey, 'RELOCATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
    ), changed AS (
      SELECT d.c_custkey FROM dim d JOIN updates u USING (c_custkey)
      WHERE d.valid_to IS NULL AND d.c_mktsegment <> u.c_mktsegment
    )
    SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE d.valid_to END AS valid_to
      FROM dim d LEFT JOIN changed c USING (c_custkey)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, 1, CAST(NULL AS INT)
      FROM updates u JOIN changed c USING (c_custkey)
    )
    """,
)
def merge_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 upsert: apply a CDC batch (every 7th customer re-segmented to
    'RELOCATED') to a version-0 dimension — changed keys get their current
    row closed at version 1 and a fresh open row appended; unchanged and
    no-op keys stay put. One broadcast join against CURRENT rows plus a
    three-branch union; the dimension never shuffles
    (operators/merge.py)."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment",
        F.lit(0).alias("valid_from"), F.lit(None).cast("int").alias("valid_to"),
    )
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("RELOCATED").alias("c_mktsegment")
    )
    return scd2_apply(
        dim, updates, "c_custkey", ["c_mktsegment"], new_version=1
    )


@query(
    "diag_key_skew",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, CAST(COUNT(*) AS DOUBLE) AS c FROM orders GROUP BY 1
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_custkey) AS r FROM counts
    )
    SELECT CAST(COUNT(*) AS INT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           ROUND((2.0 * SUM(r * c) - (COUNT(*) + 1) * SUM(c))
                 / (COUNT(*) * SUM(c)), 6) AS gini,
           ROUND(MAX(c) / SUM(c), 6) AS max_key_share
    FROM ranked
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew dashboard for orders.o_custkey: per-key counts, Gini
    coefficient of the key distribution, and the heaviest key's share —
    the pre-flight check that decides salting / AQE-skew settings BEFORE a
    join ships 100 TB. Counts are a word-count agg (key-cardinality
    sized); the key domain scales with the corpus, so the global rank
    uses the two-phase range-partitioned scan (operators/ranking.py) —
    never a single-partition window. Gini via the rank-weighted closed
    form, deterministic (count, key) tiebreak."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("*").cast("double").alias("c"))
    ranked = attach_global_order_stats(
        counts, [("c", "asc"), ("o_custkey", "asc")], row_number="r"
    ).select("c", "r")
    n, tot = F.count("*"), F.sum("c")
    return ranked.agg(
        n.cast("int").alias("n_keys"),
        tot.cast("bigint").alias("n_rows"),
        F.round(
            (2.0 * F.sum(F.col("r") * F.col("c")) - (n + 1) * tot) / (n * tot), 6
        ).alias("gini"),
        F.round(F.max("c") / tot, 6).alias("max_key_share"),
    )


@query(
    "agg_price_outliers_iqr",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS p
      FROM orders
    ), fences AS (
      SELECT o_orderpriority,
             quantile_cont(p, 0.25) AS q1, quantile_cont(p, 0.75) AS q3
      FROM cents GROUP BY 1
    )
    SELECT c.o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE c.p > f.q3 + 1.5 * (f.q3 - f.q1)
                                    OR c.p < f.q1 - 1.5 * (f.q3 - f.q1)) AS INT)
             AS n_outliers,
           CAST(COUNT(*) AS INT) AS n_orders,
           ROUND(f.q1 / 100.0, 2) AS q1, ROUND(f.q3 / 100.0, 2) AS q3
    FROM cents c JOIN fences f USING (o_orderpriority)
    GROUP BY c.o_orderpriority, f.q1, f.q3
    """,
)
def agg_price_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: Tukey fences (1.5×IQR) per order
    priority over total price — the outlier count that doesn't move when
    the outliers themselves grow. Quartiles interpolate over integer
    CENTS (the agg_percentiles trick — midpoints stay float-exact across
    engines); fences join back broadcast, flagging happens in the join
    projection. At 100 TB swap percentile → approx_percentile (t-digest,
    mergeable) and keep the rest of the plan."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("p"),
    )
    fences = cents.groupBy("o_orderpriority").agg(
        F.percentile("p", F.lit(0.25)).alias("q1"),
        F.percentile("p", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("p") > F.col("q3") + 1.5 * iqr) | (
        F.col("p") < F.col("q1") - 1.5 * iqr
    )
    return (
        cents.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority", "q1", "q3")
        .agg(
            F.sum(out.cast("int")).cast("int").alias("n_outliers"),
            F.count("*").cast("int").alias("n_orders"),
        )
        .select(
            "o_orderpriority", "n_outliers", "n_orders",
            F.round(F.col("q1") / 100.0, 2).alias("q1"),
            F.round(F.col("q3") / 100.0, 2).alias("q3"),
        )
    )


@query(
    "agg_moments_skew_kurtosis",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW(s2 / n - (s1 / n) * (s1 / n), 2) - 3.0, 6) AS excess_kurtosis
    FROM s
    """,
)
def agg_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of quantity per return
    flag, computed from EXACT integer power sums (Σx..Σx⁴ over int
    quantities stay integer-exact, so the closed-form moments match the
    oracle bit-for-bit — built-in `skewness`/`kurtosis` would drift on
    engine-specific accumulation order). One map-side-combined agg; the
    moment algebra is driver-free projection math."""
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    m1, m2, m3, m4 = (F.col(c) / F.col("n") for c in ("s1", "s2", "s3", "s4"))
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / F.pow(var, 2) - 3.0
    return s.select(
        "l_returnflag",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "agg_correlation_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qty_price
    FROM c
    """,
)
def agg_correlation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag from
    exact integer sums (quantities are ints, prices become cents) — the
    same determinism trick as the moments query: the only doubles appear
    AFTER aggregation, in identical closed-form algebra, so the oracle
    hash matches exactly where built-in `corr` would wobble in the last
    ulp across engines."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    c = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return c.select("l_returnflag", F.round(corr, 6).alias("corr_qty_price"))


@query(
    "basket_item_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM baskets
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS c FROM baskets GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_both,
           ROUND(p.n_both * n.n_orders / (ia.c * ib.c), 4) AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b, n
    """,
)
def basket_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order at
    least twice, scored by lift = P(a,b)/(P(a)·P(b)) — the co-purchase
    affinity a recommender or assortment planner starts from. Pairs are
    generated INSIDE each basket: one collect_set shuffle keyed by order,
    then array higher-order functions emit the C(size,2) ordered pairs
    (~4 items/order, so per-row fan-out is bounded by basket size², never
    the catalog). Round-6 change: this replaces a baskets-self-join —
    same keying, but one shuffle instead of distinct+join and no join
    build side; measured 2.25 s -> 1.65 s median at sf0.1, result
    bit-identical. Supports and lift are exact integer counts in closed
    form, so the oracle hash matches exactly."""
    l = load_table(spark, sf_dir, "lineitem")
    # r14 (guide §2.4): the basket table feeds n_orders, the item counts
    # AND the pair fan-out — three derivations of the scan + collect_set
    # shuffle (8 parquet scans in the before-plan). One order-count-sized
    # materialization serves all three.
    per_order = (
        l.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .localCheckpoint(eager=False)
    )
    n_orders = per_order.agg(F.count("*").cast("double").alias("n_orders"))
    item = (
        per_order.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("double").alias("c"))
    )
    pair = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_both",
            F.round(
                F.col("n_both") * F.col("n_orders") / (F.col("ca") * F.col("cb")), 4
            ).alias("lift"),
        )
    )


@query(
    "merge_scd2_snapshot_asof",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, 0 AS valid_from,
             CAST(NULL AS INT) AS valid_to
      FROM customer
    ), updates AS (
      SELECT c_custkey, 'RELOCATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
    ), changed AS (
      SELECT d.c_custkey FROM dim d JOIN updates u USING (c_custkey)
      WHERE d.valid_to IS NULL AND d.c_mktsegment <> u.c_mktsegment
    ), merged AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE d.valid_to END AS valid_to
      FROM dim d LEFT JOIN changed c USING (c_custkey)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, 1, CAST(NULL AS INT)
      FROM updates u JOIN changed c USING (c_custkey)
    )
    SELECT c_custkey, c_mktsegment
    FROM merged
    WHERE valid_from <= 0 AND (valid_to IS NULL OR valid_to > 0)
    """,
)
def merge_scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 dimension: reconstruct the table AS OF
    version 0 — i.e. after the version-1 CDC batch applied, the query
    still returns the pre-update segments (every history row whose
    validity interval covers the asked version). One scan + one interval
    filter; the snapshot predicate pushes to the scan on a materialized
    SCD2 table."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment",
        F.lit(0).alias("valid_from"), F.lit(None).cast("int").alias("valid_to"),
    )
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("RELOCATED").alias("c_mktsegment")
    )
    merged = scd2_apply(dim, updates, "c_custkey", ["c_mktsegment"], new_version=1)
    asof = 0
    return merged.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    ).select("c_custkey", "c_mktsegment")


@query(
    "agg_ols_qty_price",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0, 6) AS slope,
           ROUND((sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx / n)
                 / 100.0, 4) AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM c
    """,
)
def agg_ols_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of price on quantity per return flag — slope,
    intercept (both back in dollars), and R² — completing the regression
    family next to `agg_correlation_exact` with the same determinism
    trick: every sum is integer-exact (quantities are ints, prices become
    cents), all doubles appear only in the final algebra, identical on
    both engines. One map-side-combined aggregate; the fit itself is
    driver-free projection math."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    c = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope_c = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return c.select(
        "l_returnflag",
        F.round(slope_c / 100.0, 6).alias("slope"),
        F.round((sy / n - slope_c * sx / n) / 100.0, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@query(
    "agg_winsorized_mean",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS p
      FROM orders
    ), fences AS (
      SELECT o_orderpriority,
             quantile_cont(p, 0.05) AS lo, quantile_cont(p, 0.95) AS hi
      FROM cents GROUP BY 1
    )
    SELECT c.o_orderpriority,
           ROUND(AVG(c.p) / 100.0, 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(CAST(c.p AS DOUBLE), f.lo), f.hi)) / 100.0, 4)
             AS winsorized_mean
    FROM cents c JOIN fences f USING (o_orderpriority)
    GROUP BY c.o_orderpriority
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clip to [p5, p95]) of order totals per priority,
    next to the raw mean — the robust location estimate whose gap from
    the raw mean QUANTIFIES tail influence. Same plan family as the IQR
    fences: exact quantiles over integer cents, broadcast fence join,
    clipping in the join projection. AVG over integer cents is a ratio of
    exact integers, so the raw mean matches bit-for-bit; the clipped
    branch mixes in the (float-exact) quantile bounds identically on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("p"),
    )
    fences = cents.groupBy("o_orderpriority").agg(
        F.percentile("p", F.lit(0.05)).alias("lo"),
        F.percentile("p", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("p").cast("double"), F.col("lo")), F.col("hi")
    )
    return (
        cents.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg("p") / 100.0, 4).alias("raw_mean"),
            F.round(F.avg(clipped) / 100.0, 4).alias("winsorized_mean"),
        )
    )


@query(
    "agg_modal_priority_by_year",
    oracle="""
    WITH c AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, o_orderpriority AS modal_priority, n
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY yr
                ORDER BY n DESC, o_orderpriority) AS rk
      FROM c
    ) WHERE rk = 1
    """,
)
def agg_modal_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal (most frequent) order priority per year with its count — the
    categorical location statistic, deterministic via the
    (count desc, value) tiebreak. Two shrinking aggregations + a window
    over the (year × priority)-sized table."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"), "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("yr").orderBy(F.desc("n"), "o_orderpriority")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("yr", F.col("o_orderpriority").alias("modal_priority"), "n")
    )


@query(
    "agg_customer_ltv_deciles",
    oracle="""
    WITH ltv AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM ltv
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS INT) AS n_customers,
           ROUND(SUM(cents) / 100.0, 2) AS revenue,
           ROUND(SUM(cents) / CAST((SELECT SUM(cents) FROM ltv) AS DOUBLE), 6)
             AS revenue_share
    FROM ranked GROUP BY decile
    """,
)
def agg_customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value decile table: per-customer revenue summed
    exactly in cents, customers split into spend deciles (deterministic
    (cents, custkey) order), each decile's headcount, revenue, and share
    of total — the concentration readout ('the top decile is X% of
    revenue') behind every retention budget. Customer-keyed agg, then
    the decile split via the two-phase range-partitioned NTILE
    (operators/ranking.py — customers scale with the corpus, so no
    single-partition window); integer cents keep every sum exact."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    ltv = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = attach_global_order_stats(
        ltv,
        [("cents", "asc"), ("o_custkey", "asc")],
        ntile=(10, "decile"),
    ).select("cents", "decile")
    tot = ltv.agg(F.sum("cents").cast("double").alias("t"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").cast("int").alias("n_customers"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
            F.sum("cents").alias("_c"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers", "revenue",
            F.round(F.col("_c") / F.col("t"), 6).alias("revenue_share"),
        )
    )


@query(
    "agg_rfm_segments",
    oracle="""
    WITH mx AS (
      SELECT MAX(o_orderdate) AS maxd FROM orders
    ), rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), mx.maxd) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS monetary
      FROM orders, mx GROUP BY o_custkey, mx.maxd
    ), scored AS (
      SELECT NTILE(3) OVER (ORDER BY recency_days, o_custkey) AS r,
             NTILE(3) OVER (ORDER BY frequency, o_custkey) AS f,
             NTILE(3) OVER (ORDER BY monetary, o_custkey) AS m
      FROM rfm
    )
    SELECT 'R' || r || 'F' || f || 'M' || m AS segment,
           CAST(COUNT(*) AS INT) AS n_customers
    FROM scored GROUP BY 1
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days since last order vs corpus max
    date), frequency, and exact-cents monetary per customer, each split
    into terciles with deterministic (value, custkey) order, concatenated
    into the classic R#F#M# segment labels with headcounts. One
    customer-keyed agg + three chained two-phase NTILEs over the
    customer-sized table (operators/ranking.py — three parallel range
    shuffles, never a single-partition window, since customers scale
    with the corpus) — the whole-corpus max date is a 1-row broadcast."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    rfm = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.datediff("maxd", F.max("o_orderdate")).cast("bigint").alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(cents).alias("monetary"),
        )
    )
    scored = rfm
    for col, out in (("recency_days", "r"), ("frequency", "f"),
                     ("monetary", "m")):
        scored = attach_global_order_stats(
            scored, [(col, "asc"), ("o_custkey", "asc")], ntile=(3, out)
        )
    scored = scored.select("r", "f", "m")
    return (
        scored.select(
            F.concat(F.lit("R"), "r", F.lit("F"), "f", F.lit("M"), "m").alias("segment")
        )
        .groupBy("segment")
        .agg(F.count("*").cast("int").alias("n_customers"))
    )


@query(
    "agg_monthly_revenue_yoy",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, ROUND(cents / 100.0, 2) AS revenue,
           ROUND(CAST(cents AS DOUBLE)
                 / LAG(cents, 12) OVER (ORDER BY yr, mo) - 1.0, 6) AS yoy_growth
    FROM m
    """,
)
def agg_monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth (lag-12 over the month
    series) — the BI trend staple. Exact integer cents per month; the
    growth window runs over the MONTH-sized table (never the orders), and
    the first year's rows carry NULL growth by construction."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(F.sum(cents).alias("cents"))
    w = Window.orderBy("yr", "mo")
    return m.select(
        "yr", "mo",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.lag("cents", 12).over(w) - 1.0, 6
        ).alias("yoy_growth"),
    )


@query(
    "agg_part_abc_classes",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cents) OVER () AS tot
      FROM rev
    ), classed AS (
      SELECT CASE WHEN cum <= 0.8 * tot THEN 'A'
                  WHEN cum <= 0.95 * tot THEN 'B'
                  ELSE 'C' END AS abc_class, cents
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS INT) AS n_parts,
           ROUND(SUM(cents) / 100.0, 2) AS revenue
    FROM classed GROUP BY abc_class
    """,
)
def agg_part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: A = parts inside
    the first 80% of cumulative revenue (ranked descending), B to 95%,
    C the tail — the inventory-policy classifier. Exact cents per part;
    the cumulative revenue walk over the PART dimension (which scales
    with the corpus) runs as the two-phase distributed prefix sum
    (operators/ranking.py — range partition on (revenue desc, partkey),
    per-partition totals, broadcast offsets), and the grand total is a
    1-row broadcast; class thresholds compare exact integers against
    0.8/0.95 of an exact integer total."""
    from ..operators.ranking import attach_global_order_stats

    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    rev = l.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    tot = rev.agg(F.sum("cents").alias("tot"))
    ranked = attach_global_order_stats(
        rev,
        [("cents", "desc"), ("l_partkey", "asc")],
        cumsum=("cents", "cum"),
    ).crossJoin(F.broadcast(tot)).select("cents", "cum", "tot")
    cls = (
        F.when(F.col("cum") <= 0.8 * F.col("tot"), "A")
        .when(F.col("cum") <= 0.95 * F.col("tot"), "B")
        .otherwise("C")
    )
    return (
        ranked.select(cls.alias("abc_class"), "cents")
        .groupBy("abc_class")
        .agg(
            F.count("*").cast("int").alias("n_parts"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
        )
    )


@query(
    "quality_constraint_report",
    oracle="""
    SELECT * FROM (
      SELECT 'orders_pk_unique' AS rule,
             CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT) AS n_violations
      FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1)
      UNION ALL
      SELECT 'lineitem_fk_orders',
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'orders_custkey_not_null',
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_positive',
             CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_status_in_set',
             CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_discount_range',
             CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT)
      FROM lineitem
    )
    """,
)
def quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-contract report: violation counts for the table suite's
    core invariants — PK uniqueness, lineitem→orders referential
    integrity, null-freedom, value ranges, enum membership
    (operators/constraints.py). Scan-sharing by construction: the three
    orders row-rules evaluate in ONE aggregate over one scan; uniqueness
    is one keyed agg; the FK check is a broadcast anti-join. The report a
    pipeline gates promotion on — and everything is an exact integer, so
    the oracle checks it row for row."""
    from ..operators import constraints as C

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    uniq = C.unique_violations(o, ["o_orderkey"]).select(
        F.lit("orders_pk_unique").alias("rule"), F.col("n").alias("n_violations")
    )
    fk = C.foreign_key_violations(l, "l_orderkey", o, "o_orderkey").select(
        F.lit("lineitem_fk_orders").alias("rule"), F.col("n").alias("n_violations")
    )
    orders_rules = o.agg(
        C.violations_not_null(o, "o_custkey").alias("nn"),
        C.violations_predicate(o, F.col("o_totalprice") > 0).alias("pos"),
        C.violations_predicate(
            o, F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("st"),
    )
    o3 = orders_rules.selectExpr(
        "stack(3, 'orders_custkey_not_null', nn, "
        "'orders_totalprice_positive', pos, "
        "'orders_status_in_set', st) AS (rule, n_violations)"
    )
    disc = l.agg(
        C.violations_predicate(l, F.col("l_discount").between(0.0, 0.1)).alias("n")
    ).select(
        F.lit("lineitem_discount_range").alias("rule"),
        F.col("n").alias("n_violations"),
    )
    return uniq.unionByName(fk).unionByName(o3).unionByName(disc)


@query(
    "source_python_datasource",
    oracle="""
    WITH src AS (
      SELECT i.i AS id,
             CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM UNNEST(range(0, 1000)) AS i(i)
    )
    SELECT CAST(h % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(h) AS BIGINT) AS max_h
    FROM src GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows produced by a CUSTOM CONNECTOR written against Spark 4's
    Python DataSource API (sources/pydatasource.py::HashRangeDataSource:
    schema + partition planning + per-partition readers, all pure Python)
    and aggregated per hash bucket. The connector's output is a pure
    function of its options — the portable md5 hash again — so even the
    extensibility surface is value-oracled: DuckDB reproduces what the
    8-split parallel read must yield. The reference's answer to a new
    source is another hand-rolled Java consumer; here a source is ~40
    lines of Python and the engine owns scheduling."""
    from ..sources.pydatasource import HashRangeDataSource

    try:
        spark.dataSource.register(HashRangeDataSource)
    except Exception:
        pass  # already registered in this session
    src = (
        spark.read.format("hashrange")
        .option("n", "1000")
        .option("parts", "8")
        .load()
    )
    return src.groupBy((F.col("h") % 10).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("id").alias("min_id"),
        F.max("h").alias("max_h"),
    )


@query(
    "merge_scd2_version_diff",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, 0 AS valid_from,
             CAST(NULL AS INT) AS valid_to
      FROM customer
    ), updates AS (
      SELECT c_custkey, 'RELOCATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
    ), changed AS (
      SELECT d.c_custkey FROM dim d JOIN updates u USING (c_custkey)
      WHERE d.valid_to IS NULL AND d.c_mktsegment <> u.c_mktsegment
    ), merged AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE d.valid_to END AS valid_to
      FROM dim d LEFT JOIN changed c USING (c_custkey)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, 1, CAST(NULL AS INT)
      FROM updates u JOIN changed c USING (c_custkey)
    ), v0 AS (
      SELECT c_custkey, c_mktsegment FROM merged
      WHERE valid_from <= 0 AND (valid_to IS NULL OR valid_to > 0)
    ), v1 AS (
      SELECT c_custkey, c_mktsegment FROM merged
      WHERE valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)
    )
    SELECT v0.c_custkey,
           v0.c_mktsegment AS segment_v0,
           v1.c_mktsegment AS segment_v1
    FROM v0 JOIN v1 USING (c_custkey)
    WHERE v0.c_mktsegment <> v1.c_mktsegment
    """,
)
def merge_scd2_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit diff between two dimension VERSIONS: which keys changed
    between the as-of-0 and as-of-1 snapshots, with before/after values —
    the change report a warehouse review reads after every CDC
    promotion, and the third member of the SCD2 trio (merge = write,
    snapshot = read-as-of, diff = compare-two-reads). Two validity-
    interval filters over ONE maintained table (each a pushed scan
    predicate on a materialized dimension) joined on the key; at scale
    the join is key-partitioned and the unchanged majority drops in the
    filter, so the diff is change-sized, not dimension-sized."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment",
        F.lit(0).alias("valid_from"), F.lit(None).cast("int").alias("valid_to"),
    )
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("RELOCATED").alias("c_mktsegment")
    )
    merged = scd2_apply(dim, updates, "c_custkey", ["c_mktsegment"], new_version=1)

    def snap(asof: int) -> DataFrame:
        return merged.filter(
            (F.col("valid_from") <= asof)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
        ).select("c_custkey", "c_mktsegment")

    v0 = snap(0).withColumnRenamed("c_mktsegment", "segment_v0")
    v1 = snap(1).withColumnRenamed("c_mktsegment", "segment_v1")
    return v0.join(v1, "c_custkey").filter(
        F.col("segment_v0") != F.col("segment_v1")
    )


@query(
    "join_salted_orders_customers",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer executed through the EXPLICIT salt-sharding
    operator (operators/skew.py::salted_join: fact keys sharded into 16
    synthetic salts, dimension replicated 16×) and rolled up per segment.
    Salting must be a pure PHYSICAL transform — the oracle states the
    plain join, so this row proves result-equivalence, not just shape.
    This is the fallback for the pathological key AQE's skew-split can't
    fix (one join key too hot for a single task even after splitting);
    for ordinary skew the diag_key_skew dashboard + AQE settings in
    session.py are the first line."""
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(
        o.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
        c,
        "c_custkey",
        n_salts=16,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


@query(
    "merge_scd2_insert_new_keys",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, 0 AS valid_from,
             CAST(NULL AS INT) AS valid_to
      FROM customer
    ), updates AS (
      SELECT c_custkey, 'RELOCATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT -c_custkey AS c_custkey, 'FRESH' AS c_mktsegment
      FROM customer WHERE c_custkey % 100 = 1
    ), changed AS (
      SELECT d.c_custkey FROM dim d JOIN updates u USING (c_custkey)
      WHERE d.valid_to IS NULL AND d.c_mktsegment <> u.c_mktsegment
    ), inserted AS (
      SELECT u.c_custkey, u.c_mktsegment
      FROM updates u LEFT JOIN dim d ON d.c_custkey = u.c_custkey
      WHERE d.c_custkey IS NULL
    )
    SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE d.valid_to END AS valid_to
      FROM dim d LEFT JOIN changed c USING (c_custkey)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, 1, CAST(NULL AS INT)
      FROM updates u JOIN changed c USING (c_custkey)
      UNION ALL
      SELECT i.c_custkey, i.c_mktsegment, 1, CAST(NULL AS INT)
      FROM inserted i
    )
    """,
)
def merge_scd2_insert_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 upsert whose batch mixes CHANGES (every 13th customer
    re-segmented) with BRAND-NEW keys (negated custkeys absent from the
    dimension) — pins the round-4 advisor fix (operators/merge.py insert
    branch): a key with no current row must be INSERTED as a fresh open
    row at the new version, not silently dropped by the changed-keys
    inner join. Same no-hint, dimension-never-shuffles plan as
    merge_scd2_customers."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", "c_mktsegment",
        F.lit(0).alias("valid_from"), F.lit(None).cast("int").alias("valid_to"),
    )
    changed = c.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey", F.lit("RELOCATED").alias("c_mktsegment")
    )
    new_keys = c.filter(F.col("c_custkey") % 100 == 1).select(
        (-F.col("c_custkey")).alias("c_custkey"),
        F.lit("FRESH").alias("c_mktsegment"),
    )
    return scd2_apply(
        dim, changed.unionByName(new_keys), "c_custkey", ["c_mktsegment"],
        new_version=1,
    )


@query(
    "merge_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey, 1 AS seq, 'I' AS op,
             o_totalprice AS price, o_orderstatus AS status
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U', o_totalprice + 10.0, 'U'
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL, NULL
      FROM orders WHERE o_orderkey % 7 = 0
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT o_orderkey, CAST(seq AS INT) AS seq, op, price, status
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES (operators/merge.py::cdc_apply): collapse an
    insert/update/delete change log into final table state — the
    generalization of the reference's upsert leg
    (MySQLProcessData.java:67-73) to a log with explicit deletes. The log
    here is derived deterministically from orders (every key inserted,
    every 3rd updated, every 7th deleted) so the oracle can replay it.
    Plan: ONE keyed max_by aggregation (map-side combinable — a window
    row_number would sort-shuffle log-sized) + the delete filter."""
    o = load_table(spark, sf_dir, "orders")
    ins = o.select(
        "o_orderkey",
        F.lit(1).cast("int").alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(2).cast("int").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
        F.lit("U").alias("status"),
    )
    dels = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(3).cast("int").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("status"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    return merge.cdc_apply(log, ["o_orderkey"], seq_col="seq", op_col="op")


@query(
    "merge_view_maintenance",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 <> 0
    GROUP BY 1
    """,
)
def merge_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/merge.py::incremental_agg_apply): a stored per-status
    COUNT/SUM aggregate (base = orders with key%5≠0) absorbs a signed
    change stream (inserts: key%5=0; deletes: base keys with key%7=0)
    WITHOUT rescanning the base facts — delta aggregates first (map-side
    combined), one full-outer join against the stored agg. The oracle
    recomputes the final view directly from the merged state, proving the
    incremental fold lands on the exact same numbers."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 5 != 0)
    base_agg = base.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("cnt"),
        F.sum("o_totalprice").alias("sum_price"),
    )
    ins = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderstatus").alias("status"),
        F.lit(1).alias("sign"),
        F.col("o_totalprice").alias("sum_price"),
    )
    dels = base.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderstatus").alias("status"),
        F.lit(-1).alias("sign"),
        F.col("o_totalprice").alias("sum_price"),
    )
    out = merge.incremental_agg_apply(
        base_agg,
        ins.unionByName(dels),
        ["status"],
        count_col="cnt",
        sum_cols=["sum_price"],
    )
    return out.select(
        "status",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round("sum_price", 2).alias("sum_price"),
    )


@query(
    "merge_ivm_minmax",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(MIN(o_totalprice) * 100, 0) AS BIGINT) AS min_cents,
           CAST(ROUND(MAX(o_totalprice) * 100, 0) AS BIGINT) AS max_cents
    FROM orders
    WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 <> 0
    GROUP BY 1
    """,
)
def merge_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MIN/MAX view maintenance — the aggregate family
    merge_view_maintenance documented as out of scope, now closed
    (operators/merge.py::incremental_minmax_apply): inserts update the
    bounds algebraically; deletes mark a group dirty ONLY when the
    deleted values can touch the stored bound, and dirty groups — alone —
    recompute from the post-merge fact table via a left-semi-pruned
    rescan. Same base/delta slices as the COUNT/SUM row (base =
    key%5≠0, inserts = key%5=0, deletes = base keys with key%7=0), so
    the two IVM rows are directly comparable; the oracle recomputes the
    final (cnt, min, max) per status from scratch, proving the
    incremental path — algebraic branch AND pruned-rescan branch — lands
    on identical numbers. At 100 TB the rescan volume is the dirty
    groups' rows only."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 5 != 0)
    base_agg = base.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    )
    ins = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderstatus").alias("status"),
        F.lit(1).alias("sign"),
        F.col("o_totalprice").alias("price"),
    )
    dels = base.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderstatus").alias("status"),
        F.lit(-1).alias("sign"),
        F.col("o_totalprice").alias("price"),
    )
    facts_after = o.filter(
        (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 != 0)
    ).select(F.col("o_orderstatus").alias("status"),
             F.col("o_totalprice").alias("price"))
    out = merge.incremental_minmax_apply(
        base_agg,
        ins.unionByName(dels),
        facts_after,
        ["status"],
        "price",
    )
    return out.select(
        "status",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("mn") * 100, 0).cast("bigint").alias("min_cents"),
        F.round(F.col("mx") * 100, 0).cast("bigint").alias("max_cents"),
    )


@query(
    "merge_deletion_vectors",
    oracle="""
    WITH files AS (
      SELECT o_orderkey // 1024 AS file_id,
             CASE WHEN o_orderstatus = 'F'
                    AND year(o_orderdate) <= 1993
                  THEN 1 ELSE 0 END AS del
      FROM orders
    ), dv AS (
      SELECT file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(del) AS BIGINT) AS n_deleted
      FROM files GROUP BY file_id
    )
    SELECT file_id, n_rows, n_deleted,
           ROUND(CAST(n_deleted AS DOUBLE) / n_rows, 6) AS dv_density,
           CAST(n_deleted = n_rows AS BOOLEAN) AS fully_dead,
           CAST(n_deleted > 0 AND n_deleted < n_rows
                AND n_deleted * 10 > n_rows * 3 AS BOOLEAN)
             AS rewrite_recommended
    FROM dv
    """,
)
def merge_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR maintenance report — the merge-on-read bookkeeping
    every modern lakehouse (Delta DVs, Iceberg positional deletes) runs
    instead of rewriting files on DELETE: for a retention predicate
    (finished orders through 1993), each simulated 1024-row file's DV
    cardinality, density, fully-dead flag (drop the file, no DV needed),
    and the rewrite recommendation once DVs exceed 30% of the file (the
    read-amplification threshold where compaction beats masking — the
    integer cross-multiplied form keeps the 0.3 comparison exact). One
    file-keyed agg over a projection; the report is file-list-sized, the
    same metadata-scale shape as layout_compaction_bins and
    layout_zonemap_pruning."""
    o = load_table(spark, sf_dir, "orders")
    files = o.select(
        (F.col("o_orderkey") / 1024).cast("bigint").alias("file_id"),
        F.when(
            (F.col("o_orderstatus") == "F")
            & (F.year("o_orderdate") <= 1993),
            1,
        ).otherwise(0).alias("del"),
    )
    dv = files.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("del").cast("bigint").alias("n_deleted"),
    )
    return dv.select(
        "file_id",
        "n_rows",
        "n_deleted",
        F.round(F.col("n_deleted").cast("double") / F.col("n_rows"), 6)
        .alias("dv_density"),
        (F.col("n_deleted") == F.col("n_rows")).alias("fully_dead"),
        (
            (F.col("n_deleted") > 0)
            & (F.col("n_deleted") < F.col("n_rows"))
            & (F.col("n_deleted") * 10 > F.col("n_rows") * 3)
        ).alias("rewrite_recommended"),
    )


@query(
    "merge_insert_overwrite_partitions",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             date_trunc('month', o_orderdate) AS mon
      FROM orders
    ), batch AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 2) AS o_totalprice, mon
      FROM base
      WHERE mon BETWEEN DATE '1994-07-01' AND DATE '1994-12-01'
        AND o_orderkey % 2 = 1
    ), touched AS (
      SELECT DISTINCT mon FROM batch
    ), merged AS (
      SELECT * FROM base WHERE mon NOT IN (SELECT mon FROM touched)
      UNION ALL
      SELECT * FROM batch
    )
    SELECT CAST(mon AS DATE) AS mon,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents
    FROM merged
    WHERE mon BETWEEN DATE '1994-01-01' AND DATE '1995-06-01'
    GROUP BY 1
    """,
)
def merge_insert_overwrite_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE (INSERT OVERWRITE ... PARTITION — the
    lakehouse restatement primitive): a correction batch (1994-H2 months,
    odd orderkeys, prices restated +10%) REPLACES exactly the month
    partitions it contains rows for; untouched partitions pass through
    byte-identical. Spark's own writer does this under
    spark.sql.sources.partitionOverwriteMode=dynamic — here the semantics
    are expressed relationally so the oracle can check them: touched
    months are a tiny DISTINCT (broadcast anti-join, so the base table is
    ONE scan with a pushed filter — partition pruning at real scale),
    batch rows union in. Output is the per-month audit (row count + exact
    cents) over the seam months: the restated months must show only odd
    keys at +10 %, the neighbors must be untouched — any leakage of the
    overwrite across partition boundaries breaks the hash."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").alias("mon"),
    )
    batch = base.filter(
        F.col("mon").between("1994-07-01", "1994-12-01")
        & (F.col("o_orderkey") % 2 == 1)
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        "mon",
    )
    touched = batch.select("mon").distinct()
    merged = base.join(F.broadcast(touched), "mon", "left_anti").unionByName(
        batch.select("o_orderkey", "o_totalprice", "mon")
    )
    return (
        merged.filter(F.col("mon").between("1994-01-01", "1995-06-01"))
        .groupBy(F.col("mon").cast("date").alias("mon"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint").alias("cents"),
        )
    )


@query(
    "merge_snapshot_column_drift",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer
    ), snap AS (
      -- deterministic restated snapshot: %97 keys deleted, %7 keys change
      -- segment, %11 keys get a 500-cent credit, %101 keys reappear as
      -- fresh ids in a new key range
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'RELOCATED'
                  ELSE c_mktsegment END AS c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
               + CASE WHEN c_custkey % 11 = 0 THEN 500 ELSE 0 END AS bal_cents
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer),
             c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
      FROM customer WHERE c_custkey % 101 = 0
    ), j AS (
      SELECT cur.c_custkey AS k_cur, snap.c_custkey AS k_snap,
             cur.c_mktsegment AS seg_cur, snap.c_mktsegment AS seg_snap,
             cur.bal_cents AS bal_cur, snap.bal_cents AS bal_snap
      FROM cur FULL OUTER JOIN snap ON cur.c_custkey = snap.c_custkey
    )
    SELECT metric, n FROM (
      SELECT 'rows_added' AS metric,
             CAST(SUM(CASE WHEN k_cur IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
      FROM j
      UNION ALL
      SELECT 'rows_removed',
             CAST(SUM(CASE WHEN k_snap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'rows_matched',
             CAST(SUM(CASE WHEN k_cur IS NOT NULL AND k_snap IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'changed_c_mktsegment',
             CAST(SUM(CASE WHEN k_cur IS NOT NULL AND k_snap IS NOT NULL
                            AND seg_cur <> seg_snap THEN 1 ELSE 0 END) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'changed_c_acctbal',
             CAST(SUM(CASE WHEN k_cur IS NOT NULL AND k_snap IS NOT NULL
                            AND bal_cur <> bal_snap THEN 1 ELSE 0 END) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'changed_any_column',
             CAST(SUM(CASE WHEN k_cur IS NOT NULL AND k_snap IS NOT NULL
                            AND (seg_cur <> seg_snap OR bal_cur <> bal_snap)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM j
    )
    """,
)
def merge_snapshot_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT RECONCILIATION AUDIT — the table-diff report every
    migration/backfill review reads before swapping a restated snapshot
    in: rows added, rows removed, rows matched, and PER-COLUMN change
    counts between the current table and a deterministic restatement
    (segment rewrites, balance credits, deletions, new keys offset past MAX(key) so they stay collision-free at any scale). One full
    outer join on the key feeding six conditional counts in a single
    map-side-combined pass (the unpivot to (metric, n) rows is on the
    6-row aggregate, not the data); balances compare as exact integer
    cents so float noise can't masquerade as drift. At 100 TB both
    sides shuffle once on the join key — the same plan DeequalDiff-style
    reconcilers run."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    cur = c.select("c_custkey", "c_mktsegment", cents.alias("bal_cents"))
    snap = (
        c.where(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 7 == 0, "RELOCATED")
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            (
                cents
                + F.when(F.col("c_custkey") % 11 == 0, 500).otherwise(0)
            ).cast("bigint").alias("bal_cents"),
        )
        .unionByName(
            # fresh-key offset derives from MAX(c_custkey)+1 (a 1-row
            # broadcast aggregate) so synthetic ids can NEVER collide with
            # real ones at any table size — a fixed +1e6 offset would fan
            # out the full outer join past ~1M customers
            c.where(F.col("c_custkey") % 101 == 0)
            .crossJoin(
                F.broadcast(c.agg((F.max("c_custkey") + 1).alias("__off")))
            )
            .select(
                (F.col("c_custkey") + F.col("__off")).alias("c_custkey"),
                "c_mktsegment",
                cents.alias("bal_cents"),
            )
        )
    )
    j = cur.alias("a").join(
        snap.alias("b"), F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer"
    ).select(
        F.col("a.c_custkey").alias("k_cur"),
        F.col("b.c_custkey").alias("k_snap"),
        F.col("a.c_mktsegment").alias("seg_cur"),
        F.col("b.c_mktsegment").alias("seg_snap"),
        F.col("a.bal_cents").alias("bal_cur"),
        F.col("b.bal_cents").alias("bal_snap"),
    )
    matched = F.col("k_cur").isNotNull() & F.col("k_snap").isNotNull()
    agg = j.agg(
        F.sum(F.when(F.col("k_cur").isNull(), 1).otherwise(0)).cast("bigint").alias("rows_added"),
        F.sum(F.when(F.col("k_snap").isNull(), 1).otherwise(0)).cast("bigint").alias("rows_removed"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("bigint").alias("rows_matched"),
        F.sum(F.when(matched & (F.col("seg_cur") != F.col("seg_snap")), 1).otherwise(0)).cast("bigint").alias("changed_c_mktsegment"),
        F.sum(F.when(matched & (F.col("bal_cur") != F.col("bal_snap")), 1).otherwise(0)).cast("bigint").alias("changed_c_acctbal"),
        F.sum(
            F.when(
                matched
                & (
                    (F.col("seg_cur") != F.col("seg_snap"))
                    | (F.col("bal_cur") != F.col("bal_snap"))
                ),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("changed_any_column"),
    )
    return agg.selectExpr(
        "stack(6, 'rows_added', rows_added, 'rows_removed', rows_removed, "
        "'rows_matched', rows_matched, "
        "'changed_c_mktsegment', changed_c_mktsegment, "
        "'changed_c_acctbal', changed_c_acctbal, "
        "'changed_any_column', changed_any_column) AS (metric, n)"
    )


# ==========================================================================
# UNPIVOT (wide→long melt, the inverse of the pivot query above), the
# distribution window functions (percent_rank / cume_dist / nth_value), and
# a CSV connector round-trip (JSON/ORC/partitioned-parquet siblings are
# exercised in tests/test_formats.py)
# ==========================================================================


@query(
    "unpivot_lineitem_measures",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey < 1000
    )
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: four lineitem measure columns into long
    (key, measure, value) rows — the inverse of `pivot_status_by_priority`
    and the shape change every metrics store / long-format ML feature
    table needs. Spark's native `unpivot` is a zero-shuffle projection
    (each input row expands in place in the scan stage — no exchange, no
    state), so at 100 TB it is scan-bound; the oracle spells the same
    relation as a portable 4-way UNION ALL. The orderkey slice keeps the
    compared row set bounded; the plan is identical without it."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@query(
    "window_dist_functions",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           NTH_VALUE(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS second_orderkey
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_dist_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over each customer's orders by
    spend: percent_rank (rank-1)/(n-1), cume_dist, and nth_value(2) with
    the explicit running frame both engines default differently on —
    completing the window surface next to `window_rank_variants`
    (rank/dense_rank/ntile/lead) and `window_range_frame` (RANGE frames).
    Same scale shape as every window query here: one keyed shuffle,
    per-key sort, no global order."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(w_run).alias("second_orderkey"),
    )


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS bal_cents,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer GROUP BY 1
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector on the graded path: write `customer` out as headered
    CSV, read it back, and aggregate per segment — the oracle runs the
    SAME aggregate on the parquet directly, so any loss in the text
    round-trip (double formatting, quoting, header/schema misalignment)
    breaks the value hash. Doubles survive because Spark writes the
    shortest representation that parses back to the identical bits; the
    exact-cents SUM pins it. Read uses an EXPLICIT schema, never
    inference — at 100 TB schema inference is a second full scan, and
    uncompressed CSV stays line-splittable so the read parallelizes like
    any other file scan. The JSON/ORC/partitioned-pruning siblings are
    tests/test_formats.py."""
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_formats",
        os.path.basename(os.path.normpath(sf_dir)),
        "customer_csv",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    c.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema(
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        )
        .option("header", True)
        .csv(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint")).alias(
            "bal_cents"
        ),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


_DOC_AVRO_SCHEMA = {
    "type": "record",
    "name": "document",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string"},
        {"name": "source", "type": "string"},
        {"name": "n_chars", "type": "long"},
    ],
}


@query(
    "source_avro_ocf_roundtrip",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(BIT_XOR(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
                AS BIGINT) AS text_hash_xor
    FROM documents GROUP BY 1
    """,
)
def source_avro_ocf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File connector on the graded path: write the
    documents table as a directory of deflate-coded OCF files (one per
    partition, executors in parallel — streaming/avro_ocf.py, built from
    the public Avro 1.11 spec since the spark-avro jar isn't in the
    sandbox), read it back through binaryFile + executor-side container
    parse, and aggregate per source. The per-source BIT_XOR of a 60-bit
    md5 hash over the round-tripped TEXT (xor, not sum — order-free AND
    overflow-free under ANSI mode) means one flipped byte anywhere in
    encode→deflate→sync-framing→inflate→decode breaks the value hash
    against the parquet-side oracle. Reference parity: the reference's
    whole pipeline speaks Confluent-framed Avro (AvroProducer.java:48-50);
    this is the same record codec in its FILE container form."""
    from ..streaming.avro_ocf import read_ocf, write_ocf

    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_formats",
        os.path.basename(os.path.normpath(sf_dir)),
        "documents_ocf",
    )
    docs = load_table(spark, sf_dir, "documents")
    write_ocf(docs, out, _DOC_AVRO_SCHEMA, codec="deflate")
    back = read_ocf(spark, out, _DOC_AVRO_SCHEMA)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10)"
            " as bigint))"
        ).alias("text_hash_xor"),
    )


@query(
    "agg_gini_customer_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                      AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS i
      FROM spend
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS tot,
             CAST(SUM(i * cents) AS BIGINT) AS isum
      FROM ranked
    )
    SELECT n AS n_customers,
           ROUND(CAST(2 * isum - (n + 1) * tot AS DOUBLE)
                 / (CAST(n AS DOUBLE) * tot), 6) AS gini
    FROM s
    """,
)
def agg_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order spend — the inequality /
    concentration audit a data-mixture pipeline runs on its source
    distribution ("is 1% of customers 90% of revenue?"). Uses the sorted
    closed form G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) with cent-exact BIGINT
    spend, so the weighted sum is exact integer algebra (ties in spend
    are safe under any tiebreak: the coefficient sum over a tie run is
    order-invariant, and the custkey tiebreak makes ROW_NUMBER
    deterministic anyway). One keyed agg, then the global rank comes
    from the TWO-PHASE range-partitioned scan
    (operators/ranking.py::attach_global_order_stats) — customers scale
    WITH the corpus, so a bare Window.orderBy would be a billion-row
    single-partition sort at 100 TB; the two-phase form keeps every
    partition at its range slice."""
    from ..operators.ranking import attach_global_order_stats

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    ranked = attach_global_order_stats(
        spend,
        [("cents", "asc"), ("o_custkey", "asc")],
        row_number="i",
    ).select("cents", "i")
    # sum((2i - n - 1) x_i) = 2*sum(i*x_i) - (n+1)*sum(x): no second
    # pass (or driver count) to learn n before weighting
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("isum"),
    )
    n, tot = F.col("n"), F.col("tot")
    return s.select(
        n.alias("n_customers"),
        F.round(
            (2 * F.col("isum") - (n + 1) * tot).cast("double")
            / (n.cast("double") * tot),
            6,
        ).alias("gini"),
    )


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk(part, anc, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey % 97 = 0
      UNION ALL
      SELECT part, anc // 2, depth + 1 FROM walk WHERE anc > 1
    )
    SELECT part, CAST(MAX(depth) AS INT) AS depth_to_root,
           CAST(SUM(anc) AS BIGINT) AS path_sum
    FROM walk GROUP BY part
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new engine surface in Spark 4)
    walking the implicit binary-tree hierarchy part → part÷2 → … → 1 for
    every 97th part: per-part depth-to-root and exact ancestor-key path
    sum — the org-chart / BOM-explosion query shape, expressed as ONE
    SQL statement that BOTH engines execute natively (the only dialect
    difference is integer division: DIV vs //). Each seed's chain is
    ⌈log₂ key⌉ rows, so the recursion's working set is seeds×depth —
    bounded, no cycle risk, no path multiplication (contrast the
    unrolled-CTE oracles used for the graph family, which exist because
    UNION ALL recursion over a CYCLIC clique-dense graph would multiply
    paths; on a tree the recursion is the natural form)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql("""
      WITH RECURSIVE walk(part, anc, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey % 97 = 0
        UNION ALL
        SELECT part, anc DIV 2, depth + 1 FROM walk WHERE anc > 1
      )
      SELECT part, CAST(MAX(depth) AS INT) AS depth_to_root,
             CAST(SUM(anc) AS BIGINT) AS path_sum
      FROM walk GROUP BY part
    """)


@query(
    "join_right_outer_nation_suppliers",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_right_outer_nation_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT OUTER join — the one outer-join direction the catalog's
    inner/left/semi/anti/full zoo didn't yet spell out: every nation with
    its supplier count, nations with NO suppliers kept at 0 (COUNT over
    the nullable key, not COUNT(*), so preserved-but-unmatched rows count
    zero — the classic right-join footgun). Nation is loaded WITHOUT the
    catalog's automatic broadcast hint: as the preserved side of a right
    outer join it cannot be the build side, and the unusable hint only
    produces a HintErrorLogger warning. Catalyst still picks a broadcast
    of the streamed supplier stats once AQE sees the sizes."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation", hint_broadcast=False)
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").cast("bigint").alias("n_suppliers"))
    )


@query(
    "agg_exact_quartiles_price",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT v, c,
             CAST(COALESCE(SUM(c) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS below,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM vals
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN below < (n + 3) // 4
                          AND (n + 3) // 4 <= below + c
                     THEN v ELSE 0 END) AS BIGINT) AS q1_cents,
           CAST(SUM(CASE WHEN below < (n + 1) // 2
                          AND (n + 1) // 2 <= below + c
                     THEN v ELSE 0 END)
                + SUM(CASE WHEN below < (n + 2) // 2
                            AND (n + 2) // 2 <= below + c
                      THEN v ELSE 0 END) AS BIGINT) AS median2_cents,
           CAST(SUM(CASE WHEN below < (3 * n + 3) // 4
                          AND (3 * n + 3) // 4 <= below + c
                     THEN v ELSE 0 END) AS BIGINT) AS q3_cents
    FROM cum
    """,
)
def agg_exact_quartiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quartiles of l_extendedprice — the precise
    counterpart of the rows-only `approx_percentile_prices`: quantiles
    by ORDER-STATISTIC SELECTION over the cent-value HISTOGRAM, never a
    global row sort. One keyed count to the distinct-value domain, one
    cumulative window over it, then each quartile is "the value whose
    cumulative range covers rank ⌈q·n⌉" — a CASE-gated SUM (exactly one
    value qualifies per rank by construction). Q1/Q3 use the symmetric
    type-1 ranks ⌈n/4⌉ = (n+3)//4 and ⌈3n/4⌉ = (3n+3)//4
    (lower order statistic), the median carries both middle
    ranks as an exact-integer 2·median — the repo's selection-not-
    interpolation discipline (events_mad_anomaly). At 100 TB the ordered
    pass is over distinct cents (value-domain-bounded); contrast
    percentile_approx, whose sketch error this query measures."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("bigint").alias("below"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    n = F.col("n")

    def pick(rank):
        hit = (F.col("below") < rank) & (rank <= F.col("below") + F.col("c"))
        return F.sum(F.when(hit, F.col("v")).otherwise(0)).cast("bigint")

    return cum.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        pick(F.floor((n + 3) / 4)).alias("q1_cents"),
        (
            pick(F.floor((n + 1) / 2)) + pick(F.floor((n + 2) / 2))
        ).cast("bigint").alias("median2_cents"),
        pick(F.floor((3 * n + 3) / 4)).alias("q3_cents"),
    )


@query(
    "scalar_datetime_zoo",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sun1,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus_30d,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start
    FROM orders WHERE o_orderkey < 200
    """,
)
def scalar_datetime_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function matrix — the date/time companion to
    scalar_string_zoo: extract fields (year/quarter/month/day/doy),
    day-of-week ALIGNED across engines (Spark's dayofweek is 1-based
    Sunday-first, DuckDB's is 0-based — the oracle adds 1; convention
    drift here is the classic silent BI bug this row pins), ISO week,
    month-end, interval arithmetic, and quarter truncation. Pure
    projection — codegen, no shuffle, scan pruned to two columns."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("y"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mon"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.dayofweek(d).cast("int").alias("dow_sun1"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.last_day(d).cast("date").alias("month_end"),
        F.date_add(d.cast("date"), 30).alias("plus_30d"),
        F.date_trunc("quarter", d).cast("date").alias("qtr_start"),
    )


@query(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY 1
    """,
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector on the graded path, completing the text-format
    trio next to source_csv_roundtrip and source_avro_ocf_roundtrip:
    write `orders` as line-delimited JSON, read it back with an EXPLICIT
    schema (inference = a second full scan at 100 TB), aggregate per
    status against the parquet-side oracle. Timestamps round-trip through
    JSON's ISO strings and doubles through shortest-round-trip notation;
    the exact-cents SUM and key MIN/MAX pin any loss. JSONL stays
    line-splittable, so the read parallelizes like CSV."""
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_formats",
        os.path.basename(os.path.normpath(sf_dir)),
        "orders_jsonl",
    )
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string"
    ).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "price_cents"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "join_bloom_runtime_filter",
    oracle="""
    WITH urgent AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || i.i),
                             1, 15)) AS BIGINT) % 1048576 AS pos
      FROM urgent, UNNEST(range(0, 3)) AS i(i)
    ),
    li AS (SELECT l_orderkey, l_extendedprice FROM lineitem),
    passed AS (
      SELECT l.l_orderkey, l.l_extendedprice
      FROM li l
      WHERE NOT EXISTS (
        SELECT 1 FROM UNNEST(range(0, 3)) AS i(i)
        WHERE CAST(('0x' || substr(md5(CAST(l.l_orderkey AS VARCHAR)
                                       || '#' || i.i), 1, 15)) AS BIGINT)
              % 1048576 NOT IN (SELECT pos FROM bits)
      )
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM li) AS n_lineitem,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM passed) AS n_bloom_passed,
           CAST(COUNT(*) AS BIGINT) AS n_joined,
           CAST(SUM(CAST(ROUND(p.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM passed p JOIN urgent u ON u.o_orderkey = p.l_orderkey
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual RUNTIME-FILTER join: revenue of URGENT orders' lineitems
    with the fact side pre-filtered by a Bloom filter built from the
    dimension's join keys BEFORE the exact join — the technique engines
    call runtime filtering / dynamic semi-join pushdown, spelled out
    relationally so it survives any planner: build-side keys hash to a
    DISTINCT-positions table (m=2^20, k=3, md5-portable), the fact probes
    it with an anti-join on missing positions (a key passes iff none of
    its k bits is absent), and only survivors reach the exact join. The
    emitted counts value-check the MECHANISM, not just the answer: the
    false-positive overshoot n_bloom_passed − n_joined is exactly
    reproduced by the oracle because the hash is portable. At 100 TB the
    positions table is m-bounded (not key-bounded), the probe is a
    shuffle-free-broadcast-eligible join, and the exact join's shuffle
    shrinks by the Bloom's selectivity — the point of the pattern."""
    from ..functions.hashing import portable_hash64

    m_bits, k = 1 << 20, 3
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .distinct()
    )

    def positions(col):
        return [
            F.pmod(
                portable_hash64(
                    F.concat(col.cast("string"), F.lit(f"#{i}"))
                ),
                F.lit(m_bits),
            )
            for i in range(k)
        ]

    bits = urgent.select(
        F.explode(F.array(*positions(F.col("o_orderkey")))).alias("pos")
    ).distinct()
    # r13: probe the DISTINCT key domain, not every fact row — the k=3
    # md5 positions are a function of l_orderkey alone, so hashing per
    # lineitem row computed ~4× the hashes for the identical `missing`
    # set (guide §2.2 shuffle fewer bytes / §4 pass only what the
    # function needs). `missing` (one bigint column, key-domain-sized)
    # is lazily checkpointed: both `passed` consumers ride broadcast
    # anti-joins, which defeat exchange reuse, so without the cut the
    # whole probe pipeline re-derived per consumer (guide §2.4).
    keys = li.select("l_orderkey").distinct()
    probe = keys.select(
        "l_orderkey",
        F.posexplode(F.array(*positions(F.col("l_orderkey")))),
    ).select("l_orderkey", F.col("col").alias("pos"))
    missing = (
        probe.join(bits, "pos", "left_anti")
        .select("l_orderkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    passed = li.join(missing, "l_orderkey", "left_anti")
    joined = passed.join(
        urgent, passed.l_orderkey == urgent.o_orderkey
    )
    summary = (
        li.agg(F.count("*").cast("bigint").alias("n_lineitem"))
        .crossJoin(
            passed.agg(F.count("*").cast("bigint").alias("n_bloom_passed"))
        )
        .crossJoin(
            joined.agg(
                F.count("*").cast("bigint").alias("n_joined"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
                ).cast("bigint").alias("revenue_cents"),
            )
        )
    )
    return summary


@query(
    "sql_skyline_parts",
    oracle="""
    WITH pts AS (
      SELECT p_partkey, p_size,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents
      FROM part
    ), ranked AS (
      SELECT p_partkey, p_size, price_cents,
             MIN(price_cents) OVER (
               ORDER BY p_size DESC, price_cents ASC, p_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_price_larger
      FROM pts
    )
    SELECT p_partkey, CAST(p_size AS INT) AS p_size, price_cents
    FROM ranked
    WHERE best_price_larger IS NULL OR price_cents < best_price_larger
    """,
)
def sql_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-frontier operator: parts not DOMINATED on
    (maximize size, minimize price) — no other part is at least as large
    AND at least as cheap with one strict. The classic engine feature the
    join/agg zoo doesn't express directly, computed in O(n log n) with
    the sort-sweep: order by size DESC (price ASC tie-break), keep the
    running best (min) price among everything larger-or-equal-so-far; a
    row survives iff it strictly beats that. The ASC price tie-break
    makes equal-size groups self-dominate correctly (only the cheapest
    of a size can survive, and ties-in-both-dims keep the first — the
    p_partkey third key pins WHICH first deterministically in both
    engines, since the survivor's key is part of the output). The sweep
    runs over the PART dimension, which scales with the corpus, so the
    running min comes from the two-phase range-partitioned scan
    (operators/ranking.py::attach_global_order_stats cummin_excl — min
    is associative, the cross-partition carry is one literal per
    partition) instead of a single-partition window; prices exact
    cents."""
    from ..operators.ranking import attach_global_order_stats

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("int").alias("p_size"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias(
            "price_cents"
        ),
    )
    ranked = attach_global_order_stats(
        p,
        [("p_size", "desc"), ("price_cents", "asc"), ("p_partkey", "asc")],
        cummin_excl=("price_cents", "best_price_larger"),
    )
    return ranked.filter(
        F.col("best_price_larger").isNull()
        | (F.col("price_cents") < F.col("best_price_larger"))
    ).select("p_partkey", "p_size", "price_cents")


@query(
    "scalar_bitwise_zoo",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 15 AS BIGINT) AS or_mask,
           CAST(xor(o_orderkey, 6148914691236517205) AS BIGINT) AS xor_pat,
           CAST(o_orderkey << 3 AS BIGINT) AS shl3,
           CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
           CAST(bit_count(o_orderkey) AS INT) AS popcount
    FROM orders WHERE o_orderkey < 300
    """,
)
def scalar_bitwise_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar-function matrix — AND/OR/XOR masks, shifts, and
    popcount over order keys: the bit-twiddling surface behind every
    hash/bucket/bitmap technique in this repo (Z-order interleaving,
    Bloom positions, SimHash bands) exposed as a driver-checked row so
    the two engines' operator semantics (arithmetic shift, 64-bit XOR
    pattern, bit_count) are pinned against each other. Pure codegen
    projection, scan pruned to one column."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("low_byte"),
        k.bitwiseOR(F.lit(15)).cast("bigint").alias("or_mask"),
        k.bitwiseXOR(F.lit(6148914691236517205)).cast("bigint").alias(
            "xor_pat"
        ),
        F.shiftleft(k, 3).cast("bigint").alias("shl3"),
        F.shiftright(k, 2).cast("bigint").alias("shr2"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


_I64_MAX = 9223372036854775807
_P62 = 1 << 62


@query(
    "scalar_try_arithmetic_zoo",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                     / (o_orderkey % 3) END AS div_or_null,
           CASE WHEN o_orderkey % 2 = 1 THEN NULL
                ELSE {_I64_MAX} END AS add_overflow,
           CASE WHEN o_orderkey % 4 IN (0, 1)
                THEN {_P62} * (o_orderkey % 4) ELSE NULL END AS mult_overflow,
           TRY_CAST(o_orderpriority AS INT) AS priority_cast,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_digit,
           string_split(o_orderpriority, '-')[5] AS elem_oob
    FROM orders WHERE o_orderkey < 300
    """,
)
def scalar_try_arithmetic_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_-family error-free arithmetic matrix — the NULL-on-failure
    semantics an ANSI-mode pipeline needs pinned before it can trust a
    100 TB run not to die on one bad row: try_divide by a sometimes-zero
    denominator, try_add at int64 max (overflow → NULL, not wraparound),
    try_multiply crossing 2⁶³, try_cast of a non-numeric string, and an
    out-of-bounds try_element_at. The oracle hand-encodes the EXPECTED
    outcome of each probe (DuckDB's operators error rather than
    null-out, so the CASE forms are the semantic spec, not a mirror of
    convenience) — making this a driver-checked conformance row, same
    spirit as scalar_bitwise_zoo. Pure codegen projection, scan pruned
    by the pushed o_orderkey filter."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return o.select(
        "o_orderkey",
        F.try_divide(cents, F.col("o_orderkey") % 3).alias("div_or_null"),
        F.try_add(
            F.lit(_I64_MAX), F.col("o_orderkey") % 2
        ).alias("add_overflow"),
        F.try_multiply(
            F.lit(_P62), F.col("o_orderkey") % 4
        ).alias("mult_overflow"),
        F.col("o_orderpriority").try_cast("int").alias("priority_cast"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias(
            "priority_digit"
        ),
        F.try_element_at(
            F.split("o_orderpriority", "-"), F.lit(5)
        ).alias("elem_oob"),
    )


# ==========================================================================
# Grid-bucketed spatial join, GROUPS / EXCLUDE window-frame emulations
# (frames Spark's window engine lacks), an order-insensitive table
# fingerprint for migration validation, exponentially time-decayed
# counters, and Fellegi–Sunter record-linkage agreement patterns
# ==========================================================================


def _haversine_km(lat1, lon1, lat2, lon2):
    """2R·asin(√(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2))) with the exact
    operand order mirrored in the SQL oracles (left-assoc products, x*x
    instead of pow) so both engines execute the same IEEE op sequence."""
    sphi = F.sin(F.radians(lat2 - lat1) / 2)
    slam = F.sin(F.radians(lon2 - lon1) / 2)
    term = sphi * sphi + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * slam * slam
    return F.lit(2) * F.lit(6371.0088) * F.asin(F.sqrt(term))


_HAV_SQL = (
    "2 * 6371.0088 * ASIN(SQRT("
    " SIN(RADIANS(({lat2}) - ({lat1})) / 2) * SIN(RADIANS(({lat2}) - ({lat1})) / 2)"
    " + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
    " * SIN(RADIANS(({lon2}) - ({lon1})) / 2) * SIN(RADIANS(({lon2}) - ({lon1})) / 2)"
    "))"
)


@query(
    "join_spatial_grid_pairs",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 180001 AS latm,
             CAST(('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 360001 AS lonm
      FROM customer
    ), f AS (
      SELECT id, latm / 1000.0 - 90 AS lat, lonm / 1000.0 - 180 AS lon
      FROM pts
      WHERE latm BETWEEN 30000 AND 150000 AND lonm BETWEEN 3000 AND 357000
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND("""
    + _HAV_SQL.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")
    + """, 3) AS dist_km
    FROM f a JOIN f b ON a.id < b.id
    WHERE """
    + _HAV_SQL.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")
    + """ <= 150
    """,
)
def join_spatial_grid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED SPATIAL SELF-JOIN — all customer pairs within
    150 km, with deterministic hash-derived coordinates. The scale path
    never goes all-pairs: each point lands in one 1.5°×1.5° integer
    grid cell (cell ids from integer division of millidegree hashes —
    no float in any join key), the left side probes its 3×5 cell
    neighborhood (lat ±1, lon ±2 cells — sufficient because at
    |lat| ≤ 60° a 150 km great circle spans ≤ 1.349° of latitude and
    ≤ 2.698° of longitude, both under the probe reach), and the
    haversine threshold runs only on cell-local candidates. The ORACLE
    is the brute-force all-pairs join, so a driver MATCH certifies the
    grid probe misses nothing (a recall proof, not a restatement).
    Antimeridian wrap is excluded on both sides (|lon| ≤ 177°); a
    production variant adds one wrapped probe column instead. 100 TB:
    candidate count is pair-density-bounded per cell, the join is an
    ordinary shuffled equi-join on (cell_y, cell_x), and skewed cells
    are AQE-splittable."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    pts = (
        cust.select(
            F.col("c_custkey").alias("id"),
            (portable_hash64(F.concat(F.lit("lat:"), key)) % 180001).alias("latm"),
            (portable_hash64(F.concat(F.lit("lon:"), key)) % 360001).alias("lonm"),
        )
        .where(F.col("latm").between(30000, 150000) & F.col("lonm").between(3000, 357000))
        .select(
            "id",
            (F.col("latm") / 1000.0 - 90).alias("lat"),
            (F.col("lonm") / 1000.0 - 180).alias("lon"),
            F.expr("latm DIV 1500").alias("cy"),
            F.expr("lonm DIV 1500").alias("cx"),
        )
    )
    probes = (
        pts.select(
            F.col("id").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            "cy",
            "cx",
            F.explode(F.array([F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        )
        .select(
            "a_id",
            "a_lat",
            "a_lon",
            (F.col("cy") + F.col("dy")).alias("pcy"),
            "cx",
            F.explode(F.array([F.lit(d) for d in (-2, -1, 0, 1, 2)])).alias("dx"),
        )
        .select("a_id", "a_lat", "a_lon", "pcy", (F.col("cx") + F.col("dx")).alias("pcx"))
    )
    right = pts.select(
        F.col("id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cy").alias("bcy"),
        F.col("cx").alias("bcx"),
    )
    dist = _haversine_km(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    return (
        probes.join(
            right,
            (F.col("pcy") == F.col("bcy"))
            & (F.col("pcx") == F.col("bcx"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .where(dist <= 150)
        .select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            F.round(dist, 3).alias("dist_km"),
        )
    )


@query(
    "window_groups_frame",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS g
      FROM orders
    ), gt AS (
      SELECT o_custkey, g, SUM(cents) AS gs, COUNT(*) AS gn
      FROM b GROUP BY o_custkey, g
    ), gw AS (
      SELECT o_custkey, g,
             CAST(SUM(gs) OVER (PARTITION BY o_custkey ORDER BY g
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS grp_sum_cents,
             CAST(SUM(gn) OVER (PARTITION BY o_custkey ORDER BY g
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS grp_n
      FROM gt
    )
    SELECT b.o_orderkey, gw.grp_sum_cents, gw.grp_n
    FROM b JOIN gw ON b.o_custkey = gw.o_custkey AND b.g = gw.g
    WHERE b.o_orderpriority = '1-URGENT'
    """,
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS-FRAME EMULATION — ``GROUPS BETWEEN 1 PRECEDING AND 1
    FOLLOWING`` (the SQL:2011 peer-group frame NEITHER Spark nor DuckDB
    implements — Spark's window engine has ROWS/RANGE only, DuckDB
    raises "GROUPS mode not implemented"): per order, the sum of cents
    over its own orderdate peer group plus the adjacent peer group on
    each side, within the customer partition. The emulation is the
    canonical reduction: dense_rank compresses peers to consecutive
    group ids, a per-(customer, group) pre-aggregate collapses peers,
    a ROWS 1-preceding/1-following window over the group table (ROWS ≡
    GROUPS once rows ARE groups) produces the frame sums, and a join
    fans the result back to rows. All windows are customer-partitioned;
    the pre-aggregate shrinks the windowed table to distinct
    (customer, date) pairs. Output restricted to 1-URGENT orders to
    bound the graded row set; the frame itself is computed over ALL of
    each customer's orders first."""
    o = load_table(spark, sf_dir, "orders")
    wg = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    b = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.dense_rank().over(wg).alias("g"),
    )
    wr = Window.partitionBy("o_custkey").orderBy("g").rowsBetween(-1, 1)
    gw = (
        b.groupBy("o_custkey", "g")
        .agg(F.sum("cents").alias("gs"), F.count("*").alias("gn"))
        .select(
            "o_custkey",
            "g",
            F.sum("gs").over(wr).cast("bigint").alias("grp_sum_cents"),
            F.sum("gn").over(wr).cast("bigint").alias("grp_n"),
        )
    )
    return (
        b.where(F.col("o_orderpriority") == "1-URGENT")
        .join(gw, ["o_custkey", "g"])
        .select("o_orderkey", "grp_sum_cents", "grp_n")
    )


@query(
    "window_exclude_current",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, loo_avg_cents FROM (
      SELECT o_orderkey, o_orderstatus,
             ROUND(AVG(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               EXCLUDE CURRENT ROW), 6) AS loo_avg_cents
      FROM b
    ) WHERE o_orderstatus = 'P'
    """,
)
def window_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCLUDE-CURRENT-ROW FRAME EMULATION — the leave-one-out partition
    mean (``AVG ... EXCLUDE CURRENT ROW``, SQL:2011 frame exclusion that
    Spark lacks): each order's average against its customer's OTHER
    orders, the standard leakage-free target encoding shape in feature
    pipelines. Emulated algebraically — (S - x) / (n - 1) from one
    partition-wide sum/count window, NULL for single-order customers —
    which beats any frame-based rewrite at scale: no ordering required,
    one unordered customer-partitioned window, whole-stage codegen
    arithmetic. The ORACLE uses DuckDB's NATIVE EXCLUDE CURRENT ROW, so
    a MATCH is a cross-engine proof the emulation implements the
    standard's semantics (including integer-exact sums: both sides
    divide an exact BIGINT difference). Cents use the house
    FLOOR(x*100+0.5) quantizer, not ROUND: ROUND on a double splits
    engines on exact .5 ties (Spark HALF_UPs the shortest-repr decimal,
    DuckDB rounds the binary value — the r11/r12 divergence class)."""
    o = load_table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    b = o.select(
        "o_orderkey",
        "o_orderstatus",
        cents.alias("cents"),
        F.sum(cents).over(wp).alias("s"),
        F.count("*").over(wp).alias("n"),
    )
    return b.where(F.col("o_orderstatus") == "P").select(
        "o_orderkey",
        F.when(
            F.col("n") > 1,
            F.round((F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1), 6),
        ).alias("loo_avg_cents"),
    )


@query(
    "agg_table_fingerprint",
    oracle="""
    WITH h AS (
      SELECT substr(md5(concat_ws('|',
               CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
               CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS VARCHAR),
               o_orderpriority)), 1, 12) AS hx
      FROM orders
    ), f AS (
      SELECT (strpos('0123456789abcdef', substr(hx,  1, 1)) - 1) * 17592186044416
           + (strpos('0123456789abcdef', substr(hx,  2, 1)) - 1) * 1099511627776
           + (strpos('0123456789abcdef', substr(hx,  3, 1)) - 1) * 68719476736
           + (strpos('0123456789abcdef', substr(hx,  4, 1)) - 1) * 4294967296
           + (strpos('0123456789abcdef', substr(hx,  5, 1)) - 1) * 268435456
           + (strpos('0123456789abcdef', substr(hx,  6, 1)) - 1) * 16777216
           + (strpos('0123456789abcdef', substr(hx,  7, 1)) - 1) * 1048576
           + (strpos('0123456789abcdef', substr(hx,  8, 1)) - 1) * 65536
           + (strpos('0123456789abcdef', substr(hx,  9, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(hx, 10, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(hx, 11, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 12, 1)) - 1) AS fp
      FROM h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(fp) % 9007199254740881 AS BIGINT) AS fp_sum_mod,
           CAST(bit_xor(fp) AS BIGINT) AS fp_xor
    FROM f
    """,
)
def agg_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INSENSITIVE TABLE FINGERPRINT — the migration-validation
    primitive: canonicalize each row to a delimited string (keys, status,
    exact cents, epoch-day date, priority), hash it (first 12 md5 hex
    chars → 48-bit int), and combine with BOTH a commutative SUM — taken
    modulo 9007199254740881 (the largest prime < 2^53) so the graded
    output survives ANY float64 coercion in a downstream comparison
    pipeline — and a commutative XOR. Engine-to-engine equality of
    (n_rows, fp_sum_mod, fp_xor) certifies table content equality
    without any global sort or row transfer — this is how you check a
    100 TB copy landed intact: one map-side-combinable aggregate per
    side, a 3-value comparison in the middle. The pre-mod sum is exact
    on both engines (Spark decimal(38,0), DuckDB HUGEINT), so the mod
    is deterministic at any corpus size. Canonical forms are pinned
    identically in both engines: cents via the house FLOOR(x*100+0.5)
    quantizer (ROUND on a double splits engines on exact .5 ties — the
    r11 divergence class) and the date as INTEGER DAYS SINCE EPOCH
    (locale/format-string-free). r11/r12 driver forensics: per-row
    fingerprints were bit-identical at every SF
    (tools/fingerprint_diff.py: 0/150,000 differing at sf0.1) while the
    driver's hash_match stayed false — the old DECIMAL(38,0) fp_sum was
    the registry's unique >2^53 output, i.e. the only value a float64
    coercion in a result hasher can corrupt while rows and schema still
    match. Every graded output here is now a < 2^53 BIGINT."""
    o = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("string"),
        F.col("o_orderpriority"),
    )
    h = o.select(
        F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("bigint").alias("fp")
    )
    return h.agg(
        F.count("*").alias("n_rows"),
        F.expr(
            "CAST(SUM(CAST(fp AS DECIMAL(38,0))) % 9007199254740881 AS BIGINT)"
        ).alias("fp_sum_mod"),
        F.expr("bit_xor(fp)").cast("bigint").alias("fp_xor"),
    )


@query(
    "events_decayed_topk",
    oracle="""
    WITH t AS (
      SELECT MAX(CAST(ts AS DATE)) AS t_ref FROM events
    ), w AS (
      SELECT e.event_type,
             CAST(ROUND(POWER(0.5,
               date_diff('day', CAST(e.ts AS DATE), t.t_ref) // 7
             ) * 1000000, 0) AS BIGINT) AS w_micro
      FROM events e, t
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(w_micro) AS BIGINT) / 1000000.0, 6) AS decayed_count
    FROM w GROUP BY event_type
    """,
)
def events_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY TIME-DECAYED COUNTERS — trending-item scoring with a
    one-week half-life: each event contributes 2^-(age_weeks), so stale
    activity fades instead of accumulating (the standard recency-aware
    popularity counter). Engine-parity trick: the decay steps weekly, so
    every weight is a DYADIC rational (1, 1/2, 1/4, …) that both engines
    compute exactly via POWER(0.5, k); weights are then quantized to
    1e6-scaled BIGINTs and the sum stays integer-exact — no float
    summation order anywhere (SCALE.md protocol). The reference time is
    MAX(date(ts)) — data-derived, so the query is deterministic (scripts
    can't call now()). One map-side-combinable aggregate; at 100 TB the
    decayed counter merges per-partition like any sum."""
    e = load_table(spark, sf_dir, "events")
    t_ref = e.agg(F.max(F.to_date("ts")).alias("t_ref"))
    w = e.crossJoin(F.broadcast(t_ref)).select(
        "event_type",
        F.round(
            F.pow(
                F.lit(0.5),
                F.expr("datediff(t_ref, to_date(ts)) DIV 7"),
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    return w.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("w_micro").cast("bigint") / 1000000.0, 6).alias("decayed_count"),
    )


@query(
    "dedup_linkage_patterns",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
             (c_acctbal < 0) AS neg,
             CAST(FLOOR(c_acctbal) AS BIGINT) AS blk
      FROM customer
    ), heavy AS (
      SELECT blk FROM c GROUP BY blk HAVING COUNT(*) > 1000
    ), cc AS (
      SELECT * FROM c WHERE blk NOT IN (SELECT blk FROM heavy)
    ), pairs AS (
      SELECT CAST(
               CASE WHEN a.nat = b.nat THEN 4 ELSE 0 END
               + CASE WHEN a.seg = b.seg THEN 2 ELSE 0 END
               + CASE WHEN a.neg = b.neg THEN 1 ELSE 0 END AS INT) AS pattern
      FROM cc a JOIN cc b ON a.blk = b.blk AND a.id < b.id
    ), counts AS (
      SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY pattern
    ), tot AS (
      SELECT CAST(SUM(n_pairs) AS BIGINT) AS total_pairs FROM counts
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c
    ), p_nat AS (
      SELECT CAST(SUM(CAST(cnt AS BIGINT) * (cnt - 1)) AS DOUBLE)
             / CAST(n.n * (n.n - 1) AS DOUBLE) AS p
      FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY nat), n GROUP BY n.n
    ), p_seg AS (
      SELECT CAST(SUM(CAST(cnt AS BIGINT) * (cnt - 1)) AS DOUBLE)
             / CAST(n.n * (n.n - 1) AS DOUBLE) AS p
      FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY seg), n GROUP BY n.n
    ), p_neg AS (
      SELECT CAST(SUM(CAST(cnt AS BIGINT) * (cnt - 1)) AS DOUBLE)
             / CAST(n.n * (n.n - 1) AS DOUBLE) AS p
      FROM (SELECT COUNT(*) AS cnt FROM c GROUP BY neg), n GROUP BY n.n
    )
    SELECT counts.pattern, counts.n_pairs,
           ROUND(CAST(tot.total_pairs AS DOUBLE)
             * (CASE WHEN counts.pattern // 4 % 2 = 1 THEN p_nat.p ELSE 1 - p_nat.p END)
             * (CASE WHEN counts.pattern // 2 % 2 = 1 THEN p_seg.p ELSE 1 - p_seg.p END)
             * (CASE WHEN counts.pattern % 2 = 1 THEN p_neg.p ELSE 1 - p_neg.p END),
             4) AS expected_random
    FROM counts, tot, p_nat, p_seg, p_neg
    """,
)
def dedup_linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER AGREEMENT-PATTERN TABLE — the input statistic of
    probabilistic record linkage (Fellegi & Sunter 1969): for blocked
    candidate pairs, count each field-agreement pattern (nation,
    market segment, balance sign → 3-bit pattern), alongside the count
    a random-pairing model predicts (the u-probability baseline:
    P(field agrees by chance) = Σ cᵢ(cᵢ-1) / N(N-1) from exact value
    frequencies). Patterns observed far above their random expectation
    are the linkage evidence EM would weight. Blocking = FLOOR(acctbal)
    equi-join with the repo's standard heavy-block guard (blocks over
    1000 rows anti-filtered on BOTH sides, mirroring the fuzzy-dedup
    cap — at test SFs no block exceeds ~10 rows; at 100 TB the cap
    bounds the d² pair blowup). All probabilities are exact-integer
    ratios; the expected-count product is written in the same
    left-associative order in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") < 0).alias("neg"),
        F.floor("c_acctbal").cast("bigint").alias("blk"),
    )
    heavy = c.groupBy("blk").count().where(F.col("count") > 1000).select("blk")
    cc = c.join(heavy, "blk", "left_anti")
    a = cc.select(
        F.col("blk"),
        F.col("id").alias("a_id"),
        F.col("nat").alias("a_nat"),
        F.col("seg").alias("a_seg"),
        F.col("neg").alias("a_neg"),
    )
    b = cc.select(
        F.col("blk"),
        F.col("id").alias("b_id"),
        F.col("nat").alias("b_nat"),
        F.col("seg").alias("b_seg"),
        F.col("neg").alias("b_neg"),
    )
    pattern = (
        F.when(F.col("a_nat") == F.col("b_nat"), 4).otherwise(0)
        + F.when(F.col("a_seg") == F.col("b_seg"), 2).otherwise(0)
        + F.when(F.col("a_neg") == F.col("b_neg"), 1).otherwise(0)
    ).cast("int")
    # r14: the ≤8-row pattern table fed the total AND the final select —
    # the blocked self-join ran twice. Materialize it once (§2.4).
    counts = (
        a.join(b, ["blk"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(pattern.alias("pattern"))
        .groupBy("pattern")
        .agg(F.count("*").alias("n_pairs"))
    ).localCheckpoint(eager=False)

    def field_rate(col: str) -> DataFrame:
        grp = c.groupBy(col).agg(F.count("*").alias("cnt"))
        num = grp.agg(
            F.sum(F.col("cnt").cast("bigint") * (F.col("cnt") - 1)).alias("x")
        )
        den = c.agg(F.count("*").cast("bigint").alias("n"))
        return num.crossJoin(den).select(
            (
                F.col("x").cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
            ).alias(f"p_{col}")
        )

    tot = counts.agg(F.sum("n_pairs").cast("bigint").alias("total_pairs"))
    rates = field_rate("nat").crossJoin(field_rate("seg")).crossJoin(field_rate("neg"))

    def term(bit: int, p) -> F.Column:
        return F.when(
            F.expr(f"pattern DIV {bit} % 2 = 1"), p
        ).otherwise(1 - p)

    return (
        counts.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rates))
        .select(
            "pattern",
            "n_pairs",
            F.round(
                F.col("total_pairs").cast("double")
                * term(4, F.col("p_nat"))
                * term(2, F.col("p_seg"))
                * term(1, F.col("p_neg")),
                4,
            ).alias("expected_random"),
        )
    )


@query(
    "scalar_rounding_zoo",
    oracle="""
    WITH b AS (
      SELECT o_orderkey,
             (o_orderkey % 41 - 20) / 8.0 AS v,
             o_orderkey - 150 AS x
      FROM orders WHERE o_orderkey < 300
    )
    SELECT o_orderkey,
           ROUND(v, 0) + 0.0 AS r_half_up,
           round_even(v, 0) + 0.0 AS r_half_even,
           ROUND(v, 2) + 0.0 AS cents_up,
           round_even(v, 2) + 0.0 AS cents_even,
           CAST(FLOOR(v) AS BIGINT) AS flr,
           CAST(CEIL(v) AS BIGINT) AS cl,
           CAST(trunc(v) AS BIGINT) AS trunc_to_int,
           CAST(x // 7 AS BIGINT) AS idiv7,
           CAST(x % 7 AS BIGINT) AS imod7,
           CAST(((x % 7) + 7) % 7 AS BIGINT) AS pmod7
    FROM b
    """,
)
def scalar_rounding_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUNDING / DIVISION-SEMANTICS CONFORMANCE ZOO — the numeric
    edge-case matrix every money pipeline must pin before trusting a
    cross-engine hash: HALF_UP vs HALF_EVEN ties on exact dyadic values
    (v steps in eighths through ±2.5, so .5 and .125 ties are real, not
    float noise), floor/ceil sign behavior, truncation toward zero,
    integer division and modulo on NEGATIVE operands, and pmod. Pinned
    cross-engine facts this zoo encodes: Spark round == DuckDB ROUND
    (ties away from zero), Spark bround == DuckDB round_even; Spark
    CAST(double AS BIGINT) TRUNCATES while DuckDB's CAST ROUNDS — the
    oracle must write CAST(trunc(v)) to match, the exact asymmetry that
    silently corrupts a ported pipeline; Spark DIV == DuckDB //
    (both truncate toward zero, -7÷2 = -3); % sign follows the dividend
    in both. Pure codegen projection on a pruned scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    b = o.select(
        "o_orderkey",
        ((F.col("o_orderkey") % 41 - 20) / 8.0).alias("v"),
        (F.col("o_orderkey") - 150).alias("x"),
    )
    v, x = F.col("v"), F.col("x")
    return b.select(
        "o_orderkey",
        (F.round(v, 0) + 0.0).alias("r_half_up"),
        (F.bround(v, 0) + 0.0).alias("r_half_even"),
        (F.round(v, 2) + 0.0).alias("cents_up"),
        (F.bround(v, 2) + 0.0).alias("cents_even"),
        F.floor(v).cast("bigint").alias("flr"),
        F.ceil(v).cast("bigint").alias("cl"),
        v.cast("bigint").alias("trunc_to_int"),
        F.expr("x DIV 7").cast("bigint").alias("idiv7"),
        (x % 7).cast("bigint").alias("imod7"),
        F.pmod(x, F.lit(7)).cast("bigint").alias("pmod7"),
    )


@query(
    "events_resample_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             ROUND(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) / 1000000.0
                   / COUNT(value), 4) AS mean_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, g.g AS hour
      FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(g)
    ), j AS (
      SELECT g.user_id, g.hour, h.mean_value
      FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    ), f AS (
      SELECT user_id, hour, mean_value,
        LAST_VALUE(mean_value IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        LAST_VALUE(CASE WHEN mean_value IS NOT NULL THEN hour END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        FIRST_VALUE(mean_value IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN mean_value IS NOT NULL THEN hour END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hour
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM j
    )
    SELECT user_id, hour,
           (mean_value IS NOT NULL) AS is_observed,
           FLOOR((CASE WHEN mean_value IS NOT NULL THEN pv
                 ELSE pv + (nv - pv)
                      * (CAST(date_diff('hour', ph, hour) AS DOUBLE)
                         / date_diff('hour', ph, nh)) END) * 1000000 + 0.5)
             / 1000000.0 AS value_interp
    FROM f
    """,
)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-INTERPOLATION RESAMPLING — the companion to
    events_resample_locf: empty hourly buckets get the straight line
    between the surrounding observations, v_prev + (v_next − v_prev) ·
    Δh/ΔH, instead of a flat carry-forward (the gap-fill choice for
    rate-like series where LOCF understates trends). Same 100 TB shape
    as LOCF: per-user bounded grid explode, keyed left join, then TWO
    user-partitioned window passes — a backward last-ignore-nulls
    carrying (prev value, prev hour) and a forward first-ignore-nulls
    carrying (next value, next hour); the interpolation itself is pure
    fixed-order arithmetic on the 1e6-quantized hourly means and exact
    integer hour offsets. Midpoint interpolation of 4-decimal means
    produces EXACT .5 ties at the 6th decimal, where Spark's
    BigDecimal-path ROUND and DuckDB's multiply-round diverge on the
    same double — so the final quantizer is FLOOR(x·1e6 + 0.5)/1e6, the
    identical IEEE op sequence in both engines, instead of ROUND(…, 6).
    Grid endpoints are observed by construction, so prev/next always
    exist."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.round(
            F.sum(F.round(F.col("value") * 1000000, 0).cast("bigint")) / 1000000.0
            / F.count("value"),
            4,
        ).alias("mean_value"),
    ).localCheckpoint(eager=False)  # feeds the grid bounds AND the keyed join
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # "Next observed at-or-after this row" via a DESCENDING running frame:
    # Spark executes unboundedPreceding→currentRow frames incrementally
    # (O(rows)), but a currentRow→unboundedFollowing frame is recomputed by
    # scanning to the partition end for EVERY row — O(span²) per user
    # (measured: 14.7 s vs 1.7 s for the LOCF sibling at sf0.1 before this
    # rewrite, 8.5× on the same grid). Same values, linear frame.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hour").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_hour = F.when(F.col("mean_value").isNotNull(), F.col("hour"))
    f = grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        "mean_value",
        F.last("mean_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("ph"),
        F.last("mean_value", ignorenulls=True).over(wf).alias("nv"),
        F.last(obs_hour, ignorenulls=True).over(wf).alias("nh"),
    )
    frac = F.expr(
        "CAST((unix_timestamp(hour) - unix_timestamp(ph)) DIV 3600 AS DOUBLE)"
        " / ((unix_timestamp(nh) - unix_timestamp(ph)) DIV 3600)"
    )
    return f.select(
        "user_id",
        "hour",
        F.col("mean_value").isNotNull().alias("is_observed"),
        (
            F.floor(
                F.when(F.col("mean_value").isNotNull(), F.col("pv")).otherwise(
                    F.col("pv") + (F.col("nv") - F.col("pv")) * frac
                )
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("value_interp"),
    )


_SND_FROM = "AEIOUYBFPVCGJKQSXZDTLMNRHW"
_SND_TO = "000000111122222222334556"  # H/W beyond the to-string => deleted


def _soundex_sql(expr: str) -> str:
    """American Soundex from its spec, in pure SQL: code letters to
    digit classes (vowels→0, H/W deleted so codes collapse ACROSS them —
    the transparency rule), prefix the first letter's own code (sentinel
    9 when the first letter is H/W, which never merges) so the
    drop-leading-group step is exact, collapse runs per digit with
    chained regexp_replace (RE2 has no backreferences), strip vowels,
    pad to letter+3."""
    u = f"upper({expr})"
    first = f"substr({u},1,1)"
    cf = (
        f"CASE WHEN translate({first}, '{_SND_FROM}', '{_SND_TO}') = '' THEN '9' "
        f"ELSE translate({first}, '{_SND_FROM}', '{_SND_TO}') END"
    )
    c = f"{cf} || translate(substr({u},2), '{_SND_FROM}', '{_SND_TO}')"
    for d in "0123456":
        c = f"regexp_replace({c}, '{d}{d}+', '{d}', 'g')"
    return f"{first} || rpad(substr(replace(substr({c},2), '0', ''),1,3), 3, '0')"


@query(
    "text_phonetic_blocking",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(p_name, ' ')) AS w FROM part
    )
    SELECT {_soundex_sql('w')} AS code,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(w) AS sample_word
    FROM words GROUP BY code
    """,
)
def text_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING KEYS — American Soundex over every word of the
    part names, the classic record-linkage blocking function (same-
    sounding names land in one block regardless of spelling). Spark side
    is the built-in JVM ``soundex()``; the ORACLE reimplements the
    algorithm from its published spec in pure SQL (translate-based digit
    classes, H/W transparency via deletion, sentinel-9 first-letter
    group so the drop-leading-code step is exact, per-digit collapse
    because RE2 lacks backreferences) — a MATCH pins Spark's builtin
    against an independent from-spec implementation on the whole word
    domain, verified identical on all 16 vocabulary words across the
    three SF generations. Explode + one aggregate; codegen end to end."""
    p = load_table(spark, sf_dir, "part")
    words = p.select(F.explode(F.split("p_name", " ")).alias("w"))
    return words.groupBy(F.soundex("w").alias("code")).agg(
        F.count_distinct("w").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.min("w").alias("sample_word"),
    )


_NULL_ZOO_SQL = """
WITH probe AS (
  SELECT CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_suppkey % 50 END AS k
  FROM supplier
), outer_t AS (
  SELECT o_orderkey, o_orderkey % 60 AS v FROM orders WHERE o_orderkey < 500
)
SELECT
  CAST((SELECT COUNT(*) FROM outer_t) AS BIGINT) AS n_outer,
  CAST((SELECT COUNT(*) FROM outer_t WHERE v IN (SELECT k FROM probe))
       AS BIGINT) AS n_in,
  CAST((SELECT COUNT(*) FROM outer_t WHERE v NOT IN (SELECT k FROM probe))
       AS BIGINT) AS n_not_in_null_trap,
  CAST((SELECT COUNT(*) FROM outer_t
        WHERE v NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
       AS BIGINT) AS n_not_in_clean,
  CAST((SELECT COUNT(*) FROM outer_t o
        WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = o.v))
       AS BIGINT) AS n_not_exists
"""


@query("subquery_null_semantics_zoo", oracle=_NULL_ZOO_SQL)
def subquery_null_semantics_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SEMANTICS SUBQUERY ZOO — the three-valued-logic traps that
    silently empty result sets when a pipeline is ported between
    engines, pinned as one cross-checked row: ``NOT IN`` against a list
    CONTAINING NULL returns zero rows (v <> NULL is UNKNOWN, so no row
    can ever pass — the single most-reported SQL footgun), the same
    predicate with NULLs filtered returns the real complement, and
    ``NOT EXISTS`` — the null-safe formulation Spark plans as a regular
    anti-join instead of the expensive NullAwareAntiJoin the raw NOT IN
    forces — agrees with the cleaned NOT IN. Identical SQL text runs on
    both engines (only the temp-view plumbing differs); the counts make
    the semantics hash-checkable."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_NULL_ZOO_SQL)


@query(
    "events_sliding_distinct_exact",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
    )
    SELECT d.d AS day,
           CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
                 WHERE CAST(e.ts AS DATE) BETWEEN d.d - INTERVAL 6 DAY AND d.d)
                AS BIGINT) AS users_7d
    FROM days d
    """,
)
def events_sliding_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SLIDING-WINDOW DISTINCT — trailing-7-day unique users per
    day, the metric COUNT(DISTINCT) OVER a RANGE frame cannot express in
    Spark (distinct aggregates are unsupported in windows). The scale
    path is the contribute-forward trick: each (user, active_day) pair —
    already deduplicated — is exploded to the ≤7 window days it serves,
    deduplicated again per (user, window_day) so multi-active users
    count once, then counted per day: rows ≤ 7 × active-pairs, three
    hash aggregates, no window, no correlated subquery. The ORACLE is
    the semantic DEFINITION itself (a correlated per-day COUNT(DISTINCT)
    over the bounded ~30-day domain), so a MATCH proves the explode-
    dedupe rewrite, not just restates it. Contrast
    sketch_hll_sliding_24h — the approximate cousin; this is its exact
    audit at day granularity."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        F.col("user_id"), F.to_date("ts").alias("d")
    ).distinct()
    days = active.select("d").distinct()
    contrib = (
        active.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"), F.date_add(F.col("d"), 6), F.expr("INTERVAL 1 DAY")
                )
            ).alias("day"),
        )
        .distinct()
        .join(days.withColumnRenamed("d", "day"), "day")
    )
    return contrib.groupBy("day").agg(
        F.count("*").cast("bigint").alias("users_7d")
    )


_GROUPING_ZOO_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query(
    "agg_grouping_id_zoo",
    oracle=_GROUPING_ZOO_SQL,
)
def agg_grouping_id_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / GROUPING_ID BIT-ORDER CONFORMANCE — the CUBE
    super-aggregate rows are only machine-distinguishable from real NULL
    groups via GROUPING(), and the multi-argument bitmask's BIT ORDER
    (leftmost argument = most significant bit, the Postgres convention
    both engines follow) is exactly the kind of silent cross-engine
    assumption this zoo pins: per cube cell, both single-column
    GROUPING flags and the combined 2-bit id, alongside exact counts
    and cents. Spark's ``GROUPING__ID``-style function is spelled
    ``grouping_id()``; DuckDB overloads ``GROUPING(a, b)`` — the SQL
    text differs by that one token, the VALUES must not."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        _GROUPING_ZOO_SQL.replace(
            "GROUPING(o_orderstatus, o_orderpriority)",
            "GROUPING_ID(o_orderstatus, o_orderpriority)",
        )
    )


_RFM_SPLIT = "1998-06-01"


def _period_terciles_sql(cmp: str) -> str:
    return f"""
      SELECT o_custkey,
             NTILE(3) OVER (ORDER BY cents, o_custkey) AS seg
      FROM (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate {cmp} TIMESTAMP '{_RFM_SPLIT}'
        GROUP BY o_custkey
      )
    """


@query(
    "agg_segment_migration_matrix",
    oracle=f"""
    WITH early AS ({_period_terciles_sql('<')}),
    late AS ({_period_terciles_sql('>=')})
    SELECT COALESCE(e.seg, 0) AS seg_early,
           COALESCE(l.seg, 0) AS seg_late,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM early e FULL JOIN late l ON e.o_custkey = l.o_custkey
    GROUP BY 1, 2
    """,
)
def agg_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT MIGRATION MATRIX — the BI readout behind every retention
    deck: split the order history at 1998-06-01, bucket customers into
    spend terciles in each half (NTILE(3) over exact cents with the
    custkey tiebreak), and count every (early_segment → late_segment)
    transition, 0 marking customers absent from a half (churned-in /
    churned-out cells). Terciles are ENTITY-scaled global ranks, so the
    Spark side rides the two-phase distributed scan
    (operators/ranking.py, ntile mode) — never a single-partition
    window — while the oracle uses plain NTILE; the matrix itself is a
    full outer join on the customer key plus one 16-cell aggregate."""
    o = load_table(spark, sf_dir, "orders")

    def terciles(cmp_early: bool) -> DataFrame:
        cond = (
            F.col("o_orderdate") < _RFM_SPLIT
            if cmp_early
            else F.col("o_orderdate") >= _RFM_SPLIT
        )
        spend = (
            o.where(cond)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents")
            )
        )
        return attach_global_order_stats(
            spend, [("cents", "asc"), ("o_custkey", "asc")], ntile=(3, "seg")
        ).select("o_custkey", "seg")

    early = terciles(True).select(
        F.col("o_custkey").alias("ck_e"), F.col("seg").alias("seg_e")
    )
    late = terciles(False).select(
        F.col("o_custkey").alias("ck_l"), F.col("seg").alias("seg_l")
    )
    return (
        early.join(late, early["ck_e"] == late["ck_l"], "full")
        .select(
            F.coalesce("seg_e", F.lit(0)).cast("int").alias("seg_early"),
            F.coalesce("seg_l", F.lit(0)).cast("int").alias("seg_late"),
        )
        .groupBy("seg_early", "seg_late")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


_EPOCH_CAP = 4          # max repetitions of any source (data-constrained rule)
_BUDGET_MULT = 2        # training budget = 2x the unique-token pool


@query(
    "pipeline_epoch_cap_allocation",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                  AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS pool,
             CAST(SUM(tokens) AS BIGINT) * {_BUDGET_MULT} AS budget
      FROM src
    ), w AS (
      SELECT s.source, s.tokens, t.pool, t.budget,
             CAST(FLOOR(CAST(s.tokens AS DOUBLE) / t.pool * 1000000 + 0.5)
                  AS BIGINT) AS w_micro
      FROM src s, tot t
    ), pass1 AS (
      SELECT source, tokens, budget,
             LEAST(CAST(FLOOR(CAST(w_micro AS DOUBLE) / 1000000 * budget + 0.5)
                        AS BIGINT),
                   {_EPOCH_CAP} * tokens) AS alloc1,
             {_EPOCH_CAP} * tokens AS cap
      FROM w
    ), spill AS (
      SELECT CAST(MAX(budget) - SUM(alloc1) AS BIGINT) AS leftover,
             CAST(SUM(cap - alloc1) AS BIGINT) AS headroom
      FROM pass1
    )
    SELECT p.source,
           p.tokens AS unique_tokens,
           p.alloc1 + LEAST(
             CAST(FLOOR(CAST(s.leftover AS DOUBLE)
                        * (p.cap - p.alloc1) / NULLIF(s.headroom, 0) + 0.5)
                  AS BIGINT),
             p.cap - p.alloc1) AS allocated_tokens,
           ROUND(CAST(p.alloc1 + LEAST(
             CAST(FLOOR(CAST(s.leftover AS DOUBLE)
                        * (p.cap - p.alloc1) / NULLIF(s.headroom, 0) + 0.5)
                  AS BIGINT),
             p.cap - p.alloc1) AS DOUBLE) / p.tokens, 6) AS epochs
    FROM pass1 p, spill s
    """,
)
def pipeline_epoch_cap_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-CAPPED DATA ALLOCATION (the data-constrained training rule
    of Muennighoff et al. 2023: repeating data beyond ~4 epochs stops
    helping): given a token budget of 2× the unique pool and a per-source
    cap of 4 epochs, allocate tokens per source — pass 1 gives each
    source its proportional share clamped to its cap; pass 2 spreads the
    leftover over remaining headroom (clamped again). Token counts are
    whitespace counts (integer-exact); proportional weights are
    1e6-quantized with the FLOOR(x+0.5) quantizer, so every allocation
    is an exact BIGINT and the per-source epochs column is one final
    division. This is the budgeting step that sits between the corpus
    stats queries and the mixing/sampling stages
    (pipeline_domain_mix / pipeline_temperature_mixture) in a real
    pretraining data plan."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("bigint")
        .alias("tokens")
    )
    tot = src.agg(
        F.sum("tokens").cast("bigint").alias("pool"),
        (F.sum("tokens").cast("bigint") * _BUDGET_MULT).alias("budget"),
    )
    w = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        "budget",
        F.floor(F.col("tokens").cast("double") / F.col("pool") * 1000000 + 0.5)
        .cast("bigint")
        .alias("w_micro"),
    )
    pass1 = w.select(
        "source",
        "tokens",
        "budget",
        F.least(
            F.floor(
                F.col("w_micro").cast("double") / 1000000 * F.col("budget") + 0.5
            ).cast("bigint"),
            F.lit(_EPOCH_CAP) * F.col("tokens"),
        ).alias("alloc1"),
        (F.lit(_EPOCH_CAP) * F.col("tokens")).alias("cap"),
    )
    spill = pass1.agg(
        (F.max("budget") - F.sum("alloc1")).cast("bigint").alias("leftover"),
        F.sum(F.col("cap") - F.col("alloc1")).cast("bigint").alias("headroom"),
    )
    extra = F.least(
        F.floor(
            F.col("leftover").cast("double")
            * (F.col("cap") - F.col("alloc1"))
            / F.nullif(F.col("headroom"), F.lit(0))
            + 0.5
        ).cast("bigint"),
        F.col("cap") - F.col("alloc1"),
    )
    return pass1.crossJoin(F.broadcast(spill)).select(
        "source",
        F.col("tokens").alias("unique_tokens"),
        (F.col("alloc1") + extra).alias("allocated_tokens"),
        F.round(
            (F.col("alloc1") + extra).cast("double") / F.col("tokens"), 6
        ).alias("epochs"),
    )


@query(
    "join_spatial_nearest_neighbor",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 180001 AS latm,
             CAST(('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 360001 AS lonm
      FROM customer
    ), f AS (
      SELECT id, latm / 1000.0 - 90 AS lat, lonm / 1000.0 - 180 AS lon
      FROM pts
      WHERE latm BETWEEN 30000 AND 150000 AND lonm BETWEEN 3000 AND 357000
    ), cand AS (
      SELECT a.id, b.id AS nn_id,
             """
    + _HAV_SQL.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")
    + """ AS d
      FROM f a JOIN f b ON a.id <> b.id
    ), ranked AS (
      SELECT id, nn_id, d,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, nn_id) AS rk
      FROM cand WHERE d <= 150
    )
    SELECT id, nn_id, ROUND(d, 3) AS dist_km FROM ranked WHERE rk = 1
    """,
)
def join_spatial_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL NEAREST NEIGHBOR — each customer's closest other customer
    within 150 km (the store-siting / territory question), sharing
    join_spatial_grid_pairs' machinery: grid-cell probes generate the
    candidates, then one id-partitioned row_number picks the minimum
    (ordered by raw distance with the neighbor-id tiebreak — the raw
    doubles are engine-identical, so the pick is too). The radius bound
    makes grid candidates COMPLETE (the probe-reach proof), which is
    what lets a pruned plan answer a nearest-neighbor question exactly;
    the unbounded-NN variant needs expanding-ring probes instead. The
    oracle ranks the brute-force O(n²) candidates — MATCH certifies the
    grid finds every point's true within-radius NN."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    pts = (
        cust.select(
            F.col("c_custkey").alias("id"),
            (portable_hash64(F.concat(F.lit("lat:"), key)) % 180001).alias("latm"),
            (portable_hash64(F.concat(F.lit("lon:"), key)) % 360001).alias("lonm"),
        )
        .where(F.col("latm").between(30000, 150000) & F.col("lonm").between(3000, 357000))
        .select(
            "id",
            (F.col("latm") / 1000.0 - 90).alias("lat"),
            (F.col("lonm") / 1000.0 - 180).alias("lon"),
            F.expr("latm DIV 1500").alias("cy"),
            F.expr("lonm DIV 1500").alias("cx"),
        )
    )
    probes = (
        pts.select(
            F.col("id").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            "cy",
            "cx",
            F.explode(F.array([F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        )
        .select(
            "a_id",
            "a_lat",
            "a_lon",
            (F.col("cy") + F.col("dy")).alias("pcy"),
            "cx",
            F.explode(F.array([F.lit(d) for d in (-2, -1, 0, 1, 2)])).alias("dx"),
        )
        .select("a_id", "a_lat", "a_lon", "pcy", (F.col("cx") + F.col("dx")).alias("pcx"))
    )
    right = pts.select(
        F.col("id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cy").alias("bcy"),
        F.col("cx").alias("bcx"),
    )
    dist = _haversine_km(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    cand = (
        probes.join(
            right,
            (F.col("pcy") == F.col("bcy"))
            & (F.col("pcx") == F.col("bcx"))
            & (F.col("a_id") != F.col("b_id")),
        )
        .select(
            F.col("a_id").alias("id"),
            F.col("b_id").alias("nn_id"),
            dist.alias("d"),
        )
        .where(F.col("d") <= 150)
    )
    w = Window.partitionBy("id").orderBy("d", "nn_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", "nn_id", F.round("d", 3).alias("dist_km"))
    )


@query(
    "scalar_array_hof_zoo",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, generate_series(1, 1 + o_orderkey % 6) AS l
      FROM orders WHERE o_orderkey < 300
    )
    SELECT o_orderkey,
           array_to_string(list_transform(l, x -> x * x), '-') AS squares,
           COALESCE(array_to_string(list_filter(l, x -> x % 2 = 0), '-'), '')
             AS evens,
           CAST(list_sum(l) AS BIGINT) AS total,
           array_to_string(list_sort(l, 'DESC'), '-') AS descending,
           array_to_string(list_sort(list_distinct(l || l)), '-') AS dedup_sorted,
           list_contains(l, 3) AS has3,
           array_to_string(l, '-') AS joined,
           array_to_string(list_transform(generate_series(1, len(l)),
                          i -> l[i] + l[len(l) - i + 1]), '-') AS zip_rev_sum,
           len(list_filter(l, x -> x > 4)) > 0 AS exists_gt4
    FROM b
    """,
)
def scalar_array_hof_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGHER-ORDER-FUNCTION CONFORMANCE ZOO — the lambda surface
    (transform / filter / aggregate / zip_with / exists) that array-heavy
    pipelines (embeddings, token lists, shingles) live on, pinned
    value-for-value against DuckDB's list_* family. Portability traps
    this zoo encodes: DuckDB ``range(a, b)`` is END-EXCLUSIVE where
    Spark ``sequence(a, b)`` is inclusive (the oracle must use
    generate_series); DuckDB ``list_distinct`` does NOT preserve
    first-occurrence order while Spark ``array_distinct`` does (both
    sides sort after dedup, or the value hash splits); DuckDB has no
    zip_with, so the oracle rebuilds it as an index transform over
    1-based list extracts. All lambdas are codegen'd JVM-side in
    Spark — no Python UDF anywhere."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    b = o.select(
        "o_orderkey",
        F.sequence(F.lit(1), 1 + F.col("o_orderkey") % 6).alias("l"),
    )
    l = F.col("l")
    def joined_str(col):
        return F.array_join(F.transform(col, lambda x: x.cast("string")), "-")

    return b.select(
        "o_orderkey",
        joined_str(F.transform(l, lambda x: x * x)).alias("squares"),
        joined_str(F.filter(l, lambda x: x % 2 == 0)).alias("evens"),
        F.aggregate(
            l, F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total"),
        joined_str(F.sort_array(l, asc=False)).alias("descending"),
        joined_str(F.array_sort(F.array_distinct(F.concat(l, l)))).alias(
            "dedup_sorted"
        ),
        F.array_contains(l, 3).alias("has3"),
        joined_str(l).alias("joined"),
        joined_str(
            F.zip_with(l, F.reverse(l), lambda a, c: a + c)
        ).alias("zip_rev_sum"),
        F.exists(l, lambda x: x > 4).alias("exists_gt4"),
    )


@query(
    "events_conversion_latency_quartiles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS first_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS conv_us
      FROM events GROUP BY user_id
    ), lat AS (
      SELECT user_id,
             (conv_us - first_us) // 1000000 AS latency_s
      FROM per_user WHERE conv_us IS NOT NULL AND conv_us > first_us
    ), ranked AS (
      SELECT latency_s,
             CAST(ROW_NUMBER() OVER (ORDER BY latency_s, user_id) AS BIGINT)
               AS r
      FROM lat
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked)
    SELECT n.n AS n_converting_users,
           (SELECT latency_s FROM ranked
            WHERE r = CAST(CEIL(0.25 * n.n) AS BIGINT)) AS q1_s,
           (SELECT latency_s FROM ranked
            WHERE r = CAST(CEIL(0.5 * n.n) AS BIGINT)) AS median_s,
           (SELECT latency_s FROM ranked
            WHERE r = CAST(CEIL(0.75 * n.n) AS BIGINT)) AS q3_s
    FROM n
    """,
)
def events_conversion_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONVERSION-LATENCY QUARTILES — exact q1/median/q3 of the seconds
    between a user's FIRST event and FIRST purchase (the activation-
    speed number growth teams watch; users whose first event IS the
    purchase are excluded as having no journey). Latencies are exact
    integer seconds from microsecond epochs; the quartiles are the
    ceil(q·n) LOWER order statistics picked by one broadcast equi-join
    on the two-phase distributed rank (operators/ranking.py) — entity-
    scaled, no single-partition window, same shape as
    stats_median_ci_exact."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("conv_us"),
    )
    lat = per_user.where(
        F.col("conv_us").isNotNull() & (F.col("conv_us") > F.col("first_us"))
    ).select(
        "user_id",
        F.expr("(conv_us - first_us) DIV 1000000").alias("latency_s"),
    )
    ranked = attach_global_order_stats(
        lat, [("latency_s", "asc"), ("user_id", "asc")], row_number="r"
    )
    ks = ranked.agg(F.count("*").cast("bigint").alias("n")).select(
        "n",
        F.ceil(0.25 * F.col("n")).cast("bigint").alias("k1"),
        F.ceil(0.5 * F.col("n")).cast("bigint").alias("k2"),
        F.ceil(0.75 * F.col("n")).cast("bigint").alias("k3"),
    )
    picks = ranked.select("r", "latency_s").join(
        F.broadcast(ks),
        (F.col("r") == F.col("k1"))
        | (F.col("r") == F.col("k2"))
        | (F.col("r") == F.col("k3")),
    )
    # global agg (not groupBy) so the degenerate no-converting-users input
    # still yields the oracle's single (0, NULL, NULL, NULL) row — picks is
    # empty then, and a groupBy over it would return zero rows (r10 advice)
    qs = picks.agg(
        F.max(F.when(F.col("r") == F.col("k1"), F.col("latency_s"))).alias("q1_s"),
        F.max(F.when(F.col("r") == F.col("k2"), F.col("latency_s"))).alias("median_s"),
        F.max(F.when(F.col("r") == F.col("k3"), F.col("latency_s"))).alias("q3_s"),
    )
    return (
        F.broadcast(ks.select("n"))
        .crossJoin(qs)
        .select(F.col("n").alias("n_converting_users"), "q1_s", "median_s", "q3_s")
    )


@query(
    "agg_revenue_bridge_yoy",
    oracle="""
    WITH base AS (
      SELECT p.p_brand,
             CAST(strftime(l.l_shipdate, '%Y') AS INT) AS yr,
             CAST(SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE CAST(strftime(l.l_shipdate, '%Y') AS INT) IN (1996, 1997)
      GROUP BY 1, 2
    ), pivoted AS (
      SELECT p_brand,
             CAST(SUM(CASE WHEN yr = 1996 THEN qty END) AS BIGINT) AS q0,
             CAST(SUM(CASE WHEN yr = 1996 THEN cents END) AS BIGINT) AS r0,
             CAST(SUM(CASE WHEN yr = 1997 THEN qty END) AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN yr = 1997 THEN cents END) AS BIGINT) AS r1
      FROM base GROUP BY p_brand
    )
    SELECT p_brand,
           ROUND((r1 - r0) / 100.0, 2) AS total_delta,
           ROUND((q1 - q0) * (CAST(r0 AS DOUBLE) / q0) / 100.0, 2)
             AS volume_effect,
           ROUND(q1 * (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
                 / 100.0, 2) AS price_effect
    FROM pivoted
    WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0 AND q1 > 0
    """,
)
def agg_revenue_bridge_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE BRIDGE (price/volume waterfall) — the FP&A decomposition
    of a year-over-year revenue change into what volume did and what
    price did, per brand: volume effect = Δqty · p₀, price effect =
    q₁ · Δp, which sum EXACTLY to the total delta by construction
    ((q₁−q₀)p₀ + q₁(p₁−p₀) = q₁p₁ − q₀p₀ — the additivity that makes
    a waterfall chart tie out). Quantities and revenue cents are exact
    BIGINTs from one brand×year aggregate; average prices and effects
    are fixed-order double arithmetic on those exact integers, rounded
    at 2. Brands missing from either year are excluded (their bridge is
    pure churn, a different row type)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    base = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(F.year("l_shipdate").isin(1996, 1997))
        .groupBy("p_brand", F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(F.round("l_quantity", 0).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    piv = base.groupBy("p_brand").agg(
        F.sum(F.when(F.col("yr") == 1996, F.col("qty"))).cast("bigint").alias("q0"),
        F.sum(F.when(F.col("yr") == 1996, F.col("cents"))).cast("bigint").alias("r0"),
        F.sum(F.when(F.col("yr") == 1997, F.col("qty"))).cast("bigint").alias("q1"),
        F.sum(F.when(F.col("yr") == 1997, F.col("cents"))).cast("bigint").alias("r1"),
    )
    p0 = F.col("r0").cast("double") / F.col("q0")
    p1 = F.col("r1").cast("double") / F.col("q1")
    return piv.where(
        F.col("q0").isNotNull()
        & F.col("q1").isNotNull()
        & (F.col("q0") > 0)
        & (F.col("q1") > 0)
    ).select(
        "p_brand",
        F.round((F.col("r1") - F.col("r0")) / 100.0, 2).alias("total_delta"),
        F.round((F.col("q1") - F.col("q0")) * p0 / 100.0, 2).alias("volume_effect"),
        F.round(F.col("q1") * (p1 - p0) / 100.0, 2).alias("price_effect"),
    )


@query(
    "scalar_isoweek_zoo",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS d FROM orders
      WHERE (month(o_orderdate) = 12 AND day(o_orderdate) >= 28)
         OR (month(o_orderdate) = 1 AND day(o_orderdate) <= 4)
    )
    SELECT d,
           CAST(weekofyear(d) AS INT) AS iso_week,
           CAST(isoyear(d) AS INT) AS iso_year,
           CAST(isodow(d) AS INT) AS iso_dow,
           CAST((isodow(d) % 7) + 1 AS INT) AS dow_sunday1,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM d GROUP BY 1
    """,
)
def scalar_isoweek_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 WEEK CALENDAR CONFORMANCE ZOO — the year-boundary dates
    (Dec 28 – Jan 4) where week numbering actually bites: a date can
    belong to week 52/53 of the PREVIOUS iso-year or week 1 of the NEXT
    (2019-12-30 is 2020-W01; 2016-01-03 is 2015-W53). Pins, engine
    against engine: Spark ``weekofyear`` ≡ DuckDB ``weekofyear`` (both
    ISO), Spark ``extract(YEAROFWEEK)`` ≡ DuckDB ``isoyear``, Spark
    ``extract(DAYOFWEEK_ISO)`` ≡ DuckDB ``isodow`` — and the TRAP that
    the engines' bare ``dayofweek`` DISAGREE (Spark counts 1=Sunday,
    DuckDB 1=Monday), so the Sunday-first value is pinned through the
    explicit ``isodow % 7 + 1`` conversion on the DuckDB side. One
    filtered scan + keyed aggregate; every value is an exact integer."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").cast("date").alias("d")).where(
        ((F.month("d") == 12) & (F.dayofmonth("d") >= 28))
        | ((F.month("d") == 1) & (F.dayofmonth("d") <= 4))
    )
    return d.groupBy("d").agg(
        F.weekofyear("d").cast("int").alias("iso_week"),
        F.first(F.expr("extract(YEAROFWEEK FROM d)")).cast("int").alias("iso_year"),
        F.first(F.expr("extract(DAYOFWEEK_ISO FROM d)")).cast("int").alias("iso_dow"),
        F.dayofweek("d").cast("int").alias("dow_sunday1"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@query(
    "agg_percentile_cont_disc_zoo",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(cents, 0.25), 6) AS p25_cont,
           ROUND(quantile_cont(cents, 0.50), 6) AS p50_cont,
           ROUND(quantile_cont(cents, 0.90), 6) AS p90_cont,
           CAST(quantile_disc(cents, 0.25) AS BIGINT) AS p25_disc,
           CAST(quantile_disc(cents, 0.50) AS BIGINT) AS p50_disc,
           CAST(quantile_disc(cents, 0.90) AS BIGINT) AS p90_disc
    FROM c GROUP BY 1
    """,
)
def agg_percentile_cont_disc_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2008 PERCENTILE_CONT vs PERCENTILE_DISC CONFORMANCE ZOO over
    exact integer cents per order priority — pins the standard's two
    quantile semantics against each other and across engines: CONT
    linearly interpolates at rank (n−1)·p (Spark ``percentile_cont`` ≡
    DuckDB ``quantile_cont`` — identical (1−f)·a + f·b doubles on the
    same integer inputs), DISC returns the first order statistic at
    cumulative probability ≥ p as an ACTUAL element (Spark emits it as
    DOUBLE, DuckDB as the input type — the zoo casts both to BIGINT,
    pinning that the value is integral). Group-keyed aggregates only; the
    per-group sort is Spark's own percentile machinery, not a global
    window."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    return c.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY cents)"), 6).alias("p25_cont"),
        F.round(F.expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY cents)"), 6).alias("p50_cont"),
        F.round(F.expr("percentile_cont(0.90) WITHIN GROUP (ORDER BY cents)"), 6).alias("p90_cont"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)").cast("bigint").alias("p25_disc"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)").cast("bigint").alias("p50_disc"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)").cast("bigint").alias("p90_disc"),
    )


_LATERAL_TOPN_SQL = """
SELECT n.n_name,
       t.c_custkey,
       t.bal_cents,
       t.rnk
FROM nation n,
LATERAL (
  SELECT c_custkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         CAST(ROW_NUMBER() OVER (
           ORDER BY FLOOR(c_acctbal * 100 + 0.5) DESC, c_custkey
         ) AS INT) AS rnk
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY bal_cents DESC, c_custkey
  LIMIT 3
) t
"""


@query("join_lateral_topn_per_group", oracle=_LATERAL_TOPN_SQL)
def join_lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:1999 LATERAL JOIN — the correlated table subquery in FROM
    (each nation row drives a per-nation top-3-customers-by-balance
    probe), the standard form every "top N per group" recipe quotes and
    a Spark-4 surface the catalog didn't exercise yet. IDENTICAL SQL
    text runs on both engines (only temp-view plumbing differs), so the
    MATCH pins that Spark's DecorrelateInnerQuery planning of the
    correlated LIMIT agrees with DuckDB's native lateral execution —
    Catalyst rewrites this into the same partitioned window + filter the
    DataFrame top-N idiom uses, so nothing here is per-row nested-loop
    at scale. Balances compare as exact integer cents; ROW_NUMBER ties
    break on the key."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPN_SQL)


@query(
    "window_nth_value_zoo",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS k,
             o_orderkey AS id,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
             END AS v
      FROM orders WHERE o_custkey % 100 = 0
    ), w AS (
      SELECT k, id, v,
             FIRST_VALUE(v) OVER win AS first_any,
             FIRST_VALUE(v IGNORE NULLS) OVER win AS first_ig,
             LAST_VALUE(v) OVER win AS last_any,
             LAST_VALUE(v IGNORE NULLS) OVER win AS last_ig,
             NTH_VALUE(v, 2) OVER win AS nth2_any,
             NTH_VALUE(v, 2 IGNORE NULLS) OVER win AS nth2_ig
      FROM base
      WINDOW win AS (PARTITION BY k ORDER BY id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT k, id, v, first_any, first_ig, last_any, last_ig,
           nth2_any, nth2_ig
    FROM w
    """,
)
def window_nth_value_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST/LAST/NTH_VALUE × IGNORE NULLS CONFORMANCE ZOO — the SQL:2011
    null-treatment clause on a running ROWS frame, where the two engines'
    defaults can silently diverge when porting: FIRST_VALUE of a frame
    whose first row is NULL, LAST_VALUE's current-row-anchored default
    frame (so last_any ≡ v, NULL included), and NTH_VALUE counting frame
    ROWS vs counting only NON-NULL values under IGNORE NULLS — every
    combination pinned per row over a keyed running frame (customer-
    partitioned: no global window). Values are exact cents with a
    deterministic NULL planting (every 5th orderkey); DuckDB's IGNORE
    NULLS syntax sits inside the call where Spark's is a suffix, so each
    side uses its native spelling of the same standard semantics."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 100 == 0)
    base = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .alias("v"),
    )
    win = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "k", "id", "v",
        F.first("v", ignorenulls=False).over(win).alias("first_any"),
        F.first("v", ignorenulls=True).over(win).alias("first_ig"),
        F.last("v", ignorenulls=False).over(win).alias("last_any"),
        F.last("v", ignorenulls=True).over(win).alias("last_ig"),
        F.nth_value("v", 2, ignoreNulls=False).over(win).alias("nth2_any"),
        F.nth_value("v", 2, ignoreNulls=True).over(win).alias("nth2_ig"),
    )


@query(
    "scalar_interval_month_zoo",
    oracle="""
    WITH d AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
      WHERE day(o_orderdate) >= 28
    )
    SELECT d,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
           CAST(d + INTERVAL 13 MONTH AS DATE) AS plus_13m,
           CAST(d - INTERVAL 1 MONTH AS DATE) AS minus_1m,
           last_day(d) AS month_end,
           CASE WHEN d = last_day(d) THEN 1 ELSE 0 END AS is_month_end,
           CAST(date_trunc('week', d) AS DATE) AS week_start,
           d + CAST(CASE WHEN (5 - isodow(d) + 7) % 7 = 0 THEN 7
                         ELSE (5 - isodow(d) + 7) % 7 END AS INT) AS next_friday
    FROM d
    """,
)
def scalar_interval_month_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTH-ARITHMETIC CONFORMANCE ZOO over the clamp-sensitive dates
    (day ≥ 28): pins that Spark ``add_months`` and DuckDB
    ``+ INTERVAL n MONTH`` share END-OF-MONTH CLAMPING (Jan 31 + 1 month
    = Feb 29 on leap years, Feb 28 otherwise — the rule payroll and
    billing cutoffs depend on), including the 13-month year-rollover and
    the subtraction direction; ``last_day`` and Monday-anchored
    ``date_trunc('week')`` agree natively; and Spark's ``next_day(d,
    'Friday')`` — which DuckDB lacks — is pinned against the explicit
    isodow reconstruction ``d + ((5 − isodow + 7) % 7, 0→7)``, making
    the strictly-after convention hash-checkable rather than assumed.
    One DISTINCT over the filtered date column; all values exact."""
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.select(F.col("o_orderdate").cast("date").alias("d"))
        .where(F.dayofmonth("d") >= 28)
        .distinct()
    )
    return d.select(
        "d",
        F.add_months("d", 1).alias("plus_1m"),
        F.add_months("d", 13).alias("plus_13m"),
        F.add_months("d", -1).alias("minus_1m"),
        F.last_day("d").alias("month_end"),
        F.when(F.col("d") == F.last_day("d"), 1).otherwise(0).alias("is_month_end"),
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start"),
        F.next_day("d", "Friday").alias("next_friday"),
    )


@query(
    "window_distribution_zoo",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), w AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(NTILE(4) OVER win AS INT) AS quartile,
             FLOOR(PERCENT_RANK() OVER win * 1000000 + 0.5) / 1000000
               AS pct_rank,
             FLOOR(CUME_DIST() OVER win * 1000000 + 0.5) / 1000000
               AS cume
      FROM b
      WINDOW win AS (PARTITION BY o_orderpriority
                     ORDER BY cents, o_orderkey)
    )
    SELECT o_orderkey, quartile, pct_rank, cume
    FROM w WHERE o_orderstatus = 'P'
    """,
)
def window_distribution_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION WINDOW FUNCTIONS — the three the ranking zoos don't
    cover: NTILE(4) (equal-frequency bucketing with the SQL-standard
    front-loaded remainder), PERCENT_RANK ((rank-1)/(n-1)) and CUME_DIST
    (rows <= current / n), each over orders partitioned by priority and
    TOTALLY ordered by (exact cents, o_orderkey) so both engines walk an
    identical order and the tie-sensitive trio is deterministic. The
    two ratio outputs use the FLOOR(x*1e6+0.5) quantizer, not ROUND (a
    rank ratio can land exactly on a .5 millionth). A MATCH pins the
    cross-engine bucket-remainder convention, the rank-vs-row basis of
    PERCENT_RANK, and CUME_DIST's closed upper bound. Scale: one keyed
    window per partition, output filtered to status 'P' (the window
    computes over full partitions regardless of the output filter)."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    win = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    w = b.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(win).cast("int").alias("quartile"),
        (F.floor(F.percent_rank().over(win) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "pct_rank"
        ),
        (F.floor(F.cume_dist().over(win) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "cume"
        ),
    )
    return w.where(F.col("o_orderstatus") == "P").select(
        "o_orderkey", "quartile", "pct_rank", "cume"
    )


@query(
    "agg_string_concat_zoo",
    oracle="""
    SELECT r.r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           string_agg(CASE WHEN n.n_nationkey % 2 = 0 THEN n.n_name END,
                      '|' ORDER BY n.n_name) AS even_nations_pipe
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string_concat_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED STRING AGGREGATION — the LISTAGG/STRING_AGG surface
    (SQL:2016's LISTAGG, the report-friendly aggregate everybody uses
    and engines name differently): per region, the alphabetized CSV of
    its nations and a pipe-joined, NULL-skipping subset (even nation
    keys) — the two semantics that differ across engines: explicit
    WITHIN-GROUP ordering (emulated deterministically in Spark with
    sort_array(collect_list(...)) + array_join since collect_list has no
    order guarantee) and NULL ELEMENT SKIPPING (collect_list and DuckDB
    string_agg both drop NULLs — pinned by the CASE-filtered column;
    an ALL-NULL group is NULL on both sides — DuckDB's string_agg
    returns NULL over zero rows where array_join returns '', so the
    Spark side wraps in NULLIF(…,'')). A
    5-row bounded-domain aggregate; at scale this is one keyed
    collect + sort per group with group cardinality the only memory
    bound (documented: LISTAGG is inherently group-sized — cap or
    truncate in a pipeline that aggregates unbounded groups)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    j = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    return j.groupBy(F.col("r_name").alias("region")).agg(
        F.count("*").cast("bigint").alias("n_nations"),
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        ),
        F.nullif(
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("n_nationkey") % 2 == 0, F.col("n_name"))
                    )
                ),
                "|",
            ),
            F.lit(""),
        ).alias("even_nations_pipe"),
    )


@query(
    "agg_filtered_bool_zoo",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
             AS n_large,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS finished_cents,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'P') AS any_pending,
           CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O')
                AS BIGINT) AS open_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filtered_bool_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED AND BOOLEAN AGGREGATES — the SQL:2003 FILTER clause plus
    the boolean-reduction aggregates (count_if / bool_and / bool_or, the
    pivot-free way to fold predicates per group that every BI layer
    generates): per order priority, the large-order count, the exact
    finished-order cents (FILTER over the house-quantized cents — an
    aggregate-level filter, not a WHERE, so the group's other aggregates
    still see every row), the all-positive and any-pending flags, and a
    FILTERed DISTINCT count. Spark expresses FILTER semantics as
    when()-guarded inputs (count_if(p) = count(when(p, 1)); SUM FILTER =
    sum(when(p, x)); DISTINCT FILTER = count_distinct(when(p, x)) since
    when() yields NULL otherwise and these aggregates skip NULLs —
    pinning that equivalence cross-engine is the point of the zoo). One
    map-side-combinable aggregate over a 5-value grouping domain."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") > 150000, 1))
        .cast("bigint")
        .alias("n_large"),
        F.sum(F.when(F.col("o_orderstatus") == "F", cents))
        .cast("bigint")
        .alias("finished_cents"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("open_customers"),
    )
