"""TPC-H-adapted query suite: Q7/Q8/Q9/Q10/Q12/Q14/Q16/Q18 shapes, then the
correlated/nested Q2/Q11/Q13/Q15/Q20/Q21 analogs.

Adapted where the synthetic tables lack TPC-H columns (no partsupp, no
l_commitdate/l_receiptdate, no c_address/phone): each query preserves the
REFERENCE SHAPE — the join topology, aggregation pattern, and predicate
structure that make the original a meaningful optimizer/exec test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(ROUND(volume * 10000, 0)) / 10000.0, 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
          OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY"))
            | ((F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "FRANCE"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(F.round(F.col("volume") * 10000, 0)) / 10000.0, 2).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'BRAZIL'
                          THEN ROUND(volume * 10000, 0) ELSE 0 END)
                 / SUM(ROUND(volume * 10000, 0)), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        AND p.p_type LIKE '%STEEL%'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type").like("%STEEL%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    j = (
        p.join(l, p.p_partkey == l.l_partkey)
        .join(s, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, c.c_nationkey == n1.n_nationkey)
        .join(r, n1.n_regionkey == r.r_regionkey)
        .join(n2, s.s_nationkey == F.col("n2_key"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    return (
        j.select(F.year("o_orderdate").alias("o_year"), vol, "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "BRAZIL",
                           F.round(F.col("volume") * 10000, 0)).otherwise(0.0)
                )
                / F.sum(F.round(F.col("volume") * 10000, 0)),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT nation, o_year,
           ROUND(SUM(ROUND(amount * 10000, 0)) / 10000.0, 2) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.5 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%green%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape; ps_supplycost (no partsupp table) approximated as
    0.5*p_retailprice — same join/agg topology."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        p.join(l, p.p_partkey == l.l_partkey)
        .join(s, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(n, F.col("s_nationkey") == n.n_nationkey)
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).alias("amount")
    return (
        j.select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount)
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(F.round(F.col("amount") * 10000, 0)) / 10000.0, 2).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0))
                 / 10000.0, 2) AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # sum exact integer ten-thousandths (2dp price × ≤2dp discount
            # factor = exactly 4 decimals per term) — order-independent and
            # engine-independent, unlike summing the raw doubles and
            # rounding at a possible .xx5 boundary
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0))
                / 10000.0,
                2,
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q12_shipping_modes",
    oracle="""
    SELECT priority_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o.o_orderpriority,
             CASE WHEN l.l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS priority_class
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    )
    GROUP BY priority_class
    """,
)
def q12_shipping_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape; l_shipmode doesn't exist → bulk/small quantity classes."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias(
                "priority_class"
            ),
            high.alias("is_high"),
        )
        .groupBy("priority_class")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                                   THEN ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                                   ELSE 0 END)
                 / SUM(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)), 4)
             AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    net_scaled = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
    return l.join(p, l.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").like("PROMO%"), net_scaled).otherwise(0.0))
            / F.sum(net_scaled),
            4,
        ).alias("promo_revenue")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 10, 15, 20)
    GROUP BY p_brand, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# ==========================================================================
# Correlated/nested shapes (Q2/Q11/Q13/Q15/Q20/Q21 analogs)
# ==========================================================================


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH supplier_part AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l GROUP BY 1, 2
    ), best AS (
      SELECT partkey, MIN(unit_cost) AS min_cost
      FROM supplier_part GROUP BY partkey
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           FLOOR(sp.unit_cost * 10000 + 0.5) / 10000 AS unit_cost
    FROM part p
    JOIN supplier_part sp ON sp.partkey = p.p_partkey
    JOIN best b ON b.partkey = sp.partkey AND sp.unit_cost = b.min_cost
    JOIN supplier s ON s.s_suppkey = sp.suppkey
    WHERE p.p_size <= 10
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (min-cost supplier per part; partsupp approximated from
    lineitem unit prices): correlated MIN subquery decorrelated into a
    grouped MIN + join — the scalable rewrite of `= (SELECT MIN ...)`."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    sp = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    best = sp.groupBy("partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        p.join(sp, sp.partkey == p.p_partkey)
        .join(best, (best.partkey == sp.partkey) & (sp.unit_cost == best.min_cost))
        .join(s, s.s_suppkey == sp.suppkey)
        .select(
            "p_partkey", "p_brand", "s_name",
            # FLOOR(x·1e4+0.5)/1e4, not ROUND(x,4): unit prices land on
            # exact .5 ties at the 4th decimal, where the engines' ROUNDs
            # diverge (6 rows at sf0.1 — caught by the r11 full-sf0.1
            # sweep); the explicit quantizer is bit-identical in both
            (F.floor(F.col("unit_cost") * 10000 + 0.5) / 10000).alias("unit_cost"),
        )
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH value_by_part AS (
      SELECT l_partkey,
             SUM(ROUND(l_extendedprice * 100, 0)) / 100.0 AS part_value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, ROUND(part_value, 2) AS part_value
    FROM value_by_part
    WHERE part_value > (SELECT 0.001 * (SUM(ROUND(l_extendedprice * 100, 0)) / 100.0)
                        FROM lineitem)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: groups exceeding a fraction of the GLOBAL total — a
    grouped agg joined against a broadcast scalar aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0)
    by_part = l.groupBy("l_partkey").agg((F.sum(cents) / 100.0).alias("part_value"))
    total = l.agg((F.sum(cents) / 100.0).alias("t"))
    return (
        by_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.001 * F.col("t"))
        .select("l_partkey", F.round("part_value", 2).alias("part_value"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: two-level aggregation — per-customer order counts (left join
    keeps zero-order customers), then the histogram of those counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)) / 10000.0
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 (view + scalar max): revenue "view" reused for both the rows
    and the max — cached once, no recompute; max joins back as broadcast."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    scaled = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg((F.sum(scaled) / 10000.0).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(ROUND(l.l_extendedprice * 100, 0)) / 700.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size < 5
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (small-quantity-order revenue): correlated AVG subquery
    per part, decorrelated into a grouped AVG + join. Scale note: the
    per-part average is computed AFTER the semi-join with the (small,
    broadcast) filtered part set, so the aggregation only touches the
    eligible fraction of lineitem instead of the whole table; money sums
    use integer cents for engine-exact totals."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 5)
    ).select("p_partkey")
    eligible = l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
    thresholds = eligible.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("threshold")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0)
    return (
        eligible.join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(F.round(F.sum(cents) / 700.0, 2).alias("avg_yearly"))
    )


@query(
    "q20_part_promotion_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'forest%'
      )
      GROUP BY l.l_suppkey
      HAVING SUM(l.l_quantity) > 100
    )
    """,
)
def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN-subqueries with a HAVING — composed as two
    semi-join stages (part filter → supplier quantity threshold)."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("forest%"))
    eligible = (
        l.join(p, l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    return s.join(eligible, s.s_suppkey == eligible.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (the EXISTS + NOT-EXISTS chain): suppliers who were the
    ONLY late shipper on a multi-supplier finished order. Late = shipped
    >60 days after order date (no receipt/commit dates in this schema)."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")

    l1 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    # EXISTS: another supplier on the same order
    others = l.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    with_other = l1.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was late on that order
    late_others = l1.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    only_late = with_other.join(
        late_others,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        s.join(only_late, s.s_suppkey == only_late.l_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
