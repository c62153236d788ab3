"""TPC-H adaptations (q2-q22) for the reduced driver schema.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    money_scaled,
    money_sum,
    money_sum_sql,
    query,
)

__all__ = [
    "q2_min_acctbal_supplier",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_parts",
    "q12_priority_lines",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q20_promo_part_suppliers",
    "q21_waiting_suppliers",
    "q22_prospective_customers",
]


@query(
    "q2_min_acctbal_supplier",
    """
    WITH ps AS (
      SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY p_partkey ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
      FROM ps
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM ranked WHERE rn = 1
    """,
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp: the part↔supplier relation is
    derived from lineitem shipments; min s_acctbal stands in for min
    ps_supplycost).  Fixed-cardinality dims (nation/region) are hinted
    broadcast; part/supplier scale with SF so their strategy is left
    to the size threshold/AQE (broadcast at bench scale, shuffle at
    100 TB).  The only other shuffle is the window's hash partition on
    p_partkey."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        ps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no l_commitdate: 'late' orders become orders
    with a returned line).  EXISTS = left-semi join; the orders-side
    date filter is pushed to the scan."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    f"""
    SELECT {money_sum_sql("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate; every predicate reaches
    the parquet reader (PushedFilters), zero shuffle beyond the final
    single-row combine."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue"
        )
    )


@query(
    "q7_volume_shipping",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation shipping volume (all nation pairs
    rather than one pair — the driver data uses synthetic nation
    names).  Nation joined twice under different aliases."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("ns_key") != F.col("nc_key"))
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    WITH all_sales AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
    )
    SELECT o_year,
           floor(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                 ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS mkt_share
    FROM all_sales GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of supplier revenue into AMERICA's
    customer market, per order year.  Conditional aggregation over one
    fact shuffle."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nc = n.select(F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region"))
    ns = n.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            (
                F.floor(
                    F.sum(
                        F.when(F.col("supp_nation") == "NATION_3", vol)
                        .otherwise(0.0)
                        .cast("decimal(18,4)")
                    ).cast("double")
                    / F.sum(vol.cast("decimal(18,4)")).cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    f"""
    SELECT ns.n_name AS nation, year(o.o_orderdate) AS o_year,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity")}
               AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'STANDARD'
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp: cost proxied as half retail
    price; part filter by type instead of name-contains)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("nation")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("nation", "o_year")
        .agg(money_sum(profit).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS c_acctbal,
           n.n_name AS n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue in a
    quarter.  Top-k = TakeOrderedAndProject (no global sort
    materialization); tie-broken on c_custkey."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .withColumn("c_acctbal", F.round("c_acctbal", 2))
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q11_important_parts",
    """
    WITH g AS (
      SELECT l.l_partkey AS partkey,
             sum(l.l_quantity) AS part_qty,
             CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))), 2) AS DOUBLE) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    )
    SELECT partkey, part_qty, part_value
    FROM g
    WHERE part_qty * (SELECT count(*) FROM g) > 2 * (SELECT sum(part_qty) FROM g)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp: per-part shipped value from one
    nation's suppliers stands in for stock value).  The HAVING-vs-global-
    total scalar subquery is a broadcast of a 1-row aggregate; the
    grouped frame is persisted so the fact shuffles exactly once even
    though it feeds both the total and the filtered output.  The
    classic fixed-fraction threshold empties as SF grows (share per
    part ~ 1/|parts|), so the cut is scale-FREE: parts with more than
    2x the mean share.  Pure integer-valued-double arithmetic
    (quantities integral, sums exact) — no float-boundary ambiguity
    between engines."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    g = (
        li.join(supp, li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum("l_quantity").alias("part_qty"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("part_value"),
        )
        .persist()
    )
    total = g.agg(
        F.sum("part_qty").alias("__total_qty"),
        F.count("*").alias("__n_parts"),
    )
    return (
        g.join(F.broadcast(total))
        .filter(
            F.col("part_qty") * F.col("__n_parts") > 2 * F.col("__total_qty")
        )
        .select("partkey", "part_qty", "part_value")
    )


@query(
    "q12_priority_lines",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no l_shipmode/commitdate: lines grouped by
    linestatus, split by order priority)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram over a LEFT OUTER join
    (customers with zero orders count as c_count = 0)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q14_promo_revenue",
    """
    SELECT floor(100.0
                 * CAST(sum(CAST(floor((CASE WHEN p.p_type = 'PROMO'
                       THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                       * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                       * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS promo_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share in one month.  part scales with
    SF — no forced broadcast; the size threshold/AQE picks broadcast
    at bench scale and a key shuffle at 100 TB."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # ratio of EXACT scaled-long sums (identical ints on both engines),
    # floor-rounded over the identical quotient double — the q7/q8
    # cross-engine boundary-flip class can't occur
    return li.join(p, li["l_partkey"] == p["p_partkey"]).agg(
        (
            F.floor(
                100.0
                * F.sum(
                    money_scaled(
                        F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
                    )
                ).cast("double")
                / F.sum(money_scaled(rev)).cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("promo_revenue")
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue.  The scalar
    max is a window over the tiny per-supplier aggregate (|suppliers|
    rows), not over the fact table, so the unpartitioned window is
    safe at any scale."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("total_revenue")
    )
    rev = rev.withColumn(
        "__max", F.max("total_revenue").over(Window.partitionBy())
    )
    return (
        rev.filter(F.col("total_revenue") == F.col("__max"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 30, 36)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp: supplier count per part group
    derived from shipment lines; no comment-based supplier exclusion)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 30, 36))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT floor(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / 7.0 * 100 + 0.5) / 100 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#5' AND l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue of below-half-average-quantity lines for one
    brand, as the classic window rewrite: ONE lineitem scan, the part
    join, then a per-partkey window avg instead of a second full-scan
    aggregate joined back.

    Equivalence to the oracle's full-lineitem part_avg: the part join
    keys on the window's own partition column, so a partkey either
    keeps ALL its lines or drops entirely — the window avg sees exactly
    the oracle's per-part line set.  l_quantity is integer-valued
    (pinned by the oracle hash across SFs), so the double sum inside
    avg is exact in any order and the < comparison cannot flip with
    summation order.  Neither side carries a forced broadcast (part
    scales with SF); at 100 TB the partkey join's shuffle partitioning
    is the window's, so AQE can reuse it."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    w = Window.partitionBy(li["l_partkey"])
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .withColumn("half_avg_qty", 0.5 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (
                F.floor(
                    F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                        "double"
                    )
                    / 7.0
                    * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("avg_yearly")
        )
    )


@query(
    "q18_large_volume_customers",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           {money_sum_sql("l.l_quantity")} AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING sum(CAST(floor(l.l_quantity * 10000 + 0.5) AS BIGINT)) > 2000000
    ORDER BY o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 200 (threshold
    scaled to the driver data's ~7-line orders), top-100 by price.

    Shape: pre-aggregate lineitem by orderkey FIRST and filter on the
    HAVING threshold, so the only big shuffle is the fact aggregation;
    the surviving set is tiny (HAVING is selective by design), so AQE
    broadcast-joins it to orders — versus the naive
    lineitem⋈orders⋈customer → 5-column regroup, which shuffles the
    fact twice and orders once.  o_orderkey is unique, so grouping by
    the customer columns adds nothing semantically."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money_scaled(F.col("l_quantity"))).alias("__qty"))
        .filter(F.col("__qty") > 200 * 10000)
    )
    return (
        o.join(qty, o["o_orderkey"] == qty["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            (
                F.floor((F.col("__qty") + F.lit(50)) / F.lit(100.0))
                / F.lit(100.0)
            ).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q19_discounted_revenue",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 40
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive multi-predicate join filter (3 OR'd
    brand/size/quantity triples)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


@query(
    "q20_promo_part_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE' AND s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small %'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING sum(l.l_quantity) > 50
    )
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp/availqty: 'has excess stock'
    becomes 'shipped >50 units of one small part in the window'; the
    nation filter widens to region so the result is non-trivial on the
    synthetic data).  IN-over-grouped-HAVING = distinct candidate set +
    left-semi join; the fact shuffles once on (suppkey, partkey);
    nation/region are hinted broadcast, while part and the candidate
    set scale with SF so their strategy is left to the threshold/AQE.
    Threshold compare is exact (integral quantities)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    # the candidate set is bounded by |suppliers|, which scales with SF:
    # no forced broadcast — AQE sees the post-HAVING size at runtime and
    # broadcasts exactly when it fits (it does at bench scale)
    return supp.join(
        cand, supp["s_suppkey"] == cand["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE n.n_name = 'NATION_5' AND l1.l_returnflag = 'R'
      AND o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no l_receiptdate: 'late delivery' becomes a
    returned line; finds the sole guilty supplier in multi-supplier
    orders).  The correlated EXISTS / NOT-EXISTS pair is decorrelated
    into per-order stats as WINDOW aggregates over the per-(order,
    supplier) rollup — n_supp>1 <=> another supplier exists,
    n_ret_supp==1 <=> no OTHER supplier has a returned line — so
    lineitem is scanned and shuffled ONCE (the r9 rewrite; previously
    the stats and the returned-lines side each re-scanned the fact,
    and a literal EXISTS translation would cost three fact scans).
    numwait counts returned LINES, so the rollup carries the per-pair
    returned-line count and the guilty pairs sum it.  All-integer
    arithmetic; the oracle keeps the EXISTS formulation, making the
    two derivations independent."""
    li = load(spark, sf_dir, "lineitem")
    # two-level aggregate instead of countDistinct: a countDistinct pair
    # would plan as Expand (2x fact rows); pre-aggregating on
    # (orderkey, suppkey) gets map-side partials, and the per-order
    # stats are windows over that already-shrunk frame — no second
    # fact scan, no stats join
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "__n_r"
        )
    )
    w = Window.partitionBy("l_orderkey")
    guilty = (
        per_supp.withColumn("__n_supp", F.count("*").over(w))
        .withColumn(
            "__n_ret_supp",
            F.sum(F.when(F.col("__n_r") > 0, 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("__n_r") > 0)
            & (F.col("__n_supp") > 1)
            & (F.col("__n_ret_supp") == 1)
        )
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name"
    )
    return (
        guilty.join(supp, guilty["l_suppkey"] == F.col("s_suppkey"))
        .join(o, guilty["l_orderkey"] == o["o_orderkey"], "left_semi")
        .groupBy("s_name")
        .agg(F.sum("__n_r").cast("long").alias("numwait"))
    )


@query(
    "q22_prospective_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q22_prospective_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no phone: grouped by c_nationkey instead of
    country code).  Scalar subquery = broadcast 1-row cross join; NOT
    EXISTS = left-anti join against order custkeys."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__a")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )
