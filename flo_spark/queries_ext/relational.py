"""Relational / SQL-surface coverage: joins, set ops, grouping,
window frames, LATERAL/recursive CTE/scripting/pipe syntax, UDAF/UDTF,
collation, VARIANT, pandas-API, and plan-shape showcases.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    money_scaled,
    money_sum,
    money_sum_sql,
    query,
)
from flo_spark.queries import REVENUE_SQL as _REVENUE_SQL

__all__ = [
    "locf_imputation",
    "multitouch_attribution_models",
    "business_day_transit",
    "fifo_inventory_allocation",
    "decayed_trending_brands",
    "haversine_trade_distance",
    "market_clearing_price",
    "vickrey_second_price",
    "full_outer_nation_presence",
    "grouping_sets_revenue",
    "quantiles_by_returnflag",
    "stats_by_linestatus",
    "ntile_price_quartiles",
    "rolling_30d_customer_spend",
    "correlated_scalar_subquery",
    "rollup_daily_from_hourly",
    "array_hof_vector_norms",
    "null_semantics_audit",
    "window_rank_suite",
    "batch_sessionization",
    "udaf_geomean_price",
    "udtf_char_shingles",
    "right_join_orders_nations",
    "map_funcs_priority_profile",
    "json_props_extract",
    "skew_salted_join_types",
    "dense_hourly_event_counts",
    "intersect_all_priorities",
    "except_all_priorities",
    "unpivot_measures",
    "interval_join_binned",
    "federated_trimodal_join",
    "constraint_audit",
    "variant_props_extract",
    "bloom_pruned_join",
    "recursive_cte_order_chains",
    "lateral_topn_per_customer",
    "modern_aggregates_suite",
    "listagg_order_manifest",
    "bucketed_colocated_join",
    "sql_scripting_threshold_report",
    "map_hof_suite",
    "collation_case_insensitive_stats",
    "transpose_quantity_buckets",
    "proximity_join_grid_2d",
    "interval_union_sweepline",
    "gaps_islands_event_runs",
    "pandas_api_on_spark_stats",
    "asof_forward_nearest_click",
    "pareto_frontier_orders",
    "sql_syntax_surface_suite",
    "shuffle_skew_profile",
    "sql_pipe_syntax_report",
    "keyset_pagination_page",
]


@query(
    "full_outer_nation_presence",
    """
    WITH cust AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_customers
      FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey
    ),
    supp AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
      FROM supplier WHERE s_acctbal > 5000.0 GROUP BY s_nationkey
    )
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(s.n_suppliers, 0) AS n_suppliers
    FROM cust c FULL OUTER JOIN supp s ON c.nationkey = s.nationkey
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two filtered per-nation aggregates; nations
    present on only one side surface with a zero count."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000.0)
    cust = c.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count("*").alias("n_customers")
    )
    supp = s.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        cust.join(supp, cust["c_nk"] == supp["s_nk"], "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@query(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS sum_price, count(*) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS with grouping() indicator columns —
    expressed through Spark SQL (Catalyst Expand operator; one pass
    over the fact, rows replicated once per matching set)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS sum_price, count(*) AS n_lines
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "quantiles_by_returnflag",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.90), 4) AS p90_price,
           round(quantile_cont(l_discount, 0.25), 4) AS p25_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (median / p90 / p25) per group —
    Spark `median`/`percentile` match DuckDB `median`/`quantile_cont`
    (both linear-interpolating)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", 0.90), 4).alias("p90_price"),
        F.round(F.percentile("l_discount", 0.25), 4).alias("p25_disc"),
    )


@query(
    "stats_by_linestatus",
    """
    WITH s AS (
      SELECT l_linestatus,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sq,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sqq,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE) AS sp,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE) AS spp,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE) AS sqp,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE) AS sd,
             CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE) AS sdd
      FROM lineitem GROUP BY l_linestatus
    )
    SELECT l_linestatus,
           floor(sqrt((sqq - sq * sq / n) / (n - 1)) * 10000 + 0.5) / 10000
               AS sd_qty,
           floor((sdd - sd * sd / n) / (n - 1) / 10000 * 1000000 + 0.5) / 1000000
               AS var_disc,
           floor((sqp - sq * sp / n)
                 / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n))
                 * 10000 + 0.5) / 10000 AS corr_qty_price,
           floor((sqp - sq * sp / n) / (n - 1) / 100 * 100 + 0.5) / 100
               AS cov_qty_price
    FROM s
    """,
)
def stats_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — sample stddev/variance, Pearson
    correlation, sample covariance — computed EXACTLY from decomposable
    scaled-integer power sums (n, Σx, Σx², Σy, Σy², Σxy as
    decimal(38,0) integers, identical on both engines), then derived
    in double from those identical inputs.  The builtin stddev/corr
    aggregates fold doubles in engine-specific orders, so their low
    bits differ cross-engine and a rounding boundary can flip — the
    same class as the r5 q7 failure, eliminated here at the source.
    The power sums are also the map-side-combinable form every
    distributed stats engine ships at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    qs = F.col("l_quantity").cast("decimal(19,0)")  # integral by data
    ps = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    ds = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    s = li.groupBy("l_linestatus").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(qs).cast("double").alias("sq"),
        F.sum(qs * qs).cast("double").alias("sqq"),
        F.sum(ps).cast("double").alias("sp"),
        F.sum(ps * ps).cast("double").alias("spp"),
        F.sum(qs * ps).cast("double").alias("sqp"),
        F.sum(ds).cast("double").alias("sd"),
        F.sum(ds * ds).cast("double").alias("sdd"),
    )
    n, sq, sqq = F.col("n"), F.col("sq"), F.col("sqq")
    sp, spp, sqp = F.col("sp"), F.col("spp"), F.col("sqp")
    sd, sdd = F.col("sd"), F.col("sdd")
    return s.select(
        "l_linestatus",
        (
            F.floor(
                F.sqrt((sqq - sq * sq / n) / (n - 1)) * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("sd_qty"),
        (
            F.floor(
                (sdd - sd * sd / n) / (n - 1) / 10000 * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("var_disc"),
        (
            F.floor(
                (sqp - sq * sp / n)
                / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("corr_qty_price"),
        (
            F.floor((sqp - sq * sp / n) / (n - 1) / 100 * 100 + F.lit(0.5))
            / 100
        ).alias("cov_qty_price"),
    )


@query(
    "ntile_price_quartiles",
    """
    WITH t AS (
      SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
      FROM orders
    )
    SELECT quartile, count(*) AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM t GROUP BY quartile
    """,
)
def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment over a global price order, then
    per-quartile bounds.  NOTE: the unpartitioned window is a
    deliberate single-sort demonstration; the quartile boundaries it
    yields are what `percentile` computes distributively — prefer that
    at 100 TB."""
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "rolling_30d_customer_spend",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS spend_30d
    FROM orders
    """,
)
def rolling_30d_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window: per-customer rolling 30-day spend.
    Spark's rangeBetween needs a numeric order key, so the timestamp
    is ordered as epoch seconds with a 30-day offset — identical
    semantics to the oracle's INTERVAL frame (ties on o_orderdate
    share one frame in both engines)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
        .alias("spend_30d"),
    )


@query(
    "correlated_scalar_subquery",
    """
    SELECT o.o_orderkey, o.o_orderpriority,
           round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (SELECT avg(i.o_totalprice) FROM orders i
                                  WHERE i.o_orderpriority = o.o_orderpriority)
    """,
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text interface: a correlated scalar subquery (orders priced
    >1.5× the average of their own priority class) submitted as-is —
    Catalyst decorrelates it into aggregate-then-join automatically
    (the rewrite q17 does by hand), so the 100 TB plan is one small
    per-priority aggregate broadcast against the fact scan, never a
    per-row subquery execution."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("flo_corr_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_orderpriority,
               round(o.o_totalprice, 2) AS o_totalprice
        FROM flo_corr_orders o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(i.o_totalprice) FROM flo_corr_orders i
            WHERE i.o_orderpriority = o.o_orderpriority)
        """
    )


@query(
    "rollup_daily_from_hourly",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           floor(CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000
               AS avg_value
    FROM events GROUP BY 1, event_type
    """,
)
def rollup_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the raw events are rolled
    up ONCE into hourly buckets, and the daily answer is computed by
    RE-aggregating the hourly rollup (sum-of-sums, min-of-mins, avg
    derived as sum/count) — never rescanning raw data.  The oracle
    aggregates raw directly, so the hash-match proves the two-level
    rollup is lossless.  At 100 TB the hourly rollup is ~10^4× smaller
    than raw; every dashboard-style query downstream reads it instead
    (see flo_spark/operators/rollup.py for incremental maintenance)."""
    from flo_spark.operators.rollup import reaggregate, rollup_events

    ev = load(spark, sf_dir, "events")
    hourly = rollup_events(ev, "1 hour", ["event_type"])
    daily = reaggregate(hourly, "1 day", ["event_type"])
    return daily.select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        # derived average, rounded with a pure-IEEE floor formula on the
        # ROUNDED decimal sum cast to double: floor(x*1e4 + 0.5)/1e4
        # over identical doubles is bit-identical in both engines
        # (round() on a double is NOT: Spark rounds the shortest
        # decimal string, DuckDB the binary value).
        (
            F.floor(
                F.round("sum_value", 2).cast("double")
                / F.col("n_events")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("avg_value"),
    )


@query(
    "array_hof_vector_norms",
    """
    SELECT vec_id, len(embedding) AS dim,
           floor(sqrt(list_aggregate(
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')) * 10000 + 0.5) / 10000 AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    """,
)
def array_hof_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform / aggregate / filter)
    mirrored against DuckDB list lambdas: per-vector L2 norm and
    positive-component count.  Elements are cast to DOUBLE inside the
    lambda in BOTH engines so the sequential fold adds identical
    doubles (bit-identical), and the norm is rounded with the
    pure-IEEE floor formula.

    Scale note: HOF lambdas evaluate interpreted (~10 µs/step, never
    codegen'd — measured) — right for per-row array bookkeeping like
    this, wrong for bulk linear algebra, which lives in the Arrow
    mapInPandas matmul path (operators/similarity.py)."""
    e = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.floor(F.sqrt(sq_sum) * 10000 + F.lit(0.5)) / 10000).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "null_semantics_audit",
    """
    WITH o AS (
      SELECT o_custkey % 100 AS grp,
             NULLIF(o_orderpriority, '1-URGENT') AS pri
      FROM orders
    )
    SELECT grp, count(*) AS n_rows, count(pri) AS n_nonnull,
           count(DISTINCT pri) AS n_distinct,
           CAST(sum(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM o GROUP BY grp
    """,
)
def null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL null semantics, cross-engine verified: nulls derived via
    NULLIF, then the aggregate forms that treat them differently —
    count(*) vs count(col) (null-skipping) vs count(DISTINCT col)
    (null-excluding) vs an explicit IS NULL tally.  The testdata ships
    no physical nulls, so deriving them keeps the audit deterministic."""
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("grp"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
    )
    return o.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.count("pri").alias("n_nonnull"),
        F.count_distinct("pri").alias("n_distinct"),
        F.sum(F.when(F.col("pri").isNull(), 1).otherwise(0)).alias("n_null"),
    )


@query(
    "window_rank_suite",
    """
    SELECT o_orderkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS priciest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window completeness: percent_rank / cume_dist /
    first_value, plus last_value with an explicit unbounded-following
    frame (the default frame stops at the current row, a classic
    silent-wrong-answer).  percent_rank's (rank-1)/(n-1) divides the
    same integers in both engines, so no rounding is needed for the
    value hash.  Partitioned by o_orderpriority — bounded per-task
    state at any scale."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


@query(
    "batch_sessionization",
    """
    WITH t AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ), f AS (
      SELECT *, CASE WHEN sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ), s AS (
      SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_idx
      FROM f
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           max(sec) - min(sec) AS duration_sec
    FROM s GROUP BY user_id, session_idx
    """,
)
def batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): events per user are cut
    into sessions at >30 min inactivity gaps via lag + running sum of
    boundary flags — the batch twin of the streaming
    ``session_windows_30m`` entry.  Both windows partition by user_id
    (high cardinality), so per-task state stays bounded and the whole
    query is two passes over one user-keyed shuffle at any scale."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # floor of epoch seconds via unix_micros: matches the oracle's
        # floor(epoch(ts)) exactly and is legal for TIMESTAMP (load()
        # normalizes); cast("long") crashes on TIMESTAMP_NTZ
        F.floor(F.expr("unix_micros(ts)") / F.lit(1_000_000))
        .cast("long")
        .alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(F.col("sec") - F.lag("sec").over(w) > 1800, 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("duration_sec"),
    )


@query(
    "udaf_geomean_price",
    """
    SELECT l_returnflag, l_linestatus,
           round(exp(avg(ln(l_extendedprice))), 2) AS geomean_price,
           count(*) AS n_items
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def udaf_geomean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface: a GROUPED_AGG Arrow pandas_udf (numpy geometric
    mean) aggregating per (returnflag, linestatus), hash-verified
    against DuckDB's closed form exp(avg(ln(x))).

    Scale note: a grouped-agg pandas UDF ships EVERY value of a group
    to one Python worker — fine for bounded groups, wrong for skewed
    100 TB facts.  When the aggregate decomposes (geomean = exp of a
    partial-aggregable mean of logs), production code should prefer the
    JVM built-in form `exp(avg(ln(x)))` and keep map-side combine; this
    entry exists to exercise the custom-UDAF path against that exact
    oracle."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit eval type: this module uses `from __future__ import
    # annotations`, which turns hints into strings Spark can't resolve
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark disallows mixing pandas and JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a UDAF too
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def ucount(v):
        return len(v)

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(geomean("l_extendedprice"), 2).alias("geomean_price"),
        ucount("l_extendedprice").alias("n_items"),
    )


@query(
    "udtf_char_shingles",
    """
    SELECT d.doc_id, CAST(g.i AS INT) AS pos,
           substring(d.text, CAST(g.i AS INT), 3) AS shingle
    FROM documents d CROSS JOIN generate_series(1, 4096) AS g(i)
    WHERE d.doc_id < 50 AND g.i <= length(d.text) - 2
    """,
)
def udtf_char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface: a Python user-defined TABLE function expanding each
    document into its positional character 3-shingles via SQL LATERAL,
    hash-verified against a DuckDB generate_series lateral join.

    Scale note: Python UDTFs evaluate row-at-a-time — the right tool
    for API parity and modest fan-outs, not the 100 TB hot path; the
    production shingling in operators/dedup.py does the same expansion
    batch-wise inside Arrow mapInPandas."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, pos: int, shingle: string")
    class Shingler:
        def eval(self, doc_id, text):
            if text is not None:
                for i in range(len(text) - 2):
                    yield doc_id, i + 1, text[i : i + 3]

    docs = load(spark, sf_dir, "documents").filter("doc_id < 50")
    docs.createOrReplaceTempView("udtf_docs_v")
    spark.udtf.register("char_shingler", Shingler)
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.shingle "
        "FROM udtf_docs_v, LATERAL char_shingler(doc_id, text) s"
    )


@query(
    "right_join_orders_nations",
    """
    SELECT n.n_name, count(o.o_orderkey) AS n_orders
    FROM (
      SELECT o_orderkey, c_nationkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ) o RIGHT JOIN nation n ON n.n_nationkey = o.c_nationkey
    GROUP BY n.n_name
    """,
)
def right_join_orders_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every nation appears even with zero orders
    (count(col) null-skips the unmatched side).  Spark plans the small
    preserved side broadcast-able by flipping build sides."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    oc = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        oc.join(n, oc["c_nationkey"] == n["n_nationkey"], "right")
        .groupBy("n_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "map_funcs_priority_profile",
    """
    SELECT o_custkey,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def map_funcs_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per customer, build a
    priority -> count MAP (``map_from_entries``), then read it back via
    ``element_at`` / ``map_keys`` / a ``map_values`` fold.  The oracle
    states the SEMANTICS relationally (conditional counts) — the map is
    the Spark-side representation under test, every lookup must agree
    with the flat aggregation.  Missing keys: element_at yields NULL,
    coalesced to 0, mirroring the CASE sum."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    m = counts.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "n"))
        ).alias("m")
    )
    return m.select(
        "o_custkey",
        F.coalesce(F.element_at("m", F.lit("1-URGENT")), F.lit(0)).alias("n_urgent"),
        F.coalesce(F.element_at("m", F.lit("5-LOW")), F.lit(0)).alias("n_low"),
        F.size(F.map_keys("m")).alias("n_priorities"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_orders"),
    )


@query(
    "json_props_extract",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload projection: get_json_object over the
    events `props` JSON column (A17's codec idea applied to a JSON
    payload — codec/serde.rs:11-62), aggregated per type.  The JSON
    path evaluates JVM-side inside codegen."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "skew_salted_join_types",
    """
    SELECT upper(e.event_type) AS type_label,
           count(*) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (SELECT DISTINCT event_type FROM events) d
      ON d.event_type = e.event_type
    GROUP BY upper(e.event_type)
    """,
)
def skew_salted_join_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated dimension join through ``operators.skew.
    salted_join``: event_type has only a handful of values, so a plain
    shuffle join would send each type's full population to one reducer;
    salting spreads every key over 8 sub-keys (deterministic xxhash64
    salt — retries don't flap) while the small side replicates 8x.
    Salting is pure implementation strategy — the result is
    hash-identical to the unsalted join, which is exactly what the
    oracle checks."""
    from flo_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_label", F.upper("event_type"))
    )
    j = salted_join(ev, dim, on="event_type", salt=8)
    return j.groupBy("type_label").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "dense_hourly_event_counts",
    """
    WITH e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type
      FROM events
    ),
    b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    TIMESTAMP '2024-12-31 00:00:00',
                                    INTERVAL 1 HOUR)) AS hour
    ),
    spine AS (
      SELECT h.hour, t.event_type
      FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM e) t
      WHERE h.hour BETWEEN (SELECT h0 FROM b) AND (SELECT h1 FROM b)
    ),
    c AS (SELECT hour, event_type, count(*) AS n FROM e GROUP BY hour, event_type)
    SELECT s.hour, s.event_type, coalesce(c.n, 0) AS n_events
    FROM spine s
    LEFT JOIN c ON c.hour = s.hour AND c.event_type = s.event_type
    """,
)
def dense_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap fill): build an hour x event_type
    spine spanning the observed range and left-join the real counts, so
    missing combinations surface as explicit zeros — the shape every
    downstream window/forecast operator wants.  The spine is bounded by
    the TIME RANGE, not the data volume (hours x |types|), so the
    deliberate cross join stays dim-sized at any scale; the fact
    shuffles once for the count.  (DuckDB generate_series cannot take
    lateral column args, so the oracle filters a bounded constant
    range.)"""
    ev = load(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", F.col("ts"))
    )
    # reduce FIRST, then derive the range bounds and the type
    # dimension from the reduced (hour, type) table — every observed
    # hour/type appears in counts, so the derived values are
    # identical — and checkpoint it: un-cut lineage re-scanned events
    # per fork (3 scans, r9 audit; now 1)
    counts = ev.groupBy("hour", "event_type").agg(
        F.count("*").alias("n")
    ).localCheckpoint()
    bounds = counts.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    types = counts.select("event_type").distinct()
    spine = hours.crossJoin(types)
    return (
        spine.join(counts, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@query(
    "intersect_all_priorities",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — the multiset variant: each priority value
    survives min(count_F, count_O) times.  Complements the distinct
    set ops (`set_ops_custkeys`) and is a different Catalyst operator
    (left-semi-with-counters, not aggregate+join)."""
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.intersectAll(op)


@query(
    "except_all_priorities",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)
def except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference: a value occurring m times on
    the left and n on the right survives max(m-n, 0) times.  NOT the
    same as `subtract` (distinct difference, used by
    `except_custkeys`); registering both keeps the two semantics
    separately verified."""
    o = load(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.exceptAll(op)


@query(
    "unpivot_measures",
    """
    WITH a AS (
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                 AS DOUBLE) AS sum_price,
             CAST(round(sum(CAST(l_discount AS DECIMAL(18,4))), 2)
                 AS DOUBLE) AS sum_disc,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
                 AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_qty', sum_qty FROM a
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide measures to (measure, value) rows, the
    inverse of `pivot_linestatus`.  Spark's native ``unpivot`` (an
    Expand under the hood, one pass, no join); the oracle spells it as
    the equivalent UNION ALL."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.round(F.sum(F.col("l_discount").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_disc"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["sum_price", "sum_disc", "sum_qty"],
        "measure",
        "value",
    )


#: irregular, OVERLAPPING price bands — a point can match several, so the
#: join is a genuine interval join, not a disguised bucketing.
_PRICE_BANDS = [
    ("micro", 0, 25000),
    ("small", 20000, 60000),
    ("mid", 50000, 150000),
    ("large", 140000, 300000),
    ("jumbo", 280000, 500000),
    ("premium", 450000, 520000),
    ("vip_overlay", 100000, 400000),
    ("all_range", 0, 520000),
]


_BAND_W = 50000  # bin width for the equi-join rewrite


_BANDS_VALUES_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)


@query(
    "interval_join_binned",
    f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES_SQL})
    SELECT b.band AS band,
           count(*) AS n_orders,
           {money_sum_sql('o.o_totalprice')} AS sum_price
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join rewritten as an EQUI-join on bin ids.

    A pure interval predicate (no equality key) compiles to
    BroadcastNestedLoopJoin — O(|points| x |intervals|) compares and a
    mandatory broadcast, the classic 100 TB scale-killer for IP-range
    lookups, time-interval attribution, and genomic overlap joins.  The
    rewrite is the standard binning trick (DBR's range-join optimization,
    here hand-built from DataFrame ops): explode each interval into the
    fixed-width bins it overlaps, key each point by its bin, hash-join
    on the bin id, then re-check the exact predicate.  Each matching
    (point, interval) pair survives exactly once because the point lies
    in exactly one bin.  The plan becomes a shuffleable hash join that
    scales with both sides (plan-pinned: no BroadcastNestedLoopJoin, no
    CartesianProduct); bin width trades replication (wide intervals hit
    more bins) against join fan-in.

    Bands overlap deliberately (vip_overlay spans mid/large/jumbo) so
    multi-match semantics are exercised; money totals via the exact
    scaled-long path."""
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo long, hi long")
    binned = bands.withColumn(
        "bin",
        F.explode(F.sequence(F.expr(f"lo div {_BAND_W}"), F.expr(f"hi div {_BAND_W}"))),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_totalprice", F.floor(F.col("o_totalprice") / _BAND_W).alias("bin")
    )
    return (
        o.join(binned, "bin")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "federated_trimodal_join",
    """
    WITH tagged AS (
      SELECT doc_id, source,
             CASE WHEN doc_id < 100 THEN 'native'
                  WHEN doc_id < 200 THEN 'jsonl_gz'
                  ELSE 'parquet' END AS via,
             len(string_split(text, ' ')) AS n_words,
             n_chars
      FROM documents WHERE doc_id < 300
    )
    SELECT via, source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY via, source
    """,
)
def federated_trimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated query over THREE storage systems in one logical plan:
    a slice of the corpus served from native flo ``.events`` segments
    (binary codec scan), a slice from gzipped JSONL shards (the
    public-dataset wire format), and a slice from parquet — unioned,
    joined back to the parquet catalog for per-doc metadata, and
    aggregated together.  The contract a lakehouse engine owes its
    users: where a record LIVES never changes what a query SAYS.

    100 TB shape: each source contributes its own scan parallelism
    (segment files / gzip shards / parquet splits); the union is
    plan-level (no materialization); the metadata join is doc_id-keyed
    against reduced frames.  The oracle reconstructs all three slices
    from the parquet catalog alone, so any codec/export drift in the
    native or JSONL paths breaks the hash."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_segment import (
        read_flo_segments,
        write_flo_segments,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    tmp = scratch_dir("flo_federated_")

    # slice A -> native flo segments (text as the event payload)
    native_path = f"{tmp}/native"
    a = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1).alias("event_counter"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("actor"),
        F.lit(None).cast("long").alias("parent_counter"),
        F.lit(None).cast("int").alias("parent_actor"),
        F.timestamp_seconds(F.col("doc_id")).alias("timestamp"),
        F.concat(F.lit("/corpus/"), F.col("source")).alias("namespace"),
        F.encode("text", "utf-8").alias("data"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("partition"),
    )
    write_flo_segments(a, native_path, max_events_per_segment=40)
    native = read_flo_segments(spark, native_path).select(
        (F.col("event_counter") - 1).alias("doc_id"),
        F.expr("substring(namespace, 9)").alias("source"),
        F.lit("native").alias("via"),
        F.expr("size(split(decode(data, 'utf-8'), ' '))").alias("n_words"),
    )

    # slice B -> gzipped JSONL shards
    jdir = f"{tmp}/jsonl"
    d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
        "doc_id", "source", "text"
    ).repartition(3).write.option("compression", "gzip").json(jdir)
    jsonl = (
        spark.read.schema("doc_id long, source string, text string")
        .json(jdir)
        .select(
            "doc_id",
            "source",
            F.lit("jsonl_gz").alias("via"),
            F.expr("size(split(text, ' '))").alias("n_words"),
        )
    )

    # slice C -> the parquet catalog itself
    parquet = d.filter(F.col("doc_id") >= 200).select(
        "doc_id",
        "source",
        F.lit("parquet").alias("via"),
        F.expr("size(split(text, ' '))").alias("n_words"),
    )

    unioned = native.unionByName(jsonl).unionByName(parquet)
    meta = d.select("doc_id", "n_chars")
    return (
        unioned.join(meta, "doc_id")
        .groupBy("via", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "constraint_audit",
    """
    SELECT 'orders_pk_unique' AS constraint_name,
           (SELECT count(*) FROM
              (SELECT o_orderkey FROM orders GROUP BY o_orderkey
               HAVING count(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_qty_positive',
           (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'lineitem_discount_domain',
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT count(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    UNION ALL
    SELECT 'customer_acctbal_not_null',
           (SELECT count(*) FROM customer WHERE c_acctbal IS NULL)
    UNION ALL
    SELECT 'orders_totalprice_cap_300k',
           (SELECT count(*) FROM orders WHERE o_totalprice > 300000)
    """,
)
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit in one program:
    primary-key uniqueness, two referential-integrity checks
    (orders->customer, lineitem->orders via anti-joins), domain and
    positivity constraints, and a completeness check — each reported
    as (constraint_name, n_violations), so the audit output doubles as
    the quality dashboard feed and any regression is an exact integer
    diff.

    100 TB shape (r10, guide §2.3/§2.4 — one conditional-aggregate
    pass per audited fact table, no checkpoint):

    - ORDERS: one scan.  orders LEFT OUTER joins the distinct customer
      keys (distinct ⇒ no fan-out, outer ⇒ no row loss, so orders
      multiplicity is exactly preserved), then ONE two-level aggregate
      computes all four orders constraints: groupBy(o_orderkey) keeps
      per-key row counts (pk uniqueness) while summing the row-level
      violation markers (missing-customer, status domain, price cap),
      and a global fold over that census emits the four counters.
      sum(when(cond,1).otherwise(0)) == count(filter(cond)) — null
      predicates land in otherwise(0) exactly as a filter drops them;
      a NULL o_custkey joins nothing and counts as an FK violation
      exactly like NOT EXISTS.
    - LINEITEM: one scan.  Same marker trick — LEFT OUTER against the
      distinct o_orderkey list (1-column projected second orders scan;
      re-reading one pruned column beats checkpointing an O(|orders|)
      key census to executor-local storage, which r9's verdict flagged
      as the localCheckpoint scale hazard) folds the FK check into the
      same single aggregate as the two domain checks.
    - CUSTOMER: two 1-column scans (FK build side reads c_custkey, the
      completeness check reads c_acctbal) — column-disjoint, each a
      metadata-cheap pruned read; a combined scan would read both
      columns everywhere for no byte saved.

    The r9 shape paid 2 static scans per table plus an eagerly
    checkpointed orders key census; this removes the checkpoint (and
    its build-time execution side effect) and halves the fact I/O.
    Output rows are byte-identical — the oracle SQL is untouched."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def cnt(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    cust_keys = c.select("c_custkey").distinct()
    # one orders scan: census keyed on the pk, violation markers summed
    # per key, then folded globally (the census never materializes
    # anywhere but inside the running aggregation)
    o_census = (
        o.join(cust_keys, o["o_custkey"] == cust_keys["c_custkey"], "left_outer")
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("key_cnt"),
            cnt(F.col("c_custkey").isNull()).alias("fk_viol"),
            cnt(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_viol"),
            # the totalprice cap is a soft expectation that HAS
            # violations by design: with every hard constraint at
            # zero, a checker that always returned 0 would pass
            # vacuously — that row proves the counting path
            cnt(F.col("o_totalprice") > 300000).alias("cap_viol"),
        )
    )
    o_all = o_census.agg(
        cnt(F.col("key_cnt") > 1).alias("pk"),
        F.sum("fk_viol").cast("long").alias("fk"),
        F.sum("status_viol").cast("long").alias("status"),
        F.sum("cap_viol").cast("long").alias("cap"),
    ).selectExpr(
        "stack(4, 'orders_pk_unique', pk,"
        " 'orders_fk_customer', fk,"
        " 'orders_status_domain', status,"
        " 'orders_totalprice_cap_300k', cap)"
        " AS (constraint_name, n_violations)"
    )
    # one lineitem scan: FK marker + both domain checks in one fold
    ord_keys = o.select("o_orderkey").distinct()
    li_all = (
        li.join(ord_keys, li["l_orderkey"] == ord_keys["o_orderkey"], "left_outer")
        .agg(
            cnt(F.col("o_orderkey").isNull()).alias("fk"),
            cnt(F.col("l_quantity") <= 0).alias("qty"),
            cnt(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ).alias("disc"),
        )
        .selectExpr(
            "stack(3, 'lineitem_fk_orders', fk,"
            " 'lineitem_qty_positive', qty,"
            " 'lineitem_discount_domain', disc)"
            " AS (constraint_name, n_violations)"
        )
    )
    c_null = c.filter(F.col("c_acctbal").isNull()).agg(
        F.count("*").cast("long").alias("n_violations")
    ).select(F.lit("customer_acctbal_not_null").alias("constraint_name"), "n_violations")
    out = o_all
    for ch in (li_all, c_null):
        out = out.unionByName(ch)
    return out


@query(
    "variant_props_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           TRUE AS schema_ok
    FROM events GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured event properties through Spark 4's VARIANT type
    (the modern JSON-at-scale story): ``parse_json`` once in the scan
    stage into the binary variant encoding, typed ``variant_get``
    extraction, integer aggregation per event type — plus SCHEMA
    DISCOVERY: ``schema_of_variant_agg`` infers each group's shape
    from the data, and the entry asserts it equals the expected
    OBJECT<k: BIGINT> (a payload drift breaks the boolean, hence the
    hash).

    VARIANT beats string-JSON at 100 TB because the binary encoding
    parses once at ingest and every downstream ``variant_get`` is a
    direct offset lookup, not a re-parse; the plan stays one
    map-side-combinable aggregate over scan-stage expressions."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.expr("parse_json(props)").alias("v")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("variant_get(v, '$.k', 'long')"))
        .cast("long")
        .alias("sum_k"),
        F.min(F.expr("variant_get(v, '$.k', 'long')"))
        .cast("long")
        .alias("min_k"),
        F.max(F.expr("variant_get(v, '$.k', 'long')"))
        .cast("long")
        .alias("max_k"),
        (
            F.expr("schema_of_variant_agg(v)") == F.lit("OBJECT<k: BIGINT>")
        ).alias("schema_ok"),
    )


@query(
    "bloom_pruned_join",
    f"""
    SELECT l.l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           {_REVENUE_SQL} AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1
    """,
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom) join pruning written as a DataFrame
    program — the pattern Spark's
    ``spark.sql.optimizer.runtime.bloomFilter`` injects, built
    explicitly so the mechanics are visible and testable: the FILTERED
    dim side (urgent orders in 1996-H1) folds its join keys into an
    m-bit Bloom bitmap with k=3 xxhash64 probes — entirely JVM-side
    aggregation (bit_or of shifted bits grouped by word) — the bitmap
    broadcasts as ONE array<long> row, and the fact scan drops
    non-matching lineitems BEFORE the join via pure JVM bit tests.
    False positives survive the filter and die in the real equi-join,
    so the result is bit-identical to the unpruned join (the oracle IS
    the unpruned join); false negatives are impossible.

    100 TB shape: the win is shuffle-volume — only lineitems passing
    the bitmap enter the join exchange (~dim-selectivity of the fact,
    vs 100% unpruned).  The bitmap is O(m) = 16 KiB regardless of
    data scale (m sizes off the EXPECTED dim count; saturated bitmaps
    degrade to no pruning, never to wrong results).  No driver
    collect: the bitmap rides a broadcast join.  Plan shape (bitmap
    build broadcast + fact-side filter before the shuffle) is pinned
    in tests/test_plans.py."""
    M_BITS, N_WORDS, K = 1 << 17, (1 << 17) // 64, 3

    o = load(spark, sf_dir, "orders")
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    ).select("o_orderkey")

    seeds = F.sequence(F.lit(0), F.lit(K - 1))
    bits = dim.select(
        F.explode(seeds).alias("seed"), "o_orderkey"
    ).select(
        F.pmod(F.xxhash64("o_orderkey", "seed"), F.lit(M_BITS)).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("int").alias("word"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
        ).alias("bit"),
    )
    bitmap = (
        bits.groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("wm")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_WORDS - 1)),
                lambda w: F.coalesce(
                    F.element_at("wm", w.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("words")
        )
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    # hash once per seed: materialize the K bit positions, then test
    # each — the probe runs per fact row, so K hash evaluations, not 2K
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(K - 1)),
        lambda s: F.pmod(F.xxhash64("l_orderkey", s), F.lit(M_BITS)),
    )
    probe_ok = F.forall(
        positions,
        lambda pos: (
            F.element_at("words", (pos / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (pos % 64).cast("int"),
                )
            )
            != 0
        ),
    )
    pruned = (
        li.join(F.broadcast(bitmap))  # ONE 16 KiB row
        .filter(probe_ok)
        .drop("words")
    )
    return (
        pruned.join(dim, pruned["l_orderkey"] == dim["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count("*").alias("n_items"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@query(
    "recursive_cte_order_chains",
    """
    WITH r AS (
      SELECT o_orderkey, o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rk
      FROM orders
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(first_value(o_orderkey) OVER (PARTITION BY o_custkey
                ORDER BY rk) AS BIGINT) AS chain_root,
           CAST(rk - 1 AS BIGINT) AS depth
    FROM r
    """,
)
def recursive_cte_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's RECURSIVE CTE (SPARK-24497), exercised on a real
    multi-level walk: each customer's orders form a chain in
    (o_orderdate, o_orderkey) succession; the recursive query seeds at
    every chain head (the customer's first order) and walks next-links
    one hop per recursion level, labeling each order with its chain
    root and depth — customers place ~10 orders, so the recursion
    genuinely iterates at every SF (cteRecursionLevelLimit raised to
    200 and the walk provably terminates: edges strictly advance the
    per-customer rank).  The ORACLE computes the same labels
    NON-recursively from rank arithmetic — two algorithms, one exact
    integer answer, so a drift in either engine's recursion or
    ordering semantics breaks the hash.

    100 TB shape: the edge list is one customer-partitioned window;
    each recursion level is an equi-join on o_orderkey (dst keyed by
    src) — Spark executes levels as iterative joins over the frontier,
    which shrinks as chains end; depth is bounded by max orders per
    customer (domain-bounded, not SF-bounded)."""
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "200")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_rcte_v")
    return spark.sql(
        """
        WITH RECURSIVE
        r AS (
          SELECT o_orderkey, o_custkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rk
          FROM orders_rcte_v
        ),
        e AS (
          SELECT a.o_orderkey AS src, b.o_orderkey AS dst
          FROM r a JOIN r b
            ON a.o_custkey = b.o_custkey AND b.rk = a.rk + 1
        ),
        walk AS (
          SELECT o_custkey, o_orderkey AS chain_root,
                 o_orderkey, 0 AS depth
          FROM r WHERE rk = 1
          UNION ALL
          SELECT w.o_custkey, w.chain_root, e.dst, w.depth + 1
          FROM walk w JOIN e ON e.src = w.o_orderkey
        )
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CAST(o_custkey AS BIGINT) AS o_custkey,
               CAST(chain_root AS BIGINT) AS chain_root,
               CAST(depth AS BIGINT) AS depth
        FROM walk
        """
    )


@query(
    "lateral_topn_per_customer",
    """
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
           CAST(t.o_orderkey AS BIGINT) AS o_orderkey,
           t.o_totalprice AS o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    'top-N related rows for each outer row' idiom SQL users reach for
    before discovering window functions: each BUILDING-segment
    customer pulls its 2 highest-value orders (deterministic ties by
    orderkey).  Both engines run the textual LATERAL; DuckDB executes
    it as a correlated scan while Spark DECORRELATES it into a ranked
    join — same rows either way, which is exactly the semantics
    contract worth pinning.

    100 TB shape: Catalyst's decorrelation turns the per-row rescan
    into one key-partitioned window + equi-join (no O(customers)
    rescans of orders); prices pass through unaggregated so no
    rounding contract is needed."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_lat_v")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat_v")
    return spark.sql(
        """
        SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
               CAST(t.o_orderkey AS BIGINT) AS o_orderkey,
               t.o_totalprice AS o_totalprice
        FROM cust_lat_v c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat_v o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@query(
    "modern_aggregates_suite",
    """
    SELECT l_returnflag,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_large_qty,
           bool_and(l_quantity > 0) AS all_qty_positive,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_div_by_zero,
           CAST(NULL AS BIGINT) AS overflow_is_null
    FROM lineitem GROUP BY l_returnflag
    """,
)
def modern_aggregates_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern SQL aggregate/error-handling surface in one entry:
    ``count_if`` / ``bool_and`` / ``bool_or`` (Spark 3.x additions SQL
    users expect from Postgres/DuckDB), plus the ANSI-mode ``try_*``
    arithmetic family — this session runs ANSI, where a plain division
    by zero or a long overflow RAISES, so ``try_divide`` and
    ``try_add`` returning NULL is load-bearing semantics, pinned here
    against literal expectations the oracle mirrors: every
    try_divide(x, 0) row counts 0 non-nulls, and
    try_add(BIGINT_MAX, 1) is NULL per group.

    100 TB shape: one map-side-combinable aggregate, single shuffle of
    partials; the try_* expressions are scan-stage JVM codegen."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).cast("long").alias("n_large_qty"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count("*").alias("n_rows"),
        F.count(
            F.try_divide(F.col("l_quantity"), F.col("l_tax") - F.col("l_tax"))
        )
        .cast("long")
        .alias("n_div_by_zero"),
        F.max(
            F.try_add(F.lit(9223372036854775807), F.lit(1).cast("long"))
        )
        .cast("long")
        .alias("overflow_is_null"),
    )


@query(
    "listagg_order_manifest",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sampled,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS first_keys
    FROM r WHERE rn <= 5 GROUP BY o_orderpriority
    """,
)
def listagg_order_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 ``LISTAGG ... WITHIN GROUP (ORDER BY ...)`` — new in
    Spark 4 — building a deterministic per-group manifest string (the
    5 lowest order keys per priority, comma-joined in key order);
    DuckDB spells the same aggregate ``string_agg(... ORDER BY ...)``.
    An unordered listagg would be partition-order-dependent; the
    WITHIN GROUP ordering is what makes the result hashable at all —
    which is exactly the semantics worth pinning.

    100 TB shape: the rank window bounds each group's contribution to
    5 rows before the aggregate, so the manifest string is O(k) per
    group regardless of data scale."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    r = o.select("o_orderpriority", "o_orderkey").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= 5)
    r.createOrReplaceTempView("listagg_sample_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_sampled,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS first_keys
        FROM listagg_sample_v GROUP BY o_orderpriority
        """
    )


@query(
    "bucketed_colocated_join",
    f"""
    SELECT l.l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           {_REVENUE_SQL} AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-level BUCKETING — the shuffle you pay once at write time
    instead of on every join: both fact tables save bucketed (and
    sorted) by the join key into 8 buckets, and the subsequent join
    reads co-located buckets with NO exchange on either side (Spark 4
    no longer propagates bucket-file sort order, so cheap IN-PARTITION
    sorts remain — the eliminated shuffle is the payoff) — at 100 TB
    this is THE lever for a fact-fact join that runs daily (a nightly bucketed rewrite amortizes across every
    downstream join/aggregation on the key).  The result is
    bit-identical to the plain join (the oracle IS the plain join);
    the zero-exchange plan shape is pinned in tests/test_plans.py.

    100 TB shape: bucket count scales with data (8 here fits the test
    corpus; a cluster uses thousands so bucket files stay
    task-sized); bucket pruning and sorted-merge reads follow free.
    The write inside this entry is the one-time cost being
    demonstrated, not a per-query cost."""
    from flo_spark.queries import scratch_dir

    scratch = scratch_dir("flo_bucketed_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    spark.sql("DROP TABLE IF EXISTS flo_bucketed_orders")
    spark.sql("DROP TABLE IF EXISTS flo_bucketed_lineitem")
    # repartition onto the bucket key first: each task then writes
    # exactly one file per bucket (without this every task emits a
    # file for every bucket — a small-file explosion — AND Spark can
    # no longer trust per-bucket sortedness, so the join re-sorts)
    (
        o.repartition(8, "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{scratch}/orders")
        .mode("overwrite")
        .saveAsTable("flo_bucketed_orders")
    )
    (
        li.repartition(8, "l_orderkey")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{scratch}/lineitem")
        .mode("overwrite")
        .saveAsTable("flo_bucketed_lineitem")
    )
    bo = spark.table("flo_bucketed_orders").filter(
        F.col("o_orderstatus") == "F"
    )
    bl = spark.table("flo_bucketed_lineitem")
    return (
        bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count("*").alias("n_items"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@query(
    "sql_scripting_threshold_report",
    """
    WITH t AS (
      SELECT CAST(floor(count(*) / 200) AS BIGINT) AS min_n FROM orders
    ),
    cap AS (
      SELECT CASE WHEN min_n <= 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(power(2, length(bin(min_n - 1))) AS BIGINT)
             END AS pow2_cap, min_n
      FROM t
    )
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(floor((sum(CAST(floor((o.o_totalprice) * 10000 + 0.5)
                                AS BIGINT)) + 50) / 100.0) / 100.0
                AS DOUBLE) AS sum_price,
           cap.min_n AS min_n,
           cap.pow2_cap AS pow2_cap
    FROM orders o CROSS JOIN cap
    GROUP BY o.o_orderpriority, cap.min_n, cap.pow2_cap
    HAVING count(*) >= cap.min_n
    """,
)
def sql_scripting_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN..END compound statements, local
    DECLARE variables, SET VAR from a scalar subquery, and a WHILE
    loop) driving a real report: the script derives a dynamic count
    threshold (|orders|/200) into a variable, raises a second variable
    to the smallest power of two >= that threshold by LOOPING
    (``cap = cap * 2`` until it clears), then returns the per-priority
    money report filtered by the computed threshold.  The oracle has
    no procedural engine, so it derives the loop's fixed point in
    closed form (2^bitlength(n-1)) — two algorithms, one exact integer,
    which is precisely what makes a control-flow feature
    hash-checkable.

    Money uses the exact scaled-long spelling (queries.money_sum_sql)
    written inline in BOTH engines' SQL with a final CAST AS DOUBLE —
    SQL-text literals like 100.0 parse as DECIMAL (unlike the
    DataFrame API's lit(100.0)), and the two engines format decimals
    differently.  The threshold is CAST(floor(count/200) AS BIGINT):
    an explicit floor because double->int CASTs disagree across
    engines (Spark truncates, DuckDB rounds — 7.5 became 7 vs 8).

    100 TB shape: scripting is driver-side control flow around
    ordinary Catalyst statements — the scalar-subquery SET VAR is a
    1-row aggregate, the loop is O(log n) driver arithmetic touching
    no data, and the report is one map-side-combinable aggregate of
    the orders scan."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_script_v")
    return spark.sql(
        """
        BEGIN
          DECLARE min_n BIGINT DEFAULT 0;
          DECLARE cap BIGINT DEFAULT 1;
          SET min_n =
            (SELECT CAST(floor(count(*) / 200) AS BIGINT)
             FROM orders_script_v);
          WHILE cap < min_n DO
            SET cap = cap * 2;
          END WHILE;
          SELECT o_orderpriority,
                 count(*) AS n_orders,
                 CAST(floor((sum(CAST(floor((o_totalprice) * 10000 + 0.5)
                                      AS BIGINT)) + 50) / 100.0) / 100.0
                      AS DOUBLE) AS sum_price,
                 min_n AS min_n,
                 cap AS pow2_cap
          FROM orders_script_v
          GROUP BY o_orderpriority
          HAVING count(*) >= min_n;
        END
        """
    )


@query(
    "map_hof_suite",
    """
    WITH per AS (
      SELECT source, lang, count(*) AS docs, sum(n_chars) AS chars
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(docs) AS total FROM per GROUP BY source)
    SELECT p.source, p.lang,
           CAST(floor(p.chars / p.docs) AS BIGINT) AS avg_chars,
           CAST(floor(1000 * p.docs / t.total) AS BIGINT) AS docs_permille
    FROM per p JOIN tot t USING (source)
    WHERE p.docs >= 2
    """,
)
def map_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map higher-order-function surface completed —
    ``map_zip_with``, ``transform_values``, ``map_filter``,
    ``map_contains_key`` (complementing `map_funcs_priority_profile`'s
    construct/element_at/keys/values row): per source, a lang->docs
    map and a lang->chars map are zipped into avg-chars-per-doc,
    doc counts transform into per-mille shares of the source total,
    and map_filter keeps langs with >= 2 docs — then everything
    EXPLODES back to plain rows so the oracle (which has no map
    types in common with Spark's hash) verifies pure integers.
    Divisions are floor() over exact integers with >= 1/500 integer
    distance, engine-identical.

    100 TB shape: one (source, lang) aggregation, one source-level
    fold to maps (bounded: |langs| entries per source), HOFs evaluate
    JVM-side inside codegen, explode restores row parallelism —
    maps never hold high-cardinality state."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count("*").alias("docs"), F.sum("n_chars").alias("chars")
    )
    folded = per.groupBy("source").agg(
        F.map_from_entries(
            F.collect_list(F.struct("lang", "docs"))
        ).alias("m_docs"),
        F.map_from_entries(
            F.collect_list(F.struct("lang", "chars"))
        ).alias("m_chars"),
        F.sum("docs").alias("total"),
    )
    z = folded.select(
        "source",
        "total",
        F.map_zip_with(
            "m_docs", "m_chars", lambda k, d_, c: F.floor(c / d_)
        ).alias("m_avg"),
        F.transform_values(
            "m_docs", lambda k, v: F.floor(1000 * v / F.col("total"))
        ).alias("m_permille"),
        F.map_filter("m_docs", lambda k, v: v >= 2).alias("m_kept"),
    )
    return (
        z.select(
            "source",
            "m_permille",
            "m_kept",
            F.explode("m_avg").alias("lang", "avg_chars"),
        )
        .filter(F.map_contains_key("m_kept", F.col("lang")))
        .select(
            "source",
            "lang",
            F.col("avg_chars").cast("long").alias("avg_chars"),
            F.element_at("m_permille", F.col("lang"))
            .cast("long")
            .alias("docs_permille"),
        )
    )


@query(
    "collation_case_insensitive_stats",
    """
    WITH mixed AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
               AS lang_mixed,
             n_chars
      FROM documents
    )
    SELECT lower(lang_mixed) AS lang,
           CASE lower(lang_mixed)
             WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
             WHEN 'fr' THEN 'french' WHEN 'es' THEN 'spanish'
             WHEN 'zh' THEN 'chinese' ELSE 'other' END AS lang_name,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM mixed
    GROUP BY lower(lang_mixed)
    """,
)
def collation_case_insensitive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: comparison semantics carried by the TYPE
    (``COLLATE UTF8_LCASE``) instead of smeared through lower() calls
    — grouping AND joining match case-insensitively while the planner
    still hashes/broadcasts normally.  A mixed-case language code
    (upper-cased on even doc_ids) groups under the collated column,
    and a 5-row UPPERCASE lookup dim joins onto it across case — both
    would silently fragment under binary collation.

    The group representative under a case-insensitive collation is
    whichever casing the engine saw first — nondeterministic — so the
    output key is normalized (lower + cast back to binary collation)
    before hashing; the oracle replays with lower() grouping, which is
    the semantic the collation subsumes.

    100 TB shape: collation is scan/shuffle-neutral (hash of the
    collation key), so this costs exactly what binary grouping costs —
    versus the lower()-everywhere rewrite which re-derives the
    expression per use site and blocks stats-based pruning on the
    original column."""
    d = load(spark, sf_dir, "documents")
    mixed = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("lang_mixed"),
        "n_chars",
    )
    dim = spark.createDataFrame(
        [
            ("EN", "english"),
            ("DE", "german"),
            ("FR", "french"),
            ("ES", "spanish"),
            ("ZH", "chinese"),
        ],
        "code string, lang_name string",
    )
    grouped = (
        mixed.groupBy(F.collate("lang_mixed", "UTF8_LCASE").alias("k"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    joined = grouped.join(
        F.broadcast(dim),
        F.col("k") == F.collate("code", "UTF8_LCASE"),
        "left",
    )
    return joined.select(
        F.collate(F.lower("k"), "UTF8_BINARY").alias("lang"),
        F.coalesce("lang_name", F.lit("other")).alias("lang_name"),
        "n_docs",
        "sum_chars",
    )


@query(
    "transpose_quantity_buckets",
    """
    WITH b AS (
      SELECT CASE WHEN l_quantity < 10 THEN 'low'
                  WHEN l_quantity <= 30 THEN 'mid'
                  ELSE 'high' END AS bucket,
             CAST(l_quantity AS BIGINT) AS qty, l_partkey
      FROM lineitem
    ),
    a AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(qty) AS BIGINT) AS sum_qty,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM b GROUP BY bucket
    )
    SELECT 'n_items' AS key,
           max(CASE WHEN bucket = 'high' THEN n_items END) AS high,
           max(CASE WHEN bucket = 'low' THEN n_items END) AS low,
           max(CASE WHEN bucket = 'mid' THEN n_items END) AS mid
    FROM a
    UNION ALL
    SELECT 'sum_qty',
           max(CASE WHEN bucket = 'high' THEN sum_qty END),
           max(CASE WHEN bucket = 'low' THEN sum_qty END),
           max(CASE WHEN bucket = 'mid' THEN sum_qty END)
    FROM a
    UNION ALL
    SELECT 'n_parts',
           max(CASE WHEN bucket = 'high' THEN n_parts END),
           max(CASE WHEN bucket = 'low' THEN n_parts END),
           max(CASE WHEN bucket = 'mid' THEN n_parts END)
    FROM a
    """,
)
def transpose_quantity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``DataFrame.transpose`` — the measures-as-rows pivot
    of a summary frame (index values become columns, lexically
    ordered; the original column names land in ``key``).  Quantity
    buckets are derived (low/mid/high over the uniform 1..50 domain),
    so every column exists at every SF and the transposed schema is
    stable; all measures share LONG, the least-common-type rule
    transpose enforces.  The oracle writes the transpose out longhand
    as a conditional-aggregation UNION — same relation, no transpose
    primitive needed.

    100 TB shape: the corpus-scale work is the 3-group aggregate
    (map-side combinable, one shuffle of partials); transpose itself
    runs on the 3x4 summary — a driver-sized frame by construction
    (transpose collects the index column internally, which is why it
    must only ever see pre-aggregated inputs; pinning that discipline
    is the point of this entry)."""
    b = load(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") <= 30, "mid")
        .otherwise("high")
        .alias("bucket"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_partkey",
    )
    a = b.groupBy("bucket").agg(
        F.count("*").alias("n_items"),
        F.sum("qty").alias("sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return a.transpose("bucket")


@query(
    "proximity_join_grid_2d",
    """
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           a.user_id AS a_user, b.user_id AS b_user
    FROM p a JOIN p b
      ON a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 7200000000
     AND abs(a.value - b.value) <= 20.0
    """,
)
def proximity_join_grid_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D proximity self-join — purchases within 2 hours AND within
    20.0 in value of each other — rewritten as an EQUI-join on a 2-D
    grid cell (time bin x value bin, bin width = threshold in each
    dimension): the right side sits in its home cell, the left side
    probes the 3x3 neighborhood, and the exact predicate filters the
    candidates.  Each qualifying pair matches EXACTLY once (the
    right row's home cell is unique, so only one of the left row's 9
    probes can land on it) — no distinct pass needed.  Time is
    compared in exact integer microseconds (epoch_us // bin on both
    engines; Spark's unix_timestamp would FLOOR to seconds and
    disagree at boundaries), value in IEEE doubles both engines
    evaluate identically.  The oracle runs the plain theta join.

    100 TB shape: this is the spatial-join pattern — the theta join
    is a nested loop (the 100 TB killer, what interval_join_binned
    fixes in 1-D); the grid rewrite is a keyed shuffle on cell id
    with 9x left amplification, candidate count bounded by cell
    occupancy instead of |L|x|R|.  Plan-pinned: no
    BroadcastNestedLoopJoin/CartesianProduct."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "value",
        )
        # checkpointed: both sides of the grid self-join derive from
        # it — un-cut lineage re-scanned events per side (2 scans,
        # r9 audit; now 1)
        .localCheckpoint()
    )
    TB = 7200000000  # 2 h in microseconds == the time threshold
    VB = 20.0
    right = p.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("us").alias("b_us"),
        F.col("value").alias("b_value"),
        F.expr(f"us div {TB}").alias("tcell"),
        F.floor(F.col("value") / VB).alias("vcell"),
    )
    left = (
        p.select(
            F.col("event_id").alias("a_id"),
            F.col("user_id").alias("a_user"),
            F.col("us").alias("a_us"),
            F.col("value").alias("a_value"),
            F.explode(
                F.expr(f"array(us div {TB} - 1, us div {TB}, us div {TB} + 1)")
            ).alias("tcell"),
        )
        .withColumn(
            "vcell",
            F.explode(
                F.array(
                    F.floor(F.col("a_value") / VB) - 1,
                    F.floor(F.col("a_value") / VB),
                    F.floor(F.col("a_value") / VB) + 1,
                )
            ),
        )
    )
    return (
        left.join(right, ["tcell", "vcell"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_us") - F.col("b_us")) <= TB)
            & (F.abs(F.col("a_value") - F.col("b_value")) <= VB)
        )
        .select("a_id", "b_id", "a_user", "b_user")
    )


@query(
    "interval_union_sweepline",
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ),
    agg AS (
      SELECT user_id, island, max(e) - min(s) AS covered
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(covered) AS BIGINT) AS covered_us,
           CAST(max(covered) AS BIGINT) AS longest_us
    FROM agg GROUP BY user_id
    """,
)
def interval_union_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals per user — total ONLINE time when every
    event opens a 30-minute presence window and overlaps must not
    double-count — by the sweep-line-as-window construction: running
    max of interval ends over the time-ordered prefix marks island
    starts (start > max end so far = a gap), a running sum of the
    flags numbers the islands, and each island contributes
    max(end) - min(start).  All arithmetic in exact integer
    microseconds (epoch_us) — no float time.

    100 TB shape: ONE hash shuffle on user_id feeding two
    user-partitioned window passes and a two-level aggregation —
    the sort is per-user inside partitions, never global; interval
    count per user bounds window state.  This is the scan-friendly
    form of interval union; an interval tree would be a driver-side
    structure with no distributed analog."""
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("s"),
        (F.expr("unix_micros(ts)") + 1800000000).alias("e"),
    )
    wp = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "pmax", F.max("e").over(wp.rowsBetween(Window.unboundedPreceding, -1))
    )
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1)
            .otherwise(0)
        ).over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return agg.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("covered").cast("long").alias("covered_us"),
        F.max("covered").cast("long").alias("longest_us"),
    )


@query(
    "gaps_islands_event_runs",
    """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rnt
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, rn - rnt AS grp, count(*) AS run_len
      FROM o GROUP BY user_id, event_type, rn - rnt
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS max_run_len,
           CAST(sum(run_len) AS BIGINT) AS n_events
    FROM runs GROUP BY user_id, event_type
    """,
)
def gaps_islands_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — maximal runs of consecutive same-type
    events per user — via the classic rn-difference construction:
    two row_numbers (one over the user's full sequence, one per
    (user, type)) differ by a constant exactly within a consecutive
    run, so the difference IS the run id.  Deterministic total order
    (ts, event_id) makes run boundaries engine-independent.  Output:
    per (user, type) run count, longest run, event count — the
    session-behavior shape (e.g. N consecutive errors) that plain
    aggregation can't see.

    100 TB shape: one hash shuffle on user_id; both window passes
    and the two aggregations reuse that partitioning (the per-type
    row_number only sub-sorts inside it) — no second corpus
    shuffle."""
    o = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
        F.row_number()
        .over(
            Window.partitionBy("user_id", "event_type").orderBy(
                "ts", "event_id"
            )
        )
        .alias("rnt"),
    )
    runs = o.groupBy(
        "user_id", "event_type", (F.col("rn") - F.col("rnt")).alias("grp")
    ).agg(F.count("*").alias("run_len"))
    return runs.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run_len"),
        F.sum("run_len").cast("long").alias("n_events"),
    )


@query(
    "pandas_api_on_spark_stats",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(floor((sum(CAST(floor(o_totalprice * 10000 + 0.5)
                                AS BIGINT)) + 50) / 100.0) / 100.0
                AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def pandas_api_on_spark_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``pyspark.pandas``) — the third query
    surface after DataFrame and SQL: a pandas-shaped program
    (``groupby`` + ``agg`` + ``nunique`` on a ``ps.DataFrame``) that
    compiles to the SAME distributed plans, proven by hash-matching
    the SQL oracle.  Money stays exact by scaling to cents BEFORE the
    pandas-API fold (the money_sum discipline survives the API
    change — sums run on longs, the rounding happens once at the
    end on the Spark DataFrame).

    100 TB shape: ps operations lower to Catalyst — this groupby is
    the same map-side-combinable aggregate the DataFrame API emits
    (one shuffle of partials; nunique = count distinct expansion).
    The caveat pinned here: ps defaults that pull data to the driver
    (``to_pandas``, implicit default-index attachment) are avoided —
    the frame converts back via ``to_spark()``, never the driver."""
    import pyspark.pandas as ps

    odf = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_custkey",
        money_scaled(F.col("o_totalprice")).alias("cents"),
    )
    pdf = odf.pandas_api()
    g = pdf.groupby("o_orderpriority").agg(
        n_orders=("o_custkey", "count"),
        n_customers=("o_custkey", "nunique"),
        cents=("cents", "sum"),
    )
    out = g.reset_index().to_spark()
    return out.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_customers").cast("long").alias("n_customers"),
        (
            F.floor((F.col("cents") + F.lit(50)) / F.lit(100.0))
            / F.lit(100.0)
        ).alias("sum_price"),
    )


@query(
    "asof_forward_nearest_click",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             CASE WHEN event_type = 'click' THEN event_id END AS cid,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS cus,
             event_type
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT user_id, event_id, us, event_type,
             first_value(cid IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nid,
             first_value(cus IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nus,
             last_value(cid IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pid,
             last_value(cus IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pus
      FROM seq
    )
    SELECT user_id, event_id AS purchase_id,
           CASE WHEN nus - us <= 3600000000 THEN nid END AS next_click_id,
           CASE
             WHEN pid IS NULL AND nid IS NULL THEN NULL
             WHEN nid IS NULL THEN pid
             WHEN pid IS NULL THEN nid
             WHEN us - pus <= nus - us THEN pid
             ELSE nid
           END AS nearest_click_id
    FROM w WHERE event_type = 'purchase'
    """,
)
def asof_forward_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD and NEAREST as-of joins — the two directions
    ``asof_last_click_before_purchase`` (backward) doesn't cover:
    for every purchase, the next click strictly after it (capped at
    1 hour — pandas merge_asof direction='forward' + tolerance) and
    the nearest click in either direction (ties break to the earlier
    side, merge_asof direction='nearest' semantics).  Implemented as
    the union-sort construction: one per-user time-ordered sequence,
    forward = first_value IGNORE NULLS over the strict-following
    frame, backward = last_value over the strict-preceding frame —
    no join at all, which also makes 'strictly after' exact (a
    same-instant click is ordered by (ts, event_id) deterministically
    on both engines).  Gaps compare in exact integer microseconds.

    100 TB shape: ONE hash shuffle on user_id; both as-of directions
    and the nearest arbitration ride the same partitioning — versus
    the range-join formulation which shuffles twice and explodes
    candidates.  This is how the engine's as-of family scales: sort
    once per key, answer every direction from the frames."""
    seq = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_type",
            F.when(
                F.col("event_type") == "click", F.col("event_id")
            ).alias("cid"),
            F.when(
                F.col("event_type") == "click", F.expr("unix_micros(ts)")
            ).alias("cus"),
        )
    )
    wp = Window.partitionBy("user_id").orderBy("us", "event_id")
    fol = wp.rowsBetween(1, Window.unboundedFollowing)
    pre = wp.rowsBetween(Window.unboundedPreceding, -1)
    w = seq.select(
        "user_id",
        "event_id",
        "us",
        "event_type",
        F.first("cid", ignorenulls=True).over(fol).alias("nid"),
        F.first("cus", ignorenulls=True).over(fol).alias("nus"),
        F.last("cid", ignorenulls=True).over(pre).alias("pid"),
        F.last("cus", ignorenulls=True).over(pre).alias("pus"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.when(
            F.col("nus") - F.col("us") <= 3600000000, F.col("nid")
        ).alias("next_click_id"),
        F.when(
            F.col("pid").isNull() & F.col("nid").isNull(), F.lit(None)
        )
        .when(F.col("nid").isNull(), F.col("pid"))
        .when(F.col("pid").isNull(), F.col("nid"))
        .when(
            F.col("us") - F.col("pus") <= F.col("nus") - F.col("us"),
            F.col("pid"),
        )
        .otherwise(F.col("nid"))
        .cast("long")
        .alias("nearest_click_id"),
    )


@query(
    "pareto_frontier_orders",
    """
    WITH pts AS (
      SELECT CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)
               AS price_scaled,
             max(o_orderdate) AS best_date,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    sky AS (
      SELECT price_scaled, best_date, n_orders,
             max(best_date) OVER (
               ORDER BY price_scaled DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_above
      FROM pts
    )
    SELECT price_scaled, best_date, CAST(n_orders AS BIGINT) AS n_orders
    FROM sky
    WHERE best_above IS NULL OR best_date > best_above
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query: the orders not dominated in
    the (total price, order date) plane — maximize both.  Classic
    Borzsony-Kossmann skyline reduced to one sorted pass: collapse to
    distinct price points first (only the max date per price can
    survive), then a price-descending running max of dates marks a
    point dominated iff some strictly-higher-price point already
    reached its date (ties on price collapse by construction; equal
    date under strictly higher price IS dominated — the standard
    one-strict-coordinate rule).  Money on the exact 1e4-scaled
    integer grid; dates compare exactly.

    100 TB shape: the pre-aggregation shrinks the corpus to
    |distinct prices| before the only ordered pass; the window's
    global sort runs on that bounded frontier-candidate set, never on
    orders (same documented spine-scale trade as the sweepline
    entries).  A 2-dim skyline is one window; higher dims re-run the
    pass per added dimension.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B)."""
    pts = (
        load(spark, sf_dir, "orders")
        .groupBy(money_scaled(F.col("o_totalprice")).alias("price_scaled"))
        .agg(
            F.max("o_orderdate").alias("best_date"),
            F.count("*").alias("n_orders"),
        )
    )
    w = (
        Window.orderBy(F.col("price_scaled").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = pts.withColumn("best_above", F.max("best_date").over(w))
    return sky.filter(
        F.col("best_above").isNull()
        | (F.col("best_date") > F.col("best_above"))
    ).select(
        "price_scaled",
        "best_date",
        F.col("n_orders").cast("long").alias("n_orders"),
    )


@query(
    "sql_syntax_surface_suite",
    """
    WITH tier(seg, tier) AS (
      VALUES ('AUTOMOBILE', 'retail'), ('BUILDING', 'b2b'),
             ('FURNITURE', 'retail'), ('MACHINERY', 'b2b'),
             ('HOUSEHOLD', 'retail')
    ),
    agg AS (
      SELECT t.tier, c.c_mktsegment AS segment,
             count(*) AS n_customers,
             sum(CAST(floor(c.c_acctbal * 10000 + 0.5) AS BIGINT))
                 AS bal_x1e4
      FROM customer c JOIN tier t ON t.seg = c.c_mktsegment
      GROUP BY t.tier, c.c_mktsegment
    )
    SELECT tier, segment, 'n_customers' AS metric,
           CAST(n_customers AS BIGINT) AS value
    FROM agg
    UNION ALL
    SELECT tier, segment, 'bal_x1e4' AS metric,
           CAST(bal_x1e4 AS BIGINT) AS value
    FROM agg
    """,
)
def sql_syntax_surface_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL syntax surface in ONE hash-checked query:
    ``VALUES`` inline tables (the lookup join every ad-hoc analysis
    starts with), ``GROUP BY ALL`` (grouping keys inferred from the
    non-aggregate select list — Spark 3.4+/SQL:2023 idiom), the
    ``stack()`` generator as the inline row-wise unpivot, and
    ``ORDER BY ALL`` — all evaluated against a longhand oracle
    (explicit GROUP BY + UNION ALL), so the syntax sugar is proven to
    MEAN its longhand form, not just parse.  Account balances ride
    the exact 1e4 integer grid (they can be negative; floor(x*1e4+.5)
    is applied identically on both engines).

    100 TB shape: the VALUES table is a literal LocalRelation
    (broadcast by construction); one hash aggregate on the inferred
    keys; stack() is a scan-stage generator with fixed fanout 2 — the
    sugar compiles to exactly the longhand plan.  Reference scope:
    flo has no SQL surface — north-star extension (SURVEY §2 Part B
    scalar/SQL)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_syn_v"
    )
    return spark.sql(
        """
        WITH tier(seg, tier) AS (
          VALUES ('AUTOMOBILE', 'retail'), ('BUILDING', 'b2b'),
                 ('FURNITURE', 'retail'), ('MACHINERY', 'b2b'),
                 ('HOUSEHOLD', 'retail')
        ),
        agg AS (
          SELECT t.tier, c.c_mktsegment AS segment,
                 count(*) AS n_customers,
                 sum(CAST(floor(c.c_acctbal * 10000 + 0.5) AS BIGINT))
                     AS bal_x1e4
          FROM customer_syn_v c JOIN tier t ON t.seg = c.c_mktsegment
          GROUP BY ALL
        )
        SELECT tier, segment,
               stack(2, 'n_customers', n_customers,
                        'bal_x1e4', bal_x1e4) AS (metric, value)
        FROM agg
        ORDER BY ALL
        """
    )


@query(
    "shuffle_skew_profile",
    """
    WITH k AS (
      SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT count(*) AS n_keys, sum(cnt) AS total, max(cnt) AS max_cnt
      FROM k
    ),
    r AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt, o_custkey) AS rn
      FROM k
    ),
    q AS (
      SELECT
        max(CASE WHEN rn = CAST(ceil(0.50 * s.n_keys) AS BIGINT)
            THEN cnt END) AS p50_cnt,
        max(CASE WHEN rn = CAST(ceil(0.90 * s.n_keys) AS BIGINT)
            THEN cnt END) AS p90_cnt,
        max(CASE WHEN rn = CAST(ceil(0.99 * s.n_keys) AS BIGINT)
            THEN cnt END) AS p99_cnt
      FROM r, s
    )
    SELECT CAST(s.n_keys AS BIGINT) AS n_keys,
           CAST(s.total AS BIGINT) AS total_rows,
           CAST(s.max_cnt AS BIGINT) AS max_cnt,
           CAST(s.max_cnt * 1000000 // s.total AS BIGINT)
               AS top1_share_x1e6,
           CAST(s.max_cnt * s.n_keys * 10000 // s.total AS BIGINT)
               AS skew_factor_x1e4,
           CAST(q.p50_cnt AS BIGINT) AS p50_cnt,
           CAST(q.p90_cnt AS BIGINT) AS p90_cnt,
           CAST(q.p99_cnt AS BIGINT) AS p99_cnt
    FROM s, q
    """,
)
def shuffle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostics — the profile you run BEFORE
    choosing a salting factor or enabling AQE skew handling: per-key
    cardinalities of a prospective shuffle key (o_custkey), reduced to
    the decision numbers — key count, hottest-key share (x1e6),
    skew factor max/mean (x1e4, = 1.0 when perfectly uniform), and
    exact p50/p90/p99 per-key counts by rank order statistic
    (ceil(q*n), the winsorized/robust-scaler discipline; the
    deterministic (cnt, key) rank makes ties engine-identical).  The
    skew_salted_join_types entry MITIGATES skew; this entry MEASURES
    it — together they are the operational loop.

    100 TB shape: one hash aggregate collapses the fact table to
    per-key counts (map-side combine, 16-byte rows); the stats over
    the KEY-cardinality frame (scalar aggregate + one rank window)
    run on |keys| rows, not |fact| rows.  The windowed rank is a
    single-partition sort of per-key counts — bounded by key
    cardinality; for billion-key profiles swap in the mergeable
    quantile sketch (quantile_sketch_mergeable) at a stated rank
    error.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    # O(keys) cardinality table, checkpointed: it feeds the scalar
    # stats, the rank window, and (via s) two scalar joins — un-cut
    # lineage re-scanned orders per fork (3 scans, r9 audit; now 1)
    k = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    s = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
    )
    r = k.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("cnt").asc(), F.col("o_custkey").asc())
        ),
    )
    q = r.crossJoin(F.broadcast(s)).agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.50 * F.col("n_keys")), F.col("cnt")
            )
        ).alias("p50_cnt"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.90 * F.col("n_keys")), F.col("cnt")
            )
        ).alias("p90_cnt"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.99 * F.col("n_keys")), F.col("cnt")
            )
        ).alias("p99_cnt"),
    )
    return s.crossJoin(F.broadcast(q)).selectExpr(
        "CAST(n_keys AS BIGINT) AS n_keys",
        "CAST(total AS BIGINT) AS total_rows",
        "CAST(max_cnt AS BIGINT) AS max_cnt",
        "CAST(max_cnt * 1000000 div total AS BIGINT) AS top1_share_x1e6",
        "CAST(max_cnt * n_keys * 10000 div total AS BIGINT)"
        " AS skew_factor_x1e4",
        "CAST(p50_cnt AS BIGINT) AS p50_cnt",
        "CAST(p90_cnt AS BIGINT) AS p90_cnt",
        "CAST(p99_cnt AS BIGINT) AS p99_cnt",
    )


@query(
    "sql_pipe_syntax_report",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_x1e4
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE SYNTAX (SQL has problems; pipes fix them —
    the |> operator chain adopted from GoogleSQL): the classic
    scan |> WHERE |> AGGREGATE ... GROUP BY |> WHERE (post-aggregate
    filter, pipe's HAVING) |> ORDER BY flow, hash-checked against the
    identical query in standard SQL — proving the pipe form MEANS its
    longhand (same rows, same exact 1e4-grid sums), not just parses.
    Alongside sql_scripting_threshold_report (procedural) and
    sql_syntax_surface_suite (SQL:2023 sugar), this pins the third
    modern SQL entry surface.

    100 TB shape: pipes are pure syntax — Catalyst compiles this to
    exactly the longhand plan (pushed filter, one map-side-combinable
    aggregate, TakeOrderedAndProject-eligible sort), which is the
    point being certified.  Reference scope: flo has no SQL surface —
    north-star extension (SURVEY §2 Part B SQL text)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe_v"
    )
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus <> 'P'
        |> EXTEND CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)
             AS px
        |> AGGREGATE count(*) AS n_orders, sum(px) AS revenue_x1e4
             GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
             CAST(revenue_x1e4 AS BIGINT) AS revenue_x1e4
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "keyset_pagination_page",
    """
    WITH p AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderpriority
      FROM orders
    ),
    pg1 AS (
      SELECT * FROM p ORDER BY cents DESC, o_orderkey LIMIT 25
    ),
    cursor AS (
      SELECT cents AS c_cents, o_orderkey AS c_key FROM pg1
      ORDER BY cents, o_orderkey DESC LIMIT 1
    ),
    pg2 AS (
      SELECT p.* FROM p, cursor
      WHERE p.cents < c_cents
         OR (p.cents = c_cents AND p.o_orderkey > c_key)
      ORDER BY p.cents DESC, p.o_orderkey LIMIT 25
    )
    SELECT o_orderkey, cents, o_orderpriority FROM pg2
    """,
)
def keyset_pagination_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET (seek) pagination — page 2 of orders by (price DESC,
    orderkey) fetched via the cursor predicate
    (cents, key) `<` last-seen, NOT via OFFSET: the row-value
    comparison keeps the predicate sargable, so every page is a
    TakeOrderedAndProject over a filtered scan — O(page) work —
    where OFFSET n forces the engine to materialize and discard n
    rows (O(pages-so-far) per page, quadratic over a full sweep).
    The composite tie-break column makes the cursor total, so pages
    never skip or repeat rows under duplicate prices — the bug
    naive last-price cursors have.  Prices ride the exact cents grid.

    100 TB shape: the page-2 plan is filter (pushable to the scan) +
    top-k (no global sort, plan-pinned); the page-1 cursor row is a
    1-row frame.  This is THE pattern for paging an API over a
    warehouse table.  Reference scope: flo's consume cursor (version
    vector) IS keyset pagination over the event log (SURVEY §2 A3);
    this entry is the relational form."""
    p = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        "o_orderpriority",
    )
    pg1 = p.orderBy(F.col("cents").desc(), F.col("o_orderkey")).limit(25)
    cursor = (
        pg1.orderBy(F.col("cents"), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("cents").alias("c_cents"),
            F.col("o_orderkey").alias("c_key"),
        )
    )
    pg2 = (
        p.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("cents") < F.col("c_cents"))
            | (
                (F.col("cents") == F.col("c_cents"))
                & (F.col("o_orderkey") > F.col("c_key"))
            )
        )
        .orderBy(F.col("cents").desc(), F.col("o_orderkey"))
        .limit(25)
    )
    return pg2.select("o_orderkey", "cents", "o_orderpriority")


@query(
    "locf_imputation",
    """
    WITH base AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(floor(value * 10000 + 0.5) AS BIGINT)
             END AS v
      FROM events
    ),
    filled AS (
      SELECT event_type, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
      FROM base
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(sum(CASE WHEN v IS NULL AND vf IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(sum(CASE WHEN vf IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unfillable,
           CAST(sum(vf) AS BIGINT) AS imputed_sum_x1e4
    FROM filled GROUP BY event_type
    """,
)
def locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF missing-data imputation (last observation carried
    forward — the standard time-series gap fill for sensor/feature
    pipelines), exercised through the IGNORE NULLS window frame both
    engines implement: a deterministic missingness mask nulls every
    7th event's value, then each gap fills with the user's most
    recent non-null observation in (ts, event_id) order; leading
    gaps (no prior observation) stay null and are counted
    separately — the honest-unfillable contract an imputation audit
    needs.  Values are 4dp-scaled longs, so fill accounting and the
    imputed sum are exact integers.

    100 TB shape: one window partitioned by user_id — state is a
    single carried value per partition, the frame is
    running-unbounded-preceding (no buffering of the frame), and
    partitions scale out by user; the mask and scaling are
    scan-stage expressions.  North-star extension (SURVEY §2 window
    rows; the imputation sibling of gaps_and_islands /
    sessionization)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = base.select(
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("vf"),
    )
    return filled.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.sum(
            F.when(F.col("v").isNull() & F.col("vf").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_filled"),
        F.sum(F.when(F.col("vf").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unfillable"),
        F.sum("vf").cast("long").alias("imputed_sum_x1e4"),
    )


@query(
    "multitouch_attribution_models",
    """
    WITH touches AS (
      SELECT p.event_id AS pid, c.event_id AS cid,
             row_number() OVER (
               PARTITION BY p.event_id ORDER BY c.ts, c.event_id) AS rk,
             count(*) OVER (PARTITION BY p.event_id) AS n
      FROM events p JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
       AND p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE
    ),
    labeled AS (
      SELECT pid, cid, rk, n,
             CASE WHEN rk = 1 THEN '1_first'
                  WHEN rk = n THEN '3_last'
                  ELSE '2_middle' END AS position,
             1000000 // n
               + CASE WHEN rk = n
                      THEN 1000000 - n * (1000000 // n) ELSE 0 END
               AS linear_credit,
             CASE WHEN rk = 1 THEN 1000000 ELSE 0 END AS first_credit,
             CASE WHEN rk = n THEN 1000000 ELSE 0 END AS last_credit
      FROM touches
    ),
    models AS (
      SELECT 'linear' AS model, position, linear_credit AS credit
      FROM labeled
      UNION ALL
      SELECT 'first_touch', position, first_credit FROM labeled
      UNION ALL
      SELECT 'last_touch', position, last_credit FROM labeled
    )
    SELECT model, position,
           CAST(sum(credit) AS BIGINT) AS credit_x1e6,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM models GROUP BY model, position
    """,
)
def multitouch_attribution_models(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION under three models side by side
    (first-touch / last-touch / linear — the marketing-analytics
    credit-assignment family), with EXACT integer credit accounting:
    every purchase's 1e6 credit units split over its click touches
    in the preceding 60 minutes; linear gives each touch
    1e6 div n with the division remainder assigned to the last touch
    — so per-conversion credit sums to EXACTLY 1e6 by construction
    (the invariant fractional-credit float models silently violate),
    and the position x model matrix (how much credit lands on
    first / middle / last touches under each rule) is
    integer-decidable on both engines.  Touch order is
    (click_ts, event_id) — fully deterministic ranks.

    100 TB shape: the touch join is the same user-keyed
    interval-bounded join as the attribution entries (state bounded
    by the 60-minute window at stream scale; a keyed shuffle join in
    batch); ranks are per-purchase windows (tiny partitions);
    aggregation is 9 groups.  North-star extension (SURVEY §2 stats
    rows; the credit-assignment sibling of funnel_conversion and
    markov_event_transitions)."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touches = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES")),
    ).select(
        "pid",
        "cid",
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("cts", "cid"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("pid")).alias("n"),
    )
    labeled = touches.select(
        F.when(F.col("rk") == 1, "1_first")
        .when(F.col("rk") == F.col("n"), "3_last")
        .otherwise("2_middle")
        .alias("position"),
        (
            F.expr("1000000 div n")
            + F.when(
                F.col("rk") == F.col("n"),
                F.expr("1000000 - n * (1000000 div n)"),
            ).otherwise(0)
        ).alias("linear_credit"),
        F.when(F.col("rk") == 1, 1000000).otherwise(0).alias("first_credit"),
        F.when(F.col("rk") == F.col("n"), 1000000)
        .otherwise(0)
        .alias("last_credit"),
    )
    # one stack() generator instead of a 3-way self-union (r9): the
    # union recomputed the purchase-click touch join per model arm —
    # 6 events scans for the same rows
    models = labeled.selectExpr(
        "position",
        "stack(3, 'linear', linear_credit,"
        " 'first_touch', CAST(first_credit AS BIGINT),"
        " 'last_touch', CAST(last_credit AS BIGINT)) AS (model, credit)",
    )
    return models.groupBy("model", "position").agg(
        F.sum("credit").cast("long").alias("credit_x1e6"),
        F.count("*").cast("long").alias("n_touches"),
    )


@query(
    "business_day_transit",
    """
    WITH pairs AS (
      SELECT o.o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
                       CAST(o.o_orderdate AS DATE)) AS a,
             date_diff('day', DATE '1970-01-01',
                       CAST(l.l_shipdate AS DATE)) AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
    ),
    bd AS (
      SELECT prio, b - a AS cal_days,
             (5 * ((b + 1) // 7)
              + CASE (b + 1) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                                 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3
                                 ELSE 4 END)
           - (5 * ((a + 1) // 7)
              + CASE (a + 1) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                                 WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3
                                 ELSE 4 END) AS biz_days
      FROM pairs
    )
    SELECT prio AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(sum(biz_days) AS BIGINT) AS biz_days_total,
           CAST(min(biz_days) AS BIGINT) AS biz_days_min,
           CAST(max(biz_days) AS BIGINT) AS biz_days_max,
           CAST(sum(cal_days - biz_days) AS BIGINT) AS weekend_days_total
    FROM bd GROUP BY prio
    """,
)
def business_day_transit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-DAY interval arithmetic (the SLA/calendar math every
    ops dashboard needs and no engine ships as a builtin): business
    days between order date and ship date, computed ENGINE-
    INDEPENDENTLY from epoch-day integers — weekday-prefix function
    W(x) = 5*(x div 7) + c[x mod 7] anchored at 1970-01-01 being a
    Thursday (the c table encodes the Thu-start week cycle), so
    biz(a, b] = W(b+1) - W(a+1) is pure integer arithmetic with no
    dependence on either engine's dayofweek numbering convention
    (Spark's 1=Sunday vs DuckDB's ISO dow is exactly the trap this
    construction sidesteps).  Per priority: shipment counts, total /
    min / max business-day transit, and the weekend mass the
    calendar diff hides.

    100 TB shape: the epoch-day conversion and W() are scan-stage
    integer expressions on the fact join (the same single-fact-
    shuffle star as q3); the aggregate is 5 groups.  North-star
    extension (SURVEY §2 scalar/date rows — the date-function family
    exercised at its production-semantics edge)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    pairs = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("sd") >= F.col("od"))
        .select(
            "prio",
            F.datediff(F.col("od"), F.lit("1970-01-01").cast("date")).alias("a"),
            F.datediff(F.col("sd"), F.lit("1970-01-01").cast("date")).alias("b"),
        )
    )
    c_case = (
        "CASE ({x} + 1) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 "
        "WHEN 3 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 4 END"
    )
    w = "5 * (({x} + 1) div 7) + " + c_case
    bd = pairs.withColumn(
        "biz_days",
        F.expr(w.format(x="b")) - F.expr(w.format(x="a")),
    ).withColumn("cal_days", F.col("b") - F.col("a"))
    return bd.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count("*").cast("long").alias("n_shipments"),
        F.sum("biz_days").cast("long").alias("biz_days_total"),
        F.min("biz_days").cast("long").alias("biz_days_min"),
        F.max("biz_days").cast("long").alias("biz_days_max"),
        F.sum(F.col("cal_days") - F.col("biz_days"))
        .cast("long")
        .alias("weekend_days_total"),
    )


@query(
    "fifo_inventory_allocation",
    """
    WITH demand AS (
      SELECT l_partkey AS pk,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
             l_shipdate, l_orderkey, l_linenumber,
             40 + l_partkey % 20 AS budget
      FROM lineitem
    ),
    seq AS (
      SELECT pk, qty, budget,
             coalesce(sum(qty) OVER (
               PARTITION BY pk ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM demand
    ),
    alloc AS (
      SELECT pk, qty,
             greatest(CAST(0 AS BIGINT),
                      least(qty, budget - cum_before)) AS allocated
      FROM seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(qty) AS BIGINT) AS qty_demanded,
           CAST(sum(allocated) AS BIGINT) AS qty_allocated,
           CAST(sum(qty - allocated) AS BIGINT) AS qty_backordered,
           CAST(sum(CASE WHEN allocated = qty THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fully_served,
           CAST(sum(CASE WHEN allocated > 0 AND allocated < qty
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(sum(CASE WHEN allocated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_starved
    FROM alloc
    """,
)
def fifo_inventory_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO WATERFALL ALLOCATION — capped running allocation of a
    finite per-part budget to demand in arrival order (the
    inventory-reservation / FIFO-lot-matching primitive behind order
    promising, ad pacing, and cost-basis accounting): each part has
    a deterministic budget (40 + partkey%20 units); its lineitems
    consume it in (shipdate, orderkey, linenumber) order via
    ``allocated = clamp(budget - cum_before, 0, qty)`` where
    cum_before is the exclusive running demand — the first lines are
    fully served, one line straddles the boundary (partial), the
    rest starve.  All integers (TPC-H quantities are whole), so the
    served/partial/starved census and quantity masses hash exactly.

    100 TB shape: ONE window per part partition with the exclusive
    running-sum frame — no self-join, no iteration; partitions scale
    out by part key (the natural allocation unit).  North-star
    extension (SURVEY §2 window rows; the capped-allocation sibling
    of the running-total and gaps-and-islands entries)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        (F.lit(40) + F.col("l_partkey") % 20).alias("budget"),
    )
    w = (
        Window.partitionBy("pk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = li.withColumn(
        "cum_before", F.coalesce(F.sum("qty").over(w), F.lit(0))
    )
    alloc = seq.withColumn(
        "allocated",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("qty"), F.col("budget") - F.col("cum_before")),
        ),
    )
    return alloc.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("qty_demanded"),
        F.sum("allocated").cast("long").alias("qty_allocated"),
        F.sum(F.col("qty") - F.col("allocated"))
        .cast("long")
        .alias("qty_backordered"),
        F.sum(F.when(F.col("allocated") == F.col("qty"), 1).otherwise(0))
        .cast("long")
        .alias("n_fully_served"),
        F.sum(
            F.when(
                (F.col("allocated") > 0) & (F.col("allocated") < F.col("qty")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_partial"),
        F.sum(F.when(F.col("allocated") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_starved"),
    )


@query(
    "decayed_trending_brands",
    """
    WITH horizon AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders
    ),
    weighted AS (
      SELECT p.p_brand,
             CAST(floor(l.l_extendedprice * 10000 + 0.5) AS BIGINT) AS px,
             CAST(floor(power(0.5,
                    date_diff('day', CAST(o.o_orderdate AS DATE), hz.h)
                    / 30.0) * 1000000 + 0.5) AS BIGINT) AS w_x1e6
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      CROSS JOIN horizon hz
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(px * w_x1e6 // 1000000) AS BIGINT)
             AS decayed_revenue_x1e4,
           CAST(sum(px) AS BIGINT) AS raw_revenue_x1e4
    FROM weighted GROUP BY p_brand
    ORDER BY decayed_revenue_x1e4 DESC, p_brand LIMIT 10
    """,
)
def decayed_trending_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED TRENDING ranking (the exponentially-decayed
    frequency/revenue scoring behind every "trending now" surface —
    recency-weighted so a recent surge outranks stale volume):
    per line, weight = 2^(-age_days/30) with a 30-day half-life,
    floored ONCE to ppm per row (identical float expression over
    exact integer day-diffs on both engines — the bm25 determinism
    pattern), then the decayed revenue sum is pure integer
    arithmetic (px * w div 1e6 per row, summed exactly).  Top-10
    brands by decayed revenue, with the RAW revenue alongside so the
    hash also pins how the decay reorders the undecayed ranking.

    100 TB shape: the weight is a scan-stage expression on the fact
    join (q9's star shape); the horizon is a 1-row broadcast;
    aggregation is map-side-combinable per brand and the cut is
    TakeOrderedAndProject.  At stream scale the same math folds
    incrementally (decayed_sum' = decayed_sum * decay + new).
    North-star extension (SURVEY §2 stats rows; the recency-weighted
    sibling of copurchase_lift_topk and ewma_hourly_trend)."""
    # 2-column order-date projection, checkpointed: it feeds the
    # horizon aggregate AND the star join — un-cut lineage re-scanned
    # orders per fork (2 scans, r9 audit; now 1)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    ).localCheckpoint()
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", money_scaled(F.col("l_extendedprice")).alias("px")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    horizon = o.agg(F.max("od").alias("h"))
    weighted = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "p_brand",
            "px",
            F.floor(
                F.pow(
                    F.lit(0.5),
                    F.datediff(F.col("h"), F.col("od")) / F.lit(30.0),
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w_x1e6"),
        )
    )
    return (
        weighted.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.expr("px * w_x1e6 div 1000000"))
            .cast("long")
            .alias("decayed_revenue_x1e4"),
            F.sum("px").cast("long").alias("raw_revenue_x1e4"),
        )
        .orderBy(F.col("decayed_revenue_x1e4").desc(), "p_brand")
        .limit(10)
    )


@query(
    "haversine_trade_distance",
    """
    WITH geo AS (
      SELECT n_nationkey,
             CAST((n_nationkey * 7) % 140 - 70 AS DOUBLE) AS lat,
             CAST((n_nationkey * 13) % 360 - 180 AS DOUBLE) AS lon
      FROM nation
    ),
    lanes AS (
      SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    dist AS (
      SELECT ln.cn, ln.sn,
             CAST(floor(
               12742.0 * asin(sqrt(
                 pow(sin(radians(g2.lat - g1.lat) / 2), 2)
                 + cos(radians(g1.lat)) * cos(radians(g2.lat))
                   * pow(sin(radians(g2.lon - g1.lon) / 2), 2)
               )) * 10 + 0.5) AS BIGINT) AS km_x10
      FROM lanes ln
      JOIN geo g1 ON g1.n_nationkey = ln.cn
      JOIN geo g2 ON g2.n_nationkey = ln.sn
    )
    SELECT km_x10 // 20000 AS band_2000km,
           CAST(count(*) AS BIGINT) AS n_lanes,
           CAST(min(km_x10) AS BIGINT) AS min_km_x10,
           CAST(max(km_x10) AS BIGINT) AS max_km_x10
    FROM dist GROUP BY km_x10 // 20000
    """,
)
def haversine_trade_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOSPATIAL distance analytics — great-circle (haversine)
    shipping distance between customer and supplier nations, banded
    into 2000 km buckets (the logistics lane-length distribution a
    supply-chain dashboard reports): nation coordinates are a
    DETERMINISTIC synthetic grid (lat = 7k%140-70, lon = 13k%360-180
    — stated in the oracle, so both engines geocode identically),
    and the haversine — 2R*asin(sqrt(sin^2(dLat/2) +
    cos*cos*sin^2(dLon/2))), R=6371 km — is the identical
    double-expression sequence over identical integer-degree
    operands on both engines, floored once at 0.1 km before
    banding (the bm25 determinism pattern applied to trig).

    100 TB shape: distances compute per LANE (25x25 nation pairs via
    the broadcast geo dim), not per row — the per-row work is the
    q5-shaped star join to reach (cust_nation, supp_nation); banding
    and counts reduce map-side.  North-star extension (SURVEY §2
    scalar/math rows; the geo sibling of the proximity-grid join,
    which bins PLANAR coordinates — this is the spherical metric)."""
    geo = load(spark, sf_dir, "nation").select(
        "n_nationkey",
        ((F.col("n_nationkey") * 7) % 140 - 70).cast("double").alias("lat"),
        ((F.col("n_nationkey") * 13) % 360 - 180).cast("double").alias("lon"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lanes = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("c_nationkey").alias("cn"),
            F.col("s_nationkey").alias("sn"),
        )
    )
    g1 = geo.select(
        F.col("n_nationkey").alias("k1"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
    )
    g2 = geo.select(
        F.col("n_nationkey").alias("k2"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    )
    dist = (
        lanes.join(F.broadcast(g1), F.col("cn") == F.col("k1"))
        .join(F.broadcast(g2), F.col("sn") == F.col("k2"))
        .withColumn(
            "km_x10",
            F.floor(
                12742.0
                * F.asin(
                    F.sqrt(
                        F.pow(
                            F.sin(F.radians(F.col("lat2") - F.col("lat1")) / 2),
                            2,
                        )
                        + F.cos(F.radians("lat1"))
                        * F.cos(F.radians("lat2"))
                        * F.pow(
                            F.sin(
                                F.radians(F.col("lon2") - F.col("lon1")) / 2
                            ),
                            2,
                        )
                    )
                )
                * 10
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return dist.groupBy(
        F.expr("km_x10 div 20000").alias("band_2000km")
    ).agg(
        F.count("*").cast("long").alias("n_lanes"),
        F.min("km_x10").cast("long").alias("min_km_x10"),
        F.max("km_x10").cast("long").alias("max_km_x10"),
    )


@query(
    "market_clearing_price",
    """
    WITH px AS (
      SELECT o_orderpriority AS prio,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) // 10000000
               AS band
      FROM orders
    ),
    demand AS (
      SELECT band, count(*) AS n FROM px
      WHERE prio = '1-URGENT' GROUP BY band
    ),
    supply AS (
      SELECT band, count(*) AS n FROM px
      WHERE prio = '5-LOW' GROUP BY band
    ),
    bands AS (
      SELECT band FROM demand UNION SELECT band FROM supply
    ),
    curves AS (
      SELECT b.band,
             (SELECT coalesce(sum(d.n), 0) FROM demand d
              WHERE d.band >= b.band) AS cum_demand,
             (SELECT coalesce(sum(s.n), 0) FROM supply s
              WHERE s.band <= b.band) AS cum_supply
      FROM bands b
    ),
    clearing AS (
      SELECT band, cum_demand, cum_supply
      FROM curves WHERE cum_demand >= cum_supply AND cum_supply > 0
      ORDER BY band DESC, cum_demand LIMIT 1
    )
    SELECT CAST(c.band AS BIGINT) AS clearing_band_1k,
           CAST(c.cum_demand AS BIGINT) AS demand_at_clearing,
           CAST(c.cum_supply AS BIGINT) AS supply_at_clearing,
           CAST(least(c.cum_demand, c.cum_supply) AS BIGINT) AS volume,
           CAST((SELECT sum((p.band - c.band)) FROM px p
                 WHERE p.prio = '1-URGENT' AND p.band >= c.band)
                AS BIGINT) AS buyer_surplus_bands
    FROM clearing c
    """,
)
def market_clearing_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFORM-PRICE MARKET CLEARING — intersect a demand curve and
    a supply curve and read off the clearing price (the auction /
    matching-market primitive behind exchange pricing, ad auctions,
    and marketplace liquidity dashboards): urgent orders act as
    BIDS (willing to pay >= their price; demand at price p = count
    with band >= p, a non-increasing step curve), low-priority
    orders as ASKS (supply at p = count with band <= p,
    non-decreasing); the clearing band is the HIGHEST price where
    demand still covers supply (ties broken toward lower demand —
    stated), volume is min(D, S) there, and buyer surplus sums the
    winning bids' distance above clearing.  Prices quantize to
    exact $1000 integer bands, so the curves, the crossing, and the
    surplus are all integer-decidable.

    100 TB shape: both curves are band-keyed map-side-combinable
    counts; the cumulative intersection runs on the O(bands) grid
    (a window prefix-sum at scale, correlated aggregates here);
    nothing touches the fact twice.  North-star extension (SURVEY
    §2 stats rows; a genuinely new family — market/auction
    mechanics — joining the causal, survival, and game-theoretic
    members)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr(
            "CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)"
            " div 10000000"
        ).alias("band"),
    )
    # both curves fold out of ONE fact scan (r9: separate
    # demand/supply/bands/surplus branches held 9 orders scans); the
    # O(bands) census is materialized once and serves every fork,
    # making the docstring's nothing-touches-the-fact-twice claim true
    cs = (
        o.filter(F.col("prio").isin("1-URGENT", "5-LOW"))
        .groupBy("band")
        .agg(
            F.sum(
                F.when(F.col("prio") == "1-URGENT", 1).otherwise(0)
            ).alias("nd"),
            F.sum(F.when(F.col("prio") == "5-LOW", 1).otherwise(0)).alias(
                "ns"
            ),
        )
        .localCheckpoint()
    )
    wd = (
        Window.orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ws = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    curves = cs.select(
        "band",
        F.sum("nd").over(wd).alias("cum_demand"),
        F.sum("ns").over(ws).alias("cum_supply"),
    )
    clearing = (
        curves.filter(
            (F.col("cum_demand") >= F.col("cum_supply"))
            & (F.col("cum_supply") > 0)
        )
        .orderBy(F.col("band").desc(), "cum_demand")
        .limit(1)
    )
    # per-bid surplus collapses to band arithmetic: sum_b nd_b*(b - cb)
    surplus = (
        cs.crossJoin(F.broadcast(clearing.select(F.col("band").alias("cb"))))
        .filter(F.col("band") >= F.col("cb"))
        .agg(
            F.sum((F.col("band") - F.col("cb")) * F.col("nd")).alias(
                "surplus"
            )
        )
    )
    return clearing.crossJoin(F.broadcast(surplus)).select(
        F.col("band").cast("long").alias("clearing_band_1k"),
        F.col("cum_demand").cast("long").alias("demand_at_clearing"),
        F.col("cum_supply").cast("long").alias("supply_at_clearing"),
        F.least(F.col("cum_demand"), F.col("cum_supply"))
        .cast("long")
        .alias("volume"),
        F.col("surplus").cast("long").alias("buyer_surplus_bands"),
    )


@query(
    "vickrey_second_price",
    """
    WITH bids AS (
      SELECT l.l_partkey AS item,
             CAST(floor(l.l_extendedprice * 10000 + 0.5) AS BIGINT) AS bid,
             l.l_orderkey, l.l_linenumber,
             row_number() OVER (
               PARTITION BY l.l_partkey
               ORDER BY floor(l.l_extendedprice * 10000 + 0.5) DESC,
                        l.l_orderkey, l.l_linenumber) AS rk,
             count(*) OVER (PARTITION BY l.l_partkey) AS n_bids
      FROM lineitem l
    ),
    auctions AS (
      SELECT w.item, w.bid AS win_bid, s.bid AS second_bid
      FROM (SELECT * FROM bids WHERE rk = 1 AND n_bids >= 2) w
      JOIN (SELECT * FROM bids WHERE rk = 2) s ON s.item = w.item
    )
    SELECT CAST(count(*) AS BIGINT) AS n_auctions,
           CAST(sum(win_bid) AS BIGINT) AS first_price_revenue_x1e4,
           CAST(sum(second_bid) AS BIGINT) AS second_price_revenue_x1e4,
           CAST(sum(win_bid - second_bid) AS BIGINT)
             AS winner_savings_x1e4,
           CAST(max(win_bid - second_bid) AS BIGINT)
             AS max_gap_x1e4
    FROM auctions
    """,
)
def vickrey_second_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VICKREY (second-price) AUCTION settlement — per item, the
    highest bidder wins but pays the SECOND-highest bid (the
    incentive-compatible mechanism behind ad exchanges): lineitems
    bid on their part; per part the top-2 bids come from one window
    rank with full (price, orderkey, linenumber) tie-breaks; the
    entry hashes auction counts, revenue under first- vs
    second-price settlement, and the aggregate/maximum winner
    savings (the bid-shading headroom first-price auctions induce) —
    all exact scaled-long integers.  Single-bid items don't clear
    (n_bids >= 2, the stated rule).

    100 TB shape: one item-partitioned window (rank within part) —
    partitions scale out by item key; the top-2 extraction is a
    rank filter, not a sort of the fact; settlement aggregates
    map-side.  North-star extension (SURVEY §2 stats rows; the
    per-item mechanism beside market_clearing_price's one-market
    uniform price)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("item"),
        money_scaled(F.col("l_extendedprice")).alias("bid"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("item").orderBy(
        F.col("bid").desc(), "l_orderkey", "l_linenumber"
    )
    # ranked-bid frame checkpointed: it feeds the winner AND the
    # second-price extraction — un-cut lineage re-ran the per-item
    # window and re-scanned lineitem per fork (2 scans, r9 audit;
    # now 1, and the window runs once)
    bids = li.select(
        "item",
        "bid",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("item")).alias("n_bids"),
    ).localCheckpoint()
    wtop = bids.filter((F.col("rk") == 1) & (F.col("n_bids") >= 2)).select(
        "item", F.col("bid").alias("win_bid")
    )
    second = bids.filter(F.col("rk") == 2).select(
        "item", F.col("bid").alias("second_bid")
    )
    return (
        wtop.join(second, "item")
        .agg(
            F.count("*").cast("long").alias("n_auctions"),
            F.sum("win_bid").cast("long").alias(
                "first_price_revenue_x1e4"
            ),
            F.sum("second_bid").cast("long").alias(
                "second_price_revenue_x1e4"
            ),
            F.sum(F.col("win_bid") - F.col("second_bid"))
            .cast("long")
            .alias("winner_savings_x1e4"),
            F.max(F.col("win_bid") - F.col("second_bid"))
            .cast("long")
            .alias("max_gap_x1e4"),
        )
    )
