"""Descriptive statistics, time-series and classic ML on an exact
integer grid: trends, decompositions, changepoints, clustering,
calibration, feature encoders, event analytics.

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
    query,
)

__all__ = [
    "funnel_conversion",
    "conformal_interval_coverage",
    "pca_power_iteration",
    "quantile_normalize_sources",
    "bootstrap_mean_ci",
    "rfm_segmentation",
    "neyman_allocation_sampling",
    "shapley_channel_attribution",
    "sequence_pattern_mining",
    "bradley_terry_ranking",
    "feature_store_pit_join",
    "oaxaca_mix_rate_decomposition",
    "chain_ladder_development",
    "empirical_bayes_shrinkage",
    "haar_wavelet_levels",
    "dft_periodicity_power",
    "event_study_alignment",
    "information_gain_features",
    "naive_bayes_classify",
    "nelson_aalen_hazard",
    "logrank_test_survival",
    "weibull_rank_regression",
    "exact_matching_att",
    "mahalanobis_outliers_2d",
    "gumbel_block_maxima",
    "newsvendor_stocking",
    "optimal_stopping_replay",
    "min_variance_portfolio",
    "quantile_treatment_effect",
    "cohort_retention",
    "regression_price_quantity",
    "copurchase_lift_topk",
    "anomaly_zscore_hourly",
    "ewma_hourly_trend",
    "gini_revenue_concentration",
    "herfindahl_supplier_share",
    "winsorized_price_stats",
    "lorenz_revenue_deciles",
    "markov_event_transitions",
    "cusum_changepoint_hourly",
    "holt_linear_trend",
    "robust_scaler_features",
    "target_encoding_loo_nation",
    "holt_winters_seasonal",
    "gapfill_locf_interpolate",
    "seasonal_decompose_hourly",
    "grid_density_outliers",
    "acf_hourly_lags",
    "exact_percentile_suite",
    "quantile_discretizer_encode",
    "theil_sen_hourly_trend",
    "decision_stump_status",
    "ols_two_feature_cramer",
    "kmeans_lloyd_rounds",
    "session_path_topk",
    "stratified_kfold_assignment",
    "time_weighted_value_per_user",
    "mad_robust_outliers",
    "discrete_hazard_lifetable",
    "cep_sequence_pattern_detect",
    "funnel_time_to_convert",
    "dtw_daily_profiles",
    "peak_detection_hourly",
    "weighted_median_price",
    "ljung_box_hourly",
    "motif_discovery_daily_ssd",
    "jackknife_block_variance",
    "kaplan_meier_survival",
]


def _dense_hourly_counts(ev):
    """Dense zero-filled hourly event-count spine, materialized once.

    Collapses the corpus to per-hour counts in ONE scan and
    localCheckpoints the O(hours) result, so the max-hour probe, the
    dense-spine join, and every downstream fork (totals, deviations,
    lag self-joins) reuse the spine instead of re-deriving it from the
    raw events scan (r9: ljung_box_hourly's plan held 12 corpus scans
    before this).  Semantics identical to the original
    spine-left-join-count prologue: hours outside
    [2024-01-01, max(hour)] drop, gap hours count 0."""
    c0 = (
        ev.groupBy("hour")
        .agg(F.count("*").alias("cnt0"))
        .localCheckpoint()
    )
    h1 = c0.agg(F.max("hour").alias("h1"))
    hours = h1.select(
        F.explode(
            F.expr(
                "sequence(timestamp '2024-01-01 00:00:00', h1,"
                " interval 1 hour)"
            )
        ).alias("hour")
    )
    return hours.join(c0, "hour", "left").select(
        "hour",
        F.coalesce(F.col("cnt0"), F.lit(0).cast("long")).alias("cnt"),
    )



@query(
    "funnel_conversion",
    """
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3
      FROM events e JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage, (SELECT count(*) FROM t1) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM t2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM t3)
    ) ORDER BY ord
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): a user
    advances a stage only with an event STRICTLY AFTER their previous
    stage's completion time — the classic product-analytics query,
    here as three chained filtered aggregations (each stage = one
    pre-filtered scan + one user_id-keyed join + min-agg).

    100 TB shape: each stage's scan is filtered to ONE event type
    before any shuffle (predicate reaches the parquet scan); joins are
    user_id-keyed against already-reduced per-user frames that shrink
    monotonically down the funnel.  No windows over the raw event
    stream, no driver-side state.  r9 optimization: t1/t2 are
    checkpointed O(users) frames — each stage and each count branch
    previously re-derived the upstream stages from the raw scan
    (6 corpus scans in the static plan); now exactly one pushed-filter
    scan per stage, the floor without per-user event arrays."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
        .localCheckpoint()
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
        .localCheckpoint()
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    counts = [
        (1, "view", t1),
        (2, "click", t2),
        (3, "purchase", t3),
    ]
    parts = [
        t.agg(F.count("*").alias("n_users")).select(
            F.lit(ordn).alias("ord"), F.lit(stage).alias("stage"), "n_users"
        )
        for ordn, stage, t in counts
    ]
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.orderBy("ord").select("stage", "n_users")


@query(
    "cohort_retention",
    """
    WITH w AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                 AS week
      FROM events
    ),
    first_w AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM w)
    SELECT f.cohort_week AS cohort_week,
           a.week - f.cohort_week AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM active a JOIN first_w f USING (user_id)
    GROUP BY f.cohort_week, a.week - f.cohort_week
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; for each cohort and week offset, how many are still
    active — the standard retention triangle, all integer-week
    arithmetic so the contract is exact.

    100 TB shape: one user_id shuffle for first-week, one distinct on
    the already-narrow (user, week) projection, one keyed join of two
    reduced frames, one final small-key aggregate.  The raw event
    stream is scanned once, two columns wide."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    # 2-column (user, week) base, checkpointed: it feeds the
    # first-week reduction AND the activity distinct — un-cut lineage
    # re-scanned events per fork (2 scans, r9 audit; now 1)
    w = ev.select(
        "user_id",
        F.expr(
            "datediff(cast(ts as date), date '2024-01-01') div 7"
        ).alias("week"),
    ).localCheckpoint()
    first_w = w.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = w.distinct()
    return (
        active.join(first_w, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "regression_price_quantity",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT))
                 AS sxy,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                 AS sxx,
             sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)
                 * CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT))
                 AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) + 0.5) / 10000.0
               AS slope,
           floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 1000.0 + 0.5) / 10.0
               AS intercept,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) * 1e4 + 0.5) / 1e4
               AS r2
    FROM s
    """,
)
def regression_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares regression of extended price on
    quantity per return flag — the ``regr_slope``/``regr_intercept``/
    ``regr_r2`` family, made ENGINE-EXACT: the builtins fold doubles
    in partition order (the q7 flip class applied to statistics), so
    instead every moment (n, Sx, Sy, Sxy, Sxx, Syy) accumulates as an
    exact integer (prices on the 1e4 money grid), the five moments
    combine by the textbook formulas in exact integer arithmetic, and
    the ONLY float steps are final IEEE divisions of exact integers —
    bit-identical on any engine — rounded on the fixed grid (slope
    4dp, intercept 1dp, r2 4dp).

    100 TB shape: one map-side-combinable aggregate, six integer
    partials per group, no second pass — the same single-shuffle shape
    as q1.  Spark sums in decimal(38,0) (the cross-products exceed
    long range at scale; ANSI raises rather than wraps), DuckDB in
    HUGEINT."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = money_scaled(F.col("l_extendedprice"))
    d = lambda c: c.cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(d(x)).alias("sx"),
        F.sum(d(y)).alias("sy"),
        F.sum(d(x * y)).alias("sxy"),
        F.sum(d(x * x)).alias("sxx"),
        F.sum(d(y * y)).alias("syy"),
    )
    n, sx, sy = d(F.col("n")), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    inum = (sy * sxx - sx * sxy).cast("double")
    deny = (n * syy - sy * sy).cast("double")
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (F.floor(num / den + F.lit(0.5)) / 10000.0).alias("slope"),
        (F.floor(inum / den / 1000.0 + F.lit(0.5)) / 10.0).alias("intercept"),
        (F.floor(num * num / (den * deny) * 1e4 + F.lit(0.5)) / 1e4).alias(
            "r2"
        ),
    )


@query(
    "copurchase_lift_topk",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
    freq AS (SELECT l_partkey, count(*) AS c FROM lp GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS c_ab
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT part_a, part_b, CAST(c_ab AS BIGINT) AS c_ab,
           floor(CAST(n.n_orders * p.c_ab AS DOUBLE)
                 / CAST(fa.c * fb.c AS DOUBLE) * 1e4 + 0.5) / 1e4 AS lift
    FROM pairs p
    JOIN freq fa ON fa.l_partkey = p.part_a
    JOIN freq fb ON fb.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b LIMIT 50
    """,
)
def copurchase_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift scoring on co-purchased parts (the
    'customers also bought' primitive): for part pairs sharing >= 2
    orders, lift = P(a,b) / (P(a) P(b)) computed as the exact integer
    ratio n_orders*c_ab / (c_a*c_b), IEEE-divided and rounded on the
    4dp grid — top-50 by lift with deterministic tie-breaks.

    100 TB shape: the pair generation is the market-basket self-join
    keyed by order (baskets are small, so the blow-up is sum of
    basket^2, not corpus^2); support >= 2 prunes the pair tail before
    the frequency joins; the scalar order count is a 1-row broadcast;
    top-50 compiles to TakeOrderedAndProject.  r9 optimization: the
    distinct basket table ``lp`` is checkpointed — its four consumers
    (order count, part frequencies, both sides of the pair self-join)
    previously each re-derived it from the raw scan (5 corpus scans in
    the static plan, now one), the same materialize-the-index shape as
    tfidf_cosine_pairs_topk."""
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    n = lp.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = lp.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a, b = lp.alias("a"), lp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            (
                F.floor(
                    (F.col("n_orders") * F.col("c_ab")).cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "anomaly_zscore_hourly",
    """
    WITH e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    b AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    w AS (
      SELECT hour, cnt,
             count(*) OVER tw AS n_prev,
             sum(cnt) OVER tw AS s1,
             sum(cnt * cnt) OVER tw AS s2
      FROM c
      WINDOW tw AS (ORDER BY hour
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, CAST(cnt AS BIGINT) AS cnt,
           floor((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24)
                 / sqrt((24 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE)) / (24.0 * 24.0))
                 * 1e4 + 0.5) / 1e4 AS z,
           abs(floor((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24)
                 / sqrt((24 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE)) / (24.0 * 24.0))
                 * 1e4 + 0.5) / 1e4) >= 2.0 AS is_anomaly
    FROM w
    WHERE n_prev = 24
      AND 24 * s2 - s1 * s1 > 0
    """,
)
def anomaly_zscore_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the hourly event rate —
    the standard ops-monitoring primitive: each hour scores against
    the TRAILING 24 hours (current excluded), z = (x - mean)/stddev,
    flagged at |z| >= 2.  The spine densifies missing hours to zero so
    the trailing window is 24 real HOURS, not 24 non-empty rows.

    Exactness: the rolling mean/variance come from integer window
    sums (s1, s2) combined by the population-variance identity; the
    only float steps are IEEE divisions/sqrt of exact integers,
    rounded 4dp — cross-engine identical, unlike a windowed
    stddev_samp fold of doubles.

    100 TB shape: the hourly pre-aggregation is the only corpus-scale
    shuffle; the window runs over the tiny dense spine.  (A single
    unpartitioned time-ordered window is spine-sized here; at
    century-scale spines, partition by coarse time and overlap 24
    rows.)  r9 optimization: the spine comes from the shared
    checkpointed ``_dense_hourly_counts`` helper — the max-hour probe
    and the dense join previously re-derived the hour projection from
    the raw events scan (2 corpus scans in the static plan), now one."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)
    tw = Window.orderBy("hour").rowsBetween(-24, -1)
    w = (
        c.withColumn("n_prev", F.count("*").over(tw))
        .withColumn("s1", F.sum("cnt").over(tw))
        .withColumn("s2", F.sum(F.col("cnt") * F.col("cnt")).over(tw))
        .filter(
            (F.col("n_prev") == 24)
            & (24 * F.col("s2") - F.col("s1") * F.col("s1") > 0)
        )
    )
    zraw = (
        F.col("cnt").cast("double") - F.col("s1").cast("double") / 24
    ) / F.sqrt(
        (
            24 * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / (24.0 * 24.0)
    )
    z = F.floor(zraw * 1e4 + F.lit(0.5)) / 1e4
    return w.select(
        "hour",
        F.col("cnt").cast("long").alias("cnt"),
        z.alias("z"),
        (F.abs(z) >= 2.0).alias("is_anomaly"),
    )


@query(
    "ewma_hourly_trend",
    """
    WITH RECURSIVE e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    b AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt,
             row_number() OVER (ORDER BY h.hour) AS rn
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    r AS (
      SELECT rn, hour, cnt, CAST(cnt * 16 AS BIGINT) AS s
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.rn, c.hour, c.cnt,
             CAST(r.s + (c.cnt * 16 - r.s) // 4 AS BIGINT)
      FROM r JOIN c ON c.rn = r.rn + 1
    )
    SELECT hour, CAST(cnt AS BIGINT) AS cnt,
           s AS ewma_x16,
           CAST(cnt * 16 - s AS BIGINT) AS residual_x16
    FROM r
    """,
)
def ewma_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the hourly event rate
    (alpha = 1/4) in EXACT FIXED POINT: the recurrence
    s_t = s_{t-1} + (16*x_t - s_{t-1}) div 4 runs in scale-16
    integers with floor division, so every engine that replays it —
    here DuckDB via a RECURSIVE CTE stepping the same integers — lands
    bit-identical, where a float EWMA would drift by an ulp per step.
    The residual column is the trend-adjusted deviation the smoothing
    exists to expose.

    100 TB shape: the corpus-scale work is the hourly pre-aggregation
    (one shuffle); the recurrence itself runs over the tiny dense
    spine in a single applyInPandas task.  An exact integer EWMA is
    inherently sequential (truncating division breaks the linearity that
    would admit a parallel prefix scan); the float variant composes
    associatively and could segment-scan — the entry trades that for
    cross-engine exactness, and says so.  r9 optimization: the spine
    comes from the shared checkpointed ``_dense_hourly_counts`` helper
    (was 2 corpus scans — max-hour probe + dense join — now one)."""
    from collections.abc import Iterator  # noqa: F401

    import pandas as pd

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        s, out = None, []
        for cnt in pdf["cnt"]:
            x = int(cnt) * 16
            if s is None:
                s = x
            else:
                d = x - s
                # truncate toward zero, matching SQL integer division
                s = s + (d // 4 if d >= 0 else -((-d) // 4))
            out.append(s)
        pdf["ewma_x16"] = out
        pdf["residual_x16"] = pdf["cnt"] * 16 - pdf["ewma_x16"]
        return pdf[["hour", "cnt", "ewma_x16", "residual_x16"]]

    return (
        c.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            fold, "hour timestamp, cnt long, ewma_x16 long, residual_x16 long"
        )
    )


@query(
    "gini_revenue_concentration",
    """
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             sum(CAST(floor(o.o_totalprice * 10000 + 0.5) AS BIGINT)) AS s
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nationkey, s,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY s, o_custkey) AS i,
             count(*) OVER (PARTITION BY nationkey) AS n
      FROM spend
    )
    SELECT n2.n_name AS nation,
           CAST(max(r.n) AS BIGINT) AS n_customers,
           floor(CAST(sum((2 * r.i - r.n - 1) * r.s) AS DOUBLE)
                 / CAST(max(r.n) * sum(r.s) AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS gini
    FROM ranked r JOIN nation n2 ON n2.n_nationkey = r.nationkey
    GROUP BY n2.n_name
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini) per nation over customer spend —
    the inequality metric every marketplace dashboard carries, exact:
    spend accumulates as 1e4-scaled integers, the Gini numerator
    sum((2i - n - 1) * s_i) over the (spend, custkey)-ordered ranking
    is pure integer arithmetic (the tie-break makes the ranking — and
    thus the statistic — deterministic on any engine), and the only
    float step is one final IEEE division of exact integers, rounded
    4dp.

    100 TB shape: one fact shuffle to per-customer spend, one
    nation-partitioned window (state bounded per nation), one reduced
    aggregate; the dim join broadcasts (nation = 25 rows, hinted per
    the fixed-cardinality rule)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), F.col("o_custkey")
        )
        .agg(F.sum(money_scaled(F.col("o_totalprice"))).alias("s"))
    )
    w = Window.partitionBy("nationkey").orderBy("s", "o_custkey")
    wn = Window.partitionBy("nationkey")
    ranked = spend.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return (
        ranked.join(F.broadcast(n), ranked["nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            (
                F.floor(
                    F.sum(
                        (2 * F.col("i") - F.col("n") - 1) * F.col("s")
                    ).cast("double")
                    / (F.max("n") * F.sum("s")).cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("gini"),
        )
    )


@query(
    "herfindahl_supplier_share",
    """
    WITH rev AS (
      SELECT r.r_name AS region, s.s_suppkey,
             sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000
                            + 0.5) AS BIGINT)) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           floor(CAST(sum(v * v) AS DOUBLE)
                 / (CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS hhi
    FROM rev GROUP BY region
    """,
)
def herfindahl_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per region over
    supplier revenue shares — the antitrust-dashboard companion to the
    Gini entry: HHI = sum(share_i^2) computed as
    sum(v_i^2) / (sum v_i)^2 over exact 1e4-scaled revenue integers,
    so both sums are exact (decimal(38,0)/HUGEINT — squares of
    per-supplier revenue exceed long range at scale) and the single
    IEEE division of exact integers rounds on the 6dp grid.

    100 TB shape: one fact shuffle to (region, supplier) partials
    (dims broadcast: region/nation fixed-cardinality, supplier rides
    AQE), then a 5-row aggregate of reduced rows."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    v = F.sum(
        money_scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    )
    rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("s_suppkey"))
        .agg(v.alias("v"))
    )
    d = lambda c: c.cast("decimal(38,0)")
    return rev.groupBy("region").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        (
            F.floor(
                F.sum(d(F.col("v")) * d(F.col("v"))).cast("double")
                / (
                    F.sum(d(F.col("v"))).cast("double")
                    * F.sum(d(F.col("v"))).cast("double")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("hhi"),
    )


@query(
    "winsorized_price_stats",
    """
    WITH v AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS p
      FROM lineitem
    ),
    rk AS (
      SELECT l_returnflag, p,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY p) AS i,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    ),
    cuts AS (
      SELECT l_returnflag,
             max(CASE WHEN i = CAST(ceil(0.05 * n) AS BIGINT) THEN p END) AS lo,
             max(CASE WHEN i = CAST(ceil(0.95 * n) AS BIGINT) THEN p END) AS hi,
             max(n) AS n
      FROM rk GROUP BY l_returnflag
    )
    SELECT r.l_returnflag,
           CAST(c.n AS BIGINT) AS n_rows,
           c.lo / 10000.0 AS p05,
           c.hi / 10000.0 AS p95,
           floor(CAST(sum(least(greatest(r.p, c.lo), c.hi)) AS DOUBLE)
                 / c.n + 0.5) / 10000.0 AS winsorized_avg
    FROM rk r JOIN cuts c USING (l_returnflag)
    GROUP BY r.l_returnflag, c.n, c.lo, c.hi
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) price statistics per return flag —
    the robust-mean recipe feature pipelines apply before
    normalization: clamp every value to the EXACT 5th/95th order
    statistics (rank ceil(q*n) over the 1e4-scaled integers — a
    well-defined order statistic regardless of tie order) and average
    the clamped integers on the money grid.  Everything is integer
    arithmetic until the final exact division.

    100 TB shape: one group-partitioned rank window (state bounded per
    group), the 3-row cuts frame broadcasts back, and the clamped
    aggregate is map-side combinable.  At extreme group cardinality
    swap the rank window for approx_percentile bounds — the clamp
    stays exact either way."""
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag", money_scaled(F.col("l_extendedprice")).alias("p")
    )
    w = Window.partitionBy("l_returnflag").orderBy("p")
    wn = Window.partitionBy("l_returnflag")
    # ranked frame checkpointed: it feeds the cut extraction AND the
    # clamped aggregate — un-cut lineage re-ran the rank window and
    # re-scanned lineitem per fork (2 scans, r9 audit; now 1, and the
    # per-group sort runs once)
    rk = v.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    ).localCheckpoint()
    cuts = rk.groupBy("l_returnflag").agg(
        F.max(
            F.when(
                F.col("i") == F.ceil(0.05 * F.col("n")).cast("long"),
                F.col("p"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("i") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("p"),
            )
        ).alias("hi"),
        F.max("n").alias("n"),
    )
    return (
        rk.drop("n", "i")
        .join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag", "n", "lo", "hi")
        .agg(
            F.floor(
                F.sum(
                    F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
                ).cast("double")
                / F.col("n")
                + F.lit(0.5)
            ).alias("wsum")
        )
        .select(
            "l_returnflag",
            F.col("n").cast("long").alias("n_rows"),
            (F.col("lo") / 10000.0).alias("p05"),
            (F.col("hi") / 10000.0).alias("p95"),
            (F.col("wsum") / 10000.0).alias("winsorized_avg"),
        )
    )


@query(
    "lorenz_revenue_deciles",
    """
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS s
      FROM orders GROUP BY o_custkey
    ),
    rk AS (
      SELECT s, ntile(10) OVER (ORDER BY s, o_custkey) AS decile
      FROM spend
    ),
    d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             sum(s) AS ds
      FROM rk GROUP BY decile
    ),
    t AS (SELECT sum(ds) AS total FROM d)
    SELECT decile, n_customers,
           floor(CAST(sum(ds) OVER (ORDER BY decile
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(t.total AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS cum_revenue_share
    FROM d, t
    """,
)
def lorenz_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue by decile — the 'bottom 50%
    hold X% of revenue' chart behind the Gini entry: customers rank by
    exact scaled-integer spend (custkey tie-break, so ntile boundaries
    are deterministic), each decile's revenue sums exactly, and the
    cumulative share is one IEEE division of exact integers per row,
    4dp.

    100 TB shape: one fact shuffle to per-customer spend; the global
    ntile is the one unpartitioned window (customer-count sized, the
    smallest frame in the query — at extreme cardinality switch to
    range-partitioned rank + broadcast boundaries); the decile rollup
    and cumulative window run over 10 rows."""
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(money_scaled(F.col("o_totalprice"))).alias("s")
    )
    rk = spend.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("s", "o_custkey"))
    )
    # 10-row decile table, checkpointed: it feeds the total AND the
    # cumulative output — un-cut lineage re-scanned orders per fork
    # (2 scans, r9 audit; now 1)
    d = rk.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("s").alias("ds"),
    ).localCheckpoint()
    t = d.agg(F.sum("ds").alias("total"))
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn("cs", F.sum("ds").over(cum))
        .select(
            "decile",
            "n_customers",
            (
                F.floor(
                    F.col("cs").cast("double")
                    / F.col("total").cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("cum_revenue_share"),
        )
    )


@query(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS cur, next_type AS nxt, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    t AS (SELECT cur, sum(n) AS total FROM c GROUP BY cur)
    SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n_transitions,
           floor(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) * 1e4 + 0.5)
               / 1e4 AS p
    FROM c JOIN t USING (cur)
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — P(next | current) for every event-type pair, the
    product-analytics 'what do users do after X' primitive: order each
    user's events by (ts, event_id) (the id tie-break makes
    simultaneous events deterministic), pair each with its successor
    via lead(), count transitions, and normalize per source state.
    Counts are exact integers; probabilities are exact int/int
    quotients on the 4dp grid.

    100 TB shape: one user_id-partitioned window (state bounded per
    user), then two aggregates over reduced (cur, nxt) rows — 25 pairs
    here, event-type-squared in general."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    # O(types^2) transition counts, checkpointed: it feeds the
    # per-state normalizer AND the output join — un-cut lineage
    # re-ran the per-user window and re-scanned events per fork
    # (2 scans, r9 audit; now 1)
    c = seq.groupBy(
        F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
    ).agg(F.count("*").alias("n")).localCheckpoint()
    t = c.groupBy("cur").agg(F.sum("n").alias("total"))
    return c.join(t, "cur").select(
        "cur",
        "nxt",
        F.col("n").cast("long").alias("n_transitions"),
        (
            F.floor(
                F.col("n").cast("double") / F.col("total").cast("double") * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("p"),
    )


@query(
    "cusum_changepoint_hourly",
    """
    WITH e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    b AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    s AS (
      SELECT hour, cnt,
             row_number() OVER (ORDER BY hour) AS k,
             sum(cnt) OVER (ORDER BY hour ROWS UNBOUNDED PRECEDING)
                 AS prefix,
             (SELECT count(*) FROM c) AS n,
             (SELECT sum(cnt) FROM c) AS total
      FROM c
    ),
    scored AS (
      SELECT hour, k, CAST(n * prefix - k * total AS BIGINT) AS cusum
      FROM s WHERE k < n
    )
    SELECT hour AS changepoint_hour,
           CAST(k AS BIGINT) AS k,
           cusum AS cusum_scaled
    FROM scored
    ORDER BY abs(cusum) DESC, hour LIMIT 1
    """,
)
def cusum_changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event rate, EXACT:
    the classic statistic max_k |sum_{i<=k}(x_i - mean)| needs the
    fractional mean — multiplying through by n turns it into
    S_k = n*prefix_k - k*total, PURE INTEGER arithmetic with the same
    argmax, so the detected split point is bit-identical on every
    engine (no running float drift).  Reports the hour k maximizing
    |S_k| — the boundary where the rate regime most plausibly changed
    — with deterministic tie-breaks.

    100 TB shape: the corpus-scale work is the hourly
    pre-aggregation; the prefix window and argmax run over the tiny
    dense spine; top-1 is TakeOrderedAndProject.  r9 optimization: the
    spine comes from the shared checkpointed ``_dense_hourly_counts``
    helper — the max-hour probe, the dense join, and the ``tot`` fork
    previously re-derived from the raw scan (4 corpus scans in the
    static plan), now one."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)
    tot = c.agg(
        F.count("*").alias("n"), F.sum("cnt").alias("total")
    )
    wp = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        c.withColumn("k", F.row_number().over(Window.orderBy("hour")))
        .withColumn("prefix", F.sum("cnt").over(wp))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n"))
        .select(
            F.col("hour").alias("changepoint_hour"),
            F.col("k").cast("long").alias("k"),
            (F.col("n") * F.col("prefix") - F.col("k") * F.col("total"))
            .cast("long")
            .alias("cusum_scaled"),
        )
    )
    return s.orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "changepoint_hour"
    ).limit(1)


@query(
    "holt_linear_trend",
    """
    WITH RECURSIVE e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    bnd AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM bnd),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt,
             row_number() OVER (ORDER BY h.hour) AS rn
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    r AS (
      SELECT rn, hour, cnt,
             CAST(cnt * 16 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS b
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.rn, c.hour, c.cnt,
             CAST(r.l + r.b + (c.cnt * 16 - (r.l + r.b)) // 4 AS BIGINT),
             CAST(r.b + ((r.l + r.b + (c.cnt * 16 - (r.l + r.b)) // 4
                          - r.l) - r.b) // 8 AS BIGINT)
      FROM r JOIN c ON c.rn = r.rn + 1
    )
    SELECT hour, CAST(cnt AS BIGINT) AS cnt,
           l AS level_x16, b AS trend_x16,
           CAST(l + b AS BIGINT) AS forecast_x16
    FROM r
    """,
)
def holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's LINEAR (double-exponential) smoothing of the hourly event
    rate — the trend-aware sibling of ``ewma_hourly_trend`` — in EXACT
    scale-16 fixed point (alpha = 1/4, beta = 1/8, truncating integer
    division):

        l_t = l' + b' + (16*y_t - (l' + b')) div 4
        b_t = b' + ((l_t - l') - b') div 8

    seeded l_1 = 16*y_1, b_1 = 0; forecast_x16 = l_t + b_t is the
    one-step-ahead prediction a float Holt drifts away from by an ulp
    per step.  The oracle replays the identical integer recurrence
    with a two-state RECURSIVE CTE, so every level/trend/forecast is
    bit-identical across engines.

    100 TB shape: corpus-scale work is the hourly pre-aggregation (one
    shuffle); the two-state recurrence is inherently sequential
    (truncating division breaks linearity, the documented trade for
    exactness) and runs over the tiny dense spine in one applyInPandas
    task."""
    import pandas as pd

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)

    def tdiv(a: int, d: int) -> int:
        # truncate toward zero, matching SQL integer division
        return a // d if a >= 0 else -((-a) // d)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        level = trend = None
        ls, bs = [], []
        for cnt in pdf["cnt"]:
            y = int(cnt) * 16
            if level is None:
                level, trend = y, 0
            else:
                prior = level + trend
                new_level = prior + tdiv(y - prior, 4)
                trend = trend + tdiv((new_level - level) - trend, 8)
                level = new_level
            ls.append(level)
            bs.append(trend)
        pdf["level_x16"] = ls
        pdf["trend_x16"] = bs
        pdf["forecast_x16"] = pdf["level_x16"] + pdf["trend_x16"]
        return pdf[["hour", "cnt", "level_x16", "trend_x16", "forecast_x16"]]

    return (
        c.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            fold,
            "hour timestamp, cnt long, level_x16 long, trend_x16 long, "
            "forecast_x16 long",
        )
    )


@query(
    "robust_scaler_features",
    """
    WITH rk AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    cuts AS (
      SELECT source,
             max(CASE WHEN i = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN n_chars END) AS q1,
             max(CASE WHEN i = CAST(ceil(0.50 * n) AS BIGINT)
                      THEN n_chars END) AS med,
             max(CASE WHEN i = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN n_chars END) AS q3
      FROM rk GROUP BY source
    )
    SELECT r.doc_id AS doc_id, r.source AS source,
           CAST(r.n_chars AS BIGINT) AS n_chars,
           c.med AS median_chars,
           c.q3 - c.q1 AS iqr_chars,
           CASE WHEN c.q3 = c.q1 THEN 0.0
                ELSE floor(CAST(r.n_chars - c.med AS DOUBLE)
                           / (c.q3 - c.q1) * 1e4 + 0.5) / 1e4
           END AS scaled
    FROM rk r JOIN cuts c USING (source)
    """,
)
def robust_scaler_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) feature scaling of document lengths per
    source — sklearn's RobustScaler as a DataFrame program, the
    normalization step quality classifiers apply before thresholding:
    center on the EXACT median and scale by the EXACT interquartile
    range, both as rank-ceil(q*n) order statistics over integers (the
    winsorized_price_stats recipe), so outliers cannot drag the scale
    the way mean/stddev scaling allows.  The only float operation is
    one final IEEE division of exact integers, half-up on the 4dp grid
    on both engines; a zero IQR falls back to 0 by contract.

    100 TB shape: one source-partitioned rank window (state bounded
    per group), a groups-sized cuts frame broadcast back, and a
    scan-stage projection for the scaling itself."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars")
    wn = Window.partitionBy("source")
    # ranked frame checkpointed: it feeds the quartile extraction AND
    # the scaling pass — un-cut lineage re-ran the per-source rank
    # window and re-scanned documents per fork (2 scans, r9 audit;
    # now 1, and the sort runs once)
    rk = d.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    ).localCheckpoint()

    def at(q):
        return F.max(
            F.when(
                F.col("i") == F.ceil(q * F.col("n")).cast("long"),
                F.col("n_chars"),
            )
        )

    cuts = rk.groupBy("source").agg(
        at(0.25).alias("q1"), at(0.50).alias("med"), at(0.75).alias("q3")
    )
    return (
        rk.drop("i", "n")
        .join(F.broadcast(cuts), "source")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("med").alias("median_chars"),
            (F.col("q3") - F.col("q1")).alias("iqr_chars"),
            F.when(F.col("q3") == F.col("q1"), F.lit(0.0))
            .otherwise(
                F.floor(
                    (F.col("n_chars") - F.col("med")).cast("double")
                    / (F.col("q3") - F.col("q1"))
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            )
            .alias("scaled"),
        )
    )


@query(
    "target_encoding_loo_nation",
    """
    WITH oc AS (
      SELECT o.o_orderkey, c.c_nationkey AS nation,
             CAST(floor(o.o_totalprice * 10000 + 0.5) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    w AS (
      SELECT o_orderkey, nation, x,
             sum(x) OVER (PARTITION BY nation) AS s,
             count(*) OVER (PARTITION BY nation) AS n
      FROM oc
    )
    SELECT o_orderkey, CAST(nation AS INT) AS nation,
           CASE WHEN n > 1
                THEN floor(CAST(s - x AS DOUBLE) / (n - 1) + 0.5) / 10000.0
           END AS loo_enc
    FROM w
    """,
)
def target_encoding_loo_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding of the customer nation by order
    value — the categorical-feature encoder that does NOT leak the
    row's own label: each order's encoding is the mean o_totalprice
    of every OTHER order in its nation, (S_nation - x_i)/(n-1).
    Computed on the exact scaled-long grid (the ``money_avg``
    discipline): integer window sums, one IEEE division of exact
    integers per row, half-up to 4dp — identical on both engines
    where a double-sum fold would drift.  Single-member groups encode
    NULL (no peers, no estimate) rather than a leaked self-mean.

    100 TB shape: one keyed join (orders x customer on custkey — both
    scale with SF, so NO broadcast hint; AQE picks the strategy) and
    one window shuffle on the 25-value nation key; nothing collects.
    At real scale the nation window is skew-prone (25 groups), so the
    production variant would compute (S, n) per nation with a
    groupBy (map-side combinable, 25-row result) and broadcast-join
    it back — same integers, same result; the window form is used
    here because the per-row subtraction IS the LOO point.
    Reference scope: flo has no relational surface — north-star
    extension (SURVEY §2 Part B)."""
    oc = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.col("c_nationkey").cast("int").alias("nation"),
            money_scaled(F.col("o_totalprice")).alias("x"),
        )
    )
    w = Window.partitionBy("nation")
    s = F.sum("x").over(w)
    n = F.count(F.lit(1)).over(w)
    return oc.select(
        "o_orderkey",
        "nation",
        F.when(
            n > 1,
            F.floor((s - F.col("x")).cast("double") / (n - 1) + F.lit(0.5))
            / F.lit(10000.0),
        ).alias("loo_enc"),
    )


@query(
    "holt_winters_seasonal",
    """
    WITH RECURSIVE e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    bnd AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM bnd),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt,
             row_number() OVER (ORDER BY h.hour) AS rn
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    r AS (
      SELECT rn, hour, cnt,
             CAST(cnt * 16 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS b,
             [CAST(0 AS BIGINT)] AS seas
      FROM c WHERE rn = 1
      UNION ALL
      SELECT c.rn, c.hour, c.cnt,
        CASE WHEN r.rn < 24 THEN CAST(c.cnt * 16 AS BIGINT)
             ELSE CAST(r.l + r.b
                       + (c.cnt * 16 - r.seas[1] - (r.l + r.b)) // 4
                  AS BIGINT) END,
        CASE WHEN r.rn < 24 THEN CAST(0 AS BIGINT)
             ELSE CAST(r.b + ((r.l + r.b
                       + (c.cnt * 16 - r.seas[1] - (r.l + r.b)) // 4
                       - r.l) - r.b) // 8 AS BIGINT) END,
        CASE WHEN r.rn < 24 THEN list_append(r.seas, CAST(0 AS BIGINT))
             ELSE list_append(list_slice(r.seas, 2, 24),
                  CAST(r.seas[1]
                       + (c.cnt * 16
                          - (r.l + r.b
                             + (c.cnt * 16 - r.seas[1] - (r.l + r.b)) // 4)
                          - r.seas[1]) // 16 AS BIGINT)) END
      FROM r JOIN c ON c.rn = r.rn + 1
    )
    SELECT hour, CAST(cnt AS BIGINT) AS cnt,
           l AS level_x16, b AS trend_x16,
           seas[len(seas)] AS season_x16,
           CASE WHEN len(seas) = 24
                THEN CAST(l + b + seas[1] AS BIGINT) END AS forecast_x16
    FROM r
    """,
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE Holt-Winters (triple-exponential) smoothing of the
    hourly event rate with a 24-hour season — the seasonal completion
    of ``holt_linear_trend`` — in EXACT scale-16 fixed point
    (alpha = 1/4, beta = 1/8, gamma = 1/16, truncating division):

        l_t = l' + b' + (16*y_t - s_{t-24} - (l' + b')) div 4
        b_t = b' + ((l_t - l') - b') div 8
        s_t = s_{t-24} + (16*y_t - l_t - s_{t-24}) div 16

    seeded for t <= 24 with l_t = 16*y_t, b_t = 0, s_t = 0; the
    one-step forecast l_t + b_t + s_{t+1-24} exists once a full
    season is buffered.  The oracle replays the identical integers
    with a RECURSIVE CTE whose state carries the 24-slot seasonal
    ring as a LIST column — bit-identical across engines where a
    float Holt-Winters drifts per step.

    100 TB shape: as holt_linear_trend — corpus-scale work is the
    hourly pre-aggregation (one shuffle); the recurrence is
    inherently sequential (truncating division breaks linearity, the
    documented trade for exactness) and folds the tiny dense spine
    in one applyInPandas task."""
    import pandas as pd

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)

    def tdiv(a: int, d: int) -> int:
        # truncate toward zero, matching SQL integer division
        return a // d if a >= 0 else -((-a) // d)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import deque

        pdf = pdf.sort_values("hour").reset_index(drop=True)
        level = trend = 0
        seas: deque[int] = deque()
        ls, bs, ss, fs = [], [], [], []
        for t, cnt in enumerate(pdf["cnt"], 1):
            y = int(cnt) * 16
            if t <= 24:
                level, trend, s = y, 0, 0
                seas.append(0)
            else:
                sa = seas[0]
                prior = level + trend
                new_level = prior + tdiv(y - sa - prior, 4)
                trend = trend + tdiv((new_level - level) - trend, 8)
                s = sa + tdiv(y - new_level - sa, 16)
                level = new_level
                seas.popleft()
                seas.append(s)
            ls.append(level)
            bs.append(trend)
            ss.append(s)
            fs.append(level + trend + seas[0] if len(seas) == 24 else None)
        pdf["level_x16"] = ls
        pdf["trend_x16"] = bs
        pdf["season_x16"] = ss
        pdf["forecast_x16"] = pd.array(fs, dtype="Int64")
        return pdf[
            ["hour", "cnt", "level_x16", "trend_x16", "season_x16",
             "forecast_x16"]
        ]

    return (
        c.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            fold,
            "hour timestamp, cnt long, level_x16 long, trend_x16 long, "
            "season_x16 long, forecast_x16 long",
        )
    )


@query(
    "gapfill_locf_interpolate",
    """
    WITH e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    obs AS (SELECT hour, sum(cents) AS v FROM e GROUP BY hour),
    bnd AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM obs),
    spine AS (
      SELECT unnest(generate_series((SELECT h0 FROM bnd),
                                    (SELECT h1 FROM bnd),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    j AS (
      SELECT s.hour, obs.v,
             row_number() OVER (ORDER BY s.hour) AS rn
      FROM spine s LEFT JOIN obs ON obs.hour = s.hour
    ),
    w AS (
      SELECT hour, v, rn,
             last_value(v IGNORE NULLS) OVER
               (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS locf,
             last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
               OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS prn,
             first_value(v IGNORE NULLS) OVER
               (ORDER BY rn ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
               OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS nrn
      FROM j
    )
    SELECT hour,
           CAST(v AS BIGINT) AS observed_cents,
           CAST(locf AS BIGINT) AS locf_cents,
           CAST(CASE
             WHEN v IS NOT NULL THEN v * 10000
             WHEN locf IS NULL OR nv IS NULL THEN NULL
             ELSE locf * 10000
                  + ((nv - locf) * 10000 * (rn - prn)) // (nrn - prn)
           END AS BIGINT) AS interp_x1e4
    FROM w
    """,
)
def gapfill_locf_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filling of a SPARSE hourly series (hours
    with no purchases are MISSING, not zero) with both standard
    policies: LOCF (last observation carried forward) and LINEAR
    interpolation between the surrounding observations — TimescaleDB
    time_bucket_gapfill + locf()/interpolate() semantics.  All
    arithmetic exact: the metric rides the scaled-long cents grid,
    the interpolation is integer ((v2-v1)*1e4*dt) div span on the
    hour-rank axis, and leading/trailing unbounded regions are NULL
    (no invented data).  IGNORE-NULLS window frames find the
    surrounding observations — no self-join against the observed
    set.

    100 TB shape: corpus-scale work is one hourly pre-aggregation
    shuffle; the spine is bounded by the time range, and all four
    IGNORE-NULLS lookups share one ordered pass.  The global-ordered
    window is the documented trade at the spine's (tiny) scale; a
    sharded deployment would partition the spine by coarse time
    range and stitch boundaries."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("hour", "ts").alias("hour"),
            money_scaled(F.col("value")).alias("cents"),
        )
    )
    # O(hours) observed table, checkpointed: it feeds the spine
    # bounds AND the gap-fill join — un-cut lineage re-scanned events
    # per fork (2 scans, r9 audit; now 1)
    obs = e.groupBy("hour").agg(F.sum("cents").alias("v")).localCheckpoint()
    bnd = obs.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    spine = bnd.select(
        F.explode(
            F.expr("sequence(h0, h1, interval 1 hour)")
        ).alias("hour")
    )
    j = (
        spine.join(obs, "hour", "left")
        .withColumn("rn", F.row_number().over(Window.orderBy("hour")))
    )
    wo = Window.orderBy("rn")
    pre = wo.rowsBetween(Window.unboundedPreceding, 0)
    fol = wo.rowsBetween(0, Window.unboundedFollowing)
    vrn = F.when(F.col("v").isNotNull(), F.col("rn"))
    w = j.select(
        "hour",
        "v",
        "rn",
        F.last("v", ignorenulls=True).over(pre).alias("locf"),
        F.last(vrn, ignorenulls=True).over(pre).alias("prn"),
        F.first("v", ignorenulls=True).over(fol).alias("nv"),
        F.first(vrn, ignorenulls=True).over(fol).alias("nrn"),
    )
    return w.select(
        "hour",
        F.col("v").cast("long").alias("observed_cents"),
        F.col("locf").cast("long").alias("locf_cents"),
        F.when(F.col("v").isNotNull(), F.col("v") * 10000)
        .when(F.col("locf").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(
            F.col("locf") * 10000
            + F.expr(
                "((nv - locf) * 10000 * (rn - prn)) DIV (nrn - prn)"
            )
        )
        .cast("long")
        .alias("interp_x1e4"),
    )


@query(
    "seasonal_decompose_hourly",
    """
    WITH e AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour FROM events
    ),
    bnd AS (SELECT max(hour) AS h1 FROM e),
    hours AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    (SELECT h1 FROM bnd),
                                    INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt
      FROM hours h LEFT JOIN e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    t AS (
      SELECT hour, cnt,
             CASE WHEN count(*) OVER w1 = 24 AND count(*) OVER w2 = 24
                  THEN sum(cnt) OVER w1 + sum(cnt) OVER w2 END AS trend_x48
      FROM c
      WINDOW w1 AS (ORDER BY hour ROWS BETWEEN 12 PRECEDING
                    AND 11 FOLLOWING),
             w2 AS (ORDER BY hour ROWS BETWEEN 11 PRECEDING
                    AND 12 FOLLOWING)
    ),
    d AS (
      SELECT hour, cnt, trend_x48,
             CASE WHEN trend_x48 IS NOT NULL
                  THEN 48 * cnt - trend_x48 END AS detr_x48,
             hour(hour) AS hod
      FROM t
    ),
    s AS (
      SELECT hod, sum(detr_x48) // count(detr_x48) AS seas_x48
      FROM d WHERE detr_x48 IS NOT NULL GROUP BY hod
    )
    SELECT d.hour, CAST(d.cnt AS BIGINT) AS cnt,
           CAST(d.trend_x48 AS BIGINT) AS trend_x48,
           CAST(s.seas_x48 AS BIGINT) AS seasonal_x48,
           CAST(d.detr_x48 - s.seas_x48 AS BIGINT) AS remainder_x48
    FROM d LEFT JOIN s ON s.hod = d.hod AND d.detr_x48 IS NOT NULL
    """,
)
def seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL additive seasonal decomposition of the hourly event
    rate (trend + seasonal + remainder, period 24) in EXACT x48 fixed
    point: the even-period centered moving average is the sum of the
    two straddling 24-hour window sums (the [1,2,...,2,1]/48 kernel
    with the /48 NEVER performed — the x48 numerator is the exact
    integer), detrended values are 48*y - trend, the seasonal index
    is the truncating per-hour-of-day mean of detrended values, and
    the remainder closes the identity detr = seasonal + remainder
    exactly.  Hours whose +-12 neighborhood leaves the observed range
    have NULL trend/seasonal/remainder — no invented edge data.

    100 TB shape: one hourly pre-aggregation shuffle; the two sliding
    sums share one ordered pass over the (tiny, time-bounded) spine;
    the seasonal index is a 24-row aggregate joined back broadcast.
    The spine window is globally ordered — the documented trade at
    spine scale (cf. gapfill_locf_interpolate)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)
    w1 = Window.orderBy("hour").rowsBetween(-12, 11)
    w2 = Window.orderBy("hour").rowsBetween(-11, 12)
    t = c.select(
        "hour",
        "cnt",
        F.when(
            (F.count("*").over(w1) == 24) & (F.count("*").over(w2) == 24),
            F.sum("cnt").over(w1) + F.sum("cnt").over(w2),
        ).alias("trend_x48"),
    )
    d = t.select(
        "hour",
        "cnt",
        "trend_x48",
        F.when(
            F.col("trend_x48").isNotNull(),
            48 * F.col("cnt") - F.col("trend_x48"),
        ).alias("detr_x48"),
        F.hour("hour").alias("hod"),
    )
    s = (
        d.filter(F.col("detr_x48").isNotNull())
        .groupBy("hod")
        .agg(
            F.expr("sum(detr_x48) DIV count(detr_x48)").alias("seas_x48")
        )
    )
    return (
        d.join(
            F.broadcast(s),
            (d["hod"] == s["hod"]) & d["detr_x48"].isNotNull(),
            "left",
        )
        .select(
            "hour",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("trend_x48").cast("long").alias("trend_x48"),
            F.col("seas_x48").cast("long").alias("seasonal_x48"),
            (F.col("detr_x48") - F.col("seas_x48"))
            .cast("long")
            .alias("remainder_x48"),
        )
    )


@query(
    "grid_density_outliers",
    """
    WITH p AS (
      SELECT event_id, user_id,
             epoch_us(ts) // 7200000000 AS tc,
             CAST(floor(value / 20.0) AS BIGINT) AS vc
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (SELECT tc, vc, count(*) AS n FROM p GROUP BY tc, vc),
    nb AS (
      SELECT c.tc, c.vc, sum(o.n) AS neigh
      FROM cells c JOIN cells o
        ON o.tc BETWEEN c.tc - 1 AND c.tc + 1
       AND o.vc BETWEEN c.vc - 1 AND c.vc + 1
      GROUP BY c.tc, c.vc
    )
    SELECT p.event_id, p.user_id,
           CAST(nb.neigh AS BIGINT) AS neighborhood_n,
           nb.neigh < 3 AS is_outlier
    FROM p JOIN nb ON nb.tc = p.tc AND nb.vc = p.vc
    """,
)
def grid_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based outlier detection on the (time x value) plane —
    DBSCAN's core-point rule without the clustering: a purchase is an
    outlier when its 3x3 grid neighborhood (cell = the epsilon box:
    2 h x 20.0, the proximity_join_grid_2d geometry) holds fewer than
    minPts = 3 points.  The neighborhood count aggregates CELLS first
    (|cells| << |points|), so the 9-cell stencil join runs on the
    cell table and points just look their cell up — density per point
    without any point-point join.  Grid counts approximate the true
    epsilon-ball (standard grid-DBSCAN bound: the 3x3 stencil covers
    every true epsilon neighbor); the rule as stated IS the contract,
    reproduced exactly by the oracle.

    100 TB shape: one cell-count shuffle, one |cells|-sized stencil
    self-join (9x fanout on cell keys, never on points), one keyed
    lookup join for points; identical integer cell arithmetic to the
    proximity join (epoch_us, floor-division value buckets)."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts) div 7200000000").alias("tc"),
            F.floor(F.col("value") / 20.0).cast("long").alias("vc"),
        )
        # checkpointed: p feeds both the cell census and the final
        # per-point lookup, and the cell table itself forks into the
        # stencil scatter and the live-cell filter — un-cut lineage
        # re-scanned events per fork (3 scans, r9 audit; now 1)
        .localCheckpoint()
    )
    cells = p.groupBy("tc", "vc").agg(
        F.count("*").alias("n")
    ).localCheckpoint()
    # scatter each cell's count to its 9 neighbors IN THE SCAN STAGE
    # (explode of a literal stencil — no join at all), then gather
    # per target cell; the stencil never becomes a nested loop over
    # cells the way a BETWEEN-condition join would
    stencil = ", ".join(
        f"struct(tc + {dt} AS tc, vc + {dv} AS vc)"
        for dt in (-1, 0, 1)
        for dv in (-1, 0, 1)
    )
    nb = (
        cells.select(
            F.explode(F.expr(f"array({stencil})")).alias("s"), "n"
        )
        .select(F.col("s.tc").alias("tc"), F.col("s.vc").alias("vc"), "n")
        .groupBy("tc", "vc")
        .agg(F.sum("n").alias("neigh"))
        .join(cells.select("tc", "vc"), ["tc", "vc"])
    )
    return p.join(nb, ["tc", "vc"]).select(
        "event_id",
        "user_id",
        F.col("neigh").cast("long").alias("neighborhood_n"),
        (F.col("neigh") < 3).alias("is_outlier"),
    )


@query(
    "acf_hourly_lags",
    """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS hour FROM events
    ),
    h1 AS (SELECT max(hour) AS h1 FROM ev),
    hours AS (
      SELECT unnest(generate_series(
        TIMESTAMP '2024-01-01 00:00:00', (SELECT h1 FROM h1),
        INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt
      FROM hours h LEFT JOIN ev e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    tot AS (SELECT count(*) AS n, sum(cnt) AS s FROM c),
    dev AS (
      SELECT hour, CAST(n * cnt - s AS HUGEINT) AS dev
      FROM c, tot
    ),
    den AS (SELECT sum(dev * dev) AS den FROM dev),
    lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
    num AS (
      SELECT l.lag, sum(a.dev * b.dev) AS num, count(*) AS n_pairs
      FROM dev a
      JOIN lags l ON TRUE
      JOIN dev b ON b.hour = a.hour + INTERVAL 1 HOUR * l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN num >= 0 THEN (num * 10000) // den
                     ELSE -((-num * 10000) // den) END AS BIGINT)
             AS acf_x1e4
    FROM num, den
    """,
)
def acf_hourly_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event rate at lags
    1..24, in EXACT integer arithmetic: deviations are scaled by the
    series length (dev_t = n*x_t - S, so the /n mean is never
    performed), the lag-k numerator is sum(dev_t * dev_{t+k}) over
    observed pairs, the denominator is sum(dev^2), and the reported
    coefficient is the toward-zero-truncated 1e4-scaled quotient —
    the n^2 factors cancel, so this IS the textbook ACF on a 1e-4
    grid, bit-identical on both engines (doubles would drift in the
    sum fold).  Accumulation runs in decimal(38,0)/HUGEINT; ANSI mode
    raises on overflow rather than wrapping.

    100 TB shape: one hourly pre-aggregation shuffle collapses the
    corpus to a time-bounded spine; the 24 lags are a single explode
    (24x fanout on the SPINE, never on events) + one keyed self-join
    on hour; the denominator is a 1-row broadcast.  Completes the
    time-series family (EWMA/Holt/Holt-Winters/CUSUM/seasonal
    decomposition) with the diagnostic that picks their lag/period
    parameters.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)
    tot = c.agg(
        F.count("*").alias("n"), F.sum("cnt").alias("s")
    )
    dev = c.crossJoin(F.broadcast(tot)).select(
        "hour",
        (F.col("n") * F.col("cnt") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dev"),
    )
    den = dev.agg(F.sum(F.col("dev") * F.col("dev")).alias("den"))
    pairs = dev.select(
        "hour", F.col("dev").alias("dev_a"), F.explode(F.expr("sequence(1, 24)")).alias("lag")
    ).withColumn("hour", F.expr("hour + make_interval(0, 0, 0, 0, lag)"))
    num = (
        pairs.join(
            dev.select(F.col("hour").alias("hour"), F.col("dev").alias("dev_b")),
            "hour",
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("dev_a") * F.col("dev_b")).alias("num"),
            F.count("*").alias("n_pairs"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.when(
            F.col("num") >= 0,
            F.expr("(num * 10000) div den"),
        )
        .otherwise(-F.expr("((-num) * 10000) div den"))
        .cast("long")
        .alias("acf_x1e4"),
    )


@query(
    "exact_percentile_suite",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           median(CAST(l_quantity AS BIGINT)) AS median_qty,
           quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS p25_qty,
           quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS p75_qty,
           max_by(l_orderkey,
                  CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)
                    * 100000000 + l_orderkey) AS top_price_order,
           min_by(l_orderkey,
                  CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)
                    * 100000000 + l_orderkey) AS bottom_price_order
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def exact_percentile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ordered-set aggregates (vs the approx_percentile/KLL
    sketch family): ``median`` and ``percentile`` (R-7 linear
    interpolation) over integer quantities — every interpolated value
    is dyadic (k + {0,.25,.5,.75}), so the doubles are exact and
    engine-identical with no rounding step — plus ``max_by``/``min_by``
    with a COMPOSITE scaled (price, key) ordering scalar
    (price_x1e4 * 1e8 + orderkey — exact for orderkeys < 1e8, every
    driver SF; wider keys move the composite to decimal(38,0)), which
    makes the argmax deterministic under price ties (bare max_by on a
    tied ordering column is nondeterministic — the composite is the
    documented discipline).  DuckDB's quantile_cont/max_by implement
    the same interpolation and ordering — two engines, one exact
    answer.

    100 TB shape: exact percentiles are rank-based and need a sort of
    each group (Spark plans a single shuffle + per-group sort here —
    the honest cost of EXACT order statistics; the mergeable-sketch
    path for cluster-scale monitoring is quantile_sketch_mergeable /
    approx_quantile_bounded); max_by/min_by stay map-side-combinable.
    Six groups bound the output.  Reference scope: flo has no
    aggregate surface — north-star extension (SURVEY §2 Part B)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        money_scaled(F.col("l_extendedprice")).alias("price_x1e4"),
    )
    ordkey = F.col("price_x1e4") * 100000000 + F.col("l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.median("qty").alias("median_qty"),
        F.percentile("qty", F.lit(0.25)).alias("p25_qty"),
        F.percentile("qty", F.lit(0.75)).alias("p75_qty"),
        F.max_by(F.col("l_orderkey"), ordkey).alias("top_price_order"),
        F.min_by(F.col("l_orderkey"), ordkey).alias("bottom_price_order"),
    )


@query(
    "quantile_discretizer_encode",
    """
    WITH p AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders
    ),
    r AS (
      SELECT px, row_number() OVER (ORDER BY px, o_orderkey) AS rn FROM p
    ),
    n AS (SELECT count(*) AS n FROM p),
    b AS (
      SELECT
        max(CASE WHEN rn = CAST(ceil(0.25 * n.n) AS BIGINT)
            THEN px END) AS b1,
        max(CASE WHEN rn = CAST(ceil(0.50 * n.n) AS BIGINT)
            THEN px END) AS b2,
        max(CASE WHEN rn = CAST(ceil(0.75 * n.n) AS BIGINT)
            THEN px END) AS b3
      FROM r, n
    )
    SELECT CAST(CASE WHEN px > b3 THEN 3 WHEN px > b2 THEN 2
                     WHEN px > b1 THEN 1 ELSE 0 END AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(px) AS BIGINT) AS min_px,
           CAST(max(px) AS BIGINT) AS max_px
    FROM p, b
    GROUP BY 1
    """,
)
def quantile_discretizer_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib ``QuantileDiscretizer`` semantics as a deterministic
    DataFrame program (the feature-engineering sibling of
    vocab_index_encode's StringIndexer and robust_scaler_features'
    RobustScaler): 4 equal-frequency buckets of order totals with
    split points taken as EXACT rank order statistics
    (ceil(q*n), the winsorized discipline) on the 1e4 money grid —
    where MLlib would call approxQuantile with a relativeError, this
    pins the exact-rank contract so both engines agree bit-for-bit;
    bucket(x) = number of splits strictly below x (half-open
    [s_i, s_{i+1}) intervals, MLlib's rule).  Output: per-bucket
    cardinality and the realized [min, max] scaled-price range —
    near-equal counts by construction (ties land left).

    100 TB shape: the split points come from one ranked pass (swap in
    quantile_sketch_mergeable at a stated rank error to avoid the
    sort, same trade as shuffle_skew_profile documents); the splits
    broadcast as ONE row and encoding is a scan-stage CASE — the
    encode path adds zero shuffles.  Reference scope: flo has no ML
    surface — north-star extension (SURVEY §2 Part B pipeline
    hygiene)."""
    # 2-column base, checkpointed: it feeds the global ranking, the
    # row census, and the encode pass — un-cut lineage re-scanned
    # orders per fork (3 scans, r9 audit; now 1)
    p = load(spark, sf_dir, "orders").select(
        "o_orderkey", money_scaled(F.col("o_totalprice")).alias("px")
    ).localCheckpoint()
    r = p.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("px").asc(), F.col("o_orderkey").asc())
        ),
    )
    n = p.agg(F.count("*").alias("n"))
    b = r.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.when(F.col("rn") == F.ceil(0.25 * F.col("n")), F.col("px"))
        ).alias("b1"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.50 * F.col("n")), F.col("px"))
        ).alias("b2"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.75 * F.col("n")), F.col("px"))
        ).alias("b3"),
    )
    return (
        p.crossJoin(F.broadcast(b))
        .withColumn(
            "bucket",
            F.when(F.col("px") > F.col("b3"), 3)
            .when(F.col("px") > F.col("b2"), 2)
            .when(F.col("px") > F.col("b1"), 1)
            .otherwise(0)
            .cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("px").cast("long").alias("min_px"),
            F.max("px").cast("long").alias("max_px"),
        )
    )


@query(
    "theil_sen_hourly_trend",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    h0 AS (SELECT min(h) AS h0 FROM c),
    p AS (
      SELECT ((b.cnt - a.cnt) * 1000000
              + 1000000000000 * (b.h - a.h)) // (b.h - a.h)
             - 1000000000000 AS s
      FROM c a JOIN c b ON b.h > a.h
    ),
    m AS (SELECT count(*) AS n_pairs FROM p),
    r AS (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM p),
    sen AS (
      SELECT r.s AS sen FROM r, m WHERE r.rn = (m.n_pairs + 1) // 2
    ),
    ic AS (
      SELECT c.cnt * 1000000 - sen.sen * (c.h - h0.h0) AS b
      FROM c, sen, h0
    ),
    icn AS (SELECT count(*) AS n_hours FROM ic),
    ir AS (SELECT b, row_number() OVER (ORDER BY b) AS rn FROM ic),
    icb AS (
      SELECT ir.b AS icpt FROM ir, icn WHERE ir.rn = (icn.n_hours + 1) // 2
    )
    SELECT CAST(icn.n_hours AS BIGINT) AS n_hours,
           CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(sen.sen AS BIGINT) AS sen_slope_x1e6,
           CAST(icb.icpt AS BIGINT) AS intercept_x1e6
    FROM icn, m, sen, icb
    """,
)
def theil_sen_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the hourly event rate: the (lower)
    median of all pairwise slopes (c_j - c_i)/(h_j - h_i) over the
    hourly-count series, ENGINE-EXACT on the 1e-6 grid.  Each slope is
    floored onto the grid by a nonnegative-operand division — the
    numerator is offset by 1e12*(h_j - h_i) so DuckDB's floor ``//``
    and Spark's truncating ``div`` agree (valid while hourly counts
    stay below 1e6; see welch_t2_ab_test for the discipline) — and the
    median of the gridded integers is an exact rank pick, so the
    breakdown-point-0.29 estimator that outlier hours cannot drag
    (unlike the OLS slope) hash-matches across engines.  The intercept
    is the lower median of cnt_i*1e6 - sen*(h_i - h0): the robust
    level at the window start on the same grid.

    100 TB shape: one map-side-combinable hourly count collapses the
    corpus to a calendar-bounded spine (720 rows/month at ANY SF); the
    O(spine^2) pair join and the rank medians run on that spine —
    ~260k pairs, one broadcast nested loop + one single-partition
    sort, all driver-free.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B statistics,
    robust counterpart to holt_linear_trend's least-squares fit)."""
    OFF = 1_000_000_000_000
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
        # the spine feeds FOUR branches (pair sides, h0, intercepts);
        # without a persist each branch re-scans the corpus —
        # plan-pinned in tests/test_plans.py
        .persist()
    )
    h0 = c.agg(F.min("h").alias("h0"))
    a = c.select(F.col("h").alias("ha"), F.col("cnt").alias("ca"))
    b = c.select(F.col("h").alias("hb"), F.col("cnt").alias("cb"))
    p = a.join(b, F.col("hb") > F.col("ha")).select(
        (
            F.expr(
                f"((cb - ca) * 1000000 + {OFF} * (hb - ha))"
                " div (hb - ha)"
            )
            - F.lit(OFF)
        ).alias("s")
    )
    m = p.agg(F.count("*").alias("n_pairs"))
    r = p.select(
        "s", F.row_number().over(Window.orderBy("s")).alias("rn")
    )
    sen = (
        r.crossJoin(F.broadcast(m))
        .filter(F.expr("rn = (n_pairs + 1) div 2"))
        .select(F.col("s").alias("sen"), "n_pairs")
    )
    ic = c.crossJoin(F.broadcast(sen)).crossJoin(F.broadcast(h0)).select(
        (F.col("cnt") * 1_000_000 - F.col("sen") * (F.col("h") - F.col("h0"))).alias("b"),
        "sen",
        "n_pairs",
    )
    icn = ic.groupBy("sen", "n_pairs").agg(F.count("*").alias("n_hours"))
    ir = ic.select(
        "b", "sen", "n_pairs",
        F.row_number().over(Window.orderBy("b")).alias("rn"),
    )
    return (
        ir.crossJoin(F.broadcast(icn.select("n_hours")))
        .filter(F.expr("rn = (n_hours + 1) div 2"))
        .select(
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("sen").cast("long").alias("sen_slope_x1e6"),
            F.col("b").cast("long").alias("intercept_x1e6"),
        )
    )


@query(
    "decision_stump_status",
    """
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 1000000
               AS t,
             o_orderstatus AS s
      FROM orders
    ),
    cls AS (SELECT t, s, count(*) AS c FROM o GROUP BY t, s),
    ts AS (SELECT DISTINCT t FROM o),
    ss AS (SELECT DISTINCT s FROM o),
    grid AS (SELECT ts.t, ss.s FROM ts, ss),
    cum AS (
      SELECT g.t, g.s,
             sum(coalesce(cls.c, 0))
               OVER (PARTITION BY g.s ORDER BY g.t) AS lc
      FROM grid g LEFT JOIN cls ON cls.t = g.t AND cls.s = g.s
    ),
    tot AS (SELECT s, count(*) AS tc FROM o GROUP BY s),
    per AS (
      SELECT cum.t,
             sum(lc) AS nl, max(lc) AS maxl,
             sum(tc - lc) AS nr, max(tc - lc) AS maxr
      FROM cum JOIN tot ON tot.s = cum.s
      GROUP BY cum.t
    ),
    scored AS (
      SELECT t, nl, nr, maxl, maxr,
             (nl - maxl) + (nr - maxr) AS mis
      FROM per WHERE nr > 0
    ),
    best AS (SELECT * FROM scored ORDER BY mis, t LIMIT 1),
    base AS (
      SELECT (SELECT count(*) FROM o) - max(tc) AS base_mis FROM tot
    )
    SELECT CAST((best.t + 1) * 10000 AS BIGINT) AS threshold_usd,
           CAST(best.nl AS BIGINT) AS n_left,
           CAST(best.nr AS BIGINT) AS n_right,
           (SELECT min(cum.s) FROM cum, best b2
             WHERE cum.t = b2.t AND cum.lc = b2.maxl) AS left_label,
           (SELECT min(cum.s) FROM cum JOIN tot ON tot.s = cum.s, best b3
             WHERE cum.t = b3.t AND tot.tc - cum.lc = b3.maxr)
             AS right_label,
           CAST(best.mis AS BIGINT) AS misclass,
           CAST(base.base_mis AS BIGINT) AS baseline_misclass
    FROM best, base
    """,
)
def decision_stump_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split decision stump predicting o_orderstatus from
    o_totalprice, ENGINE-EXACT: candidate thresholds are the $10,000
    bucket boundaries, the split criterion is the MISCLASSIFICATION
    impurity sum_{side}(n_side - max_c n_{c,side}) — a pure integer, so
    the exact argmin (tie-break: lowest threshold) and the majority
    labels (tie-break: lexicographically smallest among argmax classes)
    hash-match across engines where a Gini/entropy stump's per-split
    rational denominators could not be totally ordered in SQL without
    floats.  The full CART recursion is this primitive applied per
    node; one level is what a feature-importance triage needs.

    100 TB shape: one map-side-combinable (bucket, class) count
    collapses the corpus to a |buckets| x |classes| grid (~150 rows at
    ANY SF); cumulative left-counts, per-threshold scoring, and the
    argmin all run on that grid — the same aggregate-then-spine shape
    as the histogram entries; nothing corpus-scale moves twice.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B, the supervised counterpart to
    quantile_discretizer_encode's unsupervised binning)."""
    o = load(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            " div 1000000"
        ).alias("t"),
        F.col("o_orderstatus").alias("s"),
        # the bucket/class/total/label branches all re-derive this
        # projection; persist or the fact re-scans 20x (plan-pinned)
    ).persist()
    cls = o.groupBy("t", "s").agg(F.count("*").alias("c")).persist()
    ts = o.select("t").distinct()
    ss = o.select("s").distinct()
    grid = ts.crossJoin(ss)
    cum = grid.join(cls, ["t", "s"], "left").select(
        "t",
        "s",
        F.sum(F.coalesce(F.col("c"), F.lit(0)))
        .over(Window.partitionBy("s").orderBy("t"))
        .alias("lc"),
    )
    tot = o.groupBy("s").agg(F.count("*").alias("tc"))
    joined = cum.join(tot, "s")
    per = joined.groupBy("t").agg(
        F.sum("lc").alias("nl"),
        F.max("lc").alias("maxl"),
        F.sum(F.col("tc") - F.col("lc")).alias("nr"),
        F.max(F.col("tc") - F.col("lc")).alias("maxr"),
    )
    scored = per.filter(F.col("nr") > 0).select(
        "t", "nl", "nr", "maxl", "maxr",
        ((F.col("nl") - F.col("maxl")) + (F.col("nr") - F.col("maxr"))).alias("mis"),
    )
    best = scored.orderBy("mis", "t").limit(1)
    left_lab = (
        best.select("t", "maxl")
        .join(cum, ["t"])
        .filter(F.col("lc") == F.col("maxl"))
        .agg(F.min("s").alias("left_label"))
    )
    right_lab = (
        best.select("t", "maxr")
        .join(joined, ["t"])
        .filter(F.col("tc") - F.col("lc") == F.col("maxr"))
        .agg(F.min("s").alias("right_label"))
    )
    base = (
        tot.agg(
            F.sum("tc").alias("n_all"), F.max("tc").alias("max_tc")
        ).select((F.col("n_all") - F.col("max_tc")).alias("base_mis"))
    )
    return (
        best.crossJoin(F.broadcast(left_lab))
        .crossJoin(F.broadcast(right_lab))
        .crossJoin(F.broadcast(base))
        .select(
            ((F.col("t") + 1) * 10000).cast("long").alias("threshold_usd"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            "left_label",
            "right_label",
            F.col("mis").cast("long").alias("misclass"),
            F.col("base_mis").cast("long").alias("baseline_misclass"),
        )
    )


@query(
    "ols_two_feature_cramer",
    """
    WITH v AS (
      SELECT CAST(floor(l_quantity + 0.5) AS HUGEINT) AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS x2,
             CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
             sum(x1 * x2) AS s12,
             sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      FROM v
    ),
    det AS (
      SELECT n, s1, s2,
        n * (s11 * s22 - s12 * s12)
          - s1 * (s1 * s22 - s12 * s2)
          + s2 * (s1 * s12 - s11 * s2) AS dm,
        sy * (s11 * s22 - s12 * s12)
          - s1 * (s1y * s22 - s12 * s2y)
          + s2 * (s1y * s12 - s11 * s2y) AS d0,
        n * (s1y * s22 - s12 * s2y)
          - sy * (s1 * s22 - s12 * s2)
          + s2 * (s1 * s2y - s1y * s2) AS d1,
        n * (s11 * s2y - s1y * s12)
          - s1 * (s1 * s2y - s1y * s2)
          + sy * (s1 * s12 - s11 * s2) AS d2
      FROM s
    ),
    c AS (
      SELECT n, dm,
        (d0 + 1000000000000 * dm) // dm AS q0,
        (d0 + 1000000000000 * dm) % dm AS r0,
        (d1 + 1000000000000 * dm) // dm AS q1,
        (d1 + 1000000000000 * dm) % dm AS r1,
        (d2 + 1000000000000 * dm) // dm AS q2,
        (d2 + 1000000000000 * dm) % dm AS r2
      FROM det
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(q0 * 1000000 + (r0 * 1000000) // dm
                - 1000000000000000000 AS BIGINT) AS b0_x1e6,
           CAST(q1 * 1000000 + (r1 * 1000000) // dm
                - 1000000000000000000 AS BIGINT) AS b1_x1e6,
           CAST(q2 * 1000000 + (r2 * 1000000) // dm
                - 1000000000000000000 AS BIGINT) AS b2_x1e6
    FROM c
    """,
)
def ols_two_feature_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression — extended price (1e4 money grid) on
    quantity and discount-percent — solved in closed form by CRAMER'S
    RULE over the 3x3 normal equations, ENGINE-EXACT: the nine power
    sums accumulate as exact integers in decimal(38,0)/HUGEINT, the
    four determinants are integer polynomials of those sums, and each
    coefficient det_k/det(M) lands on the 1e-6 grid through a
    nonnegative-operand floor-division chain (offset by 1e12*det(M),
    i.e. coefficients must stay within ±1e12 grid units — they are
    ~1e9 here; two-step q*1e6 + (r*1e6)//dm keeps every intermediate
    under 38 digits where the naive det*1e6 would overflow).  Extends
    regression_price_quantity (one regressor) to the genuinely
    multivariate case where collinearity between regressors matters;
    det(M) > 0 is Gram positive-definiteness.

    100 TB shape: identical to q6 — ONE map-side-combinable aggregate
    over the fact scan producing nine integer partials, a single-row
    combine, then O(1) driver-free arithmetic; adding regressors grows
    the partial vector quadratically but never adds a pass or a
    shuffle.  This is the textbook reason normal-equation OLS beats
    gradient descent on Spark for small feature counts.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics)."""
    li = load(spark, sf_dir, "lineitem")
    d = lambda c: c.cast("decimal(38,0)")
    v = li.select(
        d(F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).alias("x1"),
        d(F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")).alias("x2"),
        d(money_scaled(F.col("l_extendedprice"))).alias("y"),
    )
    s = v.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    det = s.selectExpr(
        "n",
        "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s12 - s11 * s2) AS dm",
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
        " + s2 * (s1y * s12 - s11 * s2y) AS d0",
        "n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
        " + s2 * (s1 * s2y - s1y * s2) AS d1",
        "n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
        " + sy * (s1 * s12 - s11 * s2) AS d2",
    )
    c = det.selectExpr(
        "n",
        "dm",
        "(d0 + 1000000000000 * dm) div dm AS q0",
        "(d0 + 1000000000000 * dm) % dm AS r0",
        "(d1 + 1000000000000 * dm) div dm AS q1",
        "(d1 + 1000000000000 * dm) % dm AS r1",
        "(d2 + 1000000000000 * dm) div dm AS q2",
        "(d2 + 1000000000000 * dm) % dm AS r2",
    )
    return c.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(q0 * 1000000 + (r0 * 1000000) div dm"
        " - 1000000000000000000 AS BIGINT) AS b0_x1e6",
        "CAST(q1 * 1000000 + (r1 * 1000000) div dm"
        " - 1000000000000000000 AS BIGINT) AS b1_x1e6",
        "CAST(q2 * 1000000 + (r2 * 1000000) div dm"
        " - 1000000000000000000 AS BIGINT) AS b2_x1e6",
    )


@query(
    "kmeans_lloyd_rounds",
    """
    WITH p AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    seed AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)
    ),
    c0 AS (
      SELECT s.cid, p.dim, p.x AS c
      FROM seed s JOIN p ON p.vec_id = s.vec_id
    ),
    d1 AS (
      SELECT p.vec_id, c.cid,
             sum((p.x - c.c) * (p.x - c.c)) AS dist
      FROM p JOIN c0 c ON c.dim = p.dim
      GROUP BY p.vec_id, c.cid
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a.cid, p.dim,
             (sum(p.x) + 100000 * count(*)) // count(*) - 100000 AS c
      FROM a1 a JOIN p ON p.vec_id = a.vec_id
      GROUP BY a.cid, p.dim
    ),
    d2 AS (
      SELECT p.vec_id, c.cid,
             sum((p.x - c.c) * (p.x - c.c)) AS dist
      FROM p JOIN c1 c ON c.dim = p.dim
      GROUP BY p.vec_id, c.cid
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    ),
    c2 AS (
      SELECT a.cid, p.dim,
             (sum(p.x) + 100000 * count(*)) // count(*) - 100000 AS c
      FROM a2 a JOIN p ON p.vec_id = a.vec_id
      GROUP BY a.cid, p.dim
    ),
    d3 AS (
      SELECT p.vec_id, c.cid,
             sum((p.x - c.c) * (p.x - c.c)) AS dist
      FROM p JOIN c2 c ON c.dim = p.dim
      GROUP BY p.vec_id, c.cid
    ),
    a3 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist, row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d3) WHERE rn = 1
    ),
    stats AS (
      SELECT cid, count(*) AS n_members, sum(vec_id) AS sum_vec_ids,
             sum(dist) AS wcss
      FROM a3 GROUP BY cid
    ),
    cstat AS (
      SELECT cid, sum(c * c) AS sumsq,
             max(CASE WHEN dim = 0 THEN c END) AS c_dim0
      FROM c2 GROUP BY cid
    )
    SELECT CAST(stats.cid AS INT) AS cid,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(sum_vec_ids AS BIGINT) AS sum_vec_ids,
           CAST(wcss AS BIGINT) AS wcss,
           CAST(sumsq AS BIGINT) AS centroid_sumsq,
           CAST(c_dim0 AS BIGINT) AS centroid_dim0_x1e4
    FROM stats JOIN cstat ON cstat.cid = stats.cid
    """,
)
def kmeans_lloyd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 rounds) over the embeddings table in
    EXACT fixed point — the canonical iterative-ML loop made
    engine-exact: components quantize to the 1e4 grid, squared
    distances are exact BIGINT sums, argmin assignment tie-breaks
    (dist, cid) deterministically, and re-centering is the truncated
    integer mean on the same grid ((S + 1e5*n) div n - 1e5, operands
    kept nonnegative so floor and truncating division agree).  Seeds
    are the 4 smallest vec_ids; a fixed round count makes the result
    a deterministic relation (data-dependent convergence isn't).  The
    oracle unrolls the identical assign/recenter/assign chain as CTEs
    — two independent evaluations of one exact algorithm.  Output per
    cluster: size, member checksum, within-cluster sum of squares,
    and the round-2 centroid's exact norm/first component.

    100 TB shape: per round ONE broadcast of the k x dim centroid
    table against the scanned corpus (distances via zip_with/aggregate
    JVM HOFs — no explode on the corpus side, no shuffle for scoring),
    one keyed (cid, dim) partial-sum shuffle to re-center (posexplode
    of ASSIGNED rows ships dim-level partials, combiner-friendly);
    rounds scale linearly and nothing corpus-sized ever sits in
    driver memory — the same Pregel-on-DataFrames discipline as
    pagerank_customer_supplier.  The semantic-dedup IVF quantizer
    (operators/similarity.py) uses a bounded SAMPLE for speed; this
    entry is the full-corpus exact form.  Reference scope: flo has no
    analytics surface — north-star extension (SURVEY §2 Part B)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)"
            " AS BIGINT))"
        ).alias("qv"),
        # three assignment passes + per-round recenter explodes all
        # reuse the quantized corpus; persist or each branch re-scans
        # it (7 scans unpersisted — plan-pinned)
    ).persist()
    seeds = (
        q.orderBy("vec_id")
        .limit(4)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias(
                "cid"
            ),
            F.col("qv").alias("cv"),
        )
    )

    def assign(cents: DataFrame) -> DataFrame:
        j = q.crossJoin(F.broadcast(cents)).withColumn(
            "dist",
            F.expr(
                "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ),
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "qv", "cid", "dist")
        )

    def recenter(assigned: DataFrame) -> DataFrame:
        ex = assigned.select(
            "cid", F.posexplode("qv").alias("dim", "x")
        )
        cd = (
            ex.groupBy("cid", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .selectExpr(
                "cid", "dim", "(s + 100000 * n) div n - 100000 AS c"
            )
        )
        return cd.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c))),"
                " t -> t.c)"
            ).alias("cv")
        )

    c1 = recenter(assign(seeds))
    c2 = recenter(assign(c1))
    a3 = assign(c2)
    stats = a3.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("vec_id").alias("sum_vec_ids"),
        F.sum("dist").alias("wcss"),
    )
    cstat = c2.select(
        "cid",
        F.expr("aggregate(cv, 0L, (acc, x) -> acc + x * x)").alias(
            "sumsq"
        ),
        F.element_at("cv", 1).alias("c_dim0"),
    )
    return stats.join(cstat, "cid").select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("sum_vec_ids").cast("long").alias("sum_vec_ids"),
        F.col("wcss").cast("long").alias("wcss"),
        F.col("sumsq").cast("long").alias("centroid_sumsq"),
        F.col("c_dim0").cast("long").alias("centroid_dim0_x1e4"),
    )


@query(
    "session_path_topk",
    """
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             concat_ws('>',
               max(CASE WHEN rn = 1 THEN event_type END),
               max(CASE WHEN rn = 2 THEN event_type END),
               max(CASE WHEN rn = 3 THEN event_type END)) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 10
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening event paths — each user's first three events in
    deterministic (ts, event_id) order joined into an 'a>b>c' journey
    string, counted across users (concat_ws drops the NULL slots of
    short histories identically on both engines, so 1- and 2-event
    users fold into their natural prefixes).  The product-analytics
    path query next to funnel_conversion (fixed target sequence) and
    markov_event_transitions (memoryless step model): this one ranks
    the actual observed journeys.

    100 TB shape: one user-keyed shuffle for the per-user window, a
    conditional-aggregate collapse to one row per user (no arrays
    shipped), one path-keyed count, TakeOrderedAndProject for the
    top-k — no global sort.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B)."""
    ev = load(spark, sf_dir, "events")
    r = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = r.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path"))
        .limit(10)
        .select("path", F.col("n_users").cast("long").alias("n_users"))
    )


@query(
    "stratified_kfold_assignment",
    """
    WITH r AS (
      SELECT lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id)
               AS rn
      FROM documents
    ),
    f AS (SELECT lang, (rn - 1) % 5 AS fold FROM r),
    c AS (
      SELECT lang, fold, count(*) AS n_docs
      FROM f GROUP BY lang, fold
    )
    SELECT lang, CAST(fold AS INT) AS fold,
           CAST(n_docs AS BIGINT) AS n_docs,
           max(n_docs) OVER (PARTITION BY lang)
             - min(n_docs) OVER (PARTITION BY lang) <= 1 AS balanced
    FROM c
    """,
)
def stratified_kfold_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified k-fold cross-validation assignment (k=5, strata =
    language): within each stratum documents take a deterministic
    rank order (doc_id) and fold = (rank-1) mod 5, so every stratum
    splits as evenly as arithmetic allows — the audit column PROVES
    it in-query (max-min fold size <= 1 per stratum), the
    group_leakage_safe_split discipline applied to CV.  Unlike the
    hash-based train/val/test split (whose fold sizes are only
    binomially balanced), rank-mod assignment is exactly balanced —
    the right tool when strata are small and a 60/40 wobble would
    bias the validation score.

    100 TB shape: one stratum-keyed window rank (per-stratum sort,
    parallel across strata) + one (stratum, fold) count; the audit
    window runs on the k*|strata| spine.  Reference scope: flo has no
    analytics surface — north-star extension (SURVEY §2 Part B
    pipeline hygiene)."""
    docs = load(spark, sf_dir, "documents")
    r = docs.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("doc_id"))
        .alias("rn"),
    )
    c = (
        r.selectExpr("lang", "(rn - 1) % 5 AS fold")
        .groupBy("lang", "fold")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return c.select(
        "lang",
        F.col("fold").cast("int").alias("fold"),
        F.col("n_docs").cast("long").alias("n_docs"),
        (
            F.max("n_docs").over(w) - F.min("n_docs").over(w) <= 1
        ).alias("balanced"),
    )


@query(
    "time_weighted_value_per_user",
    """
    WITH s AS (
      SELECT user_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id, v, nxt - us AS dt
      FROM s WHERE nxt IS NOT NULL AND nxt > us
    ),
    agg AS (
      SELECT user_id, count(*) AS n_segments,
             sum(dt) AS total_us,
             sum(CAST(v AS HUGEINT) * dt) AS wsum
      FROM seg GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(total_us AS BIGINT) AS total_us,
           CAST(wsum // total_us AS BIGINT) AS twap_x1e4
    FROM agg
    """,
)
def time_weighted_value_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted average value per user (the TWAP/ops-metrics
    primitive): each event's value holds from its timestamp until the
    user's next event (lead over a deterministic (ts, event_id)
    order), segments weight by their exact microsecond duration, and
    the average is one truncating division of exact integer sums —
    Σ(v_1e4 · Δt_us) accumulates in decimal(38,0)/HUGEINT because a
    month of microseconds times a 1e4-scaled value overflows BIGINT.
    Arithmetic-mean aggregates overweight bursts; TWAP is what a
    billing/utilization pipeline actually wants.  Zero-length
    segments (same-timestamp events) and each user's open last
    segment are excluded by construction on both engines.

    100 TB shape: one user-keyed shuffle for the lead window, then a
    map-side-combinable per-user aggregate — the asof/gap-fill plan
    shape with an integer-exact reduction.  Reference scope: flo has
    no analytics surface — north-star extension (SURVEY §2 Part B)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        F.expr("unix_micros(ts)").alias("us"),
        F.lead(F.expr("unix_micros(ts)")).over(w).alias("nxt"),
    )
    seg = s.filter(
        F.col("nxt").isNotNull() & (F.col("nxt") > F.col("us"))
    ).select("user_id", "v", (F.col("nxt") - F.col("us")).alias("dt"))
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dt").alias("total_us"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("dt")).alias(
            "wsum"
        ),
    )
    return agg.selectExpr(
        "user_id",
        "CAST(n_segments AS BIGINT) AS n_segments",
        "CAST(total_us AS BIGINT) AS total_us",
        "CAST(wsum div total_us AS BIGINT) AS twap_x1e4",
    )


@query(
    "mad_robust_outliers",
    """
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    med AS (
      SELECT event_type, x AS med FROM (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY x)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT v.event_type, abs(v.x - med.med) AS d, med.med
      FROM v JOIN med ON med.event_type = v.event_type
    ),
    mad AS (
      SELECT event_type, med, d AS mad FROM (
        SELECT event_type, med, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev) WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(mad.med) AS BIGINT) AS median_x1e4,
           CAST(max(mad.mad) AS BIGINT) AS mad_x1e4,
           CAST(sum(CASE WHEN dev.d * 6745 > mad.mad * 30000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    GROUP BY dev.event_type
    """,
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per event type —
    the robust counterpart to anomaly_zscore_hourly's moment-based
    z-score (one wild value corrupts a mean/stddev; the median and
    MAD have breakdown point 0.5) — ENGINE-EXACT: values on the 1e4
    grid, the (lower) median and MAD are exact rank picks, and the
    '|x - med| > 3 sigma-hat' rule cross-multiplies the 0.6745
    normal-consistency constant into integers
    (d * 6745 > mad * 30000, i.e. d * 0.6745 > 3 * mad), so the
    outlier count needs no division at all.

    100 TB shape: two rank picks per group (per-type window sorts,
    parallel across types — swap in the mergeable quantile sketch
    when a single type outgrows one task) + one broadcast-sized
    (type, med, mad) table joined back for the counting pass.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B statistics)."""
    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("x"),
        # median pick + deviation join both consume this; persist or
        # the fact re-scans per branch (plan-pinned)
    ).persist()
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("x")
    med = (
        v.select(
            "event_type",
            "x",
            F.row_number().over(wo).alias("rn"),
            F.count("*").over(wt).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("x").alias("med"))
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("med")).alias("d"), "med"
    ).persist()
    wd = Window.partitionBy("event_type").orderBy("d")
    mad = (
        dev.select(
            "event_type",
            "med",
            "d",
            F.row_number().over(wd).alias("rn"),
            F.count("*").over(wt).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("d").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("med").cast("long").alias("median_x1e4"),
            F.max("mad").cast("long").alias("mad_x1e4"),
            F.sum(
                F.when(
                    F.col("d") * 6745 > F.col("mad") * 30000, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "discrete_hazard_lifetable",
    """
    WITH life AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts)))
               // 604800000000 AS wk
      FROM events GROUP BY user_id
    ),
    n AS (SELECT count(*) AS n_users FROM life),
    ev AS (SELECT wk, count(*) AS events FROM life GROUP BY wk),
    tab AS (
      SELECT ev.wk, ev.events,
             n.n_users
               - coalesce(sum(ev2.events), 0) AS at_risk
      FROM ev
      LEFT JOIN ev ev2 ON ev2.wk < ev.wk
      CROSS JOIN n
      GROUP BY ev.wk, ev.events, n.n_users
    )
    SELECT CAST(wk AS INT) AS week,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(events AS BIGINT) AS events,
           CAST((events * 1000000) // at_risk AS BIGINT)
             AS hazard_x1e6
    FROM tab
    """,
)
def discrete_hazard_lifetable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete-time life table of user activity spans — the
    churn-analytics primitive: each user's observed lifetime (first
    to last event) buckets into whole weeks, and for every week k the
    risk set (users whose lifetime reached week k), the exits, and
    the exact 1e-6-grid hazard h_k = exits_k / at_risk_k are reported
    — all integers until the one truncating division per row.  The
    Kaplan-Meier survival curve is the running product of (1 - h_k);
    products of rationals leave any fixed grid, so the entry pins the
    hazard table (the estimator's sufficient statistic) and leaves
    the product to the caller's presentation layer.

    100 TB shape: one user-keyed span aggregate (map-side
    combinable), then everything runs on the |weeks| spine; the
    at-risk set is a spine-sized cumulative complement, not a rescan.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B event analytics, next to
    cohort_retention's calendar triangle).  r9 optimization: the
    O(users) span frame is checkpointed — the user-count fork
    previously re-derived it from the raw scan (2 corpus scans in the
    static plan, now one)."""
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.expr(
            "(unix_micros(max(ts)) - unix_micros(min(ts)))"
            " div 604800000000"
        ).alias("wk")
    ).localCheckpoint()
    n = life.agg(F.count("*").alias("n_users"))
    evt = life.groupBy("wk").agg(F.count("*").alias("events"))
    w = Window.orderBy("wk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tab = evt.crossJoin(F.broadcast(n)).select(
        "wk",
        "events",
        (
            F.col("n_users")
            - F.coalesce(F.sum("events").over(w), F.lit(0))
        ).alias("at_risk"),
    )
    return tab.selectExpr(
        "CAST(wk AS INT) AS week",
        "CAST(at_risk AS BIGINT) AS at_risk",
        "CAST(events AS BIGINT) AS events",
        "CAST((events * 1000000) div at_risk AS BIGINT)"
        " AS hazard_x1e6",
    )


@query(
    "cep_sequence_pattern_detect",
    """
    WITH r AS (
      SELECT user_id, ts, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT user_id, ts FROM r
      WHERE event_type = 'click' AND e1 = 'click' AND e2 = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(ts) AS TIMESTAMP) AS first_match_ts
    FROM m GROUP BY user_id
    """,
)
def cep_sequence_pattern_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Complex-event-processing pattern detection — the
    MATCH_RECOGNIZE workload SQL engines bolt on — as a lead-chain
    window: find every user whose event stream contains the
    CONSECUTIVE pattern click -> click -> purchase (double-tap
    purchase intent) in deterministic (ts, event_id) order, reporting
    match counts and the first match time.  Overlapping occurrences
    count (each position starts its own match) — the textbook NFA
    semantics for unanchored patterns; funnel_conversion covers the
    non-consecutive ordered variant, markov_event_transitions the
    memoryless model; this pins strict adjacency.

    100 TB shape: one user-keyed window shuffle, scan-stage lead
    projections, then a per-user count — CEP without a stateful
    engine; the streaming form is applyInPandasWithState
    (stream_stateful_user_stats' shape) with this predicate inside.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B event analytics)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    m = r.filter(
        (F.col("event_type") == "click")
        & (F.col("e1") == "click")
        & (F.col("e2") == "purchase")
    )
    return m.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("ts").alias("first_match_ts"),
    )


@query(
    "funnel_time_to_convert",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN ts END) AS c0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p0
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT user_id,
             (epoch_us(p0) - epoch_us(c0)) // 1000000 AS sec
      FROM f WHERE c0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= c0
    ),
    r AS (
      SELECT sec, row_number() OVER (ORDER BY sec, user_id) AS rn,
             count(*) OVER () AS n
      FROM conv
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converters,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN sec END)
                AS BIGINT) AS p50_seconds,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN sec END)
                AS BIGINT) AS p90_seconds,
           CAST(min(sec) AS BIGINT) AS min_seconds,
           CAST(max(sec) AS BIGINT) AS max_seconds
    FROM r
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the click -> purchase funnel:
    per user the whole-second gap from FIRST click to FIRST purchase
    (exact integer microseconds floored to seconds), then exact
    lower-rank p50/p90 picks over the converter population — the
    latency lens funnel_conversion (who converts) and
    cohort_retention (when they return) don't give.  Rank indices
    ceil(q*n) are pure integers, so the percentiles are exact order
    statistics, deterministic under ties via the (sec, user_id)
    order.

    100 TB shape: one user-keyed conditional min aggregate (map-side
    combinable), then ranks over the CONVERTER subset — single-
    partition window on a population already cut by the funnel (swap
    in the mergeable quantile sketch when converters alone outgrow a
    task).  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B event analytics)."""
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("c0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p0"),
    )
    conv = f.filter(
        F.col("c0").isNotNull()
        & F.col("p0").isNotNull()
        & (F.col("p0") >= F.col("c0"))
    ).select(
        "user_id",
        F.expr(
            "(unix_micros(p0) - unix_micros(c0)) div 1000000"
        ).alias("sec"),
    )
    r = conv.select(
        "sec",
        F.row_number()
        .over(Window.orderBy("sec", "user_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_converters"),
        F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("sec")))
        .cast("long")
        .alias("p50_seconds"),
        F.max(F.when(F.expr("rn = (9 * n + 9) div 10"), F.col("sec")))
        .cast("long")
        .alias("p90_seconds"),
        F.min("sec").cast("long").alias("min_seconds"),
        F.max("sec").cast("long").alias("max_seconds"),
    )


@query(
    "dtw_daily_profiles",
    """
    WITH hours AS (SELECT unnest(range(0, 24)) AS h),
    a AS (
      SELECT hours.h, count(e.ts) AS v
      FROM hours LEFT JOIN events e
        ON date_trunc('day', e.ts) = TIMESTAMP '2024-01-02'
       AND CAST(extract(hour FROM e.ts) AS BIGINT) = hours.h
      GROUP BY hours.h
    ),
    b AS (
      SELECT hours.h, count(e.ts) AS v
      FROM hours LEFT JOIN events e
        ON date_trunc('day', e.ts) = TIMESTAMP '2024-01-29'
       AND CAST(extract(hour FROM e.ts) AS BIGINT) = hours.h
      GROUP BY hours.h
    ),
    c AS (
      SELECT a.h + 1 AS i, b.h + 1 AS j, abs(a.v - b.v) AS cost
      FROM a, b
    ),
    dp AS (
      -- DTW as a WAVEFRONT RECURSION: the working set holds the
      -- current anti-diagonal (is_new=1) and the one before
      -- (is_new=0); each step emits diag d+1 cells as the grouped
      -- min over orthogonal preds (from is_new=1 rows) and diagonal
      -- preds (from is_new=0 rows), and re-emits diag d once.
      WITH RECURSIVE t(i, j, acc, is_new) AS (
        SELECT 1, 1, (SELECT cost FROM c WHERE i = 1 AND j = 1), 1
        UNION ALL
        SELECT tgt.i, tgt.j,
               min(tgt.base + coalesce(c.cost, 0)),
               max(tgt.flag)
        FROM (
          SELECT u.ti AS i, u.tj AS j, t.acc AS base, u.flag
          FROM t, unnest(CASE WHEN t.is_new = 1 THEN [
                   struct_pack(ti := t.i + 1, tj := t.j, flag := 1),
                   struct_pack(ti := t.i, tj := t.j + 1, flag := 1),
                   struct_pack(ti := t.i, tj := t.j, flag := 0)
                 ] ELSE [
                   struct_pack(ti := t.i + 1, tj := t.j + 1, flag := 1)
                 ] END) AS x(u)
          WHERE u.ti <= 24 AND u.tj <= 24
        ) tgt
        LEFT JOIN c ON c.i = tgt.i AND c.j = tgt.j AND tgt.flag = 1
        GROUP BY tgt.i, tgt.j
      )
      SELECT min(acc) AS dtw FROM t WHERE i = 24 AND j = 24
    )
    SELECT CAST((SELECT sum(v) FROM a) AS BIGINT) AS n_events_a,
           CAST((SELECT sum(v) FROM b) AS BIGINT) AS n_events_b,
           CAST((SELECT sum(abs(a.v - b.v)) FROM a JOIN b
                 ON b.h = a.h) AS BIGINT) AS l1_aligned,
           CAST(dp.dtw AS BIGINT) AS dtw_cost
    FROM dp
    """,
)
def dtw_daily_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping between two daily activity profiles (the
    24 hourly counts of Jan 2 vs Jan 29) — the shape-similarity
    measure that tolerates phase shift where the aligned L1 distance
    (also reported) cannot — in EXACT integer arithmetic: |a_i - b_j|
    costs, the classic dp[i][j] = cost + min(left, up, diag)
    recurrence, and a total warp cost that hash-matches across two
    COMPLETELY DIFFERENT evaluations: Spark folds the DP in a
    spine-sized applyInPandas (the holt_winters/sequence_packing
    sequential-fold discipline), while the DuckDB oracle replays it
    as a WAVEFRONT RECURSION — a recursive CTE whose working set is
    one anti-diagonal plus its predecessor, advancing with a grouped
    min per cell (aggregation inside recursion, which DuckDB permits
    and Spark's recursive CTEs do not — the reason the two sides use
    different formulations of the same exact algorithm).

    100 TB shape: the corpus collapses to two 24-point profiles in
    one map-side-combinable conditional aggregate; the O(24^2) DP is
    driver-free spine work inside a single Arrow batch.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B time series)."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    hr = F.expr("CAST(extract(hour FROM ts) AS BIGINT)")
    prof = (
        ev.filter(
            day.isin(
                F.lit("2024-01-02").cast("timestamp"),
                F.lit("2024-01-29").cast("timestamp"),
            )
        )
        .select(
            F.when(day == F.lit("2024-01-02").cast("timestamp"), "a")
            .otherwise("b")
            .alias("side"),
            hr.alias("h"),
        )
        .groupBy("side", "h")
        .agg(F.count("*").alias("v"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        va = [0] * 24
        vb = [0] * 24
        for _, row in pdf.iterrows():
            (va if row["side"] == "a" else vb)[int(row["h"])] = int(
                row["v"]
            )
        big = 1 << 60
        dp = [[big] * 25 for _ in range(25)]
        for i in range(1, 25):
            for j in range(1, 25):
                cost = abs(va[i - 1] - vb[j - 1])
                if i == 1 and j == 1:
                    dp[i][j] = cost
                else:
                    dp[i][j] = cost + min(
                        dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1]
                    )
        return pd.DataFrame(
            {
                "n_events_a": [sum(va)],
                "n_events_b": [sum(vb)],
                "l1_aligned": [
                    sum(abs(x - y) for x, y in zip(va, vb))
                ],
                "dtw_cost": [dp[24][24]],
            }
        )

    return (
        prof.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            fold,
            "n_events_a long, n_events_b long, l1_aligned long,"
            " dtw_cost long",
        )
    )


@query(
    "peak_detection_hourly",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    nb AS (
      SELECT h, cnt,
             lag(cnt) OVER (ORDER BY h) AS prv,
             lead(cnt) OVER (ORDER BY h) AS nxt
      FROM c
    ),
    peaks AS (
      SELECT h, cnt FROM nb
      WHERE prv IS NOT NULL AND nxt IS NOT NULL
        AND cnt > prv AND cnt >= nxt
    )
    SELECT CAST(h AS BIGINT) AS epoch_hour,
           CAST(cnt AS BIGINT) AS height
    FROM peaks ORDER BY cnt DESC, h LIMIT 10
    """,
)
def peak_detection_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 local maxima of the hourly event rate — the
    peak-detection primitive behind alerting and seasonality
    eyeballing: an interior hour is a peak iff strictly above its
    left neighbor and at-or-above its right (the deterministic
    half-open plateau rule: a flat plateau yields exactly its FIRST
    hour, no double counting), ranked by height with the epoch-hour
    tie-break.  Pure integer comparisons; complements
    cusum_changepoint (level shifts) and anomaly_zscore (global
    outliers) with LOCAL structure.

    100 TB shape: hourly spine aggregate, one ordered window for the
    neighbor lags, TakeOrderedAndProject for the top-k — no global
    sort.  Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B time series)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("h")
    nb = c.select(
        "h",
        "cnt",
        F.lag("cnt").over(w).alias("prv"),
        F.lead("cnt").over(w).alias("nxt"),
    )
    peaks = nb.filter(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("cnt") > F.col("prv"))
        & (F.col("cnt") >= F.col("nxt"))
    )
    return (
        peaks.orderBy(F.col("cnt").desc(), F.col("h"))
        .limit(10)
        .select(
            F.col("h").cast("long").alias("epoch_hour"),
            F.col("cnt").cast("long").alias("height"),
        )
    )


@query(
    "weighted_median_price",
    """
    WITH v AS (
      SELECT o_orderpriority AS prio,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             1 + CAST(o_orderkey % 5 AS BIGINT) AS wt
      FROM orders
    ),
    cum AS (
      SELECT prio, cents, wt,
             sum(wt) OVER (PARTITION BY prio
                           ORDER BY cents, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cw,
             sum(wt) OVER (PARTITION BY prio) AS tw
      FROM v
    ),
    pick AS (
      SELECT prio, cents, tw,
             row_number() OVER (PARTITION BY prio
                                ORDER BY cents, wt) AS rn
      FROM cum WHERE 2 * cw >= tw
    )
    SELECT prio AS o_orderpriority,
           CAST(tw AS BIGINT) AS total_weight,
           CAST(cents AS BIGINT) AS weighted_median_cents
    FROM pick WHERE rn = 1
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median order price per priority (weights = a
    deterministic 1..5 units-per-order proxy): the lower weighted
    median is the first value, in (cents, weight) order, whose
    cumulative weight reaches half the total — the exact integer
    predicate 2*cumw >= totw needs no division at all, and the
    deterministic secondary sort makes the pick reproducible through
    ties.  Plain medians (exact_percentile_suite) treat every row
    equally; revenue-weighted cuts are what pricing dashboards
    actually want, and the same cumsum shape generalizes to any
    weighted quantile.

    100 TB shape: one per-group ordered window over the fact (the
    quantile_discretizer shape with a weight column); swap in a
    weighted variant of the mergeable quantile sketch when one group
    outgrows a task.  Reference scope: flo has no analytics surface
    — north-star extension (SURVEY §2 Part B statistics)."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
        (1 + (F.col("o_orderkey") % 5)).cast("long").alias("wt"),
    )
    wo = (
        Window.partitionBy("prio")
        .orderBy("cents", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("prio")
    cum = v.select(
        "prio",
        "cents",
        "wt",
        F.sum("wt").over(wo).alias("cw"),
        F.sum("wt").over(wp).alias("tw"),
    )
    pick = cum.filter(2 * F.col("cw") >= F.col("tw")).select(
        "prio",
        "cents",
        "tw",
        F.row_number()
        .over(Window.partitionBy("prio").orderBy("cents", "wt"))
        .alias("rn"),
    )
    return pick.filter(F.col("rn") == 1).select(
        F.col("prio").alias("o_orderpriority"),
        F.col("tw").cast("long").alias("total_weight"),
        F.col("cents").cast("long").alias("weighted_median_cents"),
    )


@query(
    "ljung_box_hourly",
    """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS hour FROM events
    ),
    h1 AS (SELECT max(hour) AS h1 FROM ev),
    hours AS (
      SELECT unnest(generate_series(
        TIMESTAMP '2024-01-01 00:00:00', (SELECT h1 FROM h1),
        INTERVAL 1 HOUR)) AS hour
    ),
    c AS (
      SELECT h.hour, count(e.hour) AS cnt
      FROM hours h LEFT JOIN ev e ON e.hour = h.hour
      GROUP BY h.hour
    ),
    tot AS (SELECT count(*) AS n, sum(cnt) AS s FROM c),
    dev AS (
      SELECT hour, CAST(n * cnt - s AS HUGEINT) AS dev
      FROM c, tot
    ),
    den AS (SELECT sum(dev * dev) AS den FROM dev),
    lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
    num AS (
      SELECT l.lag, sum(a.dev * b.dev) AS num
      FROM dev a
      JOIN lags l ON TRUE
      JOIN dev b ON b.hour = a.hour + INTERVAL 1 HOUR * l.lag
      GROUP BY l.lag
    ),
    rho AS (
      SELECT lag,
             CASE WHEN num >= 0 THEN (num * 1000000) // den
                  ELSE -((-num * 1000000) // den) END AS rho6
      FROM num, den
    ),
    q AS (
      SELECT (SELECT n FROM tot) AS n,
             sum((rho6 * rho6 * (SELECT n FROM tot)
                  * ((SELECT n FROM tot) + 2))
                 // ((SELECT n FROM tot) - lag)) AS q12
      FROM rho
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(24 AS INT) AS h_lags,
           CAST(q12 // 1000000 AS BIGINT) AS q_x1e6,
           CAST(CASE WHEN q12 // 1000000 > 36415000 THEN 1 ELSE 0
                END AS INT) AS reject_h0
    FROM q
    """,
)
def ljung_box_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (r8) — is the hourly event rate
    white noise, or does ANY of the first 24 autocorrelations carry
    signal?  The joint diagnostic that closes the time-series family:
    acf_hourly_lags reports each rho_k, this pools them into
    Q = n(n+2) * sum_k rho_k^2 / (n-k) and compares against the
    chi-square(24) critical value (36.415 at alpha=0.05, embedded as
    the exact integer 36415000 on the 1e6 grid so the transcendental
    quantile never runs inside either engine — the DCG/KS discipline).
    Deterministic grid variant (documented): rho_k truncates
    toward zero on the 1e6 grid first (exactly acf_hourly_lags'
    coefficient at 1e6 instead of 1e4), each term floors once more on
    the grid, and the floors compose IDENTICALLY on both engines —
    every operand integer, accumulation in DECIMAL(38,0)/HUGEINT
    (rho6^2 * n(n+2) sums past 2^63; ANSI raises rather than wraps).

    100 TB shape: identical to acf_hourly_lags — one hourly
    pre-aggregation collapses events to a bounded spine, a 24-way
    spine-only explode + keyed self-join, 1-row reduce.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour")
    )
    c = _dense_hourly_counts(ev)
    tot = c.agg(F.count("*").alias("n"), F.sum("cnt").alias("s"))
    dev = c.crossJoin(F.broadcast(tot)).select(
        "hour",
        "n",
        (F.col("n") * F.col("cnt") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dev"),
    )
    den = dev.agg(F.sum(F.col("dev") * F.col("dev")).alias("den"))
    pairs = dev.select(
        "hour",
        "n",
        F.col("dev").alias("dev_a"),
        F.explode(F.expr("sequence(1, 24)")).alias("lag"),
    ).withColumn("hour", F.expr("hour + make_interval(0, 0, 0, 0, lag)"))
    num = (
        pairs.join(
            dev.select(F.col("hour").alias("hour"), F.col("dev").alias("dev_b")),
            "hour",
        )
        .groupBy("lag", "n")
        .agg(F.sum(F.col("dev_a") * F.col("dev_b")).alias("num"))
    )
    rho = num.crossJoin(F.broadcast(den)).selectExpr(
        "lag",
        "n",
        "CASE WHEN num >= 0 THEN (num * 1000000) div den"
        " ELSE -((-num) * 1000000 div den) END AS rho6",
    )
    q = rho.groupBy("n").agg(
        F.sum(
            F.expr(
                "(CAST(rho6 AS DECIMAL(38,0)) * rho6 * n * (n + 2))"
                " div (n - lag)"
            ).cast("decimal(38,0)")
        ).alias("q12")
    )
    return q.selectExpr(
        "CAST(n AS BIGINT) AS n_hours",
        "CAST(24 AS INT) AS h_lags",
        "CAST(q12 div 1000000 AS BIGINT) AS q_x1e6",
        "CAST(CASE WHEN q12 div 1000000 > 36415000 THEN 1 ELSE 0"
        " END AS INT) AS reject_h0",
    )


@query(
    "motif_discovery_daily_ssd",
    """
    WITH ev AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(extract(hour FROM ts) AS BIGINT) AS h
      FROM events
    ),
    span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
    grid AS (
      SELECT d.day, h.h
      FROM (SELECT unnest(generate_series(
              (SELECT d0 FROM span), (SELECT d1 FROM span),
              INTERVAL 1 DAY)) AS day) d
      CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
    ),
    prof AS (
      SELECT g.day, g.h, count(e.day) AS v
      FROM grid g LEFT JOIN ev e ON e.day = g.day AND e.h = g.h
      GROUP BY g.day, g.h
    ),
    pair AS (
      SELECT a.day AS day_a, b.day AS day_b,
             sum(CAST(a.v - b.v AS HUGEINT) * (a.v - b.v)) AS ssd
      FROM prof a JOIN prof b ON a.h = b.h AND a.day < b.day
      GROUP BY 1, 2
    )
    SELECT strftime(CAST(day_a AS DATE), '%Y-%m-%d') AS day_a,
           strftime(CAST(day_b AS DATE), '%Y-%m-%d') AS day_b,
           CAST(ssd AS BIGINT) AS ssd
    FROM pair
    ORDER BY ssd, day_a, day_b
    LIMIT 5
    """,
)
def motif_discovery_daily_ssd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif discovery over daily activity profiles (r8) — which two
    days have the MOST SIMILAR hourly shape?  The matrix-profile idea
    (all-pairs nearest-neighbor over subsequences) restricted to
    calendar-aligned day windows, which keeps it EXACT: the distance
    is the plain integer SSD sum((a_h - b_h)^2) over the dense 24-hour
    grid (missing hours count 0 — the acf spine discipline), no
    z-normalization so no square root ever appears, and the top-5
    closest pairs order deterministically by (ssd, day_a, day_b).
    Complements dtw_daily_profiles: DTW compares TWO chosen days
    tolerating phase shift; this scans ALL day pairs rigidly aligned.

    100 TB shape: the corpus collapses to a days x 24 spine in one
    map-side-combinable aggregate; the all-pairs join is spine-only
    (O(days^2) on ~30 rows/day of 24 values, never on events), hour-
    keyed, and top-5 compiles to TakeOrderedAndProject.  Squares
    accumulate in DECIMAL(38,0)/HUGEINT (hourly counts pass 1e9 at
    cluster scale; ANSI raises rather than wraps).  Reference scope:
    flo has no analytics surface — north-star extension (SURVEY §2
    Part B time series)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        F.expr("CAST(extract(hour FROM ts) AS BIGINT)").alias("h"),
    )
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        F.explode(
            F.expr("sequence(d0, d1, interval 1 day)")
        ).alias("day")
    ).crossJoin(
        spark.range(24).select(F.col("id").alias("h"))
    )
    # dense O(days x 24) profile materialized once (r9): the all-pairs
    # self-join otherwise re-ran the corpus spine build twice
    prof = (
        grid.join(ev.withColumn("one", F.lit(1)), ["day", "h"], "left")
        .groupBy("day", "h")
        .agg(F.count("one").alias("v"))
        .localCheckpoint()
    )
    a = prof.selectExpr("day AS day_a", "h", "v AS va")
    b = prof.selectExpr("day AS day_b", "h AS hb", "v AS vb")
    pair = (
        a.join(
            b,
            (F.col("h") == F.col("hb")) & (F.col("day_a") < F.col("day_b")),
        )
        .groupBy("day_a", "day_b")
        .agg(
            F.sum(
                (F.col("va") - F.col("vb")).cast("decimal(38,0)")
                * (F.col("va") - F.col("vb"))
            ).alias("ssd")
        )
    )
    return (
        pair.select(
            # ISO strings, not DATE: DuckDB DATE degrades to datetime64
            # through pandas .df() and would hash-mismatch Spark's date
            F.date_format("day_a", "yyyy-MM-dd").alias("day_a"),
            F.date_format("day_b", "yyyy-MM-dd").alias("day_b"),
            F.col("ssd").cast("long").alias("ssd"),
        )
        .orderBy("ssd", "day_a", "day_b")
        .limit(5)
    )


@query(
    "jackknife_block_variance",
    """
    WITH g AS (
      SELECT source, count(*) AS n,
             sum(n_chars) AS s
      FROM documents GROUP BY source
    ),
    tot AS (SELECT count(*) AS gk, sum(n) AS nn, sum(s) AS ss FROM g),
    t AS (
      SELECT (CAST(ss - s AS HUGEINT) * 10000) // (nn - n) AS ti
      FROM g, tot
    ),
    agg AS (
      SELECT count(*) AS gk, sum(ti) AS st,
             sum(CAST(ti AS HUGEINT) * ti) AS qt
      FROM t
    )
    SELECT CAST(gk AS BIGINT) AS g_blocks,
           CAST((SELECT CAST(ss AS HUGEINT) * 10000 // nn FROM tot)
                AS BIGINT) AS theta_x1e4,
           CAST(st // gk AS BIGINT) AS leave1out_mean_x1e4,
           CAST(((gk * qt - st * st) // gk) * (gk - 1)
                // (CAST(gk AS HUGEINT) * gk) AS BIGINT)
             AS jack_var_x1e8
    FROM agg
    """,
)
def jackknife_block_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife (r8) — a standard error for the
    corpus mean document length WITHOUT any distributional assumption,
    the resampling-inference mechanism the catalog lacked (Quenouille/
    Tukey; the grouped form is the delete-a-group jackknife used when
    rows cluster by origin): drop each of the g source blocks in turn,
    recompute the mean from the EXACT complement sums
    t_i = (S - s_i)*1e4 div (N - n_i) on the 1e4 grid, and fold the
    spread of the g leave-one-out means into
    var_jack = (g-1)/g * sum((t_i - tbar)^2), cleared to integers as
    ((g*Q - T^2) div g) * (g-1) div g^2 on the composed grid (every
    floor identical on both engines; all operands nonnegative by
    Cauchy-Schwarz).  Block-level deletion respects within-source
    correlation that a row-level jackknife would ignore — the honest
    SE for a clustered corpus.

    100 TB shape: ONE map-side-combinable aggregate collapses the
    corpus to g=20 block moments; every leave-one-out mean is O(1)
    arithmetic on the complement sums (the corpus is never rescanned
    g times — the algebraic identity IS the optimization), then a
    g-row reduce.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    # g=20 block moments, checkpointed: they feed the totals AND the
    # leave-one-out arithmetic — un-cut lineage re-scanned documents
    # per fork (2 scans, r9 audit; now 1)
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
        .localCheckpoint()
    )
    tot = g.agg(
        F.count("*").alias("gk"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
    )
    t = g.crossJoin(F.broadcast(tot)).selectExpr(
        "(CAST(ss - s AS DECIMAL(38,0)) * 10000) div (nn - n) AS ti",
        "CAST(ss AS DECIMAL(38,0)) * 10000 div nn AS theta",
    )
    agg = t.groupBy("theta").agg(
        F.count("*").alias("gk"),
        F.sum("ti").alias("st"),
        F.sum(F.expr("CAST(ti AS DECIMAL(38,0)) * ti")).alias("qt"),
    )
    return agg.selectExpr(
        "CAST(gk AS BIGINT) AS g_blocks",
        "CAST(theta AS BIGINT) AS theta_x1e4",
        "CAST(st div gk AS BIGINT) AS leave1out_mean_x1e4",
        "CAST(((gk * qt - st * st) div gk) * (gk - 1)"
        " div (CAST(gk AS DECIMAL(38,0)) * gk) AS BIGINT)"
        " AS jack_var_x1e8",
    )


@query(
    "kaplan_meier_survival",
    """
    WITH life AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts)))
               // 604800000000 AS wk
      FROM events GROUP BY user_id
    ),
    n AS (SELECT count(*) AS n_users FROM life),
    ev AS (SELECT wk, count(*) AS events FROM life GROUP BY wk),
    tab AS (
      SELECT ev.wk, ev.events,
             n.n_users - coalesce(sum(ev2.events), 0) AS at_risk
      FROM ev
      LEFT JOIN ev ev2 ON ev2.wk < ev.wk
      CROSS JOIN n
      GROUP BY ev.wk, ev.events, n.n_users
    ),
    enc AS (
      SELECT wk, events, at_risk,
             list((at_risk - events) * 1000000000 + at_risk)
               OVER (ORDER BY wk
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS fs
      FROM tab
    )
    SELECT CAST(wk AS INT) AS week,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(events AS BIGINT) AS events,
           CAST(list_reduce(
                  list_prepend(CAST(1000000 AS BIGINT), fs),
                  (a, b) -> (a * (b // 1000000000)) // (b % 1000000000)
                ) AS BIGINT) AS surv_x1e6
    FROM enc ORDER BY week
    """,
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve (r8) — the cumulative
    product discrete_hazard_lifetable's docstring explicitly left to
    the caller, now IN-ENGINE and exact: S_k = prod_{i<=k}
    (n_i - d_i) / n_i folds left-to-right on the 1e6 grid as
    s <- (s * (n_i - d_i)) div n_i, a SPECIFIED floor composition
    identical on both engines because both run the SAME fold — Spark
    as F.aggregate over the week-ordered factor prefix (collect_list
    over an UNBOUNDED PRECEDING window), DuckDB as list_reduce over
    the same windowed list, each factor packed num*1e9 + den into one
    BIGINT so the fold is type-stable.  Every quantity stays integer:
    acc <= 1e6, acc * num <= 1e6 * |users| << 2^63.

    100 TB shape: everything after the one user-keyed span aggregate
    runs on the |weeks| SPINE (the lifetable's shape); the prefix
    lists are spine-sized (O(weeks^2) total elements on ~tens of
    rows), never per-user.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B event
    analytics, completing the lifetable/cohort/funnel family)."""
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.expr(
            "(unix_micros(max(ts)) - unix_micros(min(ts)))"
            " div 604800000000"
        ).alias("wk")
    )
    # materialize the O(weeks) spine once (r9): the n_users branch and
    # the factor-prefix branch would otherwise each re-run the
    # corpus-scale user reduction (two events scans); n_users is just
    # the spine's own total since every user lands in exactly one week
    evt = (
        life.groupBy("wk").agg(F.count("*").alias("events")).localCheckpoint()
    )
    n = evt.agg(F.sum("events").cast("long").alias("n_users"))
    w = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, -1)
    tab = evt.crossJoin(F.broadcast(n)).select(
        "wk",
        "events",
        (
            F.col("n_users")
            - F.coalesce(F.sum("events").over(w), F.lit(0))
        ).alias("at_risk"),
    )
    wcur = Window.orderBy("wk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    enc = tab.withColumn(
        "fs",
        F.collect_list(
            (F.col("at_risk") - F.col("events")) * F.lit(1000000000)
            + F.col("at_risk")
        ).over(wcur),
    )
    def _step(acc, b):
        # decode num/den from the packed factor; every intermediate is
        # an exact integer (< 2^53), so the double divisions are exact
        # and the casts back to long are safe
        den = b % 1000000000
        num = ((b - den) / 1000000000).cast("long")
        prod = acc * num
        return ((prod - prod % den) / den).cast("long")

    surv = F.aggregate(
        F.col("fs"), F.lit(1000000).cast("long"), _step
    )
    enc = enc.withColumn("surv", surv)
    return enc.selectExpr(
        "CAST(wk AS INT) AS week",
        "CAST(at_risk AS BIGINT) AS at_risk",
        "CAST(events AS BIGINT) AS events",
        "CAST(surv AS BIGINT) AS surv_x1e6",
    ).orderBy("week")


@query(
    "conformal_interval_coverage",
    """
    WITH px AS (
      SELECT o_orderkey, o_orderpriority AS prio,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders
    ),
    tr AS (
      SELECT prio, CAST(sum(px) // count(*) AS BIGINT) AS m
      FROM px WHERE o_orderkey % 10 <= 5 GROUP BY prio
    ),
    cal AS (
      SELECT p.prio, abs(p.px - t.m) AS score, p.o_orderkey
      FROM px p JOIN tr t USING (prio)
      WHERE o_orderkey % 10 IN (6, 7)
    ),
    calr AS (
      SELECT prio, score,
             row_number() OVER (
               PARTITION BY prio ORDER BY score, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY prio) AS n_cal
      FROM cal
    ),
    qh AS (
      SELECT prio, n_cal, rn AS k_index, score AS qhat
      FROM calr WHERE rn = (9 * n_cal + 18) // 10
    ),
    te AS (
      SELECT p.prio, abs(p.px - t.m) AS score
      FROM px p JOIN tr t USING (prio)
      WHERE o_orderkey % 10 >= 8
    ),
    cov AS (
      SELECT t.prio, count(*) AS n_test,
             sum(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END) AS n_cov
      FROM te t JOIN qh q USING (prio) GROUP BY t.prio
    )
    SELECT q.prio AS o_orderpriority,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(q.k_index AS BIGINT) AS k_index,
           CAST(q.qhat AS BIGINT) AS qhat_x1e4,
           CAST(c.n_test AS BIGINT) AS n_test,
           CAST(c.n_cov AS BIGINT) AS n_covered,
           floor(CAST(c.n_cov AS DOUBLE) / c.n_test * 1e4 + 0.5) / 1e4
             AS coverage
    FROM qh q JOIN cov c USING (prio)
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (group-conditional) SPLIT-CONFORMAL prediction
    intervals (Vovk et al.; the distribution-free uncertainty
    quantification modern ML eval pipelines attach to any point
    model): orders hash-split 60/20/20 into train/calibration/test
    by o_orderkey; the point model is the train-split mean price per
    priority (exact scaled-long integer division); nonconformity =
    |y - yhat| as exact scaled ints.  Per priority, qhat is the
    k-th smallest calibration score with k = ceil(0.9 * (n+1)) —
    computed as the integer (9n+18) div 10 and realized as a
    row_number order statistic with o_orderkey tie-break, so the
    quantile index and value are integer-decidable on both engines.
    Coverage on the held-out test split (fraction of |y - yhat| <=
    qhat) must then land near 90% by the conformal guarantee — the
    entry hashes n_cal, k, qhat, and the exact covered counts, so
    both the calibration machinery and the guarantee's realization
    are pinned.

    100 TB shape: the model and qhat are one groupBy each (5-row
    broadcastable outputs); scores are scan-stage integer
    expressions; the order statistic is a per-group window over the
    calibration split only — no global sort, state O(groups).
    North-star ML-eval extension (SURVEY §2 LLM/stats rows; sibling
    of calibration_curve_quality and roc_youden_threshold)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        money_scaled(F.col("o_totalprice")).alias("px"),
    )
    # materialize the O(priorities) training means and quantile table
    # (r9): the calibration, test, and output forks each re-ran the
    # fact scans otherwise — 6 orders scans for two 5-row frames
    tr = (
        o.filter(F.col("k") % 10 <= 5)
        .groupBy("prio")
        .agg(F.expr("sum(px) div count(*)").cast("long").alias("m"))
        .localCheckpoint()
    )
    cal = (
        o.filter((F.col("k") % 10).isin(6, 7))
        .join(F.broadcast(tr), "prio")
        .select("prio", "k", F.abs(F.col("px") - F.col("m")).alias("score"))
    )
    w = Window.partitionBy("prio").orderBy("score", "k")
    calr = cal.select(
        "prio",
        "score",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("prio")).alias("n_cal"),
    )
    qh = calr.filter(
        F.col("rn") == F.expr("(9 * n_cal + 18) div 10")
    ).select(
        "prio",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("rn").cast("long").alias("k_index"),
        F.col("score").cast("long").alias("qhat_x1e4"),
    ).localCheckpoint()
    te = (
        o.filter(F.col("k") % 10 >= 8)
        .join(F.broadcast(tr), "prio")
        .select("prio", F.abs(F.col("px") - F.col("m")).alias("score"))
    )
    cov = (
        te.join(F.broadcast(qh), "prio")
        .groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("score") <= F.col("qhat_x1e4"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        qh.join(cov, "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n_cal",
            "k_index",
            "qhat_x1e4",
            "n_test",
            "n_covered",
            (
                F.floor(
                    F.col("n_covered").cast("double")
                    / F.col("n_test")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("coverage"),
        )
    )


def _pca_round_sql(prev_v: str, n: int) -> str:
    """One unrolled power-iteration round: exact int64 matvec, then
    the scalar double renormalization (identical operand sequence on
    both engines)."""
    return f"""
    w{n} AS (
      SELECT g.i, SUM(g.g * {prev_v}.v) AS w
      FROM g JOIN {prev_v} ON {prev_v}.i = g.j GROUP BY g.i
    ),
    m{n} AS (SELECT max(abs(w)) AS m FROM w{n}),
    v{n} AS (
      SELECT i, CAST(floor(CAST(w AS DOUBLE)
                           / (SELECT CAST(m AS DOUBLE) FROM m{n})
                           * 1e6 + 0.5) AS BIGINT) AS v
      FROM w{n}
    )"""


@query(
    "pca_power_iteration",
    f"""
    WITH pe AS (
      SELECT vec_id, i.i AS i,
             CAST(embedding[i.i + 1] AS DOUBLE) AS x
      FROM embeddings, range(64) i(i)
    ),
    g AS (
      SELECT a.i, b.i AS j,
             SUM(CAST(floor(a.x * b.x * 1e6 + 0.5) AS BIGINT)) AS g
      FROM pe a JOIN pe b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    v0 AS (SELECT i.i AS i, CAST(1000000 AS BIGINT) AS v FROM range(64) i(i)),
    {_pca_round_sql('v0', 1)},
    {_pca_round_sql('v1', 2)},
    {_pca_round_sql('v2', 3)}
    SELECT CAST(w3.i AS BIGINT) AS dim_idx,
           CAST(w3.w AS BIGINT) AS w3_raw,
           v3.v AS v3_x1e6
    FROM w3 JOIN v3 ON v3.i = w3.i
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER
    ITERATION over an integer-exact Gram matrix — distributed linear
    algebra with a cross-engine-deterministic trajectory: G_ij =
    SUM_rows floor(x_i * x_j * 1e6 + 0.5) is an exact int64 (per-row
    floors kill float-sum order sensitivity — the money_sum recipe
    applied to a matrix), each round's matvec ``w = G v`` is an exact
    integer SUM, and only the renormalization ``v' =
    floor(w/max|w| * 1e6 + 0.5)`` touches doubles — as identical
    scalar casts/divisions on identical int64 operands, so both
    engines replay the same 3-round trajectory bit-for-bit (the
    oracle unrolls the rounds as CTE stages).  Output pins the final
    RAW integer matvec (w3) and the normalized direction.

    100 TB shape: the Gram build is the only corpus-scale work — a
    d^2-per-row explode reduced map-side to one 64x64 int table
    (at a 1e9-row corpus: one shuffle of 4096-key partials); each
    round then joins the 4096-row G against a 64-row broadcast v.
    d^2 explode is the dense-small-d regime (d=64 here); at d=1024+
    you'd block the matvec, same algebra.  North-star ML extension
    (SURVEY §2 LLM rows; the spectral sibling of kmeans_lloyd_rounds
    and the JL/int8 embedding entries)."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select(
        "vec_id", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).toDF("vec_id", "i", "xi")
    b = a.toDF("vec_id", "j", "xj")
    g = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.floor(F.col("xi") * F.col("xj") * 1e6 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("g")
        )
        # materialize the 64x64 Gram once (r9): without this each
        # round's matvec/renorm fork re-derives G from the corpus —
        # the plan held 42 embeddings scans for a 3-round iteration
        .localCheckpoint()
    )
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"), F.lit(1_000_000).alias("v")
    )
    w = None
    for _ in range(3):
        w = (
            g.join(F.broadcast(v.withColumnRenamed("i", "j")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
            # 64-row per-round matvec: checkpoint so the m/v forks and
            # the next round reuse it instead of growing the lineage
            .localCheckpoint()
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.floor(
                    F.col("w").cast("double")
                    / F.col("m").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("v"),
            )
        )
    return (
        # checkpointed frames carry no size stats, so hint the 64-row
        # broadcast explicitly
        w.join(F.broadcast(v), "i")
        .select(
            F.col("i").cast("long").alias("dim_idx"),
            F.col("w").cast("long").alias("w3_raw"),
            F.col("v").alias("v3_x1e6"),
        )
    )


@query(
    "quantile_normalize_sources",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    pooled AS (
      SELECT n_chars AS pool_val,
             row_number() OVER (ORDER BY n_chars, doc_id) AS t_idx
      FROM documents
    ),
    total AS (SELECT count(*) AS N FROM documents),
    mapped AS (
      SELECT rk.source, rk.n_chars, p.pool_val
      FROM ranked rk
      CROSS JOIN total
      JOIN pooled p
        ON p.t_idx = ((2 * rk.r - 1) * total.N + 2 * rk.n - 1)
                     // (2 * rk.n)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pool_val) AS BIGINT) AS calib_sum,
           CAST(min(pool_val) AS BIGINT) AS calib_min,
           CAST(max(pool_val) AS BIGINT) AS calib_max,
           CAST(sum(abs(pool_val - n_chars)) AS BIGINT) AS shift_l1
    FROM mapped GROUP BY source
    """,
)
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across corpus sources (the rank-based
    distribution alignment from microarray statistics, here the
    cross-shard score-calibration step an LLM data pipeline needs
    before comparing quality scores produced by per-source models):
    each document's within-source rank r of n (ties broken by
    doc_id) maps to the POOLED distribution's order statistic at
    position ceil((r - 0.5)/n * N) — computed as the pure-integer
    ((2r-1)N + 2n-1) div (2n), so the mapping is integer-decidable
    on both engines.  After normalization every source has (up to
    rank granularity) the SAME value distribution; the entry hashes
    per-source sums/extremes of the calibrated values plus the L1
    mass each source's distribution moved (shift_l1 — large for
    sources whose length profile deviates from the pool).

    Scale note, stated honestly: exact pooled order statistics need
    a GLOBAL rank (single-ordered-partition window) — right for
    calibration sets (1e6-1e8 score rows after per-doc reduction),
    not for raw 100 TB facts; at that scale the pooled side swaps to
    mergeable quantile sketches (quantile_sketch_mergeable is the
    companion) at stated epsilon.  The per-source windows partition
    by source and scale out.  North-star extension (SURVEY §2 stats
    rows)."""
    d = load(spark, sf_dir, "documents")
    # 3-column calibration base, checkpointed once: it forks into the
    # per-source ranking, the pooled order statistics, and the pool
    # count, and un-cut lineage re-scanned the corpus per fork
    # (3 scans, r9 audit; now 1).
    base = d.select("doc_id", "source", "n_chars").localCheckpoint()
    ranked = base.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    pooled = base.select(
        F.col("n_chars").alias("pool_val"),
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("t_idx"),
    )
    total = base.agg(F.count("*").alias("n_pool"))
    mapped = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "t",
            F.expr("((2 * r - 1) * n_pool + 2 * n - 1) div (2 * n)"),
        )
        .join(pooled, F.col("t") == F.col("t_idx"))
    )
    return mapped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("pool_val").cast("long").alias("calib_sum"),
        F.min("pool_val").cast("long").alias("calib_min"),
        F.max("pool_val").cast("long").alias("calib_max"),
        F.sum(F.abs(F.col("pool_val") - F.col("n_chars")))
        .cast("long")
        .alias("shift_l1"),
    )


@query(
    "bootstrap_mean_ci",
    """
    WITH px AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders
    ),
    reps AS (
      SELECT px.k, px.px, b.b,
             ((px.k * 2654435761 + b.b * 40503 + 12345)
              % 1000000007) % 10000 AS u
      FROM px, range(50) b(b)
    ),
    mult AS (
      SELECT b, px,
             CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
                  WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
                  WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
                  ELSE 6 END AS m
      FROM reps
    ),
    means AS (
      SELECT b, sum(m * px) // sum(m) AS mean_b
      FROM mult GROUP BY b
    ),
    ranked AS (
      SELECT mean_b,
             row_number() OVER (ORDER BY mean_b, b) AS rn
      FROM means
    ),
    full_mean AS (
      SELECT count(*) AS n, sum(px) // count(*) AS est FROM px
    )
    SELECT CAST(f.n AS BIGINT) AS n_rows,
           CAST(50 AS BIGINT) AS b_replicates,
           CAST(f.est AS BIGINT) AS est_mean_x1e4,
           CAST((SELECT mean_b FROM ranked WHERE rn = 2) AS BIGINT)
             AS ci_lo_x1e4,
           CAST((SELECT mean_b FROM ranked WHERE rn = 49) AS BIGINT)
             AS ci_hi_x1e4
    FROM full_mean f
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence interval for the mean order value via
    the POISSON BOOTSTRAP (Chamandy et al., the distributed-bootstrap
    formulation: per replicate, each row's resample multiplicity is an
    independent Poisson(1) draw — no global with-replacement sampling
    step, so replicates build in one scan), made engine-deterministic
    by drawing the multiplicity from a Knuth multiplicative hash of
    (row key, replicate id) mapped through the integer-threshold
    Poisson(1) inverse CDF (3679/7358/9197/9810/9963/9994 out of
    1e4).  Replicate means are exact scaled-long floor divisions; the
    CI endpoints are the 2nd and 49th order statistics of the 50
    replicate means (row_number with replicate tie-break) — every
    decision integer-decidable on both engines.

    100 TB shape: one scan explodes rows x B replicates (B=50) with
    the multiplicity computed scan-stage, then ONE map-side-combinable
    (replicate) aggregation — the textbook way to bootstrap a
    cluster-scale dataset without materializing resamples; the rank
    step touches B rows.  North-star extension (SURVEY §2 stats rows;
    the resampling sibling of jackknife_variance and
    permutation_test_deterministic)."""
    # 2-column base, checkpointed once: it forks into the replicate
    # explode and the full-sample estimate, and the replicate chain
    # forked AGAIN at the CI rank cut — un-cut lineage re-ran the
    # 50x explode and re-scanned orders per fork (3 scans, r9 audit;
    # now 1, and the explode runs once via the ranked checkpoint).
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        money_scaled(F.col("o_totalprice")).alias("px"),
    ).localCheckpoint()
    reps = o.crossJoin(
        F.broadcast(spark.range(50).select(F.col("id").alias("b")))
    ).withColumn(
        "u",
        ((F.col("k") * 2654435761 + F.col("b") * 40503 + 12345)
         % 1000000007) % 10000,
    )
    m = (
        F.when(F.col("u") < 3679, 0)
        .when(F.col("u") < 7358, 1)
        .when(F.col("u") < 9197, 2)
        .when(F.col("u") < 9810, 3)
        .when(F.col("u") < 9963, 4)
        .when(F.col("u") < 9994, 5)
        .otherwise(6)
    )
    means = (
        reps.withColumn("m", m)
        .groupBy("b")
        .agg(F.expr("sum(m * px) div sum(m)").alias("mean_b"))
    )
    ranked = means.select(
        "mean_b",
        F.row_number()
        .over(Window.orderBy("mean_b", "b"))
        .alias("rn"),
    ).localCheckpoint()  # 50 rows; feeds both CI endpoints
    lo = ranked.filter(F.col("rn") == 2).select(
        F.col("mean_b").alias("ci_lo_x1e4")
    )
    hi = ranked.filter(F.col("rn") == 49).select(
        F.col("mean_b").alias("ci_hi_x1e4")
    )
    full = o.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("sum(px) div count(*)").cast("long").alias("est_mean_x1e4"),
    )
    return (
        full.withColumn("b_replicates", F.lit(50).cast("long"))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_rows",
            "b_replicates",
            "est_mean_x1e4",
            "ci_lo_x1e4",
            "ci_hi_x1e4",
        )
    )


@query(
    "rfm_segmentation",
    """
    WITH cust AS (
      SELECT o_custkey AS ck,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_x1e4
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT ck, recency_days, frequency, monetary_x1e4,
             5 - ((row_number() OVER (ORDER BY recency_days, ck) - 1) * 5)
                 // (count(*) OVER ()) AS r_score,
             5 - ((row_number() OVER (ORDER BY frequency DESC, ck) - 1) * 5)
                 // (count(*) OVER ()) AS f_score,
             5 - ((row_number() OVER (ORDER BY monetary_x1e4 DESC, ck) - 1)
                  * 5) // (count(*) OVER ()) AS m_score
      FROM cust
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
             AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_x1e4) AS BIGINT) AS monetary_sum_x1e4,
           CAST(min(recency_days) AS BIGINT) AS best_recency_days,
           CAST(max(frequency) AS BIGINT) AS max_frequency
    FROM scored GROUP BY r_score * 100 + f_score * 10 + m_score
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary —
    the standard behavioral-cohort scoring in growth analytics):
    per customer, recency = days from their last order to the corpus
    horizon, frequency = order count, monetary = exact scaled-long
    revenue; each dimension maps to a 1-5 quintile score via the
    pure-integer rank formula ``5 - ((r-1)*5) div n`` with custkey
    tie-breaks (score 5 = most recent / most frequent / highest
    value), and the 3-digit segment code aggregates customer counts
    and exact revenue mass — the "champions vs at-risk" matrix,
    integer-decidable end to end.

    100 TB shape: the per-customer reduction is one
    map-side-combinable groupBy over the fact; the quintile ranks
    are windows over the CUSTOMER DIMENSION (n_customers rows, three
    orders of magnitude smaller than the fact) — the global-window
    caveat of quantile_normalize_sources applies only at
    dimension-cardinality, where it is the standard practice; at
    1e9+ customers swap the rank for the mergeable quantile sketch's
    boundaries.  North-star extension (SURVEY §2 stats rows; sits
    beside cohort_retention and time_weighted_value_per_user)."""
    o = load(spark, sf_dir, "orders")
    # per-customer reduction checkpointed; the corpus horizon is the
    # max over per-customer maxes — identical to a direct global max —
    # so it derives from the reduction instead of re-scanning orders
    # (2 scans, r9 audit; now 1)
    base = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count("*").alias("frequency"),
        F.sum(money_scaled(F.col("o_totalprice")))
        .cast("long")
        .alias("monetary_x1e4"),
    ).localCheckpoint()
    horizon = base.agg(F.max("last_d").alias("h"))
    cust = (
        base
        .crossJoin(F.broadcast(horizon))
        .select(
            "ck",
            F.datediff(F.col("h"), F.col("last_d")).alias("recency_days"),
            "frequency",
            "monetary_x1e4",
        )
    )
    n = Window.partitionBy()
    scored = cust.select(
        "ck",
        "recency_days",
        "frequency",
        "monetary_x1e4",
        (
            5
            - F.floor(
                ((F.row_number().over(Window.orderBy("recency_days", "ck")) - 1) * 5)
                / F.count("*").over(n)
            )
        ).alias("r_score"),
        (
            5
            - F.floor(
                (
                    (
                        F.row_number().over(
                            Window.orderBy(F.col("frequency").desc(), "ck")
                        )
                        - 1
                    )
                    * 5
                )
                / F.count("*").over(n)
            )
        ).alias("f_score"),
        (
            5
            - F.floor(
                (
                    (
                        F.row_number().over(
                            Window.orderBy(F.col("monetary_x1e4").desc(), "ck")
                        )
                        - 1
                    )
                    * 5
                )
                / F.count("*").over(n)
            )
        ).alias("m_score"),
    )
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            )
            .cast("long")
            .alias("rfm_segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("monetary_x1e4").cast("long").alias("monetary_sum_x1e4"),
            F.min("recency_days").cast("long").alias("best_recency_days"),
            F.max("frequency").cast("long").alias("max_frequency"),
        )
    )


@query(
    "neyman_allocation_sampling",
    """
    WITH px AS (
      SELECT o_orderpriority AS prio,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders
    ),
    means AS (
      SELECT prio, count(*) AS n_h, sum(px) // count(*) AS mu
      FROM px GROUP BY prio
    ),
    spread AS (
      SELECT p.prio, m.n_h,
             sum(abs(p.px - m.mu)) // m.n_h AS mad_h
      FROM px p JOIN means m USING (prio)
      GROUP BY p.prio, m.n_h
    ),
    wts AS (
      SELECT prio, n_h, mad_h, n_h * mad_h AS w,
             (SELECT sum(n_h * mad_h) FROM spread) AS w_total
      FROM spread
    ),
    alloc AS (
      SELECT prio, n_h, mad_h,
             (1000 * w) // w_total AS base_seats,
             1000 * w - ((1000 * w) // w_total) * w_total AS remainder
      FROM wts
    ),
    leftover AS (
      SELECT 1000 - sum(base_seats) AS extra FROM alloc
    ),
    ranked AS (
      SELECT prio, n_h, mad_h, base_seats,
             row_number() OVER (ORDER BY remainder DESC, prio) AS rk
      FROM alloc
    )
    SELECT prio AS o_orderpriority,
           CAST(n_h AS BIGINT) AS n_stratum,
           CAST(mad_h AS BIGINT) AS mad_x1e4,
           CAST(base_seats
                + CASE WHEN rk <= (SELECT extra FROM leftover)
                       THEN 1 ELSE 0 END AS BIGINT) AS sample_seats
    FROM ranked
    """,
)
def neyman_allocation_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN-style optimal stratified-sample allocation + LARGEST-
    REMAINDER apportionment (two classical mechanisms composed: the
    survey-sampling rule n_h proportional to N_h * dispersion_h, and the
    Hamilton method that turns fractional seat shares into integers
    without violating quota): per priority stratum, dispersion is the
    integer mean absolute deviation around the stratum's floor-div
    mean (MAD as the spread proxy keeps every operand in exact int64
    where a sum of squared 4dp-scaled prices would overflow — the
    documented reason variance isn't used here); a budget of 1000
    sample seats splits as floor(B*w_h/W) plus one seat to the
    largest remainders (row_number tie-broken by stratum).  Total
    seats is exactly 1000 by construction; every decision —
    means, MADs, quotas, remainders, ranking — is integer-decidable
    on both engines.

    This is the design step a 100 TB profiling job runs BEFORE
    sampling: spend the row budget where the money variance lives,
    not uniformly.  Shape: two map-side-combinable passes over the
    fact (means, then deviations) and O(strata) driver-free
    allocation arithmetic.  North-star extension (SURVEY §2 stats
    rows; the design-of-experiments sibling of the
    stratified/reservoir sampling entries)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        money_scaled(F.col("o_totalprice")).alias("px"),
    )
    means = o.groupBy("prio").agg(
        F.count("*").alias("n_h"),
        F.expr("sum(px) div count(*)").alias("mu"),
    )
    # materialize the O(strata) dispersion table (r9): the total, the
    # apportionment, and the remainder ranking all fork from it — the
    # un-checkpointed plan re-ran the fact scans 8x for 5 rows
    spread = (
        o.join(F.broadcast(means), "prio")
        .groupBy("prio", "n_h")
        .agg(F.expr("sum(abs(px - mu)) div first(n_h)").alias("mad_h"))
        .localCheckpoint()
    )
    w_total = spread.agg(
        F.sum(F.col("n_h") * F.col("mad_h")).alias("w_total")
    )
    alloc = (
        spread.crossJoin(F.broadcast(w_total))
        .withColumn("w", F.col("n_h") * F.col("mad_h"))
        .withColumn("base_seats", F.expr("(1000 * w) div w_total"))
        .withColumn(
            "remainder", F.expr("1000 * w - ((1000 * w) div w_total) * w_total")
        )
    )
    extra = alloc.agg(
        (F.lit(1000) - F.sum("base_seats")).alias("extra")
    )
    ranked = alloc.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("remainder").desc(), "prio")
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(extra))
        .select(
            F.col("prio").alias("o_orderpriority"),
            F.col("n_h").cast("long").alias("n_stratum"),
            F.col("mad_h").cast("long").alias("mad_x1e4"),
            (
                F.col("base_seats")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("sample_seats"),
        )
    )


@query(
    "shapley_channel_attribution",
    """
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS bc,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bv,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS bs,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT
        sum(CASE WHEN conv=1 AND bc<=0 AND bv<=0 AND bs<=0 THEN 1 ELSE 0 END) AS v000,
        sum(CASE WHEN conv=1 AND bv<=0 AND bs<=0 THEN 1 ELSE 0 END) AS v100,
        sum(CASE WHEN conv=1 AND bc<=0 AND bs<=0 THEN 1 ELSE 0 END) AS v010,
        sum(CASE WHEN conv=1 AND bc<=0 AND bv<=0 THEN 1 ELSE 0 END) AS v001,
        sum(CASE WHEN conv=1 AND bs<=0 THEN 1 ELSE 0 END) AS v110,
        sum(CASE WHEN conv=1 AND bv<=0 THEN 1 ELSE 0 END) AS v101,
        sum(CASE WHEN conv=1 AND bc<=0 THEN 1 ELSE 0 END) AS v011,
        sum(CASE WHEN conv=1 THEN 1 ELSE 0 END) AS v111
      FROM u
    )
    SELECT 'click' AS channel,
           CAST(2*(v100-v000) + (v110-v010) + (v101-v001)
                + 2*(v111-v011) AS BIGINT) AS shapley_x6,
           CAST(v000 AS BIGINT) AS v_empty, CAST(v111 AS BIGINT) AS v_full
    FROM v
    UNION ALL
    SELECT 'view',
           CAST(2*(v010-v000) + (v110-v100) + (v011-v001)
                + 2*(v111-v101) AS BIGINT),
           CAST(v000 AS BIGINT), CAST(v111 AS BIGINT)
    FROM v
    UNION ALL
    SELECT 'signup',
           CAST(2*(v001-v000) + (v101-v100) + (v011-v010)
                + 2*(v111-v110) AS BIGINT),
           CAST(v000 AS BIGINT), CAST(v111 AS BIGINT)
    FROM v
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE channel attribution (the game-theoretic
    credit rule — the unique allocation satisfying efficiency /
    symmetry / dummy / additivity — that position rules like
    multitouch_attribution_models approximate): players are the
    {click, view, signup} exposure channels, the characteristic
    function v(S) counts converted users whose exposure set is
    CONTAINED in S (the only-these-channels-acted counterfactual),
    and each channel's Shapley value is the weighted sum of its
    marginal contributions over all 2^(n-1) coalitions.  With n=3
    the factorial weights are {2,1,1,2}/6, so shapley_x6 is an EXACT
    integer on both engines; efficiency (sum of values =
    6*(v(N) - v(empty))) is pinned by hashing v_empty/v_full
    alongside.

    100 TB shape: one map-side-combinable per-user bitmap reduction,
    then ONE row of 8 conditional sums — the 2^n characteristic
    function evaluates in a single pass regardless of corpus size
    (exponential only in the CHANNEL count, which is the model's
    own constraint).  North-star extension (SURVEY §2 stats rows;
    the exact-game sibling of the position-rule attribution entry)."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("bc"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("bv"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("bs"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )

    def vS(c_ok, v_ok, s_ok):
        cond = F.col("conv") == 1
        if not c_ok:
            cond = cond & (F.col("bc") == 0)
        if not v_ok:
            cond = cond & (F.col("bv") == 0)
        if not s_ok:
            cond = cond & (F.col("bs") == 0)
        return F.sum(F.when(cond, 1).otherwise(0))

    # 1-row coalition-value table, checkpointed: it forks into the
    # three per-channel union legs, and un-cut lineage re-scanned
    # events per leg (3 scans, r9 audit; now 1)
    v = u.agg(
        vS(False, False, False).alias("v000"),
        vS(True, False, False).alias("v100"),
        vS(False, True, False).alias("v010"),
        vS(False, False, True).alias("v001"),
        vS(True, True, False).alias("v110"),
        vS(True, False, True).alias("v101"),
        vS(False, True, True).alias("v011"),
        vS(True, True, True).alias("v111"),
    ).localCheckpoint()
    rows = []
    for ch, expr in (
        ("click", "2*(v100-v000) + (v110-v010) + (v101-v001) + 2*(v111-v011)"),
        ("view", "2*(v010-v000) + (v110-v100) + (v011-v001) + 2*(v111-v101)"),
        (
            "signup",
            "2*(v001-v000) + (v101-v100) + (v011-v010) + 2*(v111-v110)",
        ),
    ):
        rows.append(
            v.select(
                F.lit(ch).alias("channel"),
                F.expr(expr).cast("long").alias("shapley_x6"),
                F.col("v000").cast("long").alias("v_empty"),
                F.col("v111").cast("long").alias("v_full"),
            )
        )
    return rows[0].unionByName(rows[1]).unionByName(rows[2])


@query(
    "sequence_pattern_mining",
    """
    WITH pos AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    pairs AS (
      SELECT DISTINCT a.user_id, a.event_type AS t1, b.event_type AS t2
      FROM pos a JOIN pos b
        ON a.user_id = b.user_id AND a.rn < b.rn
    ),
    nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    sup AS (
      SELECT t1, t2, count(*) AS support FROM pairs GROUP BY t1, t2
    )
    SELECT t1, t2,
           CAST(support AS BIGINT) AS support,
           CAST((support * 10000) // nu.n_users AS BIGINT)
             AS support_ratio_x1e4,
           CAST(nu.n_users AS BIGINT) AS n_users
    FROM sup CROSS JOIN nu
    ORDER BY support DESC, t1, t2 LIMIT 10
    """,
)
def sequence_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING — gapped length-2 subsequence
    support (the PrefixSpan/GSP primitive: pattern <a then b> is
    supported by a user if SOME a-event precedes SOME b-event,
    arbitrary gap — which fixed-window funnels and adjacent-pair
    Markov transitions both cannot express): per-user event
    positions by (ts, event_id), an inequality self-join produces
    the DISTINCT patterns each user exhibits, support counts
    supporting users, and the top-10 patterns emit with the exact
    integer support ratio.  MINES the frequent orderings rather than
    checking a prescribed one — the discovery step that feeds
    funnel_conversion's hypothesis.

    100 TB shape: the self-join keys on user_id (partition-local
    pairing; per-user cost is O(events-per-user^2) on the REDUCED
    distinct-pattern output, the known cost model of sequence
    mining — bounded by capping per-user history in production);
    support is a map-side-combinable count over <= |types|^2 keys;
    top-10 is TakeOrderedAndProject.  North-star extension (SURVEY
    §2 stats rows; completes the event-sequence family: funnel =
    check, markov = adjacency, CEP = streaming regex, this =
    mining)."""
    ev = load(spark, sf_dir, "events")
    # positioned stream checkpointed once: both sides of the per-user
    # inequality self-join AND the user census derive from it — un-cut
    # lineage re-scanned events per fork (3 scans, r9 audit; now 1)
    pos = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    ).localCheckpoint()
    a, b = pos.alias("a"), pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .distinct()
    )
    # same value as counting over the raw stream (pos keeps every
    # event row), but reads the checkpoint instead of a third scan
    nu = pos.agg(F.countDistinct("user_id").alias("n_users"))
    sup = pairs.groupBy("t1", "t2").agg(F.count("*").alias("support"))
    return (
        sup.crossJoin(F.broadcast(nu))
        .select(
            "t1",
            "t2",
            F.col("support").cast("long").alias("support"),
            F.expr("(support * 10000) div n_users")
            .cast("long")
            .alias("support_ratio_x1e4"),
            F.col("n_users").cast("long").alias("n_users"),
        )
        .orderBy(F.col("support").desc(), "t1", "t2")
        .limit(10)
    )


def _bt_round_sql(prev: str, cur: str) -> str:
    """One unrolled Bradley-Terry MM update with scaled-int pair
    terms (identical integer operands on both engines)."""
    return f"""
    d{cur} AS (
      SELECT m.i,
             sum((m.n_pair * 1000000000)
                 // (pa.p + pb.p)) AS denom
      FROM matches m
      JOIN {prev} pa ON pa.src = m.i
      JOIN {prev} pb ON pb.src = m.j
      GROUP BY m.i
    ),
    {cur} AS (
      SELECT w.src, (w.wins * 1000000000) // d{cur}.denom AS p
      FROM wins w JOIN d{cur} ON d{cur}.i = w.src
    )"""


@query(
    "bradley_terry_ranking",
    f"""
    WITH w AS (
      SELECT doc_id, lang, source, n_chars,
             lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS r_id,
             lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS r_src,
             lead(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS r_n
      FROM documents
    ),
    duels AS (
      SELECT CASE WHEN n_chars > r_n
                    OR (n_chars = r_n AND doc_id < r_id)
                  THEN source ELSE r_src END AS winner,
             CASE WHEN n_chars > r_n
                    OR (n_chars = r_n AND doc_id < r_id)
                  THEN r_src ELSE source END AS loser
      FROM w WHERE r_id IS NOT NULL AND source <> r_src
    ),
    nw AS (SELECT winner, loser, count(*) AS n FROM duels
           GROUP BY winner, loser),
    matches AS (
      SELECT coalesce(a.winner, b.loser) AS i,
             coalesce(a.loser, b.winner) AS j,
             coalesce(a.n, 0) + coalesce(b.n, 0) AS n_pair
      FROM nw a FULL OUTER JOIN nw b
        ON a.winner = b.loser AND a.loser = b.winner
    ),
    wins AS (
      SELECT s.src, coalesce(sum(nw.n), 0) AS wins
      FROM (SELECT DISTINCT source AS src FROM documents) s
      LEFT JOIN nw ON nw.winner = s.src GROUP BY s.src
    ),
    p0 AS (SELECT src, CAST(1000000 AS BIGINT) AS p FROM wins),
    {_bt_round_sql('p0', 'p1')},
    {_bt_round_sql('p1', 'p2')}
    SELECT p2.src AS source,
           CAST(w.wins AS BIGINT) AS wins,
           CAST(p1.p AS BIGINT) AS strength_r1_x1e6,
           CAST(p2.p AS BIGINT) AS strength_r2_x1e6
    FROM p2 JOIN p1 ON p1.src = p2.src JOIN wins w ON w.src = p2.src
    """,
)
def bradley_terry_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY pairwise-preference ranking (the arena/Elo-class
    model behind LLM leaderboard scoring: strengths p_i such that
    P(i beats j) = p_i/(p_i+p_j), fit by the classical MM update
    p_i' = W_i / SUM_j n_ij/(p_i+p_j)): duels are deterministic
    doc-length contests between different-source documents adjacent
    in (lang, doc_id) order (ties to the lower doc_id), and two MM
    rounds run in SCALED-INTEGER arithmetic — each pair term is
    (n_pair * 1e9) div (p_i + p_j), summed exactly, so the update
    trajectory is integer-decidable on both engines (the oracle
    unrolls both rounds as CTE stages).  Output pins wins and both
    rounds' strengths per source.

    100 TB shape: the duel stream reduces map-side to a
    |sources|^2 match matrix; each MM round joins that tiny matrix
    against the |sources|-row strength table — iteration cost is
    independent of corpus size after the first reduction (the same
    cost model as arena leaderboards: millions of battles, dozens of
    models).  North-star extension (SURVEY §2 LLM-eval rows; the
    preference-model sibling of bleu2_pairwise_eval and the
    judge-panel pattern)."""
    d = load(spark, sf_dir, "documents")
    win = Window.partitionBy("lang").orderBy("doc_id")
    w = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.lead("doc_id").over(win).alias("r_id"),
        F.lead("source").over(win).alias("r_src"),
        F.lead("n_chars").over(win).alias("r_n"),
    ).filter(F.col("r_id").isNotNull() & (F.col("source") != F.col("r_src")))
    left_wins = (F.col("n_chars") > F.col("r_n")) | (
        (F.col("n_chars") == F.col("r_n")) & (F.col("doc_id") < F.col("r_id"))
    )
    duels = w.select(
        F.when(left_wins, F.col("source")).otherwise(F.col("r_src")).alias(
            "winner"
        ),
        F.when(left_wins, F.col("r_src")).otherwise(F.col("source")).alias(
            "loser"
        ),
    )
    # materialize the O(sources^2) duel tally (r9): the pair
    # symmetrization, win totals, and both MM rounds all fork from it
    # — the un-checkpointed plan re-ran the corpus duel window 24x
    nw = (
        duels.groupBy("winner", "loser")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    a, b = nw.alias("a"), nw.alias("b")
    matches = (
        a.join(
            b,
            (F.col("a.winner") == F.col("b.loser"))
            & (F.col("a.loser") == F.col("b.winner")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("a.winner"), F.col("b.loser")).alias("i"),
            F.coalesce(F.col("a.loser"), F.col("b.winner")).alias("j"),
            (
                F.coalesce(F.col("a.n"), F.lit(0))
                + F.coalesce(F.col("b.n"), F.lit(0))
            ).alias("n_pair"),
        )
    )
    srcs = d.select(F.col("source").alias("src")).distinct()
    # O(sources) win totals checkpointed (r9): the MM rounds and the
    # final join each rebuilt them — and srcs re-scanned the corpus
    wins = (
        srcs.join(nw, srcs["src"] == nw["winner"], "left")
        .groupBy("src")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("wins"))
        .localCheckpoint()
    )
    p = wins.select("src", F.lit(1000000).cast("long").alias("p"))
    strengths = []
    for _ in range(2):
        pa = p.select(F.col("src").alias("i"), F.col("p").alias("pi"))
        pb = p.select(F.col("src").alias("j"), F.col("p").alias("pj"))
        denom = (
            matches.join(F.broadcast(pa), "i")
            .join(F.broadcast(pb), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr("(n_pair * 1000000000) div (pi + pj)")
                ).alias("denom")
            )
        )
        p = (
            wins.join(denom, wins["src"] == denom["i"])
            .select(
                "src",
                F.expr("(wins * 1000000000) div denom").cast("long").alias("p"),
            )
        )
        strengths.append(p)
    return (
        strengths[1]
        .join(
            strengths[0].withColumnRenamed("p", "p1"),
            "src",
        )
        .join(wins, "src")
        .select(
            F.col("src").alias("source"),
            F.col("wins").cast("long").alias("wins"),
            F.col("p1").cast("long").alias("strength_r1_x1e6"),
            F.col("p").cast("long").alias("strength_r2_x1e6"),
        )
    )


@query(
    "feature_store_pit_join",
    """
    WITH labels AS (
      SELECT user_id, max(ts) AS label_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    feat AS (
      SELECT l.user_id,
             sum(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
               AS n_clicks_before,
             sum(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
               AS n_views_before,
             sum(CASE WHEN e.ts >= l.label_ts - INTERVAL 7 DAY
                      THEN 1 ELSE 0 END) AS n_events_7d,
             (epoch_ms(l.label_ts) - epoch_ms(max(e.ts))) // 60000
               AS recency_min
      FROM labels l JOIN events e
        ON e.user_id = l.user_id AND e.ts < l.label_ts
      GROUP BY l.user_id, l.label_ts
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_clicks_before AS BIGINT) AS n_clicks_before,
           CAST(n_views_before AS BIGINT) AS n_views_before,
           CAST(n_events_7d AS BIGINT) AS n_events_7d,
           CAST(recency_min AS BIGINT) AS recency_min
    FROM feat
    """,
)
def feature_store_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-CORRECT feature join — the feature-store
    primitive that makes training data leakage-free (Feast/Tecton's
    core contract: per entity, features may use only observations
    STRICTLY BEFORE that entity's own label timestamp, which a plain
    as-of-now aggregation violates): each user's label event is
    their last purchase; the feature join admits only events with
    ``ts < label_ts`` PER USER (a per-entity temporal predicate
    inside the join condition, not a global snapshot cut), then
    derives click/view history counts, 7-day recent activity, and
    recency-in-minutes — all exact integers.

    A user whose only events are at/after their label vanishes from
    the output (no pre-label history -> no training row), which is
    the honest contract; events AT the label timestamp are excluded
    (strict <) — the classic off-by-one that leaks the label into
    its own features.

    100 TB shape: one user shuffle total — label_ts is an unordered
    per-user window max (no sort) computed on the SAME user
    partitioning the feature aggregation needs, so the old
    two-scan aggregate+join (which shuffled both sides at entity
    cardinality) collapses to a single pass.  North-star extension
    (SURVEY §2 LLM rows; the training-data sibling of leakage-safe
    splits and decontamination)."""
    # label_ts as a window max over the SAME user partitioning (r9
    # session 2): the separate purchase aggregate + user-keyed join
    # scanned events twice and shuffled both sides at entity
    # cardinality (labels stop broadcasting at scale); the window
    # shares one user shuffle with the feature aggregation below
    # (guide §2.4) — identical survivors: max() ignores the nulls of
    # purchase-free users, so their label_ts is NULL and the strict
    # ets < label_ts filter drops them exactly as the inner join did
    ev = load(spark, sf_dir, "events")
    j = (
        ev.select(
            "user_id",
            "event_type",
            F.col("ts").alias("ets"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
            .over(Window.partitionBy("user_id"))
            .alias("label_ts"),
        )
        .filter(F.col("ets") < F.col("label_ts"))
    )
    return (
        j.groupBy("user_id", "label_ts")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_clicks_before"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views_before"),
            F.sum(
                F.when(
                    F.col("ets")
                    >= F.col("label_ts") - F.expr("INTERVAL 7 DAYS"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_events_7d"),
            F.expr(
                "(unix_millis(label_ts) - unix_millis(max(ets))) div 60000"
            )
            .cast("long")
            .alias("recency_min"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_clicks_before",
            "n_views_before",
            "n_events_7d",
            "recency_min",
        )
    )


@query(
    "oaxaca_mix_rate_decomposition",
    """
    WITH px AS (
      SELECT o_orderpriority AS seg,
             CASE WHEN epoch_ms(o_orderdate) <
                       (SELECT (epoch_ms(min(o_orderdate))
                                + epoch_ms(max(o_orderdate))) // 2
                        FROM orders)
                  THEN 'A' ELSE 'B' END AS period,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    seg_stats AS (
      SELECT seg, period, count(*) AS n, sum(y) // count(*) AS mean_y
      FROM px GROUP BY seg, period
    ),
    tot AS (
      SELECT period, sum(n) AS n_tot FROM seg_stats GROUP BY period
    ),
    shares AS (
      SELECT s.seg, s.period, s.mean_y,
             (s.n * 1000000) // t.n_tot AS share_x1e6
      FROM seg_stats s JOIN tot t USING (period)
    ),
    wide AS (
      SELECT a.seg,
             a.share_x1e6 AS sh_a, b.share_x1e6 AS sh_b,
             a.mean_y AS mu_a, b.mean_y AS mu_b
      FROM (SELECT * FROM shares WHERE period = 'A') a
      JOIN (SELECT * FROM shares WHERE period = 'B') b USING (seg)
    )
    SELECT seg AS o_orderpriority,
           CAST(sh_a AS BIGINT) AS share_a_x1e6,
           CAST(sh_b AS BIGINT) AS share_b_x1e6,
           CAST(mu_a AS BIGINT) AS mean_a_x1e4,
           CAST(mu_b AS BIGINT) AS mean_b_x1e4,
           CAST((sh_b - sh_a) * mu_a AS BIGINT) AS mix_effect_x1e10,
           CAST(sh_a * (mu_b - mu_a) AS BIGINT) AS rate_effect_x1e10,
           CAST((sh_b - sh_a) * (mu_b - mu_a) AS BIGINT)
             AS interaction_x1e10
    FROM wide
    """,
)
def oaxaca_mix_rate_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OAXACA-BLINDER mix/rate DECOMPOSITION (the "why did the
    metric move" arithmetic every growth team runs: a change in
    average order value between two periods splits, per segment,
    into a MIX effect — the segment's share of volume shifted — a
    RATE effect — the segment's own mean shifted — and their
    interaction): periods are the date-median halves of the corpus;
    per (segment, period) the mean is an exact scaled-long floor
    division and the volume share an exact ppm; the three effect
    terms are pure integer products at 1e10 scale, so the
    decomposition table hashes bitwise.  Summed over segments,
    mix + rate + interaction reproduces the total metric change up
    to the stated ppm/4dp quantization — the identity the analysis
    rests on.

    100 TB shape: one (segment, period) map-side-combinable
    aggregate (10 rows), then pure arithmetic on the tiny wide
    table; the period split predicate is a scan-stage comparison
    against a 1-row broadcast midpoint.  North-star extension
    (SURVEY §2 stats rows; the decomposition sibling of
    diff_in_diff_revenue)."""
    o = load(spark, sf_dir, "orders")
    mid = o.agg(
        F.expr(
            "(unix_millis(cast(min(o_orderdate) as timestamp))"
            " + unix_millis(cast(max(o_orderdate) as timestamp))) div 2"
        ).alias("mid_ms")
    )
    px = o.crossJoin(F.broadcast(mid)).select(
        F.col("o_orderpriority").alias("seg"),
        F.when(
            F.expr("unix_millis(cast(o_orderdate as timestamp))")
            < F.col("mid_ms"),
            "A",
        )
        .otherwise("B")
        .alias("period"),
        money_scaled(F.col("o_totalprice")).alias("y"),
    )
    # materialize the O(segments x 2) moment table (r9): the totals
    # fork and the A/B split otherwise each re-ran the fact scans —
    # 8 orders scans for a 10-row decomposition
    seg_stats = px.groupBy("seg", "period").agg(
        F.count("*").alias("n"),
        F.expr("sum(y) div count(*)").alias("mean_y"),
    ).localCheckpoint()
    tot = seg_stats.groupBy("period").agg(F.sum("n").alias("n_tot"))
    shares = seg_stats.join(F.broadcast(tot), "period").select(
        "seg",
        "period",
        "mean_y",
        F.expr("(n * 1000000) div n_tot").alias("share_x1e6"),
    )
    a = (
        shares.filter(F.col("period") == "A")
        .select(
            "seg",
            F.col("share_x1e6").alias("sh_a"),
            F.col("mean_y").alias("mu_a"),
        )
    )
    b = (
        shares.filter(F.col("period") == "B")
        .select(
            "seg",
            F.col("share_x1e6").alias("sh_b"),
            F.col("mean_y").alias("mu_b"),
        )
    )
    return a.join(b, "seg").select(
        F.col("seg").alias("o_orderpriority"),
        F.col("sh_a").cast("long").alias("share_a_x1e6"),
        F.col("sh_b").cast("long").alias("share_b_x1e6"),
        F.col("mu_a").cast("long").alias("mean_a_x1e4"),
        F.col("mu_b").cast("long").alias("mean_b_x1e4"),
        ((F.col("sh_b") - F.col("sh_a")) * F.col("mu_a"))
        .cast("long")
        .alias("mix_effect_x1e10"),
        (F.col("sh_a") * (F.col("mu_b") - F.col("mu_a")))
        .cast("long")
        .alias("rate_effect_x1e10"),
        ((F.col("sh_b") - F.col("sh_a")) * (F.col("mu_b") - F.col("mu_a")))
        .cast("long")
        .alias("interaction_x1e10"),
    )


@query(
    "chain_ladder_development",
    """
    WITH ev AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    fd AS (SELECT user_id, min(d) AS c FROM ev GROUP BY user_id),
    mx AS (SELECT max(d) AS maxd FROM ev),
    aged AS (
      SELECT f.c, e.d - f.c AS age
      FROM ev e JOIN fd f USING (user_id)
      WHERE e.d - f.c BETWEEN 0 AND 6
    ),
    inc AS (SELECT c, age, count(*) AS n FROM aged GROUP BY c, age),
    spine AS (
      SELECT cc.c, j.j AS age
      FROM (SELECT DISTINCT c FROM fd) cc, (SELECT unnest(range(7)) AS j) j
      CROSS JOIN mx WHERE cc.c + j.j <= mx.maxd
    ),
    cum AS (
      SELECT s.c, s.age,
             (SELECT coalesce(sum(i.n), 0) FROM inc i
              WHERE i.c = s.c AND i.age <= s.age) AS cum
      FROM spine s
    ),
    factors AS (
      SELECT n0.age,
             (sum(n1.cum) * 1000000) // sum(n0.cum) AS f
      FROM cum n0 JOIN cum n1 ON n1.c = n0.c AND n1.age = n0.age + 1
      WHERE n0.age < 6
      GROUP BY n0.age
    ),
    fw AS (
      SELECT max(CASE WHEN age = 0 THEN f END) AS f0,
             max(CASE WHEN age = 1 THEN f END) AS f1,
             max(CASE WHEN age = 2 THEN f END) AS f2,
             max(CASE WHEN age = 3 THEN f END) AS f3,
             max(CASE WHEN age = 4 THEN f END) AS f4,
             max(CASE WHEN age = 5 THEN f END) AS f5
      FROM factors
    ),
    open_cohorts AS (
      SELECT c.c, mx.maxd - c.c AS maxage, c.cum AS latest
      FROM cum c CROSS JOIN mx
      WHERE c.age = mx.maxd - c.c AND mx.maxd - c.c < 6
    ),
    p0 AS (SELECT o.c, o.maxage, o.latest, o.latest AS u,
           f.f0, f.f1, f.f2, f.f3, f.f4, f.f5
           FROM open_cohorts o CROSS JOIN fw f),
    p1 AS (SELECT c, maxage, latest,
           CASE WHEN 0 >= maxage THEN (u * f0) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p0),
    p2 AS (SELECT c, maxage, latest,
           CASE WHEN 1 >= maxage THEN (u * f1) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p1),
    p3 AS (SELECT c, maxage, latest,
           CASE WHEN 2 >= maxage THEN (u * f2) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p2),
    p4 AS (SELECT c, maxage, latest,
           CASE WHEN 3 >= maxage THEN (u * f3) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p3),
    p5 AS (SELECT c, maxage, latest,
           CASE WHEN 4 >= maxage THEN (u * f4) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p4),
    p6 AS (SELECT c, maxage, latest,
           CASE WHEN 5 >= maxage THEN (u * f5) // 1000000
                ELSE u END AS u,
           f0, f1, f2, f3, f4, f5 FROM p5),
    proj AS (SELECT c, maxage, latest, u AS ultimate FROM p6)
    SELECT 'factor' AS kind, CAST(age AS BIGINT) AS k,
           CAST(f AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2
    FROM factors
    UNION ALL
    SELECT 'ultimate', CAST(c AS BIGINT), CAST(latest AS BIGINT),
           CAST(ultimate AS BIGINT)
    FROM proj
    """,
)
def chain_ladder_development(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAIN-LADDER development triangle (the actuarial
    loss-development method, reused here as cohort activity
    maturation — the same arithmetic powers revenue-recognition and
    engagement-forecast curves): users cohort by first-active day;
    cumulative event counts build the (cohort x age<=6) run-off
    triangle on a DENSE spine (zero-activity ages included — the
    gap every sparse-join implementation silently drops);
    age-to-age factors f_j = sum(C_{.,j+1}) / sum(C_{.,j}) over
    cohorts observed at both ages are exact ppm divisions; open
    cohorts (age < 6 at the data horizon) project to ULTIMATE by the
    sequential factor chain with a floor-div at every step — the
    identical integer op sequence both engines replay (oracle
    unrolls the 6-step chain as one CASE pyramid).

    100 TB shape: the triangle reduces map-side to
    O(cohorts x ages); factors and the projection are arithmetic on
    that tiny table; the only corpus-scale work is the first-day
    aggregate + one age-bounded join.  North-star extension (SURVEY
    §2 stats rows; the forecasting sibling of cohort_retention —
    retention reports the triangle, chain-ladder COMPLETES it)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
    )
    # the first-day frame feeds both the age join and the cohort
    # spine; materialize it (O(users) rows of 2 ints) so the forks
    # don't each redo the corpus reduction (r9: 21 events scans)
    fd = ev.groupBy("user_id").agg(F.min("d").alias("c")).localCheckpoint()
    mx = ev.agg(F.max("d").alias("maxd"))
    aged = (
        ev.join(fd, "user_id")
        .withColumn("age", F.col("d") - F.col("c"))
        .filter(F.col("age").between(0, 6))
    )
    inc = aged.groupBy("c", "age").agg(F.count("*").alias("n"))
    spine = (
        fd.select("c")
        .distinct()
        .crossJoin(
            F.broadcast(spark.range(7).select(F.col("id").alias("age")))
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("c") + F.col("age") <= F.col("maxd"))
        .select("c", "age")
    )
    # the completed O(cohorts x 7) triangle is the fork point for
    # factors, open cohorts, and the projection — materialize it once
    cum = (
        spine.join(inc.withColumnRenamed("age", "iage"), "c", "left")
        .filter(F.col("iage").isNull() | (F.col("iage") <= F.col("age")))
        .groupBy("c", "age")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("cum"))
        .localCheckpoint()
    )
    n0 = cum.alias("n0")
    n1 = cum.alias("n1")
    factors = (
        n0.filter(F.col("n0.age") < 6)
        .join(
            n1,
            (F.col("n1.c") == F.col("n0.c"))
            & (F.col("n1.age") == F.col("n0.age") + 1),
        )
        .groupBy(F.col("n0.age").alias("age"))
        .agg(
            F.expr("(sum(n1.cum) * 1000000) div sum(n0.cum)").alias("f")
        )
    )
    fw = factors.agg(
        *[
            F.max(F.when(F.col("age") == j, F.col("f"))).alias(f"f{j}")
            for j in range(6)
        ]
    )
    open_cohorts = (
        cum.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("age") == F.col("maxd") - F.col("c"))
            & (F.col("maxd") - F.col("c") < 6)
        )
        .select(
            "c",
            (F.col("maxd") - F.col("c")).alias("maxage"),
            F.col("cum").alias("latest"),
        )
    )
    proj = open_cohorts.crossJoin(F.broadcast(fw)).withColumn(
        "u", F.col("latest")
    )
    for j in range(6):
        proj = proj.withColumn(
            "u",
            F.expr(
                f"CASE WHEN {j} >= maxage THEN (u * f{j}) div 1000000"
                " ELSE u END"
            ),
        )
    proj = proj.withColumn("ultimate", F.col("u"))
    facts = factors.select(
        F.lit("factor").alias("kind"),
        F.col("age").cast("long").alias("k"),
        F.col("f").cast("long").alias("v1"),
        F.lit(0).cast("long").alias("v2"),
    )
    ults = proj.select(
        F.lit("ultimate").alias("kind"),
        F.col("c").cast("long").alias("k"),
        F.col("latest").cast("long").alias("v1"),
        F.col("ultimate").cast("long").alias("v2"),
    )
    return facts.unionByName(ults)


@query(
    "empirical_bayes_shrinkage",
    """
    WITH px AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    grp AS (
      SELECT g, count(*) AS n_g, sum(y) // count(*) AS mu_g
      FROM px GROUP BY g
    ),
    grand AS (
      SELECT sum(n_g * mu_g) // sum(n_g) AS mu, count(*) AS k FROM grp
    ),
    within AS (
      SELECT p.g, sum((p.y - gr.mu_g) * (p.y - gr.mu_g) // 100000000)
               AS ssw_x1
      FROM px p JOIN grp gr USING (g) GROUP BY p.g
    ),
    parts AS (
      SELECT g.g, g.n_g, g.mu_g, w.ssw_x1,
             (g.mu_g - gd.mu) * (g.mu_g - gd.mu) // 100000000 AS btw_x1,
             gd.mu, gd.k
      FROM grp g JOIN within w USING (g) CROSS JOIN grand gd
    ),
    tau AS (
      SELECT sum(n_g * btw_x1) // sum(n_g) AS tau2_x1,
             sum(ssw_x1) // sum(n_g) AS sigma2_x1
      FROM parts
    )
    SELECT p.g AS o_orderpriority,
           CAST(p.n_g AS BIGINT) AS n_g,
           CAST(p.mu_g AS BIGINT) AS mean_x1e4,
           CAST(p.mu AS BIGINT) AS grand_mean_x1e4,
           CAST((p.n_g * t.tau2_x1 * 1000000)
                // (p.n_g * t.tau2_x1 + t.sigma2_x1) AS BIGINT)
             AS weight_x1e6,
           CAST(p.mu
                + (p.n_g * t.tau2_x1 * (p.mu_g - p.mu))
                  // (p.n_g * t.tau2_x1 + t.sigma2_x1) AS BIGINT)
             AS shrunk_mean_x1e4
    FROM parts p CROSS JOIN tau t
    """,
)
def empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES SHRINKAGE of group means toward the grand mean
    (the James-Stein/partial-pooling estimator dashboards need for
    small groups: a group's reported mean is pulled toward the
    population by a weight n*tau^2/(n*tau^2 + sigma^2) — groups with
    little data borrow strength, big groups keep their own signal):
    variance components come from method-of-moments — sigma^2 as the
    pooled within-group mean square, tau^2 as the size-weighted
    between-group mean square — computed on a COMMON REDUCED SCALE
    (squared 4dp deviations pre-divided by 1e8, i.e. squared whole
    dollars) so every sum stays exact int64 where raw squared
    scaled-cents would overflow (the documented reason); weights and
    shrunk means are then pure integer products/divisions.

    100 TB shape: two map-side-combinable passes (group moments,
    then within-group squares against broadcast means), then
    arithmetic on O(groups) rows.  North-star extension (SURVEY §2
    stats rows; the partial-pooling sibling of
    target_encoding_loo — same borrowing idea, estimator-grade)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        money_scaled(F.col("o_totalprice")).alias("y"),
    )
    # materialize the O(groups) moment tables at both fork points
    # (r9): grand mean, within-variance join, and the shrinkage
    # output otherwise each re-ran the fact scan — 8 orders scans
    grp = o.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.expr("sum(y) div count(*)").alias("mu_g"),
    ).localCheckpoint()
    grand = grp.agg(
        F.expr("sum(n_g * mu_g) div sum(n_g)").alias("mu"),
        F.count("*").alias("k"),
    )
    within = (
        o.join(F.broadcast(grp), "g")
        .groupBy("g")
        .agg(
            F.sum(
                F.expr("(y - mu_g) * (y - mu_g) div 100000000")
            ).alias("ssw_x1")
        )
    )
    parts = (
        grp.join(within, "g")
        .crossJoin(F.broadcast(grand))
        .withColumn(
            "btw_x1", F.expr("(mu_g - mu) * (mu_g - mu) div 100000000")
        )
        .localCheckpoint()
    )
    tau = parts.agg(
        F.expr("sum(n_g * btw_x1) div sum(n_g)").alias("tau2_x1"),
        F.expr("sum(ssw_x1) div sum(n_g)").alias("sigma2_x1"),
    )
    return parts.crossJoin(F.broadcast(tau)).select(
        F.col("g").alias("o_orderpriority"),
        F.col("n_g").cast("long").alias("n_g"),
        F.col("mu_g").cast("long").alias("mean_x1e4"),
        F.col("mu").cast("long").alias("grand_mean_x1e4"),
        F.expr(
            "(n_g * tau2_x1 * 1000000) div (n_g * tau2_x1 + sigma2_x1)"
        )
        .cast("long")
        .alias("weight_x1e6"),
        F.expr(
            "mu + (n_g * tau2_x1 * (mu_g - mu))"
            " div (n_g * tau2_x1 + sigma2_x1)"
        )
        .cast("long")
        .alias("shrunk_mean_x1e4"),
    )


def _haar_level_sql(prev: str, n: int, half: int) -> str:
    """One unrolled Haar level: pairwise integer averages + details
    (exact: the x64 pre-scale absorbs all six halvings)."""
    return f"""
    h{n} AS (
      SELECT list_transform(range(1, {half} + 1),
               i -> (a[2 * i - 1] + a[2 * i]) // 2) AS a,
             list_transform(range(1, {half} + 1),
               i -> (a[2 * i - 1] - a[2 * i]) // 2) AS d
      FROM {prev}
    )"""


@query(
    "haar_wavelet_levels",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
      FROM events GROUP BY bucket
    ),
    h0 AS (
      SELECT (list(cnt * 64 ORDER BY bucket))[1:64] AS a FROM hourly
    ),
    {_haar_level_sql('h0', 1, 32)},
    {_haar_level_sql('h1', 2, 16)},
    {_haar_level_sql('h2', 3, 8)},
    {_haar_level_sql('h3', 4, 4)},
    {_haar_level_sql('h4', 5, 2)},
    {_haar_level_sql('h5', 6, 1)}
    SELECT lvl,
           CAST(n_coeffs AS BIGINT) AS n_coeffs,
           CAST(energy AS BIGINT) AS energy,
           CAST(max_abs AS BIGINT) AS max_abs_detail,
           CAST(approx0 AS BIGINT) AS final_approx
    FROM (
      SELECT 1 AS lvl, len(h1.d) AS n_coeffs,
             list_sum(list_transform(h1.d, x -> x * x)) AS energy,
             list_max(list_transform(h1.d, x -> abs(x))) AS max_abs,
             h6.a[1] AS approx0
      FROM h1, h6
      UNION ALL SELECT 2, len(h2.d),
             list_sum(list_transform(h2.d, x -> x * x)),
             list_max(list_transform(h2.d, x -> abs(x))), h6.a[1]
      FROM h2, h6
      UNION ALL SELECT 3, len(h3.d),
             list_sum(list_transform(h3.d, x -> x * x)),
             list_max(list_transform(h3.d, x -> abs(x))), h6.a[1]
      FROM h3, h6
      UNION ALL SELECT 4, len(h4.d),
             list_sum(list_transform(h4.d, x -> x * x)),
             list_max(list_transform(h4.d, x -> abs(x))), h6.a[1]
      FROM h4, h6
      UNION ALL SELECT 5, len(h5.d),
             list_sum(list_transform(h5.d, x -> x * x)),
             list_max(list_transform(h5.d, x -> abs(x))), h6.a[1]
      FROM h5, h6
      UNION ALL SELECT 6, len(h6.d),
             list_sum(list_transform(h6.d, x -> x * x)),
             list_max(list_transform(h6.d, x -> abs(x))), h6.a[1]
      FROM h6
    )
    """,
)
def haar_wavelet_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET multiresolution decomposition of the hourly event
    series (the dyadic averaging/differencing behind time-series
    compression, change localization, and wavelet-based similarity
    search): the first 64 hourly counts, pre-scaled by 64 so ALL SIX
    levels of pairwise (a+b)/2 averages and (a-b)/2 details stay
    EXACT integers (one halving per level, parity absorbed by the
    pre-scale — no floats anywhere in the transform); per level the
    entry hashes coefficient counts, detail ENERGY (sum of squares —
    where the series' variance lives by scale: level-1 energy is
    hour-to-hour noise, level-6 is the day-scale trend), the largest
    detail magnitude (the strongest change at that scale), and the
    final approximation coefficient (64x the series mean).

    100 TB shape: the only corpus-scale work is the hourly
    pre-aggregation; the transform is six array-HOF steps on ONE
    64-element row (the Holt/hash-chain fold discipline — years of
    hourly data is still metadata-sized).  North-star extension
    (SURVEY §2 stats rows; the multiscale sibling of
    cusum_changepoint_hourly, which localizes ONE change — wavelets
    rank changes at EVERY scale)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    arr = hourly.agg(
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "cnt"))),
                lambda s: s["cnt"] * 64,
            ),
            1,
            64,
        ).alias("a")
    )
    rows = []
    cur = arr
    approx_cur = None
    for lvl, half in ((1, 32), (2, 16), (3, 8), (4, 4), (5, 2), (6, 1)):
        cur = cur.selectExpr(
            f"transform(sequence(1, {half}),"
            " i -> (element_at(a, 2 * i - 1) + element_at(a, 2 * i))"
            " div 2) AS a",
            f"transform(sequence(1, {half}),"
            " i -> (element_at(a, 2 * i - 1) - element_at(a, 2 * i))"
            " div 2) AS d",
        ).localCheckpoint()
        rows.append(
            cur.selectExpr(
                f"{lvl} AS lvl",
                "CAST(size(d) AS BIGINT) AS n_coeffs",
                "CAST(aggregate(d, 0L, (acc, x) -> acc + x * x)"
                " AS BIGINT) AS energy",
                "CAST(array_max(transform(d, x -> abs(x)))"
                " AS BIGINT) AS max_abs_detail",
            )
        )
        if lvl == 6:
            approx_cur = cur.selectExpr("element_at(a, 1) AS approx0")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.crossJoin(F.broadcast(approx_cur)).select(
        "lvl",
        "n_coeffs",
        "energy",
        "max_abs_detail",
        F.col("approx0").cast("long").alias("final_approx"),
    )


@query(
    "dft_periodicity_power",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
      FROM events GROUP BY bucket
    ),
    series AS (
      SELECT cnt, row_number() OVER (ORDER BY bucket) - 1 AS t
      FROM hourly
    ),
    mean_c AS (SELECT sum(cnt) // count(*) AS mu FROM series),
    terms AS (
      SELECT p.period, s.t,
             CAST(floor((s.cnt - m.mu)
                  * cos(2 * pi() * s.t / p.period) * 1e6 + 0.5)
                  AS BIGINT) AS re_term,
             CAST(floor((s.cnt - m.mu)
                  * sin(2 * pi() * s.t / p.period) * 1e6 + 0.5)
                  AS BIGINT) AS im_term
      FROM series s CROSS JOIN mean_c m
      CROSS JOIN (SELECT unnest([24, 12, 8, 6]) AS period) p
    ),
    sums AS (
      SELECT period,
             sum(re_term) // 1000000 AS re,
             sum(im_term) // 1000000 AS im
      FROM terms GROUP BY period
    )
    SELECT CAST(period AS BIGINT) AS period_hours,
           CAST(re AS BIGINT) AS re_coeff,
           CAST(im AS BIGINT) AS im_coeff,
           CAST(re * re + im * im AS BIGINT) AS power
    FROM sums
    """,
)
def dft_periodicity_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENCY-DOMAIN periodicity detection — single-bin DFT
    (Goertzel-style) power of the mean-centered hourly event series
    at candidate periods 24/12/8/6 hours (the spectral test that
    finds daily/shift seasonality where autocorrelation entries see
    only lag structure): each term (c_t - mu) * cos/sin(2*pi*t/P)
    is floored ONCE per term to 1e-6 (identical float expression
    over exact integer operands — the engine-exactness discipline),
    so the coefficient SUMS are exact integers in any order, the
    coefficients scale back by integer division, and the squared
    power is pure integer arithmetic (the scale-down before squaring
    is what keeps 73-term sums inside int64 — stated here).

    100 TB shape: the corpus reduces map-side to hourly buckets
    once; the DFT terms are scan-stage expressions on the O(hours)
    table x O(candidate periods) — probing named periods costs
    |periods| passes over metadata-sized data, the reason monitoring
    systems probe known frequencies instead of running a full FFT.
    North-star extension (SURVEY §2 stats rows; the frequency-domain
    member of the seasonality family: acf lags, CUSUM changepoints,
    Haar scales, now spectral bins)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    # O(hours) indexed series, checkpointed: it feeds the mean AND
    # the DFT terms — un-cut lineage re-scanned events per fork
    # (2 scans, r9 audit; now 1)
    series = hourly.select(
        "cnt",
        (F.row_number().over(Window.orderBy("bucket")) - 1).alias("t"),
    ).localCheckpoint()
    mu = series.agg(F.expr("sum(cnt) div count(*)").alias("mu"))
    periods = spark.createDataFrame(
        [(24,), (12,), (8,), (6,)], "period int"
    )
    terms = (
        series.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(periods))
        .select(
            "period",
            F.floor(
                (F.col("cnt") - F.col("mu"))
                * F.cos(2 * F.lit(3.141592653589793) * F.col("t") / F.col("period"))
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("re_term"),
            F.floor(
                (F.col("cnt") - F.col("mu"))
                * F.sin(2 * F.lit(3.141592653589793) * F.col("t") / F.col("period"))
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("im_term"),
        )
    )
    sums = terms.groupBy("period").agg(
        F.expr("sum(re_term) div 1000000").alias("re"),
        F.expr("sum(im_term) div 1000000").alias("im"),
    )
    return sums.select(
        F.col("period").cast("long").alias("period_hours"),
        F.col("re").cast("long").alias("re_coeff"),
        F.col("im").cast("long").alias("im_coeff"),
        (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
        .cast("long")
        .alias("power"),
    )


@query(
    "event_study_alignment",
    """
    WITH anchors AS (
      SELECT user_id,
             min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS d0
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    rel AS (
      SELECT a.user_id,
             date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE))
               - a.d0 AS rel_day
      FROM events e JOIN anchors a USING (user_id)
      WHERE e.event_type <> 'purchase'
    ),
    win AS (
      SELECT user_id, rel_day, count(*) AS n
      FROM rel WHERE rel_day BETWEEN -7 AND 7
      GROUP BY user_id, rel_day
    ),
    cohort AS (SELECT count(*) AS n_users FROM anchors)
    SELECT CAST(w.rel_day AS BIGINT) AS rel_day,
           CAST(sum(w.n) AS BIGINT) AS n_events,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active_users,
           CAST((sum(w.n) * 10000) // c.n_users AS BIGINT)
             AS events_per_user_x1e4
    FROM win w CROSS JOIN cohort c
    GROUP BY w.rel_day, c.n_users
    """,
)
def event_study_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-STUDY alignment (the causal-timing panel every
    difference-in-differences result should be shown next to: align
    every user on their OWN treatment date — first purchase — and
    trace the outcome by RELATIVE day, so pre-trends and the
    post-event shift are visible at ±7 days rather than averaged
    away by calendar time): non-purchase activity is re-indexed to
    rel_day = day - user's_first_purchase_day; per relative day the
    entry hashes the event mass, active-user breadth, and the exact
    per-cohort-user intensity (scaled floor division by the FULL
    anchor cohort, so days where users go silent read as true
    declines, not survivorship).

    100 TB shape: one anchor aggregate joined back user-keyed (AQE
    broadcasts the anchor side when small), a scan-stage relative-day
    computation, and a 15-group reduction.  North-star extension
    (SURVEY §2 stats rows; the alignment sibling of
    diff_in_diff_revenue and cohort_retention — calendar-time DiD,
    cohort-time retention, and now treatment-time event study)."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    # O(users) anchor table, checkpointed: it feeds both the alignment
    # join and the cohort census, and un-cut lineage re-scanned events
    # per fork (3 scans, r9 audit; now 2 — this pass plus the
    # non-purchase alignment pass, which filter disjoint slices)
    anchors = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(day).alias("d0"))
        .localCheckpoint()
    )
    rel = (
        ev.filter(F.col("event_type") != "purchase")
        .join(anchors, "user_id")
        .select("user_id", (day - F.col("d0")).alias("rel_day"))
        .filter(F.col("rel_day").between(-7, 7))
    )
    win = rel.groupBy("user_id", "rel_day").agg(F.count("*").alias("n"))
    cohort = anchors.agg(F.count("*").alias("n_users"))
    return (
        win.crossJoin(F.broadcast(cohort))
        .groupBy("rel_day", "n_users")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_active_users"),
        )
        .select(
            F.col("rel_day").cast("long").alias("rel_day"),
            "n_events",
            "n_active_users",
            F.expr("(n_events * 10000) div n_users")
            .cast("long")
            .alias("events_per_user_x1e4"),
        )
    )


def _ig_sql(feature_expr: str, fname: str) -> str:
    """One feature's information-gain block: N*IG via floored
    c*ln(c) microterms (exact integer sums on both engines)."""
    return f"""
      SELECT '{fname}' AS feature,
             count(DISTINCT x) AS n_levels,
             (SELECT CAST(floor(count(*) * ln(count(*)) * 1e6 + 0.5)
                          AS BIGINT) FROM u)
             - (SELECT sum(CAST(floor(cy * ln(cy) * 1e6 + 0.5) AS BIGINT))
                FROM (SELECT count(*) AS cy FROM u GROUP BY conv))
             - sum(nx_ln) + sum(nxy_ln) AS n_ig_x1e6
      FROM (
        SELECT x,
               CAST(floor(sum(cxy) * ln(sum(cxy)) * 1e6 + 0.5) AS BIGINT)
                 AS nx_ln,
               sum(CAST(floor(cxy * ln(cxy) * 1e6 + 0.5) AS BIGINT))
                 AS nxy_ln
        FROM (
          SELECT {feature_expr} AS x, conv, count(*) AS cxy
          FROM u GROUP BY x, conv
        ) GROUP BY x
      )
    """


@query(
    "information_gain_features",
    f"""
    WITH u AS (
      SELECT user_id,
             least(count(*) // 10, 5) AS act_band,
             min(event_id) % 4 AS entry_band,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    )
    SELECT feature, CAST(n_levels AS BIGINT) AS n_levels,
           CAST(n_ig_x1e6 AS BIGINT) AS n_ig_x1e6
    FROM (
      {_ig_sql('act_band', 'activity_band')}
      UNION ALL
      {_ig_sql('entry_band', 'entry_band')}
    )
    """,
)
def information_gain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INFORMATION-GAIN FEATURE RANKING (the mutual-information
    screen feature-selection pipelines run before training: how many
    bits does knowing X reveal about the label?): candidate features
    are each user's activity band and a hash-band of their first
    event id (a deliberate near-noise control — its gain should be
    tiny next to activity's); the label is conversion.  The entry
    computes N*IG = [N ln N - SUM_y n_y ln n_y] - [SUM_x n_x ln n_x
    - SUM_xy n_xy ln n_xy] with EVERY c*ln(c) term floored once to
    1e-6 — integer microterm sums are order-free exact, so the gain
    ranking is engine-decidable (the bm25 ln discipline applied to
    entropy).

    100 TB shape: one per-user reduction, then per feature a
    (level, label) contingency aggregate of a few dozen cells — the
    gain of ANY number of candidate features screens in one pass
    each over the reduced entity table, never the raw events.
    North-star extension (SURVEY §2 LLM/ML rows; the supervised
    sibling of the PMI and entropy entries, and the splitting
    criterion a decision tree would use)."""
    ev = load(spark, sf_dir, "events")
    # materialize the per-user entity table once (r9): the N ln N,
    # label-entropy, and both feature contingency branches otherwise
    # each re-ran the corpus reduction — 6 events scans; this makes
    # the docstring's screens-over-the-reduced-table claim physical
    u = ev.groupBy("user_id").agg(
        F.least(F.expr("count(*) div 10"), F.lit(5)).alias("act_band"),
        (F.min("event_id") % 4).alias("entry_band"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    ).localCheckpoint()
    n_ln_n = u.agg(
        F.expr(
            "CAST(floor(count(*) * ln(count(*)) * 1e6 + 0.5) AS BIGINT)"
        ).alias("nlnn")
    )
    y_term = (
        u.groupBy("conv")
        .agg(F.count("*").alias("cy"))
        .agg(
            F.sum(
                F.expr("CAST(floor(cy * ln(cy) * 1e6 + 0.5) AS BIGINT)")
            ).alias("ylnx")
        )
    )
    outs = []
    for col, fname in (("act_band", "activity_band"), ("entry_band", "entry_band")):
        xy = (
            u.groupBy(F.col(col).alias("x"), "conv")
            .agg(F.count("*").alias("cxy"))
        )
        per_x = xy.groupBy("x").agg(
            F.expr(
                "CAST(floor(sum(cxy) * ln(sum(cxy)) * 1e6 + 0.5) AS BIGINT)"
            ).alias("nx_ln"),
            F.sum(
                F.expr("CAST(floor(cxy * ln(cxy) * 1e6 + 0.5) AS BIGINT)")
            ).alias("nxy_ln"),
        )
        agg = per_x.agg(
            F.count("*").alias("n_levels"),
            F.sum("nx_ln").alias("sx"),
            F.sum("nxy_ln").alias("sxy"),
        )
        outs.append(
            agg.crossJoin(F.broadcast(n_ln_n))
            .crossJoin(F.broadcast(y_term))
            .select(
                F.lit(fname).alias("feature"),
                F.col("n_levels").cast("long").alias("n_levels"),
                (
                    F.col("nlnn")
                    - F.col("ylnx")
                    - F.col("sx")
                    + F.col("sxy")
                )
                .cast("long")
                .alias("n_ig_x1e6"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "naive_bayes_classify",
    """
    WITH u AS (
      SELECT user_id,
             least(count(*) // 10, 5) AS f1,
             min(event_id) % 4 AS f2,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv,
             user_id % 2 AS fold
      FROM events GROUP BY user_id
    ),
    pri AS (
      SELECT conv AS c, count(*) AS n_c FROM u WHERE fold = 0 GROUP BY conv
    ),
    n_tr AS (SELECT sum(n_c) AS n FROM pri),
    lik1 AS (
      SELECT conv AS c, f1 AS v, count(*) AS n_cv
      FROM u WHERE fold = 0 GROUP BY conv, f1
    ),
    lik2 AS (
      SELECT conv AS c, f2 AS v, count(*) AS n_cv
      FROM u WHERE fold = 0 GROUP BY conv, f2
    ),
    scored AS (
      SELECT t.user_id, t.conv,
             p.c AS cand,
             CAST(floor(ln((p.n_c + 1.0) / (n.n + 2.0)) * 1e6 + 0.5)
                  AS BIGINT)
             + CAST(floor(ln((coalesce(l1.n_cv, 0) + 1.0) / (p.n_c + 6.0))
                    * 1e6 + 0.5) AS BIGINT)
             + CAST(floor(ln((coalesce(l2.n_cv, 0) + 1.0) / (p.n_c + 4.0))
                    * 1e6 + 0.5) AS BIGINT) AS ll_x1e6
      FROM (SELECT * FROM u WHERE fold = 1) t
      CROSS JOIN pri p
      CROSS JOIN n_tr n
      LEFT JOIN lik1 l1 ON l1.c = p.c AND l1.v = t.f1
      LEFT JOIN lik2 l2 ON l2.c = p.c AND l2.v = t.f2
    ),
    pred AS (
      SELECT user_id, conv, cand AS pred FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ll_x1e6 DESC, cand) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT CAST(conv AS BIGINT) AS label,
           CAST(pred AS BIGINT) AS predicted,
           CAST(count(*) AS BIGINT) AS n_users
    FROM pred GROUP BY conv, pred
    """,
)
def naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAIVE BAYES — train a generative classifier on one hash fold
    and apply it to the other (the count-based classifier that needs
    no optimizer, still the baseline for categorical features):
    Laplace-smoothed priors and per-feature likelihoods come
    straight from training counts; each test user's class score is
    the SUM of per-term log-probabilities, every ln(...) FLOORED
    ONCE to 1e-6 before summing (integer microterms — order-free,
    engine-exact), and the argmax is a per-user window with a class
    tie-break.  The output is the test-fold confusion matrix —
    training counts, smoothing, scoring, and argmax all pinned by
    one hash.

    Smoothing denominators state the level counts (6 activity
    bands, 4 entry bands) as literals, the classic
    +|V| Laplace form.  100 TB shape: training is two (class,
    feature-value) count tables (broadcastable); scoring is one
    left join per feature against those tiny tables + a 2-row-per-
    user argmax window; nothing iterates.  North-star extension
    (SURVEY §2 LLM/ML rows; with kmeans/regression/stump/NB the
    catalog now trains an unsupervised, a linear, a tree, and a
    generative model, each engine-exactly)."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.least(F.expr("count(*) div 10"), F.lit(5)).alias("f1"),
        (F.min("event_id") % 4).alias("f2"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
        (F.col("user_id") % 2).alias("fold"),
    ).localCheckpoint()
    # ^ materialized once (r9): the train split feeds prior + two
    # likelihood tables and the test split scores against them — the
    # un-checkpointed plan re-ran the corpus reduction 5x
    tr = u.filter(F.col("fold") == 0)
    te = u.filter(F.col("fold") == 1)
    pri = tr.groupBy(F.col("conv").alias("c")).agg(
        F.count("*").alias("n_c")
    )
    n_tr = pri.agg(F.sum("n_c").alias("n"))
    lik1 = tr.groupBy(
        F.col("conv").alias("c"), F.col("f1").alias("v")
    ).agg(F.count("*").alias("n_cv1"))
    lik2 = tr.groupBy(
        F.col("conv").alias("c"), F.col("f2").alias("v")
    ).agg(F.count("*").alias("n_cv2"))
    # join likelihoods on (class, feature value)
    scored = (
        te.crossJoin(F.broadcast(pri))
        .crossJoin(F.broadcast(n_tr))
        .join(
            F.broadcast(lik1.withColumnRenamed("c", "c1")),
            (F.col("c1") == F.col("c")) & (F.col("v") == F.col("f1")),
            "left",
        )
        .drop("c1", "v")
        .join(
            F.broadcast(
                lik2.withColumnRenamed("c", "c2").withColumnRenamed(
                    "v", "v2"
                )
            ),
            (F.col("c2") == F.col("c")) & (F.col("v2") == F.col("f2")),
            "left",
        )
        .drop("c2", "v2")
        .select(
            "user_id",
            "conv",
            F.col("c").alias("cand"),
            (
                F.expr(
                    "CAST(floor(ln((n_c + 1.0) / (n + 2.0)) * 1e6 + 0.5)"
                    " AS BIGINT)"
                )
                + F.expr(
                    "CAST(floor(ln((coalesce(n_cv1, 0) + 1.0)"
                    " / (n_c + 6.0)) * 1e6 + 0.5) AS BIGINT)"
                )
                + F.expr(
                    "CAST(floor(ln((coalesce(n_cv2, 0) + 1.0)"
                    " / (n_c + 4.0)) * 1e6 + 0.5) AS BIGINT)"
                )
            ).alias("ll_x1e6"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ll_x1e6").desc(), F.col("cand")
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("conv", F.col("cand").alias("pred"))
    )
    return pred.groupBy(
        F.col("conv").cast("long").alias("label"),
        F.col("pred").cast("long").alias("predicted"),
    ).agg(F.count("*").cast("long").alias("n_users"))


@query(
    "nelson_aalen_hazard",
    """
    WITH spans AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE))
               AS d_first,
             date_diff('day', DATE '1970-01-01', CAST(max(ts) AS DATE))
               AS d_last,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT user_id, d_last - d_first AS dur, converted AS ev FROM spans
    ),
    grid AS (
      SELECT dur AS tt,
             count(*) FILTER (WHERE ev = 1) AS d_i
      FROM t GROUP BY dur
      HAVING count(*) FILTER (WHERE ev = 1) > 0
    ),
    risk AS (
      SELECT g.tt, g.d_i,
             (SELECT count(*) FROM t WHERE t.dur >= g.tt) AS n_i
      FROM grid g
    ),
    haz AS (
      SELECT tt, d_i, n_i,
             (d_i * 1000000) // n_i AS h_inc_x1e6
      FROM risk
    )
    SELECT CAST(a.tt AS BIGINT) AS t_days,
           CAST(a.d_i AS BIGINT) AS n_events,
           CAST(a.n_i AS BIGINT) AS n_at_risk,
           CAST(a.h_inc_x1e6 AS BIGINT) AS hazard_inc_x1e6,
           CAST((SELECT sum(b.h_inc_x1e6) FROM haz b WHERE b.tt <= a.tt)
                AS BIGINT) AS cum_hazard_x1e6
    FROM haz a
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard estimator — the
    counting-process twin of the Kaplan-Meier curve this catalog
    already ships (KM multiplies survival factors; Nelson-Aalen SUMS
    hazard increments d_i/n_i, the form that generalizes to
    competing risks and feeds Cox models): durations are each user's
    observed span (first to last event day), the event is
    conversion, right-censored users leave the risk set without
    contributing an increment.  Every increment is an exact ppm
    integer division (d_i and the risk-set count n_i are exact
    integers), and the cumulative hazard is an exact integer prefix
    sum over event times — no products, no floats, so where the KM
    entry needed the packed-fraction replay trick, Nelson-Aalen
    hashes natively.

    100 TB shape: one per-user reduction, one event-time grid with a
    risk-set count per event time (an O(times) correlated aggregate
    over the reduced duration table — at production scale a sorted
    prefix-sum formulation), O(times) output.  North-star extension
    (SURVEY §2 stats rows; completes the survival family:
    discrete_hazard_lifetable, kaplan_meier_survival, and now the
    additive estimator)."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    spans = ev.groupBy("user_id").agg(
        F.min(day).alias("d_first"),
        F.max(day).alias("d_last"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ev"),
    )
    # O(users) duration table, checkpointed: it feeds the event-time
    # grid AND the risk-set join — un-cut lineage re-scanned events
    # per fork (2 scans, r9 audit; now 1)
    t = spans.select(
        (F.col("d_last") - F.col("d_first")).alias("dur"), "ev"
    ).localCheckpoint()
    grid = (
        t.groupBy("dur")
        .agg(F.sum(F.when(F.col("ev") == 1, 1).otherwise(0)).alias("d_i"))
        .filter(F.col("d_i") > 0)
        .select(F.col("dur").alias("tt"), "d_i")
    )
    t2 = t.select(F.col("dur").alias("dur2"))
    risk = (
        grid.join(t2, F.col("dur2") >= F.col("tt"))
        .groupBy("tt", "d_i")
        .agg(F.count("*").alias("n_i"))
    )
    haz = risk.withColumn(
        "h_inc_x1e6", F.expr("(d_i * 1000000) div n_i")
    )
    w = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, 0)
    return haz.select(
        F.col("tt").cast("long").alias("t_days"),
        F.col("d_i").cast("long").alias("n_events"),
        F.col("n_i").cast("long").alias("n_at_risk"),
        F.col("h_inc_x1e6").cast("long").alias("hazard_inc_x1e6"),
        F.sum("h_inc_x1e6").over(w).cast("long").alias("cum_hazard_x1e6"),
    )


@query(
    "newsvendor_stocking",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             count(*) AS demand
      FROM orders GROUP BY prio, d
    ),
    ranked AS (
      SELECT prio, demand,
             row_number() OVER (
               PARTITION BY prio ORDER BY demand, d) AS r,
             count(*) OVER (PARTITION BY prio) AS n
      FROM daily
    ),
    stock AS (
      SELECT prio, n, demand AS s_star
      FROM ranked WHERE r = (3 * n + 3) // 4
    ),
    cost AS (
      SELECT d.prio,
             sum(greatest(d.demand - s.s_star, 0)) AS underage_units,
             sum(greatest(s.s_star - d.demand, 0)) AS overage_units
      FROM daily d JOIN stock s USING (prio)
      GROUP BY d.prio
    )
    SELECT s.prio AS o_orderpriority,
           CAST(s.n AS BIGINT) AS n_days,
           CAST(s.s_star AS BIGINT) AS stock_level,
           CAST(c.underage_units AS BIGINT) AS underage_units,
           CAST(c.overage_units AS BIGINT) AS overage_units,
           CAST(3 * c.underage_units + c.overage_units AS BIGINT)
             AS total_cost_units
    FROM stock s JOIN cost c ON c.prio = s.prio
    """,
)
def newsvendor_stocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR optimal stocking — the critical-fractile rule of
    inventory theory (with underage cost 3x overage, stock at the
    cu/(cu+co) = 75% demand quantile; stocking at the mean is the
    classic mistake this model exists to correct): per priority,
    daily demand is the per-day order count, the 75th-percentile
    stock level is the exact order statistic at index
    ceil(0.75(n+1)) = (3n+3) div 4 (integer, day tie-broken), and
    the realized underage/overage unit masses plus the 3:1-weighted
    total cost are exact integer sums — the whole prescriptive
    pipeline (demand model -> optimal policy -> cost audit) hashes.

    100 TB shape: demand reduces map-side to (group, day); the
    quantile is a per-group window over O(days) rows; the cost
    audit joins the 5-row policy back broadcast.  North-star
    extension (SURVEY §2 stats rows; the prescriptive-analytics
    member of the ops family, beside fifo_inventory_allocation's
    execution-time twin)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    # O(groups x days) demand table and 5-row policy, each
    # checkpointed: daily feeds the quantile ranking AND the cost
    # audit, stock feeds the cost join AND the final output — un-cut
    # lineage re-scanned orders per fork (3 scans, r9 audit; now 1)
    daily = o.groupBy("prio", "d").agg(
        F.count("*").alias("demand")
    ).localCheckpoint()
    ranked = daily.select(
        "prio",
        "demand",
        F.row_number()
        .over(Window.partitionBy("prio").orderBy("demand", "d"))
        .alias("r"),
        F.count("*").over(Window.partitionBy("prio")).alias("n"),
    )
    stock = ranked.filter(
        F.col("r") == F.expr("(3 * n + 3) div 4")
    ).select("prio", "n", F.col("demand").alias("s_star")).localCheckpoint()
    cost = (
        daily.join(F.broadcast(stock.select("prio", "s_star")), "prio")
        .groupBy("prio")
        .agg(
            F.sum(
                F.greatest(F.col("demand") - F.col("s_star"), F.lit(0))
            ).alias("underage_units"),
            F.sum(
                F.greatest(F.col("s_star") - F.col("demand"), F.lit(0))
            ).alias("overage_units"),
        )
    )
    return stock.join(cost, "prio").select(
        F.col("prio").alias("o_orderpriority"),
        F.col("n").cast("long").alias("n_days"),
        F.col("s_star").cast("long").alias("stock_level"),
        F.col("underage_units").cast("long").alias("underage_units"),
        F.col("overage_units").cast("long").alias("overage_units"),
        (3 * F.col("underage_units") + F.col("overage_units"))
        .cast("long")
        .alias("total_cost_units"),
    )


@query(
    "optimal_stopping_replay",
    """
    WITH seq AS (
      SELECT user_id,
             list(CAST(floor(value * 10000 + 0.5) AS BIGINT)
                  ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
      HAVING count(*) >= 3
    ),
    staged AS (
      SELECT user_id, vals, len(vals) AS n,
             (len(vals) * 10) // 27 AS k
      FROM seq
    ),
    decided AS (
      SELECT user_id, n, k,
             list_max(vals) AS best,
             list_max(vals[1:k]) AS thresh,
             coalesce(
               (SELECT min(i) FROM unnest(range(1, n + 1)) AS t(i)
                WHERE i > k AND vals[i] > list_max(vals[1:k])),
               n) AS pick_idx,
             vals AS v
      FROM staged WHERE k >= 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN v[pick_idx] = best THEN 1 ELSE 0 END)
                AS BIGINT) AS n_picked_best,
           CAST((sum(CASE WHEN v[pick_idx] = best THEN 1 ELSE 0 END)
                 * 1000000) // count(*) AS BIGINT) AS success_ppm,
           CAST(sum(v[pick_idx]) AS BIGINT) AS picked_value_x1e4,
           CAST(sum(best) AS BIGINT) AS best_value_x1e4
    FROM decided
    """,
)
def optimal_stopping_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMAL STOPPING (secretary problem) replay — the 1/e rule
    evaluated against every user's actual event-value sequence
    (the irrevocable-choice model behind offer acceptance, ad-slot
    take/pass, and hiring funnels: observe the first n/e candidates
    without committing, then take the first one better than all of
    them): per user (>= 3 events), the observation cutoff is the
    integer k = (10n) div 27 (~n/e), the threshold is the exact max
    of the first k scaled values, the pick is the FIRST later value
    beating it (falling back to the last, the forced-choice rule),
    and the census hashes how often the strategy captured the true
    best plus the value it left on the table — the theory says the
    success rate approaches 1/e ~ 368000 ppm, and the entry measures
    it on real sequences.

    100 TB shape: one per-user ordered-list reduction, then pure
    array arithmetic per user (no joins, no windows beyond the
    groupBy); the scan for the first qualifying index is bounded by
    the per-user sequence length.  North-star extension (SURVEY §2
    stats rows; the sequential-decision member of the ops family,
    beside the rate-limiter's admission policy)."""
    ev = load(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.floor(F.col("value") * 1e4 + F.lit(0.5))
                            .cast("long")
                            .alias("v"),
                        )
                    )
                ),
                lambda s: s["v"],
            ).alias("vals"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 3)
        .withColumn("k", F.expr("(n * 10) div 27"))
        .filter(F.col("k") >= 1)
    )
    decided = seq.selectExpr(
        "user_id",
        "n",
        "array_max(vals) AS best",
        "array_max(slice(vals, 1, k)) AS thresh",
        """coalesce(
             aggregate(sequence(k + 1, n), CAST(0 AS BIGINT),
               (acc, i) -> CASE WHEN acc > 0 THEN acc
                                WHEN element_at(vals, CAST(i AS INT))
                                     > array_max(slice(vals, 1, k))
                                THEN CAST(i AS BIGINT) ELSE acc END),
             0) AS first_better""",
        "vals",
    ).selectExpr(
        "user_id",
        "best",
        "CASE WHEN first_better > 0 THEN first_better ELSE n END"
        " AS pick_idx",
        "vals",
    )
    return decided.selectExpr(
        "element_at(vals, CAST(pick_idx AS INT)) AS picked", "best"
    ).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("picked") == F.col("best"), 1).otherwise(0))
        .cast("long")
        .alias("n_picked_best"),
        F.expr(
            "(sum(CASE WHEN picked = best THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        )
        .cast("long")
        .alias("success_ppm"),
        F.sum("picked").cast("long").alias("picked_value_x1e4"),
        F.sum("best").cast("long").alias("best_value_x1e4"),
    )


@query(
    "min_variance_portfolio",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY bucket
    ),
    m AS (
      SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb,
             sum(a * a) AS saa, sum(b * b) AS sbb, sum(a * b) AS sab
      FROM hourly
    ),
    comoments AS (
      SELECT n,
             n * saa - sa * sa AS va_n2,
             n * sbb - sb * sb AS vb_n2,
             n * sab - sa * sb AS cab_n2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(va_n2 AS BIGINT) AS var_a_n2,
           CAST(vb_n2 AS BIGINT) AS var_b_n2,
           CAST(cab_n2 AS BIGINT) AS cov_ab_n2,
           CAST(((vb_n2 - cab_n2) * 1000000)
                // (va_n2 + vb_n2 - 2 * cab_n2) AS BIGINT)
             AS w_a_x1e6,
           CAST(floor((CAST(va_n2 AS DOUBLE) * vb_n2
                       - CAST(cab_n2 AS DOUBLE) * cab_n2)
                      / (CAST(va_n2 AS DOUBLE) + vb_n2 - 2 * cab_n2)
                      / n / n * 1e4 + 0.5) AS BIGINT)
             AS port_var_x1e4
    FROM comoments
    """,
)
def min_variance_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM-VARIANCE PORTFOLIO — the Markowitz two-asset closed
    form (the allocation that minimizes combined volatility:
    w_a = (var_b - cov) / (var_a + var_b - 2cov); the same algebra
    allocates traffic between two noisy channels or budget between
    two volatile suppliers): the two "assets" are hourly click and
    view volumes, their co-moment matrix comes from exact integer
    sums (n*sxy - sx*sy cross terms — hourly counts keep everything
    far inside int64), the optimal weight is ONE exact ppm integer
    division, and the resulting portfolio variance — whose value
    must undercut both assets' own variances, the diversification
    payoff — rounds once from the identical float expression.

    100 TB shape: one hourly two-column reduction, one single-row
    co-moment aggregate, scalar algebra.  North-star extension
    (SURVEY §2 stats rows; the allocation member of the finance
    family beside gini/HHI concentration and the auction entries)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "b"
        ),
    )
    m = hourly.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
    )
    co = m.selectExpr(
        "n",
        "n * saa - sa * sa AS va_n2",
        "n * sbb - sb * sb AS vb_n2",
        "n * sab - sa * sb AS cab_n2",
    )
    return co.selectExpr(
        "CAST(n AS BIGINT) AS n_hours",
        "CAST(va_n2 AS BIGINT) AS var_a_n2",
        "CAST(vb_n2 AS BIGINT) AS var_b_n2",
        "CAST(cab_n2 AS BIGINT) AS cov_ab_n2",
        "CAST(((vb_n2 - cab_n2) * 1000000)"
        " div (va_n2 + vb_n2 - 2 * cab_n2) AS BIGINT) AS w_a_x1e6",
        "CAST(floor((CAST(va_n2 AS DOUBLE) * vb_n2"
        " - CAST(cab_n2 AS DOUBLE) * cab_n2)"
        " / (CAST(va_n2 AS DOUBLE) + vb_n2 - 2 * cab_n2)"
        " / n / n * 1e4 + 0.5) AS BIGINT) AS port_var_x1e4",
    )


@query(
    "quantile_treatment_effect",
    """
    WITH px AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 't' ELSE 'c' END
               AS arm,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS y,
             o_orderkey
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
      SELECT arm, y,
             row_number() OVER (PARTITION BY arm ORDER BY y, o_orderkey)
               AS r,
             count(*) OVER (PARTITION BY arm) AS n
      FROM px
    ),
    qs AS (
      SELECT rk.arm, q.tau, rk.y
      FROM ranked rk
      JOIN (SELECT unnest([25, 50, 75]) AS tau) q
        ON rk.r = (q.tau * (rk.n + 1) + 99) // 100
    )
    SELECT CAST(t.tau AS BIGINT) AS tau_pct,
           CAST(t.y AS BIGINT) AS q_treated_x1e4,
           CAST(c.y AS BIGINT) AS q_control_x1e4,
           CAST(t.y - c.y AS BIGINT) AS qte_x1e4
    FROM (SELECT * FROM qs WHERE arm = 't') t
    JOIN (SELECT * FROM qs WHERE arm = 'c') c ON c.tau = t.tau
    """,
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE TREATMENT EFFECTS — the distributional causal
    contrast (a mean difference can be zero while the treatment
    compresses the bottom and stretches the top; QTE(tau) =
    Q_T(tau) - Q_C(tau) reveals WHERE in the distribution the effect
    lives — the heterogeneity view diff-in-means hides): arms are
    urgent vs low-priority orders, and each arm's 25/50/75th
    percentiles are exact order statistics at the integer index
    ceil(tau(n+1)/100) = (tau(n+1)+99) div 100 with orderkey
    tie-breaks — quantiles, contrasts, and the per-tau effect all
    exact scaled longs.

    100 TB shape: one window per arm partition over the filtered
    fact (two arms, each ordered independently — no cross-arm
    shuffle), three index probes, a 3-row join.  North-star
    extension (SURVEY §2 stats rows; the distributional member of
    the causal family — DiD shifts means, the event study shifts
    time, QTE shifts quantiles)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    px = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "t")
        .otherwise("c")
        .alias("arm"),
        money_scaled(F.col("o_totalprice")).alias("y"),
        "o_orderkey",
    )
    ranked = px.select(
        "arm",
        "y",
        F.row_number()
        .over(Window.partitionBy("arm").orderBy("y", "o_orderkey"))
        .alias("r"),
        F.count("*").over(Window.partitionBy("arm")).alias("n"),
    )
    taus = spark.createDataFrame([(25,), (50,), (75,)], "tau int")
    # 6-row quantile probe result, checkpointed: it forks into the
    # treated and control sides, and un-cut lineage re-ran the arm
    # windows and re-scanned orders per fork (2 scans, r9 audit;
    # now 1)
    qs = ranked.crossJoin(F.broadcast(taus)).filter(
        F.col("r") == F.expr("(tau * (n + 1) + 99) div 100")
    ).localCheckpoint()
    t = qs.filter(F.col("arm") == "t").select(
        "tau", F.col("y").alias("q_treated_x1e4")
    )
    c = qs.filter(F.col("arm") == "c").select(
        "tau", F.col("y").alias("q_control_x1e4")
    )
    return t.join(c, "tau").select(
        F.col("tau").cast("long").alias("tau_pct"),
        "q_treated_x1e4",
        "q_control_x1e4",
        (F.col("q_treated_x1e4") - F.col("q_control_x1e4"))
        .cast("long")
        .alias("qte_x1e4"),
    )


@query(
    "logrank_test_survival",
    """
    WITH spans AS (
      SELECT user_id,
             date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS dur,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS ev,
             user_id % 2 AS grp
      FROM events GROUP BY user_id
    ),
    times AS (
      SELECT dur AS tt FROM spans WHERE ev = 1 GROUP BY dur
    ),
    at_t AS (
      SELECT t.tt,
             (SELECT count(*) FROM spans s WHERE s.dur >= t.tt) AS n_i,
             (SELECT count(*) FROM spans s
              WHERE s.dur >= t.tt AND s.grp = 1) AS n1_i,
             (SELECT count(*) FROM spans s
              WHERE s.dur = t.tt AND s.ev = 1) AS d_i,
             (SELECT count(*) FROM spans s
              WHERE s.dur = t.tt AND s.ev = 1 AND s.grp = 1) AS d1_i
      FROM times t
    ),
    terms AS (
      SELECT tt, d1_i,
             (n1_i * d_i * 1000000) // n_i AS e_term_x1e6,
             CASE WHEN n_i > 1
                  THEN (n1_i * (n_i - n1_i) * d_i * (n_i - d_i) * 1000000)
                       // (n_i * n_i * (n_i - 1))
                  ELSE 0 END AS v_term_x1e6
      FROM at_t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_event_times,
           CAST(sum(d1_i) AS BIGINT) AS observed_g1,
           CAST(sum(e_term_x1e6) AS BIGINT) AS expected_g1_x1e6,
           CAST(sum(v_term_x1e6) AS BIGINT) AS variance_x1e6,
           CAST(((sum(d1_i) * 1000000 - sum(e_term_x1e6))
                 * (sum(d1_i) * 1000000 - sum(e_term_x1e6)))
                // (sum(v_term_x1e6) * 1000000) AS BIGINT)
             AS chi2_x1e6
    FROM terms
    """,
)
def logrank_test_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGRANK TEST — the standard two-group survival comparison
    (does cohort A convert on a different clock than cohort B?; the
    inference step the survival ESTIMATORS this catalog ships —
    lifetable, Kaplan-Meier, Nelson-Aalen — feed into): users split
    by parity, duration = observed span, event = conversion,
    censored users leave the risk set silently.  At each pooled
    event time the group-1 expectation n1*d/n and the hypergeometric
    variance term n1(n-n1)d(n-d)/(n^2(n-1)) are FLOORED ONCE to ppm
    (pure integer divisions of exact risk-set counts — order-free
    sums), and the chi-square statistic
    (O - E)^2 / V is one final integer division, so the whole test
    is engine-decidable.  O/E/V are hashed raw alongside chi2.

    100 TB shape: one per-user reduction; the per-event-time risk
    sets are O(times) aggregates over the reduced duration table
    (sorted suffix sums at production scale, correlated aggregates
    here — the nelson_aalen shape); the statistic is a single-row
    reduction.  North-star extension (SURVEY §2 stats rows;
    completes the survival family with its hypothesis test)."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    # materialize the per-user reduction once (r9): the event-times
    # branch and the risk-set branch would otherwise each re-scan the
    # corpus; the checkpointed frame is O(users) rows of 3 integers
    spans = (
        ev.groupBy("user_id")
        .agg(
            (F.max(day) - F.min(day)).alias("dur"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("ev"),
        )
        .withColumn("grp", F.col("user_id") % 2)
        .localCheckpoint()
    )
    times = (
        spans.filter(F.col("ev") == 1).select(F.col("dur").alias("tt"))
        .distinct()
    )
    s2 = spans.select(
        F.col("dur").alias("dur2"), F.col("ev").alias("ev2"),
        F.col("grp").alias("grp2"),
    )
    at_t = (
        times.join(s2, F.col("dur2") >= F.col("tt"))
        .groupBy("tt")
        .agg(
            F.count("*").alias("n_i"),
            F.sum(F.when(F.col("grp2") == 1, 1).otherwise(0)).alias("n1_i"),
            F.sum(
                F.when((F.col("dur2") == F.col("tt")) & (F.col("ev2") == 1), 1)
                .otherwise(0)
            ).alias("d_i"),
            F.sum(
                F.when(
                    (F.col("dur2") == F.col("tt"))
                    & (F.col("ev2") == 1)
                    & (F.col("grp2") == 1),
                    1,
                ).otherwise(0)
            ).alias("d1_i"),
        )
    )
    terms = at_t.selectExpr(
        "d1_i",
        "(n1_i * d_i * 1000000) div n_i AS e_term_x1e6",
        "CASE WHEN n_i > 1 THEN"
        " (n1_i * (n_i - n1_i) * d_i * (n_i - d_i) * 1000000)"
        " div (n_i * n_i * (n_i - 1)) ELSE 0 END AS v_term_x1e6",
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_event_times"),
        F.sum("d1_i").cast("long").alias("observed_g1"),
        F.sum("e_term_x1e6").cast("long").alias("expected_g1_x1e6"),
        F.sum("v_term_x1e6").cast("long").alias("variance_x1e6"),
        F.expr(
            "((sum(d1_i) * 1000000 - sum(e_term_x1e6))"
            " * (sum(d1_i) * 1000000 - sum(e_term_x1e6)))"
            " div (sum(v_term_x1e6) * 1000000)"
        )
        .cast("long")
        .alias("chi2_x1e6"),
    )


@query(
    "weibull_rank_regression",
    """
    WITH durs AS (
      SELECT date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS dur,
             user_id
      FROM events GROUP BY user_id
      HAVING max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
         AND date_diff('day', CAST(min(ts) AS DATE),
                       CAST(max(ts) AS DATE)) >= 1
    ),
    ranked AS (
      SELECT dur, row_number() OVER (ORDER BY dur, user_id) AS i,
             count(*) OVER () AS n
      FROM durs
    ),
    pts AS (
      SELECT CAST(floor(ln(CAST(dur AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
               AS x,
             CAST(floor(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) * 1e4 + 0.5)
               AS BIGINT) AS y
      FROM ranked
    ),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_uncensored,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2,
           CAST(n * sxx - sx * sx AS BIGINT) AS varx_n2,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx) * 1e4 + 0.5) AS BIGINT)
             AS shape_beta_x1e4,
           CAST(floor(exp(-(CAST(sy AS DOUBLE) / n
                            - CAST(n * sxy - sx * sy AS DOUBLE)
                              / (n * sxx - sx * sx)
                              * (CAST(sx AS DOUBLE) / n))
                          / (CAST(n * sxy - sx * sy AS DOUBLE)
                             / (n * sxx - sx * sx)) / 1e4)
                      * 1e4 + 0.5) AS BIGINT) AS scale_eta_x1e4
    FROM m
    """,
)
def weibull_rank_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIBULL PARAMETER FIT by median-rank regression — the
    parametric member of the survival family (the lifetable/KM/NA
    entries are distribution-free; Weibull's shape parameter is the
    DIAGNOSIS: beta < 1 infant mortality, = 1 memoryless, > 1
    wear-out): uncensored conversion durations get Benard median
    ranks F_i = (i-0.3)/(n+0.4) (exact rank arithmetic, key
    tie-breaks), both axes of the linearized model
    ln(-ln(1-F)) = beta*ln(t) - beta*ln(eta) floor once to 1e-4
    (log microterms, order-free integer moment sums), the slope
    comes from exact n^2-scaled co-moments with a single rounding,
    and the scale eta back-transforms through one exp.  Raw
    co-moments hash alongside shape and scale.

    100 TB shape: one per-user reduction, one dimension-scale rank
    window, one single-row moment aggregate — the OLS-entry shape
    on log-log axes.  North-star extension (SURVEY §2 stats rows;
    parametric capstone of the survival family)."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    durs = (
        ev.groupBy("user_id")
        .agg(
            (F.max(day) - F.min(day)).alias("dur"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("ev"),
        )
        .filter((F.col("ev") == 1) & (F.col("dur") >= 1))
    )
    ranked = durs.select(
        "dur",
        F.row_number().over(Window.orderBy("dur", "user_id")).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    pts = ranked.selectExpr(
        "CAST(floor(ln(CAST(dur AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS x",
        "CAST(floor(ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) * 1e4 + 0.5)"
        " AS BIGINT) AS y",
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_uncensored",
        "CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2",
        "CAST(n * sxx - sx * sx AS BIGINT) AS varx_n2",
        "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (n * sxx - sx * sx) * 1e4 + 0.5) AS BIGINT)"
        " AS shape_beta_x1e4",
        "CAST(floor(exp(-(CAST(sy AS DOUBLE) / n"
        " - CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)"
        " * (CAST(sx AS DOUBLE) / n))"
        " / (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))"
        " / 1e4) * 1e4 + 0.5) AS BIGINT) AS scale_eta_x1e4",
    )


@query(
    "exact_matching_att",
    """
    WITH obs AS (
      SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS treated,
             c.c_nationkey AS nat,
             CAST(month(o.o_orderdate) AS BIGINT) AS mon,
             CAST(floor(o.o_totalprice * 10000 + 0.5) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    cells AS (
      SELECT nat, mon,
             sum(treated) AS n_t,
             count(*) - sum(treated) AS n_c,
             sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS sy_t,
             sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS sy_c
      FROM obs GROUP BY nat, mon
    ),
    matched AS (
      SELECT n_t, n_c,
             sy_t // n_t AS mu_t,
             sy_c // n_c AS mu_c
      FROM cells WHERE n_t > 0 AND n_c > 0
    ),
    unmatched AS (
      SELECT coalesce(sum(CASE WHEN n_c = 0 THEN n_t ELSE 0 END), 0)
               AS t_dropped
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells_matched,
           CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
           CAST((SELECT t_dropped FROM unmatched) AS BIGINT)
             AS n_treated_unmatched,
           CAST(sum(n_t * (mu_t - mu_c)) // sum(n_t) AS BIGINT)
             AS att_x1e4,
           CAST(sum(n_t * mu_t) // sum(n_t) AS BIGINT)
             AS treated_mean_x1e4,
           CAST(sum(n_t * mu_c) // sum(n_t) AS BIGINT)
             AS counterfactual_mean_x1e4
    FROM matched
    """,
)
def exact_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-MATCHING treatment-effect estimation (coarsened exact
    matching's limiting case — the identification strategy that
    compares treated and control units ONLY inside identical
    covariate cells, the nonparametric answer to confounding that
    regression adjustment assumes away): treated = urgent orders,
    control = low-priority, covariate cells = (customer nation x
    order month); within each cell with BOTH arms present, the
    treated-vs-control mean gap (exact scaled-long floor divisions)
    weights by the cell's treated count into the ATT — and the
    treated units in cells with NO control match are counted and
    REPORTED, not silently reweighted (the common-support honesty
    every matching estimator owes).  ATT, the treated mean, and the
    matched counterfactual mean all hash as exact integers.

    100 TB shape: one fact-dim join (the q3 star), one
    map-side-combinable cell aggregate, O(cells) arithmetic — exact
    matching is embarrassingly aggregable, which is WHY it scales
    where nearest-neighbor matching needs an ANN index.  North-star
    extension (SURVEY §2 stats rows; completes the causal toolkit:
    DiD in calendar time, event study in treatment time, QTE in
    distribution, matching in covariate space)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    obs = o.join(c, F.col("c_custkey") == F.col("o_custkey")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("treated"),
        F.col("c_nationkey").alias("nat"),
        F.month("o_orderdate").cast("long").alias("mon"),
        money_scaled(F.col("o_totalprice")).alias("y"),
    )
    cells = obs.groupBy("nat", "mon").agg(
        F.sum("treated").alias("n_t"),
        (F.count("*") - F.sum("treated")).alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0)).alias(
            "sy_t"
        ),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0)).alias(
            "sy_c"
        ),
    ).localCheckpoint()  # O(cells); feeds the matched estimate AND
    # the common-support census — un-cut lineage re-ran the star join
    # per fork (2 scans each of orders and customer, r9 audit; now 1)
    matched = cells.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)).selectExpr(
        "n_t", "n_c", "sy_t div n_t AS mu_t", "sy_c div n_c AS mu_c"
    )
    unmatched = cells.agg(
        F.coalesce(
            F.sum(F.when(F.col("n_c") == 0, F.col("n_t")).otherwise(0)),
            F.lit(0),
        ).alias("t_dropped")
    )
    return matched.agg(
        F.count("*").cast("long").alias("n_cells_matched"),
        F.sum("n_t").cast("long").alias("n_treated_matched"),
        F.expr("sum(n_t * (mu_t - mu_c)) div sum(n_t)")
        .cast("long")
        .alias("att_x1e4"),
        F.expr("sum(n_t * mu_t) div sum(n_t)")
        .cast("long")
        .alias("treated_mean_x1e4"),
        F.expr("sum(n_t * mu_c) div sum(n_t)")
        .cast("long")
        .alias("counterfactual_mean_x1e4"),
    ).crossJoin(F.broadcast(unmatched)).select(
        "n_cells_matched",
        "n_treated_matched",
        F.col("t_dropped").cast("long").alias("n_treated_unmatched"),
        "att_x1e4",
        "treated_mean_x1e4",
        "counterfactual_mean_x1e4",
    )


@query(
    "mahalanobis_outliers_2d",
    """
    WITH u AS (
      SELECT user_id, count(*) AS x,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) // 10000 AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM u
    ),
    cov AS (
      SELECT n,
             n * sxx - sx * sx AS a,
             n * syy - sy * sy AS d,
             n * sxy - sx * sy AS b,
             sx, sy
      FROM m
    ),
    scored AS (
      SELECT u.user_id,
             CAST(floor(
               (CAST(c.d AS DOUBLE) * (u.x * c.n - c.sx) * (u.x * c.n - c.sx)
                - 2.0 * c.b * (u.x * c.n - c.sx) * (u.y * c.n - c.sy)
                + CAST(c.a AS DOUBLE) * (u.y * c.n - c.sy)
                  * (u.y * c.n - c.sy))
               / (CAST(c.a AS DOUBLE) * c.d - CAST(c.b AS DOUBLE) * c.b)
               / c.n * 1e4 + 0.5) AS BIGINT) AS d2_x1e4
      FROM u CROSS JOIN cov c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN d2_x1e4 > 138000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(max(d2_x1e4) AS BIGINT) AS max_d2_x1e4,
           CAST((SELECT min(s2.user_id) FROM scored s2
                 WHERE s2.d2_x1e4 = (SELECT max(s3.d2_x1e4) FROM scored s3))
                AS BIGINT) AS worst_user
    FROM scored
    """,
)
def mahalanobis_outliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAHALANOBIS multivariate outlier detection — distance in the
    data's own correlation geometry (a user can be unremarkable on
    activity AND on spend yet wildly off the JOINT pattern — the
    case every univariate z-score/MAD screen this catalog ships is
    blind to): per-user (activity, whole-dollar spend), the 2x2
    covariance inverts in closed form with all co-moments exact
    n^2-scaled integers, each user's d^2 evaluates as ONE float
    expression over those exact operands (cross-multiplied by n so
    no intermediate mean-division happens), floored once at 1e-4;
    the chi-square(2) 99.9% cutoff (13.8) flags outliers as an
    integer comparison.  The census hashes the count, the extreme
    distance, and the worst user's id (min-id tie-break).

    100 TB shape: one per-user reduction, a 1-row co-moment
    broadcast, scan-stage scoring — the multivariate screen costs
    the same as the univariate one.  North-star extension (SURVEY
    §2 stats rows; the joint-geometry member of the outlier family:
    z-score, MAD, grid density, and now correlation-aware)."""
    ev = load(spark, sf_dir, "events")
    # per-user reduction materialized once (r9): the co-moment,
    # scoring, worst-user, and census branches otherwise each re-ran
    # the corpus reduction — 4 events scans
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("x"),
        F.expr(
            "sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) div 10000"
        ).alias("y"),
    ).localCheckpoint()
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = m.selectExpr(
        "n",
        "n * sxx - sx * sx AS a",
        "n * syy - sy * sy AS d",
        "n * sxy - sx * sy AS b",
        "sx",
        "sy",
    )
    scored = u.crossJoin(F.broadcast(cov)).selectExpr(
        "user_id",
        """
        CAST(floor(
          (CAST(d AS DOUBLE) * (x * n - sx) * (x * n - sx)
           - 2.0 * b * (x * n - sx) * (y * n - sy)
           + CAST(a AS DOUBLE) * (y * n - sy) * (y * n - sy))
          / (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * b)
          / n * 1e4 + 0.5) AS BIGINT) AS d2_x1e4
        """,
    )
    worst = (
        scored.orderBy(F.col("d2_x1e4").desc(), "user_id")
        .limit(1)
        .select(F.col("user_id").alias("worst_user"))
    )
    return (
        scored.agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.when(F.col("d2_x1e4") > 138000, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.max("d2_x1e4").cast("long").alias("max_d2_x1e4"),
        )
        .crossJoin(F.broadcast(worst))
        .select(
            "n_users",
            "n_outliers",
            "max_d2_x1e4",
            F.col("worst_user").cast("long").alias("worst_user"),
        )
    )


@query(
    "gumbel_block_maxima",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
      FROM events GROUP BY h
    ),
    daily_max AS (
      SELECT CAST(date_trunc('day', h) AS DATE) AS d, max(cnt) AS mx
      FROM hourly GROUP BY d
    ),
    m AS (
      SELECT count(*) AS n, sum(mx) AS s, sum(mx * mx) AS q,
             max(mx) AS observed_max
      FROM daily_max
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CAST(observed_max AS BIGINT) AS observed_max,
           CAST(floor(sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                           / n / (n - 1)) * 0.7796968012336761 * 1e4
                      + 0.5) AS BIGINT) AS beta_x1e4,
           CAST(floor((CAST(s AS DOUBLE) / n
                       - sqrt((CAST(n AS DOUBLE) * q
                               - CAST(s AS DOUBLE) * s) / n / (n - 1))
                         * 0.7796968012336761 * 0.5772156649015329)
                      * 1e4 + 0.5) AS BIGINT) AS mu_x1e4,
           CAST(floor((1.0 - exp(-exp(-(
                 (1.5 * CAST(observed_max AS DOUBLE)
                  - (CAST(s AS DOUBLE) / n
                     - sqrt((CAST(n AS DOUBLE) * q
                             - CAST(s AS DOUBLE) * s) / n / (n - 1))
                       * 0.7796968012336761 * 0.5772156649015329))
                 / (sqrt((CAST(n AS DOUBLE) * q
                          - CAST(s AS DOUBLE) * s) / n / (n - 1))
                    * 0.7796968012336761))))) * 1e6 + 0.5) AS BIGINT)
             AS p_exceed_150pct_ppm
    FROM m
    """,
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUMBEL BLOCK-MAXIMA fit — extreme value theory for capacity
    planning ("what hourly peak should we expect?" is a question
    about the DISTRIBUTION OF MAXIMA, which converges to Gumbel
    regardless of the underlying hourly law — the EVT fact every
    p99-based sizing quietly ignores): daily maxima of the hourly
    event counts are the blocks; method-of-moments gives
    beta = s*sqrt(6)/pi and mu = mean - gamma*beta (both constants
    inlined as shared 17-digit literals, the exact doubles both
    engines parse identically), from exact integer moments with one
    rounding each; the payoff column is the fitted probability that
    a future day's peak exceeds 150% of the observed maximum —
    exp(-exp(-z)) evaluated once and floored to ppm.

    100 TB shape: two nested map-side reductions (hour, then day)
    and a single-row moment aggregate — EVT is a sufficient-
    statistics computation.  North-star extension (SURVEY §2 stats
    rows; the tail-risk member of the capacity family beside
    erlang_b_blocking and slo_burn_rate_alerts)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("cnt"))
    daily_max = hourly.groupBy(
        F.date_trunc("day", F.col("h")).cast("date").alias("d")
    ).agg(F.max("cnt").alias("mx"))
    m = daily_max.agg(
        F.count("*").alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).alias("q"),
        F.max("mx").alias("observed_max"),
    )
    sd = (
        "sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / n / (n - 1))"
    )
    beta = f"({sd} * 0.7796968012336761)"
    mu = f"(CAST(s AS DOUBLE) / n - {beta} * 0.5772156649015329)"
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_blocks",
        "CAST(observed_max AS BIGINT) AS observed_max",
        f"CAST(floor({beta} * 1e4 + 0.5) AS BIGINT) AS beta_x1e4",
        f"CAST(floor({mu} * 1e4 + 0.5) AS BIGINT) AS mu_x1e4",
        f"CAST(floor((1.0 - exp(-exp(-("
        f"(1.5 * CAST(observed_max AS DOUBLE) - {mu}) / {beta}))))"
        " * 1e6 + 0.5) AS BIGINT) AS p_exceed_150pct_ppm",
    )
