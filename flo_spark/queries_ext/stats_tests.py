"""Exact-arithmetic hypothesis tests and evaluation metrics
(Welch/ANOVA/Friedman/Wilcoxon/K-S/McNemar/Cochran/kappa/Youden and
friends) — every statistic cleared to integers so both engines agree
bit-for-bit.

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
    "cuped_variance_reduction",
    "spearman_rho_user_metrics",
    "overdispersion_zero_inflation",
    "ab_power_mde_grid",
    "variance_ratio_test",
    "cronbach_alpha_reliability",
    "psi_population_stability",
    "sprt_sequential_replay",
    "spc_funnel_rate_limits",
    "meta_analysis_pooling",
    "auc_quality_classifier",
    "chi_square_crosstab_audit",
    "benford_leading_digit_audit",
    "welch_t2_ab_test",
    "ks_drift_priority",
    "calibration_curve_quality",
    "isotonic_calibration_minimax",
    "diff_in_diff_revenue",
    "mann_kendall_trend_test",
    "mcnemar_paired_proportions",
    "simpson_diversity_by_source",
    "kendall_tau_user_metrics",
    "roc_youden_threshold",
    "cohens_kappa_langid",
    "anova_f_returnflag",
    "friedman_rank_test",
    "forecast_eval_mase_pinball",
    "hodges_lehmann_location",
    "wilcoxon_signed_rank",
    "runs_test_daily",
    "cochrans_q_event_types",
    "dispersion_fano_by_type",
    "durbin_watson_trend_residuals",
    "srm_guardrail_check",
    "mann_whitney_u_sources",
    "cramer_von_mises_two_sample",
    "brown_forsythe_variance",
    "permutation_test_sources",
]


@query(
    "auc_quality_classifier",
    """
    WITH labeled AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    by_score AS (
      SELECT score, sum(pos) AS p, sum(1 - pos) AS n
      FROM labeled GROUP BY score
    ),
    cum AS (
      SELECT score, p, n,
             COALESCE(sum(n) OVER (ORDER BY score
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS neg_below
      FROM by_score
    ),
    agg AS (
      SELECT CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(n) AS BIGINT) AS n_neg,
             CAST(sum(2 * p * neg_below) + sum(p * n) AS BIGINT) AS auc2
      FROM cum
    )
    SELECT n_pos, n_neg, auc2,
           floor(auc2 * 1000000.0 / (2 * n_pos * n_neg) + 0.5)
             / 1000000.0 AS auc
    FROM agg
    """,
)
def auc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC — the evaluation metric every curation classifier
    needs — computed distributed WITHOUT materializing pairs: AUC is
    the Mann-Whitney statistic P(score_pos > score_neg) + 0.5 *
    P(tie), so with counts grouped BY SCORE it reduces to one sorted
    cumulative sum: auc2 = 2*sum_s(p_s * neg_below(s)) + sum_s(p_s *
    n_s), all integers, then ONE final IEEE division onto the 1e-6
    grid.  Ties (documents sharing a length) are handled exactly —
    the 0.5 credit is the integer p_s*n_s term — where a naive
    rank-based AUC silently miscounts them.

    Here the 'classifier' is document length (n_chars) predicting the
    English label: a weak but deterministic signal, which is the
    point — the metric machinery is the operator under test.

    100 TB shape: one aggregation to the |distinct scores| table, one
    window over it ordered by score (tiny — scores, not documents),
    one 1-row aggregate.  The O(P*N) pair space is never formed."""
    d = load(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    by_score = d.groupBy("score").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("n")
    )
    w = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = by_score.withColumn(
        "neg_below", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        (F.sum(2 * F.col("p") * F.col("neg_below")) + F.sum(F.col("p") * F.col("n")))
        .cast("long")
        .alias("auc2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc2",
        (
            F.floor(
                F.col("auc2") * 1000000.0 / (2 * F.col("n_pos") * F.col("n_neg"))
                + 0.5
            )
            / 1000000.0
        ).alias("auc"),
    )


@query(
    "chi_square_crosstab_audit",
    """
    WITH base AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000) % 7 AS dowi
      FROM events
    ),
    o AS (
      SELECT event_type, dowi, CAST(count(*) AS HUGEINT) AS obs
      FROM base GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS rt FROM base GROUP BY 1),
    c AS (SELECT dowi, CAST(count(*) AS HUGEINT) AS ct FROM base GROUP BY 1),
    n AS (SELECT CAST(count(*) AS HUGEINT) AS nt FROM base)
    SELECT o.event_type, CAST(o.dowi AS BIGINT) AS dowi,
           CAST(o.obs AS BIGINT) AS observed,
           CAST((10000 * r.rt * c.ct) // n.nt AS BIGINT) AS expected_x1e4,
           CAST((1000000 * (o.obs * n.nt - r.rt * c.ct)
                         * (o.obs * n.nt - r.rt * c.ct))
                // (r.rt * c.ct * n.nt) AS BIGINT) AS contrib_x1e6
    FROM o JOIN r USING (event_type) JOIN c USING (dowi) CROSS JOIN n
    """,
)
def chi_square_crosstab_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the event_type x day-of-week
    contingency table — 'is traffic mix stable across the week?', the
    classic data-drift check — with every statistic EXACT on an
    integer grid: expected counts as (r*c*1e4) div N and per-cell
    chi-square contributions as (O*N - r*c)^2 * 1e6 div (r*c*N),
    computed in decimal(38,0)/HUGEINT (the squared numerators pass
    2^63 at scale; the q7 lesson applied to hypothesis testing — no
    float expected-count folds).  Day-of-week is derived portably as
    epoch-days mod 7 (0 = Thursday): Spark and DuckDB disagree on
    dayofweek() numbering, integer arithmetic can't.

    100 TB shape: three map-side-combinable aggregates over ONE scan
    lineage (cells, row totals, col totals — each one shuffle of
    partials); the totals frames are 5/7/1 rows, broadcast by AQE;
    contributions are scan-free arithmetic on the joined cells."""
    base = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("dowi"),
    )
    D = "decimal(38,0)"
    # the contingency cells are the sufficient statistic: row totals,
    # column totals, and N all fold out of the materialized
    # O(types x 7) table (r9: four separate corpus aggregates before)
    o = base.groupBy("event_type", "dowi").agg(
        F.count("*").cast(D).alias("obs")
    ).localCheckpoint()
    r = o.groupBy("event_type").agg(F.sum("obs").cast(D).alias("rt"))
    c = o.groupBy("dowi").agg(F.sum("obs").cast(D).alias("ct"))
    n = o.agg(F.sum("obs").cast(D).alias("nt"))
    return (
        o.join(r, "event_type")
        .join(c, "dowi")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("dowi").cast("long").alias("dowi"),
            F.col("obs").cast("long").alias("observed"),
            F.expr(
                "CAST((CAST(10000 AS DECIMAL(38,0)) * rt * ct) DIV nt"
                " AS BIGINT)"
            ).alias("expected_x1e4"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (obs * nt - rt * ct) * (obs * nt - rt * ct))"
                " DIV (rt * ct * nt) AS BIGINT)"
            ).alias("contrib_x1e6"),
        )
    )


@query(
    "benford_leading_digit_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 10000 + 0.5)
                                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    o AS (SELECT digit, count(*) AS n_obs FROM c GROUP BY digit),
    n AS (SELECT count(*) AS nt FROM c),
    p(digit, p_x1e6) AS (
      VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
             (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)
    )
    SELECT p.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(p.p_x1e6 AS BIGINT) AS benford_p_x1e6,
           CAST((n.nt * p.p_x1e6) // 10000 AS BIGINT) AS expected_x1e2
    FROM p LEFT JOIN o ON o.digit = p.digit CROSS JOIN n
    """,
)
def benford_leading_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the
    fraud/data-fabrication screen: observed leading-digit counts vs
    the Benford expectation log10(1+1/d).  The leading digit is
    extracted ARITHMETICALLY from the exact scaled-long cents
    (integer-to-string is exact and engine-identical; a double's
    leading digit via log10/formatting is neither), and the
    irrational Benford probabilities enter as shared 1e-6-grid
    literals, so expected counts are exact integer floor products —
    no libm anywhere.  All nine digits emit (LEFT join from the
    probability table), absent digits as zero — an absent digit IS
    the anomaly.

    100 TB shape: one map-side-combinable 9-group count over a
    single pruned column scan; the probability table and the total
    are broadcast by construction."""
    c = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(money_scaled(F.col("o_totalprice")).cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
    )
    # 9-row digit census, checkpointed; the total is its column sum
    # (identical to a direct count), so the fork no longer re-scans
    # orders (2 scans, r9 audit; now 1)
    o = c.groupBy("digit").agg(F.count("*").alias("n_obs")).localCheckpoint()
    n = o.agg(F.sum("n_obs").alias("nt"))
    p = spark.createDataFrame(
        [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)],
        "digit long, p_x1e6 long",
    )
    return (
        p.join(o, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.col("p_x1e6").alias("benford_p_x1e6"),
            F.expr("CAST((nt * p_x1e6) DIV 10000 AS BIGINT)").alias(
                "expected_x1e2"
            ),
        )
    )


@query(
    "welch_t2_ab_test",
    """
    WITH g AS (
      SELECT l_returnflag AS grp,
             count(*) AS n,
             sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT)
                 * CAST(floor(l_extendedprice * 10000 + 0.5) AS HUGEINT))
                 AS q
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_returnflag
    ),
    w AS (
      SELECT
        max(CASE WHEN grp = 'A' THEN n END) AS na,
        max(CASE WHEN grp = 'R' THEN n END) AS nr,
        max(CASE WHEN grp = 'A' THEN s END) AS sa,
        max(CASE WHEN grp = 'R' THEN s END) AS sr,
        max(CASE WHEN grp = 'A' THEN q END) AS qa,
        max(CASE WHEN grp = 'R' THEN q END) AS qr
      FROM g
    ),
    m AS (
      SELECT na, nr,
             sa // na AS ma, sr // nr AS mr,
             (na * qa - CAST(sa AS HUGEINT) * sa) // (na * (na - 1)) AS va,
             (nr * qr - CAST(sr AS HUGEINT) * sr) // (nr * (nr - 1)) AS vr
      FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
           CAST(ma AS BIGINT) AS mean_a_x1e4,
           CAST(mr AS BIGINT) AS mean_r_x1e4,
           CAST(va // 10000 AS BIGINT) AS var_a_x1e4,
           CAST(vr // 10000 AS BIGINT) AS var_r_x1e4,
           CAST(ma - mr AS BIGINT) AS diff_x1e4,
           CAST(CAST(ma - mr AS HUGEINT) * (ma - mr) * 10000
                // (va // na + vr // nr) AS BIGINT) AS t2_x1e4
    FROM m
    """,
)
def welch_t2_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample test statistic (the A/B-testing primitive)
    between return-flag groups A and R on extended price, ENGINE-EXACT:
    per group the moments (n, sum, sum-of-squares) accumulate as exact
    integers on the 1e4 money grid, then mean, sample variance
    (n*Q - S^2 over n(n-1)), the mean difference, and
    t^2 = diff^2 / (var_a/n_a + var_r/n_r) evaluate as a SPECIFIED
    chain of truncating integer divisions (every operand nonnegative,
    so DuckDB's floor // and Spark's truncating DIV agree) — the
    Mann-Whitney/AUC and regression entries' q7 lesson applied to
    hypothesis testing.  t^2 (squared) avoids the square root; the
    caller compares against (t_crit)^2.  Squares run in
    decimal(38,0)/HUGEINT (S^2 passes 2^63 at bench SF; ANSI raises
    rather than wraps on overflow).

    100 TB shape: ONE map-side-combinable conditional aggregate over
    the fact scan (three integer partials per group), a single-row
    combine — the same shape as q6; no second pass, nothing
    broadcast.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    y = money_scaled(F.col("l_extendedprice"))
    d = lambda c: c.cast("decimal(38,0)")
    g = li.select(
        F.col("l_returnflag").alias("grp"), y.alias("y")
    ).groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(d(F.col("y")) * d(F.col("y"))).alias("q"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "R", F.col("n"))).alias("nr"),
        F.max(F.when(F.col("grp") == "A", F.col("s"))).alias("sa"),
        F.max(F.when(F.col("grp") == "R", F.col("s"))).alias("sr"),
        F.max(F.when(F.col("grp") == "A", F.col("q"))).alias("qa"),
        F.max(F.when(F.col("grp") == "R", F.col("q"))).alias("qr"),
    )
    m = w.selectExpr(
        "na",
        "nr",
        "sa div na AS ma",
        "sr div nr AS mr",
        "(CAST(na AS DECIMAL(38,0)) * qa - CAST(sa AS DECIMAL(38,0))"
        " * CAST(sa AS DECIMAL(38,0))) div (na * (na - 1)) AS va",
        "(CAST(nr AS DECIMAL(38,0)) * qr - CAST(sr AS DECIMAL(38,0))"
        " * CAST(sr AS DECIMAL(38,0))) div (nr * (nr - 1)) AS vr",
    )
    return m.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nr AS BIGINT) AS n_r",
        "CAST(ma AS BIGINT) AS mean_a_x1e4",
        "CAST(mr AS BIGINT) AS mean_r_x1e4",
        "CAST(va div 10000 AS BIGINT) AS var_a_x1e4",
        "CAST(vr div 10000 AS BIGINT) AS var_r_x1e4",
        "CAST(ma - mr AS BIGINT) AS diff_x1e4",
        "CAST((CAST(ma - mr AS DECIMAL(38,0)) * CAST(ma - mr AS"
        " DECIMAL(38,0)) * 10000) div (va div na + vr div nr) AS BIGINT)"
        " AS t2_x1e4",
    )


@query(
    "ks_drift_priority",
    """
    WITH s AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS px,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS i1,
             CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS i2
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    n AS (SELECT sum(i1) AS n1, sum(i2) AS n2 FROM s),
    g AS (SELECT px, sum(i1) AS c1, sum(i2) AS c2 FROM s GROUP BY px),
    cum AS (
      SELECT px,
             sum(c1) OVER (ORDER BY px) AS cc1,
             sum(c2) OVER (ORDER BY px) AS cc2
      FROM g
    ),
    d AS (
      SELECT px, abs(cc1 * n.n2 - cc2 * n.n1) AS dn FROM cum, n
    ),
    best AS (SELECT px, dn FROM d ORDER BY dn DESC, px LIMIT 1)
    SELECT CAST(n.n1 AS BIGINT) AS n_1,
           CAST(n.n2 AS BIGINT) AS n_2,
           CAST(best.dn AS BIGINT) AS ks_num,
           CAST((best.dn * 1000000) // (n.n1 * n.n2) AS BIGINT)
             AS ks_x1e6,
           CAST(best.px AS BIGINT) AS ks_at_cents,
           CAST(best.dn AS HUGEINT) * best.dn * 1000000
             > CAST(1844164 AS HUGEINT) * (n.n1 + n.n2) * n.n1 * n.n2
             AS ks_reject_005
    FROM best, n
    """,
)
def ks_drift_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the total-price
    distributions of '1-URGENT' and '5-LOW' orders, ENGINE-EXACT: on
    the cents grid D = max_x |F1(x) - F2(x)| has the exact integer
    numerator max|C1(x)*n2 - C2(x)*n1| over the merged support (the
    max always lands on an observed point), so the statistic, its
    location (smallest cents value attaining the max), and even the
    alpha=0.05 REJECTION VERDICT — dn^2*1e6 > 1.358^2*1e6*(n1+n2)*n1*n2
    cross-multiplied into decimal(38,0)/HUGEINT, no square root —
    hash-match across engines.  This is the distribution-drift gate a
    training pipeline runs between data refreshes; the chi-square
    entry (chi_square_crosstab_audit) covers categorical drift, this
    covers continuous drift.

    100 TB shape: one map-side-combinable (cents, side) count shuffle
    collapses the corpus to its distinct price points; the cumulative
    ECDF walk is a single-partition window over that spine (swap in
    the mergeable quantile sketch when the DOMAIN itself is corpus-
    scale), and the verdict is a 1-row reduce.  Reference scope: flo
    has no analytics surface — north-star extension (SURVEY §2 Part B
    statistics)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    s = o.select(
        F.expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("px"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("i1"),
        F.when(F.col("o_orderpriority") == "5-LOW", 1)
        .otherwise(0)
        .alias("i2"),
    )
    s = s.persist()  # totals + per-cents counts share one scan
    n = s.agg(F.sum("i1").alias("n1"), F.sum("i2").alias("n2"))
    g = s.groupBy("px").agg(
        F.sum("i1").alias("c1"), F.sum("i2").alias("c2")
    )
    w = Window.orderBy("px")
    cum = g.select(
        "px",
        F.sum("c1").over(w).alias("cc1"),
        F.sum("c2").over(w).alias("cc2"),
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "px",
        "n1",
        "n2",
        F.abs(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1")).alias("dn"),
    )
    best = d.orderBy(F.col("dn").desc(), F.col("px")).limit(1)
    return best.selectExpr(
        "CAST(n1 AS BIGINT) AS n_1",
        "CAST(n2 AS BIGINT) AS n_2",
        "CAST(dn AS BIGINT) AS ks_num",
        "CAST((dn * 1000000) div (n1 * n2) AS BIGINT) AS ks_x1e6",
        "CAST(px AS BIGINT) AS ks_at_cents",
        "CAST(dn AS DECIMAL(38,0)) * dn * 1000000"
        " > CAST(1844164 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2"
        " AS ks_reject_005",
    )


@query(
    "calibration_curve_quality",
    """
    WITH labeled AS (
      SELECT doc_id, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    n AS (SELECT count(*) AS n FROM labeled),
    ranked AS (
      SELECT score, pos,
             row_number() OVER (ORDER BY score, doc_id) AS rn
      FROM labeled
    ),
    b AS (
      SELECT ((rn - 1) * 10) // n.n AS bucket, score, pos
      FROM ranked, n
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(score) AS BIGINT) AS score_lo,
           CAST(max(score) AS BIGINT) AS score_hi,
           CAST((sum(score) * 10000 + 0) // count(*) AS BIGINT)
             AS mean_score_x1e4,
           CAST((sum(pos) * 1000000) // count(*) AS BIGINT)
             AS pos_rate_x1e6
    FROM b GROUP BY bucket
    """,
)
def calibration_curve_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram (calibration curve) for the length-predicts-
    English classifier that auc_quality_classifier scores: documents
    sort into EXACT rank deciles (bucket = (rank-1)*10 div n with a
    deterministic (score, doc_id) order, so bucket boundaries are
    reproducible even through score ties), and each decile reports its
    exact score range, the truncated 1e4-grid mean score, and the
    1e-6-grid positive rate — all integer arithmetic, engine-exact.
    AUC measures ranking; calibration measures whether the score's
    LEVEL tracks the outcome rate — the pair is the standard
    classifier-evaluation kit before a curation threshold is picked.

    100 TB shape: one global rank (single-partition window over the
    corpus — swap in the mergeable quantile sketch's decile splits,
    quantile_discretizer_encode's shape, when the corpus outgrows
    one task's sort) then one 10-group aggregate.  Reference scope:
    flo has no analytics surface — north-star extension (SURVEY §2
    Part B statistics)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    docs = docs.persist()  # count + rank branches share one scan
    n = docs.agg(F.count("*").alias("n"))
    ranked = docs.select(
        "score",
        "pos",
        F.row_number()
        .over(Window.orderBy("score", "doc_id"))
        .alias("rn"),
    )
    b = ranked.crossJoin(F.broadcast(n)).selectExpr(
        "((rn - 1) * 10) div n AS bucket", "score", "pos"
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("cnt"),
        F.min("score").alias("score_lo"),
        F.max("score").alias("score_hi"),
        F.sum("score").alias("ssum"),
        F.sum("pos").alias("psum"),
    ).selectExpr(
        "CAST(bucket AS INT) AS bucket",
        "CAST(cnt AS BIGINT) AS n_docs",
        "CAST(score_lo AS BIGINT) AS score_lo",
        "CAST(score_hi AS BIGINT) AS score_hi",
        "CAST((ssum * 10000) div cnt AS BIGINT) AS mean_score_x1e4",
        "CAST((psum * 1000000) div cnt AS BIGINT) AS pos_rate_x1e6",
    )


@query(
    "isotonic_calibration_minimax",
    """
    WITH b AS (
      SELECT n_chars // 10 AS x,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
             count(*) AS n
      FROM documents GROUP BY 1
    ),
    r AS (
      SELECT x, p, n,
             row_number() OVER (ORDER BY x) AS r,
             sum(p) OVER (ORDER BY x) AS cp,
             sum(n) OVER (ORDER BY x) AS cn
      FROM b
    ),
    pairs AS (
      SELECT lo.r AS i, hi.r AS j,
             ((hi.cp - lo.cp + lo.p) * 1000000)
               // (hi.cn - lo.cn + lo.n) AS v
      FROM r lo JOIN r hi ON hi.r >= lo.r
    ),
    suff AS (
      SELECT i, j AS k,
             min(v) OVER (PARTITION BY i ORDER BY j DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS a
      FROM pairs
    ),
    fit AS (SELECT k, max(a) AS iso FROM suff GROUP BY k)
    SELECT CAST(r.x * 10 AS BIGINT) AS chars_lo,
           CAST(r.n AS BIGINT) AS n_docs,
           CAST((r.p * 1000000) // r.n AS BIGINT) AS raw_rate_x1e6,
           CAST(fit.iso AS BIGINT) AS iso_rate_x1e6,
           coalesce(fit.iso >= lag(fit.iso) OVER (ORDER BY r.r),
                    TRUE) AS monotone
    FROM r JOIN fit ON fit.k = r.r
    """,
)
def isotonic_calibration_minimax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic regression — the standard monotone calibrator for
    classifier scores — computed EXACTLY via its minimax
    characterization instead of the sequential PAVA loop:
    fitted[k] = max_{i<=k} min_{j>=k} mean(y_i..y_j).  Length buckets
    (tens of characters) are the score, the English rate the target.
    Because floor-to-grid is monotone it COMMUTES with min and max,
    so evaluating the formula on 1e-6-grid bucket-range means yields
    exactly the floor of the true rational isotonic fit — an exact
    answer from a declarative plan where textbook PAVA is an
    inherently sequential pooling loop.  Prefix sums make every range
    mean O(1); a self-join builds the O(K^2) (i, j) means, one
    descending window takes the inner min, one group-by the outer
    max.  The in-query `monotone` column proves the output is a valid
    isotonic function.

    100 TB shape: the corpus collapses to a K-bucket spine in one
    map-side-combinable aggregate; the K^2 minimax (K ~ tens) runs on
    spine-sized data — same aggregate-then-spine shape as the ACF and
    Theil-Sen entries.  Completes the calibration kit: AUC (ranking),
    calibration_curve (level), isotonic (the fix).  Reference scope:
    flo has no analytics surface — north-star extension (SURVEY §2
    Part B statistics)."""
    docs = load(spark, sf_dir, "documents")
    b = docs.selectExpr(
        "n_chars div 10 AS x",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
    ).groupBy("x").agg(
        F.sum("y").alias("p"), F.count("*").alias("n")
    )
    wx = Window.orderBy("x")
    r = b.select(
        "x",
        "p",
        "n",
        F.row_number().over(wx).alias("r"),
        F.sum("p").over(wx).alias("cp"),
        F.sum("n").over(wx).alias("cn"),
        # both pair sides and the final join reuse the spine; persist
        # or the corpus re-aggregates per branch (plan-pinned)
    ).persist()
    lo = r.select(
        F.col("r").alias("i"),
        F.col("p").alias("lp"),
        F.col("n").alias("ln"),
        F.col("cp").alias("lcp"),
        F.col("cn").alias("lcn"),
    )
    hi = r.select(
        F.col("r").alias("j"),
        F.col("cp").alias("hcp"),
        F.col("cn").alias("hcn"),
    )
    pairs = lo.join(hi, F.col("j") >= F.col("i")).selectExpr(
        "i",
        "j",
        "((hcp - lcp + lp) * 1000000) div (hcn - lcn + ln) AS v",
    )
    ws = (
        Window.partitionBy("i")
        .orderBy(F.col("j").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suff = pairs.select(
        "i", F.col("j").alias("k"), F.min("v").over(ws).alias("a")
    )
    fit = suff.groupBy("k").agg(F.max("a").alias("iso"))
    out = r.join(fit, r["r"] == fit["k"]).select(
        (F.col("x") * 10).cast("long").alias("chars_lo"),
        F.col("n").cast("long").alias("n_docs"),
        F.expr("(p * 1000000) div n").cast("long").alias("raw_rate_x1e6"),
        F.col("iso").cast("long").alias("iso_rate_x1e6"),
        F.col("r").alias("rr"),
    )
    wl = Window.orderBy("rr")
    return out.select(
        "chars_lo",
        "n_docs",
        "raw_rate_x1e6",
        "iso_rate_x1e6",
        F.coalesce(
            F.col("iso_rate_x1e6") >= F.lag("iso_rate_x1e6").over(wl),
            F.lit(True),
        ).alias("monotone"),
    )


@query(
    "diff_in_diff_revenue",
    """
    WITH base AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS treated,
             CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01'
               THEN 1 ELSE 0 END AS post,
             CAST(floor(o.o_totalprice * 10000 + 0.5) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
      SELECT treated, post, count(*) AS n, sum(y) AS s,
             sum(y) // count(*) AS mean_x1e4
      FROM base GROUP BY treated, post
    ),
    w AS (
      SELECT
        max(CASE WHEN treated = 0 AND post = 0 THEN mean_x1e4 END) AS m00,
        max(CASE WHEN treated = 0 AND post = 1 THEN mean_x1e4 END) AS m01,
        max(CASE WHEN treated = 1 AND post = 0 THEN mean_x1e4 END) AS m10,
        max(CASE WHEN treated = 1 AND post = 1 THEN mean_x1e4 END) AS m11,
        max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n00,
        max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n01,
        max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n10,
        max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n11
      FROM cells
    )
    SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
           CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
           CAST(m00 AS BIGINT) AS mean_ctrl_pre_x1e4,
           CAST(m01 AS BIGINT) AS mean_ctrl_post_x1e4,
           CAST(m10 AS BIGINT) AS mean_treat_pre_x1e4,
           CAST(m11 AS BIGINT) AS mean_treat_post_x1e4,
           CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS did_x1e4
    FROM w
    """,
)
def diff_in_diff_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal-inference
    estimator — ENGINE-EXACT: the four (treated x pre/post) cell means
    of order value compute as truncated 1e4-grid integer divisions
    (sums are nonnegative, so DuckDB floor // = Spark div), and the
    DiD effect is the integer double difference
    (m11 - m10) - (m01 - m00) of those gridded means.  'Treatment' is
    the BUILDING market segment, the 'policy date' 1996-01-01 — the
    mechanism, not the story, is what the entry pins (the same
    deterministic-mechanism discipline as welch_t2_ab_test, which
    supplies the significance test for the effect).

    100 TB shape: ONE customer-keyed fact join (dim side broadcast-
    eligible) feeding one map-side-combinable 4-cell conditional
    aggregate — q6's shape with a join; no second pass.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treated"),
        F.when(
            F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("post"),
        money_scaled(F.col("o_totalprice")).alias("y"),
    )
    cells = base.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    ).selectExpr("treated", "post", "n", "s div n AS mean_x1e4")
    w = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p),
                    F.col(col),
                )
            ).alias(f"{name}{t}{p}")
            for col, name in (("mean_x1e4", "m"), ("n", "n"))
            for t in (0, 1)
            for p in (0, 1)
        ]
    )
    return w.selectExpr(
        "CAST(n00 AS BIGINT) AS n00",
        "CAST(n01 AS BIGINT) AS n01",
        "CAST(n10 AS BIGINT) AS n10",
        "CAST(n11 AS BIGINT) AS n11",
        "CAST(m00 AS BIGINT) AS mean_ctrl_pre_x1e4",
        "CAST(m01 AS BIGINT) AS mean_ctrl_post_x1e4",
        "CAST(m10 AS BIGINT) AS mean_treat_pre_x1e4",
        "CAST(m11 AS BIGINT) AS mean_treat_post_x1e4",
        "CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS did_x1e4",
    )


@query(
    "mann_kendall_trend_test",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT sum(CASE WHEN b.cnt > a.cnt THEN 1
                      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS s,
             count(*) AS n_pairs
      FROM c a JOIN c b ON b.h > a.h
    ),
    n AS (SELECT count(*) AS n FROM c),
    ties AS (
      SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)),
                      0) AS tie_term
      FROM (SELECT count(*) AS t FROM c GROUP BY cnt HAVING count(*) > 1)
    ),
    v AS (
      SELECT s.s, s.n_pairs, n.n,
             CAST(n.n AS HUGEINT) * (n.n - 1) * (2 * n.n + 5)
               - ties.tie_term AS vs18
      FROM s, n, ties
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(s AS BIGINT) AS s_stat,
           CAST(vs18 AS BIGINT) AS var_s_x18,
           CAST(CASE WHEN s = 0 THEN 0
                ELSE (CAST(abs(s) - 1 AS HUGEINT) * (abs(s) - 1)
                      * 18000000) // vs18 END AS BIGINT) AS z2_x1e6,
           CASE WHEN s = 0 THEN FALSE
                ELSE (CAST(abs(s) - 1 AS HUGEINT) * (abs(s) - 1) * 18)
                     * 1000000
                     > CAST(3841459 AS HUGEINT) * vs18 END
             AS reject_005
    FROM v
    """,
)
def mann_kendall_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the hourly event rate — the
    nonparametric significance test that PAIRS with the Theil-Sen
    slope (same pair space, same spine) — ENGINE-EXACT end to end:
    S = sum of sign(x_j - x_i) is a pure integer, the tie-corrected
    variance times 18 (n(n-1)(2n+5) - sum t(t-1)(2t+5)) stays an
    integer, the continuity-corrected squared statistic
    z^2 = (|S|-1)^2 / Var(S) lands on the 1e-6 grid, and the
    alpha=0.05 verdict cross-multiplies against 1.96^2 = 3.841459
    (z^2*18*1e6 > 3841459*VS18) in decimal(38,0)/HUGEINT — no square
    root, no float anywhere.

    100 TB shape: one map-side-combinable hourly count collapses the
    corpus to the calendar-bounded spine; the O(spine^2) sign pairs,
    tie census, and 1-row verdict all run on that spine — the
    Theil-Sen shape with a single-row reduce instead of a rank pick.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B statistics)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
        # pairs (both sides), n, and the tie census share the spine
        .persist()
    )
    a = c.select(F.col("h").alias("ha"), F.col("cnt").alias("ca"))
    b = c.select(F.col("h").alias("hb"), F.col("cnt").alias("cb"))
    s = a.join(b, F.col("hb") > F.col("ha")).agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .otherwise(0)
        ).alias("s"),
        F.count("*").alias("n_pairs"),
    )
    n = c.agg(F.count("*").alias("n"))
    d = lambda e: F.expr(e).cast("decimal(38,0)")
    ties = (
        c.groupBy("cnt")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(d("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tie_term")
        )
    )
    v = (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "s",
            "n_pairs",
            "n",
            "CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)"
            " - tie_term AS vs18",
        )
    )
    return v.selectExpr(
        "CAST(n AS BIGINT) AS n_hours",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(s AS BIGINT) AS s_stat",
        "CAST(vs18 AS BIGINT) AS var_s_x18",
        "CAST(CASE WHEN s = 0 THEN 0"
        " ELSE (CAST(abs(s) - 1 AS DECIMAL(38,0)) * (abs(s) - 1)"
        " * 18000000) div vs18 END AS BIGINT) AS z2_x1e6",
        "CASE WHEN s = 0 THEN FALSE"
        " ELSE (CAST(abs(s) - 1 AS DECIMAL(38,0)) * (abs(s) - 1) * 18)"
        " * 1000000 > CAST(3841459 AS DECIMAL(38,0)) * vs18 END"
        " AS reject_005",
    )


@query(
    "mcnemar_paired_proportions",
    """
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicked,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT sum(clicked * purchased) AS a,
             sum(clicked * (1 - purchased)) AS b,
             sum((1 - clicked) * purchased) AS c,
             sum((1 - clicked) * (1 - purchased)) AS d
      FROM u
    )
    SELECT CAST(a AS BIGINT) AS both_yes,
           CAST(b AS BIGINT) AS click_only,
           CAST(c AS BIGINT) AS purchase_only,
           CAST(d AS BIGINT) AS both_no,
           CAST(CASE WHEN b + c = 0 THEN 0
                ELSE ((b - c) * (b - c) * 1000000) // (b + c) END
                AS BIGINT) AS chi2_x1e6,
           CASE WHEN b + c = 0 THEN FALSE
                ELSE (b - c) * (b - c) * 1000000
                     > 3841459 * (b + c) END AS reject_005
    FROM cells
    """,
)
def mcnemar_paired_proportions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test for paired binary outcomes — does the same
    population click and purchase at different rates? — ENGINE-EXACT:
    users collapse to a (clicked, purchased) pair, the 2x2 paired
    table fills from one conditional aggregate, and the discordant
    cells give chi^2 = (b-c)^2/(b+c) as an exact 1e-6-grid quotient
    with the alpha=0.05 verdict cross-multiplied against
    1.96^2 = 3.841459 — integers throughout (the marginal-homogeneity
    counterpart to chi_square_crosstab_audit's independence test,
    which is WRONG for paired data).

    100 TB shape: one user-keyed map-side-combinable collapse, one
    4-cell reduce to a single row — nothing else moves.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics)."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicked"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(
                    0
                )
            ).alias("purchased"),
        )
    )
    cells = u.agg(
        F.sum(F.col("clicked") * F.col("purchased")).alias("a"),
        F.sum(F.col("clicked") * (1 - F.col("purchased"))).alias("b"),
        F.sum((1 - F.col("clicked")) * F.col("purchased")).alias("c"),
        F.sum(
            (1 - F.col("clicked")) * (1 - F.col("purchased"))
        ).alias("d"),
    )
    return cells.selectExpr(
        "CAST(a AS BIGINT) AS both_yes",
        "CAST(b AS BIGINT) AS click_only",
        "CAST(c AS BIGINT) AS purchase_only",
        "CAST(d AS BIGINT) AS both_no",
        "CAST(CASE WHEN b + c = 0 THEN 0"
        " ELSE ((b - c) * (b - c) * 1000000) div (b + c) END"
        " AS BIGINT) AS chi2_x1e6",
        "CASE WHEN b + c = 0 THEN FALSE"
        " ELSE (b - c) * (b - c) * 1000000 > 3841459 * (b + c) END"
        " AS reject_005",
    )


@query(
    "simpson_diversity_by_source",
    """
    WITH c AS (
      SELECT source, lang, count(*) AS n
      FROM documents GROUP BY source, lang
    ),
    t AS (
      SELECT source, sum(n) AS total,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS same_pairs,
             count(*) AS n_langs
      FROM c GROUP BY source
    )
    SELECT source,
           CAST(total AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(same_pairs AS BIGINT) AS same_lang_pairs,
           CAST(1000000 - (same_pairs * 1000000)
                // (CAST(total AS HUGEINT) * (total - 1)) AS BIGINT)
             AS simpson_diversity_x1e6
    FROM t WHERE total > 1
    """,
)
def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's diversity index per corpus source — the probability
    that two documents drawn without replacement differ in language,
    1 - sum n_l(n_l-1) / (N(N-1)) — ENGINE-EXACT because unlike
    Shannon entropy (logarithms) Simpson's index is a pure rational:
    integer pair counts, one truncating division onto the 1e-6 grid.
    The dataset-composition diagnostic a mixing pipeline reads before
    setting per-source temperatures (temperature_mix_sample); the
    language-ID entries supply the lang column upstream.

    100 TB shape: one (source, lang) map-side-combinable count, one
    source-level re-aggregation of the reduced table — nothing
    corpus-scale moves twice.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B statistics)."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    d = lambda col: F.col(col).cast("decimal(38,0)")
    t = c.groupBy("source").agg(
        F.sum("n").alias("total"),
        F.sum(d("n") * (F.col("n") - 1)).alias("same_pairs"),
        F.count("*").alias("n_langs"),
    )
    return t.filter(F.col("total") > 1).selectExpr(
        "source",
        "CAST(total AS BIGINT) AS n_docs",
        "CAST(n_langs AS BIGINT) AS n_langs",
        "CAST(same_pairs AS BIGINT) AS same_lang_pairs",
        "CAST(1000000 - (same_pairs * 1000000)"
        " div (CAST(total AS DECIMAL(38,0)) * (total - 1)) AS BIGINT)"
        " AS simpson_diversity_x1e6",
    )


@query(
    "kendall_tau_user_metrics",
    """
    WITH u AS (
      SELECT user_id, count(*) AS x,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END
               AS conc,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END
               AS disc
      FROM u a JOIN u b ON a.user_id < b.user_id
    ),
    s AS (
      SELECT sum(conc) AS c, sum(disc) AS d, count(*) AS n_pairs
      FROM p
    )
    SELECT CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN c >= d
                THEN ((c - d) * 1000000) // n_pairs
                ELSE -(((d - c) * 1000000) // n_pairs) END AS BIGINT)
             AS tau_a_x1e6
    FROM s
    """,
)
def kendall_tau_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a rank correlation between per-user activity
    (event count) and per-user spend (exact 1e4-grid value sum) —
    ENGINE-EXACT because tau-a is a pure rational: concordant minus
    discordant pairs over all pairs, one signed truncating division
    onto the 1e-6 grid (Pearson and Spearman both need square roots;
    Kendall is the correlation you can do in exact integers, and the
    one whose interpretation — probability a random pair agrees in
    order — survives any monotone transform of either metric).  Ties
    count in n_pairs but neither C nor D (the tau-a convention,
    stated so the oracle can't drift to tau-b).

    100 TB shape: the corpus collapses to a per-user metrics table in
    one map-side-combinable aggregate; the O(U^2) pair join runs on
    that REDUCED relation (1.1M pairs at bench SF) — when U itself is
    corpus-scale, Knight's O(n log n) merge-sort inversion count over
    a range-partitioned sort is the documented upgrade path, same
    answer.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("x"),
            F.sum(money_scaled(F.col("value"))).alias("y"),
        )
        # O(users) metrics table, checkpointed: both sides of the
        # O(U^2) pair join derive from it — un-cut lineage re-scanned
        # events per side (2 scans, r9 audit; now 1)
        .localCheckpoint()
    )
    a = u.select(
        F.col("user_id").alias("ka"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = u.select(
        F.col("user_id").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    p = a.join(b, F.col("ka") < F.col("kb")).select(
        F.when(
            (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb")) > 0, 1
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb")) < 0, 1
        )
        .otherwise(0)
        .alias("disc"),
    )
    s = p.agg(
        F.sum("conc").alias("c"),
        F.sum("disc").alias("d"),
        F.count("*").alias("n_pairs"),
    )
    return s.selectExpr(
        "CAST(c AS BIGINT) AS concordant",
        "CAST(d AS BIGINT) AS discordant",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(CASE WHEN c >= d THEN ((c - d) * 1000000) div n_pairs"
        " ELSE -(((d - c) * 1000000) div n_pairs) END AS BIGINT)"
        " AS tau_a_x1e6",
    )


@query(
    "roc_youden_threshold",
    """
    WITH labeled AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    n AS (SELECT sum(pos) AS np, sum(1 - pos) AS nn FROM labeled),
    by_score AS (
      SELECT score, sum(pos) AS p, sum(1 - pos) AS neg
      FROM labeled GROUP BY score
    ),
    cum AS (
      SELECT score,
             sum(p) OVER (ORDER BY score DESC) AS tp,
             sum(neg) OVER (ORDER BY score DESC) AS fp
      FROM by_score
    ),
    scored AS (
      SELECT score AS threshold, tp, fp,
             n.nn * tp - n.np * fp AS j_num, n.np, n.nn
      FROM cum, n
    ),
    best AS (
      SELECT * FROM scored ORDER BY j_num DESC, threshold LIMIT 1
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(np - tp AS BIGINT) AS fn,
           CAST(j_num AS BIGINT) AS youden_num,
           CAST((j_num * 1000000) // (CAST(np AS HUGEINT) * nn)
                AS BIGINT) AS youden_x1e6,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT)
             AS precision_x1e6,
           CAST((tp * 1000000) // np AS BIGINT) AS recall_x1e6,
           CAST((2 * tp * 1000000) // (2 * tp + fp + (np - tp))
                AS BIGINT) AS f1_x1e6
    FROM best
    """,
)
def roc_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATING POINT for the length-predicts-English classifier:
    the threshold maximizing Youden's J = TPR - FPR, chosen by the
    exact integer criterion n_neg*TP - n_pos*FP (cross-multiplied so
    no two candidate thresholds compare through floats; tie-break
    lowest threshold), with exact 1e-6-grid precision / recall / F1
    at that threshold — F1's 2TP/(2TP+FP+FN) is a pure rational, so
    the whole confusion row is engine-exact.  Completes the evaluation
    kit: AUC ranks, the calibration entries check levels, this picks
    where to cut (predict positive when score >= threshold).

    100 TB shape: one by-score aggregate collapses the corpus, one
    descending cumulative window over distinct scores builds every
    confusion matrix simultaneously (the same single-pass trick as
    the exact AUC), one TakeOrderedAndProject picks the argmax.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B pipeline hygiene)."""
    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).persist()  # totals + by-score branches share one scan
    n = docs.agg(
        F.sum("pos").alias("np"), F.sum(1 - F.col("pos")).alias("nn")
    )
    by_score = docs.groupBy("score").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("neg")
    )
    w = Window.orderBy(F.col("score").desc())
    cum = by_score.select(
        "score",
        F.sum("p").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    scored = cum.crossJoin(F.broadcast(n)).select(
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        (F.col("nn") * F.col("tp") - F.col("np") * F.col("fp")).alias(
            "j_num"
        ),
        "np",
        "nn",
    )
    best = scored.orderBy(
        F.col("j_num").desc(), F.col("threshold")
    ).limit(1)
    return best.selectExpr(
        "CAST(threshold AS BIGINT) AS threshold",
        "CAST(tp AS BIGINT) AS tp",
        "CAST(fp AS BIGINT) AS fp",
        "CAST(np - tp AS BIGINT) AS fn",
        "CAST(j_num AS BIGINT) AS youden_num",
        "CAST((j_num * 1000000) div (CAST(np AS DECIMAL(38,0)) * nn)"
        " AS BIGINT) AS youden_x1e6",
        "CAST((tp * 1000000) div (tp + fp) AS BIGINT)"
        " AS precision_x1e6",
        "CAST((tp * 1000000) div np AS BIGINT) AS recall_x1e6",
        "CAST((2 * tp * 1000000) div (2 * tp + fp + (np - tp))"
        " AS BIGINT) AS f1_x1e6",
    )


@query(
    "cohens_kappa_langid",
    """
    WITH r AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
             CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS pred
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS agree,
             sum(truth) AS t1, sum(pred) AS p1
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(agree AS BIGINT) AS n_agree,
           CAST(t1 AS BIGINT) AS truth_pos,
           CAST(p1 AS BIGINT) AS pred_pos,
           CAST(CASE
             WHEN CAST(n AS HUGEINT) * n
                  = t1 * CAST(p1 AS HUGEINT)
                    + (n - t1) * CAST(n - p1 AS HUGEINT) THEN 0
             WHEN CAST(n AS HUGEINT) * agree
                  >= t1 * CAST(p1 AS HUGEINT)
                     + (n - t1) * CAST(n - p1 AS HUGEINT)
             THEN ((CAST(n AS HUGEINT) * agree
                    - (t1 * CAST(p1 AS HUGEINT)
                       + (n - t1) * CAST(n - p1 AS HUGEINT)))
                   * 1000000)
                  // (CAST(n AS HUGEINT) * n
                      - (t1 * CAST(p1 AS HUGEINT)
                         + (n - t1) * CAST(n - p1 AS HUGEINT)))
             ELSE -((((t1 * CAST(p1 AS HUGEINT)
                       + (n - t1) * CAST(n - p1 AS HUGEINT))
                      - CAST(n AS HUGEINT) * agree) * 1000000)
                    // (CAST(n AS HUGEINT) * n
                        - (t1 * CAST(p1 AS HUGEINT)
                           + (n - t1) * CAST(n - p1 AS HUGEINT))))
           END AS BIGINT) AS kappa_x1e6
    FROM s
    """,
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between the lang
    column and the cheapest possible English detector (contains
    ' the ') — ENGINE-EXACT: kappa = (p_o - p_e)/(1 - p_e) clears its
    denominators to (N*agree - E) / (N^2 - E) with
    E = t1*p1 + t0*p0, all integers, one signed truncating division
    onto the 1e-6 grid (accuracy alone overstates agreement when both
    raters skew negative — kappa is the honest inter-annotator /
    weak-labeler metric, and this is it without a single float).

    100 TB shape: one map-side-combinable 4-counter aggregate over
    the scan; the kappa arithmetic is a 1-row projection.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics)."""
    r = load(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
        F.when(F.col("text").like("% the %"), 1)
        .otherwise(0)
        .alias("pred"),
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("truth") == F.col("pred"), 1).otherwise(0)
        ).alias("agree"),
        F.sum("truth").alias("t1"),
        F.sum("pred").alias("p1"),
    )
    d = "CAST({} AS DECIMAL(38,0))"
    e = (
        f"(t1 * {d.format('p1')} + (n - t1) * {d.format('(n - p1)')})"
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(agree AS BIGINT) AS n_agree",
        "CAST(t1 AS BIGINT) AS truth_pos",
        "CAST(p1 AS BIGINT) AS pred_pos",
        f"CAST(CASE"
        f" WHEN {d.format('n')} * n = {e} THEN 0"
        f" WHEN {d.format('n')} * agree >= {e}"
        f" THEN (({d.format('n')} * agree - {e}) * 1000000)"
        f" div ({d.format('n')} * n - {e})"
        f" ELSE -((({e} - {d.format('n')} * agree) * 1000000)"
        f" div ({d.format('n')} * n - {e}))"
        f" END AS BIGINT) AS kappa_x1e6",
    )


@query(
    "anova_f_returnflag",
    """
    WITH v AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT grp, count(*) AS n, sum(CAST(y AS HUGEINT)) AS s,
             sum(CAST(y AS HUGEINT) * y) AS q
      FROM v GROUP BY grp
    ),
    t AS (
      SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ss, sum(q) AS qq,
             sum((s * s) // n) AS sb
      FROM g
    ),
    parts AS (
      -- n-scaled exact sums of squares: SSB and SSW both inherit the
      -- per-group floor from (s^2 div n); SST = their recombination
      SELECT k, nn,
             sb - (ss * ss) // nn AS ssb,
             qq - sb AS ssw
      FROM t
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_rows,
           CAST(ssb // 100000000 AS BIGINT) AS ssb_x1e8_units,
           CAST(ssw // 100000000 AS BIGINT) AS ssw_x1e8_units,
           CAST((ssb * (nn - k) * 1000000) // (ssw * (k - 1))
                AS BIGINT) AS f_x1e6
    FROM parts
    """,
)
def anova_f_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic — does mean extended price differ
    across the three return-flag groups? — ENGINE-EXACT: per-group
    integer moments give the between-group sum of squares as
    sum(S_g^2 div n_g) - S^2 div N and the within-group SS as
    Q - sum(S_g^2 div n_g) (each term floored identically on both
    engines, the welch_t2 discipline generalized from 2 groups to k),
    and F = (SSB/(k-1)) / (SSW/(N-k)) cross-multiplies into one
    truncating division on the 1e-6 grid — no float fold anywhere.
    welch_t2_ab_test is the k=2 special case with unpooled variances;
    this is the k-group screening test run before pairwise
    comparisons.

    100 TB shape: ONE map-side-combinable aggregate producing three
    integer partials per group, a k-row combine, O(1) arithmetic —
    q6's shape.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    li = load(spark, sf_dir, "lineitem")
    d = lambda c: c.cast("decimal(38,0)")
    v = li.select(
        F.col("l_returnflag").alias("grp"),
        money_scaled(F.col("l_extendedprice")).alias("y"),
    )
    g = v.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(d(F.col("y"))).alias("s"),
        F.sum(d(F.col("y")) * F.col("y")).alias("q"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        # Spark's div lowers to a LONG result and overflows on s^2/n;
        # subtracting the remainder first makes the decimal division
        # exact (floor for nonnegative operands, matching DuckDB //)
        F.sum(
            F.expr(
                "CAST((s * s - (s * s) % n) / n AS DECIMAL(38,0))"
            )
        ).alias("sb"),
    )
    parts = t.selectExpr(
        "k",
        "nn",
        "sb - CAST((ss * ss - (ss * ss) % nn) / nn AS DECIMAL(38,0))"
        " AS ssb",
        "qq - sb AS ssw",
    )
    return parts.selectExpr(
        "CAST(k AS BIGINT) AS k_groups",
        "CAST(nn AS BIGINT) AS n_rows",
        "CAST(ssb div 100000000 AS BIGINT) AS ssb_x1e8_units",
        "CAST(ssw div 100000000 AS BIGINT) AS ssw_x1e8_units",
        "CAST((ssb * (nn - k) * 1000000) div (ssw * (k - 1))"
        " AS BIGINT) AS f_x1e6",
    )


@query(
    "friedman_rank_test",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    full_days AS (
      SELECT day FROM daily GROUP BY day
      HAVING count(*) = (SELECT count(DISTINCT event_type) FROM daily)
    ),
    ranked AS (
      SELECT d.day, d.event_type,
             row_number() OVER (PARTITION BY d.day
                                ORDER BY d.cnt, d.event_type) AS r
      FROM daily d JOIN full_days f ON f.day = d.day
    ),
    sums AS (
      SELECT event_type, sum(r) AS rj, count(*) AS n
      FROM ranked GROUP BY event_type
    ),
    agg AS (
      SELECT count(*) AS k, max(n) AS n,
             sum(CAST(rj AS HUGEINT) * rj) AS rj2
      FROM sums
    )
    SELECT CAST(k AS BIGINT) AS k_treatments,
           CAST(n AS BIGINT) AS n_blocks,
           CAST(rj2 AS BIGINT) AS sum_rank_sq,
           CAST((12 * rj2 * 1000000)
                  // (CAST(n AS HUGEINT) * k * (k + 1))
                - 3 * CAST(n AS HUGEINT) * (k + 1) * 1000000
                AS BIGINT) AS chi2_x1e6
    FROM agg
    """,
)
def friedman_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's rank test — do the event types keep the same
    activity ORDERING day after day, or does some type systematically
    dominate? — blocks are the complete days, treatments the event
    types, each day ranking its types by count with a deterministic
    (count, type) tie-break (documented: textbook Friedman uses
    average ranks under ties; the deterministic variant keeps every
    quantity an exact integer, and ties between daily counts are the
    measure-zero case here).  chi^2_F = 12*sum(R_j^2)/(n*k*(k+1)) -
    3n(k+1) evaluates as one truncating division on the 1e-6 grid —
    the nonparametric repeated-measures ANOVA, exact end to end.

    100 TB shape: one (day, type) map-side-combinable count collapses
    the corpus to a calendar-bounded grid; per-day ranking windows
    parallelize across days; the treatment reduce is k rows.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B statistics)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("cnt"))
        .persist()  # full-day filter + ranking share the grid
    )
    n_types = daily.select("event_type").distinct().count()
    full_days = (
        daily.groupBy("day")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") == n_types)
        .select("day")
    )
    ranked = daily.join(full_days, "day").select(
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("day").orderBy("cnt", "event_type")
        )
        .alias("r"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rj"), F.count("*").alias("n")
    )
    d = lambda e: F.expr(e).cast("decimal(38,0)")
    agg = sums.agg(
        F.count("*").alias("k"),
        F.max("n").alias("n"),
        F.sum(d("rj") * F.col("rj")).alias("rj2"),
    )
    return agg.selectExpr(
        "CAST(k AS BIGINT) AS k_treatments",
        "CAST(n AS BIGINT) AS n_blocks",
        "CAST(rj2 AS BIGINT) AS sum_rank_sq",
        "CAST((12 * rj2 * 1000000)"
        " div (CAST(n AS DECIMAL(38,0)) * k * (k + 1))"
        " - 3 * CAST(n AS DECIMAL(38,0)) * (k + 1) * 1000000"
        " AS BIGINT) AS chi2_x1e6",
    )


@query(
    "forecast_eval_mase_pinball",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    lagd AS (
      SELECT h, cnt,
             lag(cnt, 24) OVER (ORDER BY h) AS snaive,
             lag(cnt, 1) OVER (ORDER BY h) AS naive
      FROM c
    ),
    err AS (
      SELECT count(*) AS n,
             sum(abs(cnt - snaive)) AS sae_seasonal,
             sum(abs(cnt - naive)) AS sae_naive
      FROM lagd WHERE snaive IS NOT NULL AND naive IS NOT NULL
    ),
    q AS (
      SELECT cnt AS q90 FROM (
        SELECT cnt, row_number() OVER (ORDER BY cnt, h) AS rn,
               count(*) OVER () AS n
        FROM c) WHERE rn = (9 * n + 9) // 10
    ),
    pin AS (
      SELECT sum(CASE WHEN cnt >= q.q90
                 THEN 9 * (cnt - q.q90)
                 ELSE 1 * (q.q90 - cnt) END) AS pinball10_x10,
             count(*) AS n_hours
      FROM c, q
    )
    SELECT CAST(err.n AS BIGINT) AS n_scored,
           CAST(sae_seasonal AS BIGINT) AS sae_seasonal,
           CAST(sae_naive AS BIGINT) AS sae_naive,
           CAST((sae_seasonal * 1000000) // sae_naive AS BIGINT)
             AS mase_x1e6,
           CAST(q.q90 AS BIGINT) AS q90_forecast,
           CAST(pin.pinball10_x10 AS BIGINT) AS pinball90_sum_x10
    FROM err, q, pin
    """,
)
def forecast_eval_mase_pinball(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast EVALUATION metrics for the time-series family
    (EWMA/Holt/Holt-Winters/Theil-Sen produce forecasts; something
    must score them) — ENGINE-EXACT: MASE's numerator and denominator
    are integer sums of absolute errors (seasonal-naive lag-24
    forecast vs the naive lag-1 scale), their ratio one truncating
    division on the 1e-6 grid; the pinball (quantile) loss of the
    constant p90 forecast — the metric that makes quantile forecasts
    honest — is 10x-scaled so the 0.9/0.1 asymmetric weights stay
    integers (9 and 1), with the p90 itself an exact rank pick.
    MASE < 1e6 means the seasonal model beats the naive scale — the
    standard scale-free verdict.

    100 TB shape: one map-side-combinable hourly count collapses the
    corpus to the calendar spine; lags are one ordered window over
    it, the quantile an exact rank pick, both reducers single-row.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B time series)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
        # lags, rank pick, and pinball scan share the spine
        .persist()
    )
    w = Window.orderBy("h")
    lagd = c.select(
        "cnt",
        F.lag("cnt", 24).over(w).alias("snaive"),
        F.lag("cnt", 1).over(w).alias("naive"),
    )
    err = lagd.filter(
        F.col("snaive").isNotNull() & F.col("naive").isNotNull()
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.abs(F.col("cnt") - F.col("snaive"))).alias(
            "sae_seasonal"
        ),
        F.sum(F.abs(F.col("cnt") - F.col("naive"))).alias("sae_naive"),
    )
    ranked = c.select(
        "cnt",
        F.row_number().over(Window.orderBy("cnt", "h")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    q = ranked.filter(F.expr("rn = (9 * n + 9) div 10")).select(
        F.col("cnt").alias("q90")
    )
    pin = c.crossJoin(F.broadcast(q)).agg(
        F.sum(
            F.when(
                F.col("cnt") >= F.col("q90"),
                9 * (F.col("cnt") - F.col("q90")),
            ).otherwise(F.col("q90") - F.col("cnt"))
        ).alias("pinball10_x10"),
        F.max("q90").alias("q90"),
    )
    return (
        err.crossJoin(F.broadcast(pin)).selectExpr(
            "CAST(n AS BIGINT) AS n_scored",
            "CAST(sae_seasonal AS BIGINT) AS sae_seasonal",
            "CAST(sae_naive AS BIGINT) AS sae_naive",
            "CAST((sae_seasonal * 1000000) div sae_naive AS BIGINT)"
            " AS mase_x1e6",
            "CAST(q90 AS BIGINT) AS q90_forecast",
            "CAST(pinball10_x10 AS BIGINT) AS pinball90_sum_x10",
        )
    )


@query(
    "hodges_lehmann_location",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT a.cnt + b.cnt AS w2
      FROM c a JOIN c b ON b.h >= a.h
    ),
    m AS (SELECT count(*) AS n_walsh FROM w),
    r AS (SELECT w2, row_number() OVER (ORDER BY w2) AS rn FROM w)
    SELECT CAST(m.n_walsh AS BIGINT) AS n_walsh,
           CAST(r.w2 AS BIGINT) AS hl_x2,
           CAST((SELECT min(w2) FROM w) AS BIGINT) AS min_x2,
           CAST((SELECT max(w2) FROM w) AS BIGINT) AS max_x2
    FROM r, m WHERE r.rn = (m.n_walsh + 1) // 2
    """,
)
def hodges_lehmann_location(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hodges-Lehmann location estimate of the hourly event rate —
    the median of all Walsh averages (x_i + x_j)/2 over pairs i <= j,
    the estimator dual to the Wilcoxon signed-rank test: ~2x more
    statistically efficient than the plain median under normality yet
    still breakdown-robust at 0.29.  ENGINE-EXACT by carrying the
    DOUBLED averages (x_i + x_j stays an integer; the /2 is the
    caller's presentation), with the lower-median rank pick —
    completing the robust-location toolkit next to theil_sen (robust
    slope) and mad_robust_outliers (robust scale).

    100 TB shape: one map-side-combinable hourly count collapses the
    corpus to the calendar-bounded spine; the O(spine^2) Walsh pairs
    and the rank pick run on spine-sized data — the Theil-Sen shape
    applied to location.  Reference scope: flo has no analytics
    surface — north-star extension (SURVEY §2 Part B statistics)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
        # both pair sides share the spine
        .persist()
    )
    a = c.select(F.col("h").alias("ha"), F.col("cnt").alias("ca"))
    b = c.select(F.col("h").alias("hb"), F.col("cnt").alias("cb"))
    w = a.join(b, F.col("hb") >= F.col("ha")).select(
        (F.col("ca") + F.col("cb")).alias("w2")
    ).persist()  # count, rank, and min/max share the pair table
    m = w.agg(F.count("*").alias("n_walsh"))
    mm = w.agg(
        F.min("w2").alias("min_x2"), F.max("w2").alias("max_x2")
    )
    r = w.select(
        "w2", F.row_number().over(Window.orderBy("w2")).alias("rn")
    )
    return (
        r.crossJoin(F.broadcast(m))
        .filter(F.expr("rn = (n_walsh + 1) div 2"))
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("n_walsh").cast("long").alias("n_walsh"),
            F.col("w2").cast("long").alias("hl_x2"),
            F.col("min_x2").cast("long").alias("min_x2"),
            F.col("max_x2").cast("long").alias("max_x2"),
        )
    )


@query(
    "wilcoxon_signed_rank",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    h0 AS (SELECT min(h) AS h0 FROM c),
    pair AS (
      SELECT a.cnt - b.cnt AS d
      FROM c a JOIN c b ON b.h = a.h + 168
      JOIN h0 ON a.h - h0.h0 < 168
      WHERE a.cnt <> b.cnt
    ),
    r AS (
      SELECT d, row_number() OVER (ORDER BY abs(d), d) AS rnk
      FROM pair
    ),
    s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN d > 0 THEN rnk ELSE 0 END) AS w_plus
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(w_plus AS BIGINT) AS w_plus,
           CAST(CAST(n AS HUGEINT) * (n + 1) // 2 - w_plus AS BIGINT)
             AS w_minus,
           CAST(CASE
             WHEN 4 * w_plus >= CAST(n AS HUGEINT) * (n + 1)
             THEN ((4 * w_plus - CAST(n AS HUGEINT) * (n + 1))
                   * (4 * w_plus - CAST(n AS HUGEINT) * (n + 1))
                   * 1000000)
                  // (CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) * 2 // 3)
             ELSE ((CAST(n AS HUGEINT) * (n + 1) - 4 * w_plus)
                   * (CAST(n AS HUGEINT) * (n + 1) - 4 * w_plus)
                   * 1000000)
                  // (CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) * 2 // 3)
           END AS BIGINT) AS z2_x1e6
    FROM s
    """,
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test — did hourly activity CHANGE between
    the same hours one week apart? — the paired nonparametric
    counterpart to welch_t2 (two independent samples) and
    mcnemar (paired binary): zero differences drop per the textbook
    procedure, |differences| rank with a deterministic (abs, signed)
    tie-break (documented: average ranks under ties are the classical
    variant; the deterministic variant keeps every quantity integer),
    W+ sums positive-difference ranks, and
    z^2 = (W+ - n(n+1)/4)^2 / (n(n+1)(2n+1)/24) clears denominators
    to (4W+ - n(n+1))^2 * 1e6 // (n(n+1)(2n+1)*2//3) — the 16/24
    factor reduced to 2/3, all integer (n(n+1)(2n+1) is divisible
    by 3... floor-composed identically on both engines either way).

    100 TB shape: hourly spine aggregate, one lag-168 self-join on
    the spine, one single-partition rank over the surviving pairs,
    1-row reduce.  Reference scope: flo has no analytics surface —
    north-star extension (SURVEY §2 Part B statistics)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .persist()  # both join sides + the h0 anchor share the spine
    )
    h0 = c.agg(F.min("h").alias("h0"))
    a = c.select(F.col("h").alias("ha"), F.col("cnt").alias("ca"))
    b = c.select(F.col("h").alias("hb"), F.col("cnt").alias("cb"))
    pair = (
        a.join(b, F.col("hb") == F.col("ha") + 168)
        .crossJoin(F.broadcast(h0))
        .filter(
            (F.col("ha") - F.col("h0") < 168)
            & (F.col("ca") != F.col("cb"))
        )
        .select((F.col("ca") - F.col("cb")).alias("d"))
    )
    r = pair.select(
        "d",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("d")), F.col("d")))
        .alias("rnk"),
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("rnk")).otherwise(0)).alias(
            "w_plus"
        ),
    )
    D = "CAST(n AS DECIMAL(38,0))"
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_pairs",
        "CAST(w_plus AS BIGINT) AS w_plus",
        f"CAST({D} * (n + 1) div 2 - w_plus AS BIGINT) AS w_minus",
        f"CAST(CASE WHEN 4 * w_plus >= {D} * (n + 1)"
        f" THEN ((4 * w_plus - {D} * (n + 1))"
        f" * (4 * w_plus - {D} * (n + 1)) * 1000000)"
        f" div ({D} * (n + 1) * (2 * n + 1) * 2 div 3)"
        f" ELSE (({D} * (n + 1) - 4 * w_plus)"
        f" * ({D} * (n + 1) - 4 * w_plus) * 1000000)"
        f" div ({D} * (n + 1) * (2 * n + 1) * 2 div 3)"
        " END AS BIGINT) AS z2_x1e6",
    )


@query(
    "runs_test_daily",
    """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT cnt AS m FROM (
        SELECT cnt, row_number() OVER (ORDER BY cnt, day) AS rn,
               count(*) OVER () AS n
        FROM d) WHERE rn = (n + 1) // 2
    ),
    lab AS (
      SELECT day, CASE WHEN cnt > med.m THEN 1 ELSE 0 END AS above
      FROM d, med WHERE cnt <> med.m
    ),
    seq AS (
      SELECT above,
             lag(above) OVER (ORDER BY day) AS prev
      FROM lab
    ),
    s AS (
      SELECT count(*) AS n,
             sum(above) AS n1,
             sum(1 - above) AS n2,
             sum(CASE WHEN prev IS NULL OR above <> prev
                 THEN 1 ELSE 0 END) AS runs
      FROM seq
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           CAST(1000000 + (2 * CAST(n1 AS HUGEINT) * n2 * 1000000)
                // (n1 + n2) AS BIGINT) AS expected_runs_x1e6
    FROM s
    """,
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test setup on the daily event counts: days
    label above/below the exact lower-median (ties to the median drop,
    textbook), maximal same-label runs count via one lag window, and
    the null expectation E[R] = 1 + 2*n1*n2/(n1+n2) lands on the
    1e-6 grid exactly — the randomness diagnostic that catches
    autocorrelated or regime-switching series where per-point tests
    can't (a trending month has FEWER runs than chance).  Observed
    vs expected comparison is the caller's; both are exact.

    100 TB shape: one day-keyed count collapses the corpus to a
    calendar spine; the median is an exact rank pick and the run
    count one ordered window over the spine.  Reference scope: flo
    has no analytics surface — north-star extension (SURVEY §2
    Part B statistics)."""
    d = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("cnt"))
        .persist()  # median pick + labeling share the spine
    )
    med = (
        d.select(
            "cnt",
            F.row_number()
            .over(Window.orderBy("cnt", "day"))
            .alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("cnt").alias("m"))
    )
    lab = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("cnt") != F.col("m"))
        .select(
            "day",
            F.when(F.col("cnt") > F.col("m"), 1).otherwise(0).alias(
                "above"
            ),
        )
    )
    seq = lab.select(
        "above", F.lag("above").over(Window.orderBy("day")).alias("prev")
    )
    s = seq.agg(
        F.count("*").alias("n"),
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("above") != F.col("prev")),
                1,
            ).otherwise(0)
        ).alias("runs"),
    )
    return s.selectExpr(
        "CAST(n1 AS BIGINT) AS n_above",
        "CAST(n2 AS BIGINT) AS n_below",
        "CAST(runs AS BIGINT) AS n_runs",
        "CAST(1000000 + (2 * CAST(n1 AS DECIMAL(38,0)) * n2 * 1000000)"
        " div (n1 + n2) AS BIGINT) AS expected_runs_x1e6",
    )


@query(
    "cochrans_q_event_types",
    """
    WITH m AS (
      SELECT user_id, event_type, 1 AS hit
      FROM events GROUP BY user_id, event_type
    ),
    k AS (SELECT count(DISTINCT event_type) AS k FROM m),
    rows_ AS (
      SELECT user_id, count(*) AS r FROM m GROUP BY user_id
    ),
    keep AS (
      SELECT rows_.user_id, rows_.r FROM rows_, k
      WHERE rows_.r > 0 AND rows_.r < k.k
    ),
    cols AS (
      SELECT m.event_type, count(*) AS c
      FROM m JOIN keep ON keep.user_id = m.user_id
      GROUP BY m.event_type
    ),
    s AS (
      SELECT (SELECT max(k) FROM k) AS k,
             (SELECT count(*) FROM keep) AS n_kept,
             (SELECT sum(CAST(c AS HUGEINT) * c) FROM cols) AS c2,
             (SELECT sum(c) FROM cols) AS cs,
             (SELECT sum(r) FROM keep) AS rs,
             (SELECT sum(CAST(r AS HUGEINT) * r) FROM keep) AS r2
    )
    SELECT CAST(k AS BIGINT) AS k_treatments,
           CAST(n_kept AS BIGINT) AS n_informative_users,
           CAST((k - 1) * (k * c2 - CAST(cs AS HUGEINT) * cs)
                  * 1000000 // (k * CAST(rs AS HUGEINT) - r2)
                AS BIGINT) AS q_x1e6
    FROM s
    """,
)
def cochrans_q_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran's Q — do the event types differ in REACH (the fraction
    of users who perform them at least once)? — the k-treatment
    generalization of McNemar on matched binary outcomes,
    ENGINE-EXACT: users are blocks, each type a binary treatment,
    uninformative all-0/all-k rows drop per the textbook (they cannot
    discriminate), and Q = (k-1)[k*sum(C_j^2) - (sum C_j)^2] /
    [k*sum(R_i) - sum(R_i^2)] is a pure rational of integer row/
    column sums — one truncating division onto the 1e-6 grid, no
    float anywhere (compare against chi^2_{k-1}).

    100 TB shape: one (user, type) distinct collapse, one row-sum and
    one column-sum aggregate over the reduced matrix, a 1-row reduce
    — nothing corpus-scale moves twice.  Reference scope: flo has no
    analytics surface — north-star extension (SURVEY §2 Part B
    statistics)."""
    m = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .persist()  # k, row sums, and column sums share the matrix
    )
    k = m.select("event_type").distinct().count()  # O(types) metadata
    rows = m.groupBy("user_id").agg(F.count("*").alias("r"))
    keep = rows.filter((F.col("r") > 0) & (F.col("r") < k)).persist()
    cols = (
        m.join(keep.select("user_id"), "user_id")
        .groupBy("event_type")
        .agg(F.count("*").alias("c"))
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    cagg = cols.agg(
        F.sum(d("c") * F.col("c")).alias("c2"),
        F.sum("c").alias("cs"),
    )
    ragg = keep.agg(
        F.count("*").alias("n_kept"),
        F.sum("r").alias("rs"),
        F.sum(d("r") * F.col("r")).alias("r2"),
    )
    return (
        cagg.crossJoin(ragg)
        .selectExpr(
            f"CAST({k} AS BIGINT) AS k_treatments",
            "CAST(n_kept AS BIGINT) AS n_informative_users",
            f"CAST(({k} - 1) * ({k} * c2 - CAST(cs AS DECIMAL(38,0))"
            f" * cs) * 1000000 div ({k} * CAST(rs AS DECIMAL(38,0))"
            " - r2) AS BIGINT) AS q_x1e6",
        )
    )


@query(
    "dispersion_fano_by_type",
    """
    WITH c AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, count(*) AS n, sum(cnt) AS sm,
             sum(CAST(cnt AS HUGEINT) * cnt) AS q
      FROM c GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(sm AS BIGINT) AS n_events,
           CAST((n * q - CAST(sm AS HUGEINT) * sm) * 1000000
                // ((n - 1) * CAST(sm AS HUGEINT)) AS BIGINT)
             AS fano_x1e6,
           CAST((n * q - CAST(sm AS HUGEINT) * sm) * 1000000
                // (CAST(sm AS HUGEINT) * sm) AS BIGINT)
             AS cv2_x1e6
    FROM s
    """,
)
def dispersion_fano_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burstiness diagnostics per event type, ENGINE-EXACT: the Fano
    factor (index of dispersion, sample variance over mean =
    (nQ - S^2)/((n-1)S)) and the squared coefficient of variation
    ((nQ - S^2)/S^2, the n/(n-1) factor left to the caller) of the
    hourly arrival counts — both pure rationals of integer moments,
    one truncating division each onto the 1e-6 grid.  Fano = 1e6 is
    the Poisson baseline: above means bursty arrivals (provision for
    peaks, batch the ingestion), below means regular (smaller
    buffers) — the capacity-planning statistic for an event store.

    100 TB shape: one (type, hour) map-side-combinable count, one
    per-type moment reduce of the spine — nothing corpus-scale moves
    twice.  Reference scope: flo ingests exactly these arrival
    streams; the diagnostic is the north-star analytics extension
    (SURVEY §2 Part B statistics)."""
    c = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("cnt"))
    )
    d = lambda col: F.col(col).cast("decimal(38,0)")
    s = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("sm"),
        F.sum(d("cnt") * F.col("cnt")).alias("q"),
    )
    return s.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_hours",
        "CAST(sm AS BIGINT) AS n_events",
        "CAST((n * q - CAST(sm AS DECIMAL(38,0)) * sm) * 1000000"
        " div ((n - 1) * CAST(sm AS DECIMAL(38,0))) AS BIGINT)"
        " AS fano_x1e6",
        "CAST((n * q - CAST(sm AS DECIMAL(38,0)) * sm) * 1000000"
        " div (CAST(sm AS DECIMAL(38,0)) * sm) AS BIGINT)"
        " AS cv2_x1e6",
    )


@query(
    "durbin_watson_trend_residuals",
    """
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    x AS (
      SELECT row_number() OVER (ORDER BY h) AS t, cnt,
             count(*) OVER () AS n
      FROM c
    ),
    s AS (
      SELECT max(n) AS n, sum(t) AS sx, sum(cnt) AS sy,
             sum(CAST(t AS HUGEINT) * t) AS sxx,
             sum(CAST(t AS HUGEINT) * cnt) AS sxy
      FROM x
    ),
    fit AS (
      SELECT n, sx, sy,
             n * sxx - CAST(sx AS HUGEINT) * sx AS det,
             n * sxy - CAST(sx AS HUGEINT) * sy AS bnum
      FROM s
    ),
    e AS (
      -- det-scaled residual: e'_t = det*y_t - bnum*t - anum, with
      -- anum = (det*Sy - bnum*Sx)/n folded in as n*e'_t to stay
      -- integer: en_t = n*det*y_t - n*bnum*t - (det*Sy - bnum*Sx)
      SELECT x.t,
             fit.n * fit.det * x.cnt - fit.n * fit.bnum * x.t
               - (fit.det * fit.sy - fit.bnum * fit.sx) AS en
      FROM x, fit
    ),
    dw AS (
      SELECT sum(en * en) AS sse,
             sum(CASE WHEN prev IS NULL THEN 0
                 ELSE (en - prev) * (en - prev) END) AS sdd
      FROM (SELECT en, lag(en) OVER (ORDER BY t) AS prev FROM e)
    )
    SELECT CAST((SELECT max(n) FROM s) AS BIGINT) AS n_hours,
           CAST((sdd * 1000000) // sse AS BIGINT) AS dw_x1e6
    FROM dw
    """,
)
def durbin_watson_trend_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durbin-Watson autocorrelation statistic of the residuals from
    the OLS hourly trend — the regression DIAGNOSTIC that says
    whether the trend entries' error terms are independent (DW ~ 2)
    or positively autocorrelated (DW -> 0, the usual traffic case
    that invalidates naive confidence intervals) — ENGINE-EXACT: the
    residuals are scaled by n*det (det = n*Sxx - Sx^2), making
    en_t = n*det*y_t - n*bnum*t - (det*Sy - bnum*Sx) an exact
    integer, and DW = sum(diff^2)/sum(e^2) is scale-invariant so the
    n*det factor cancels — one truncating division onto the 1e-6
    grid, decimal(38,0)/HUGEINT throughout.

    100 TB shape: hourly spine aggregate, one single-row moment
    reduce, one broadcast of the fit back over the spine, one lag
    window — all spine-sized after the first aggregate.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B statistics, the diagnostic for
    regression_price_quantity / holt_linear_trend)."""
    c = (
        load(spark, sf_dir, "events")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("cnt"))
    )
    x = c.select(
        F.row_number().over(Window.orderBy("h")).alias("t"),
        "cnt",
        F.count("*").over(Window.partitionBy()).alias("n"),
    ).persist()  # moment reduce + residual pass share the spine
    d = lambda col: F.col(col).cast("decimal(38,0)")
    s = x.agg(
        F.max("n").alias("n"),
        F.sum("t").alias("sx"),
        F.sum("cnt").alias("sy"),
        F.sum(d("t") * F.col("t")).alias("sxx"),
        F.sum(d("t") * F.col("cnt")).alias("sxy"),
    )
    fit = s.selectExpr(
        "n",
        "sx",
        "sy",
        "n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS det",
        "n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS bnum",
    )
    e = (
        x.select("t", "cnt")
        .crossJoin(F.broadcast(fit))
        .selectExpr(
            "t",
            "n * det * cnt - n * bnum * t - (det * sy - bnum * sx)"
            " AS en",
        )
    )
    lagw = Window.orderBy("t")
    dw = e.select(
        "en", F.lag("en").over(lagw).alias("prev")
    ).agg(
        F.sum(F.col("en") * F.col("en")).alias("sse"),
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise((F.col("en") - F.col("prev")) * (F.col("en") - F.col("prev")))
        ).alias("sdd"),
    )
    n_row = x.agg(F.max("n").alias("n_hours"))
    return dw.crossJoin(F.broadcast(n_row)).selectExpr(
        "CAST(n_hours AS BIGINT) AS n_hours",
        "CAST((sdd * 1000000) div sse AS BIGINT) AS dw_x1e6",
    )


@query(
    "srm_guardrail_check",
    """
    WITH assign AS (
      SELECT CASE WHEN (o_orderkey * 2654435761) % 4294967296
                       % 100 < 50 THEN 'A' ELSE 'B' END AS arm
      FROM orders
    ),
    s AS (
      SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS nb
      FROM assign
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(((na - nb) * (na - nb) * 1000000) // (na + nb)
                AS BIGINT) AS chi2_x1e6,
           (na - nb) * (na - nb) * 1000000
             > 3841459 * (na + nb) AS srm_alarm_005
    FROM s
    """,
)
def srm_guardrail_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio Mismatch guardrail — the first thing every A/B
    platform checks before reading any metric: orders assign to arms
    A/B by the deterministic multiplicative (Knuth/Fibonacci) hash at
    a 50/50 target, and the one-degree chi-square against the target
    split, chi^2 = (n_a - n_b)^2 / (n_a + n_b), evaluates as exact
    integers with the alpha=0.05 alarm cross-multiplied against
    1.96^2 — an alarm here means the assignment or logging pipeline
    is broken and every downstream test (welch_t2, diff_in_diff,
    mcnemar) is void.  The same deterministic-hash discipline as
    train_val_test_split, here with its statistical acceptance test
    attached.

    100 TB shape: one map-side-combinable 2-counter aggregate over
    the scan; the verdict is a 1-row projection.  Reference scope:
    flo has no analytics surface — north-star extension (SURVEY §2
    Part B pipeline hygiene)."""
    assign = load(spark, sf_dir, "orders").select(
        F.when(
            F.expr(
                "(o_orderkey * 2654435761) % 4294967296 % 100 < 50"
            ),
            "A",
        )
        .otherwise("B")
        .alias("arm")
    )
    s = assign.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("nb"),
    )
    return s.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        "CAST(((na - nb) * (na - nb) * 1000000) div (na + nb)"
        " AS BIGINT) AS chi2_x1e6",
        "(na - nb) * (na - nb) * 1000000 > 3841459 * (na + nb)"
        " AS srm_alarm_005",
    )


@query(
    "mann_whitney_u_sources",
    """
    WITH pool AS (
      SELECT source, n_chars, doc_id FROM documents
      WHERE source IN ('src0', 'src1')
    ),
    r AS (
      SELECT source,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
      FROM pool
    ),
    s AS (
      SELECT count(*) FILTER (WHERE source = 'src0') AS n1,
             count(*) FILTER (WHERE source = 'src1') AS n2,
             sum(CASE WHEN source = 'src0' THEN rnk ELSE 0 END) AS r1
      FROM r
    ),
    u AS (
      SELECT n1, n2,
             CAST(r1 - CAST(n1 AS HUGEINT) * (n1 + 1) // 2 AS HUGEINT)
               AS u1
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_1,
           CAST(n2 AS BIGINT) AS n_2,
           CAST(u1 AS BIGINT) AS u_1,
           CAST(CAST(n1 AS HUGEINT) * n2 - u1 AS BIGINT) AS u_2,
           CAST(((2 * u1 - CAST(n1 AS HUGEINT) * n2)
                 * (2 * u1 - CAST(n1 AS HUGEINT) * n2) * 3000000)
                // (CAST(n1 AS HUGEINT) * n2 * (n1 + n2 + 1))
                AS BIGINT) AS z2_x1e6
    FROM u
    """,
)
def mann_whitney_u_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — do two corpus sources draw
    document lengths from the same distribution? — the INDEPENDENT-
    samples nonparametric counterpart to wilcoxon_signed_rank (paired)
    and welch_t2 (parametric, r8): pooled ranks with the deterministic
    (value, doc_id) tie-break (documented: midranks under ties are the
    classical variant; the deterministic variant keeps every quantity
    integer), R1 sums src0's ranks, U1 = R1 - n1(n1+1)/2,
    U2 = n1*n2 - U1 (the identity is asserted by construction), and
    the normal approximation clears to integers:
    z^2 = (U1 - n1*n2/2)^2 / (n1*n2*(N+1)/12)
        = (2*U1 - n1*n2)^2 * 3 // (n1*n2*(N+1))
    on the 1e6 grid — numerator is a square (nonnegative) and the
    denominator positive, so DuckDB's floor // and Spark's truncating
    div agree; premise pinned in tests/test_stats_exact.py.  Squares
    run in DECIMAL(38,0)/HUGEINT ((n1*n2)^2*3e6 passes 2^63 well
    below bench SF; ANSI raises rather than wraps).

    100 TB shape: selective two-source filter pushed to the scan, one
    single-partition rank over the surviving pool (two sources out of
    the corpus — bounded; the same documented caveat as the other
    rank-statistic entries), 1-row reduce.  Reference scope: flo has
    no analytics surface — north-star extension (SURVEY §2 Part B
    statistics)."""
    pool = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", "n_chars", "doc_id")
    )
    r = pool.select(
        "source",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("rnk"),
    )
    s = r.agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("n1"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("n2"),
        F.sum(
            F.when(F.col("source") == "src0", F.col("rnk")).otherwise(0)
        ).alias("r1"),
    )
    D = "CAST(n1 AS DECIMAL(38,0))"
    u = s.selectExpr(
        "n1",
        "n2",
        f"CAST(r1 - {D} * (n1 + 1) div 2 AS DECIMAL(38,0)) AS u1",
    )
    return u.selectExpr(
        "CAST(n1 AS BIGINT) AS n_1",
        "CAST(n2 AS BIGINT) AS n_2",
        "CAST(u1 AS BIGINT) AS u_1",
        f"CAST({D} * n2 - u1 AS BIGINT) AS u_2",
        f"CAST(((2 * u1 - {D} * n2) * (2 * u1 - {D} * n2) * 3000000)"
        f" div ({D} * n2 * (n1 + n2 + 1)) AS BIGINT) AS z2_x1e6",
    )


@query(
    "cramer_von_mises_two_sample",
    """
    WITH pool AS (
      SELECT source, n_chars, doc_id FROM documents
      WHERE source IN ('src0', 'src1')
    ),
    r AS (
      SELECT source,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS wrk
      FROM pool
    ),
    s AS (
      SELECT count(*) FILTER (WHERE source = 'src0') AS n,
             count(*) FILTER (WHERE source = 'src1') AS m,
             sum(CASE WHEN source = 'src0'
                 THEN CAST(rnk - wrk AS HUGEINT) * (rnk - wrk)
                 ELSE 0 END) AS sx,
             sum(CASE WHEN source = 'src1'
                 THEN CAST(rnk - wrk AS HUGEINT) * (rnk - wrk)
                 ELSE 0 END) AS sy
      FROM r
    ),
    u AS (
      SELECT n, m,
             CAST(n AS HUGEINT) * sx + CAST(m AS HUGEINT) * sy AS uu
      FROM s
    ),
    t AS (
      SELECT n, m, uu,
             6 * uu - CAST(n AS HUGEINT) * m
                      * (4 * CAST(n AS HUGEINT) * m - 1) AS num,
             6 * CAST(n AS HUGEINT) * m * (n + m) AS den
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_x,
           CAST(m AS BIGINT) AS n_y,
           CAST(uu AS BIGINT) AS u_stat,
           CAST(CASE WHEN num >= 0 THEN num * 1000000 // den
                ELSE -((-num) * 1000000 // den) END AS BIGINT) AS t_x1e6
    FROM t
    """,
)
def cramer_von_mises_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises two-sample test (r8) — do two corpus sources
    draw document lengths from the same distribution, weighting the
    WHOLE CDF gap rather than its max (KS, ks_drift_priority) or its
    location shift (Mann-Whitney)?  Anderson's rank form keeps it
    integer-exact: with pooled ranks r_i of sample X and s_j of Y
    (deterministic (value, doc_id) tie-break, same documented variant
    as the other rank entries) and within-sample ranks i, j,
    U = n*Σ(r_i - i)^2 + m*Σ(s_j - j)^2 and
    T = U/(nmN) - (4nm - 1)/(6N) = (6U - nm(4nm-1)) / (6nmN),
    emitted on the 1e6 grid with an explicit truncate-toward-zero
    CASE so DuckDB's floor-div and Spark's trunc-div agree on the
    (tiny-negative-possible) numerator; the rank form's equality with
    the Σ(F_n - G_m)^2 ECDF definition is premise-pinned in
    tests/test_stats_exact.py.  Products run in DECIMAL(38,0)/
    HUGEINT (6U*1e6 passes 2^63 at corpus scale; ANSI raises rather
    than wraps).

    100 TB shape: selective two-source filter pushed to the scan, one
    single-partition rank over the bounded pool plus one per-source
    partitioned rank, 1-row reduce.  Reference scope: flo has no
    analytics surface — north-star extension (SURVEY §2 Part B
    statistics)."""
    pool = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", "n_chars", "doc_id")
    )
    r = pool.select(
        "source",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("rnk"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("wrk"),
    )
    D38 = "DECIMAL(38,0)"
    s = r.selectExpr(
        "source",
        f"CAST(rnk - wrk AS {D38}) * (rnk - wrk) AS d2",
    ).agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("n"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("m"),
        F.sum(F.when(F.col("source") == "src0", F.col("d2")).otherwise(0)).alias("sx"),
        F.sum(F.when(F.col("source") == "src1", F.col("d2")).otherwise(0)).alias("sy"),
    )
    u = s.selectExpr(
        "n",
        "m",
        f"CAST(n AS {D38}) * sx + CAST(m AS {D38}) * sy AS uu",
    )
    t = u.selectExpr(
        "n",
        "m",
        "uu",
        f"6 * uu - CAST(n AS {D38}) * m * (4 * CAST(n AS {D38}) * m - 1) AS num",
        f"6 * CAST(n AS {D38}) * m * (n + m) AS den",
    )
    return t.selectExpr(
        "CAST(n AS BIGINT) AS n_x",
        "CAST(m AS BIGINT) AS n_y",
        "CAST(uu AS BIGINT) AS u_stat",
        "CAST(CASE WHEN num >= 0 THEN num * 1000000 div den"
        " ELSE -((-num) * 1000000 div den) END AS BIGINT) AS t_x1e6",
    )


@query(
    "brown_forsythe_variance",
    """
    WITH v AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT) AS y,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    r AS (
      SELECT grp, y,
             row_number() OVER (PARTITION BY grp
                                ORDER BY y, l_orderkey, l_linenumber)
               AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    med AS (
      SELECT grp,
             sum(y * CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END) AS m2
      FROM r
      WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY grp
    ),
    z AS (
      SELECT v.grp, abs(2 * v.y - med.m2) AS z
      FROM v JOIN med ON v.grp = med.grp
    ),
    g AS (
      SELECT grp, count(*) AS n,
             sum(CAST(z AS HUGEINT)) AS s,
             sum(CAST(z AS HUGEINT) * z) AS q
      FROM z GROUP BY grp
    ),
    t AS (
      SELECT count(*) AS k, sum(n) AS nn,
             sum(s) AS st, sum(q) AS qt,
             sum(s * s // n) AS sb
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           CAST((sb - st * st // nn) // 1000000000000 AS BIGINT)
             AS ssb_div1e12,
           CAST((qt - sb) // 1000000000000 AS BIGINT) AS ssw_div1e12,
           CAST(((sb - st * st // nn) * (nn - k) * 1000000)
                // ((k - 1) * (qt - sb)) AS BIGINT) AS f_x1e6
    FROM t
    """,
)
def brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (r8) — do the return-flag groups have EQUAL
    SPREAD of extended price? — the robust (median-centered) Levene
    variant, completing the anova family: anova_f_returnflag compares
    group MEANS, this compares group dispersions, and both fold with
    the same engine-exact k-group discipline.  Each group's exact
    median is taken on the doubled grid (m2 = the sum of the two
    middle order statistics, or twice the single middle — so no .5
    ever appears and |2y - m2| stays integer; F is scale-invariant so
    the doubling cancels), then the one-way ANOVA F of z = |2y - m2|:
    SSB = sum(S_g^2 div n_g) - S^2 div N, SSW = Q - sum(S_g^2 div
    n_g) (floored identically on both engines, the anova_f
    discipline), F = (SSB/(k-1))/(SSW/(N-k)) cross-multiplied into
    one truncating division on the 1e-6 grid.  z^2 passes 2^63 on the
    money grid, so Q accumulates in DECIMAL(38,0)/HUGEINT (ANSI
    raises rather than wraps).

    100 TB shape: the exact per-group median costs one rank window
    partitioned by the k=3 group key (the documented exact-order-
    statistic caveat, same as exact_percentile_suite: k partitions of
    N/k rows each; at cluster scale swap in percentile_approx or a
    two-pass histogram median and keep the fold); after that, ONE
    map-side-combinable aggregate and a k-row combine — q6's shape.
    Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B statistics)."""
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("grp"),
        money_scaled(F.col("l_extendedprice")).alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("grp").orderBy("y", "l_orderkey", "l_linenumber")
    r = v.select(
        "grp",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    # m2 as a second window over the SAME grp partitioning (r9):
    # the per-group doubled median previously aggregated into a
    # 3-row frame and broadcast-joined back onto a re-derived v,
    # scanning lineitem twice; windows partitioned by the same key
    # share one exchange (guide §2.4), so the whole test is now a
    # single scan + single grp shuffle.  Same m2 values (sum of the
    # flagged middle order statistics), same z multiset.
    m2 = F.sum(
        F.when(
            F.expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"),
            F.col("y") * F.when(F.col("n") % 2 == 1, 2).otherwise(1),
        ).otherwise(F.lit(0))
    ).over(Window.partitionBy("grp"))
    d = lambda c: c.cast("decimal(38,0)")
    z = r.select("grp", F.abs(2 * F.col("y") - m2).alias("z"))
    g = z.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(d(F.col("z"))).alias("s"),
        F.sum(d(F.col("z")) * F.col("z")).alias("q"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        # Spark's div lowers to a LONG result and overflows on s^2/n;
        # subtracting the remainder first makes the decimal division
        # exact (floor for nonnegative operands, matching DuckDB //) —
        # the anova_f discipline
        F.sum(
            F.expr("CAST((s * s - (s * s) % n) / n AS DECIMAL(38,0))")
        ).alias("sb"),
    )
    parts = t.selectExpr(
        "k",
        "nn",
        "sb - CAST((st * st - (st * st) % nn) / nn AS DECIMAL(38,0))"
        " AS ssb",
        "qt - sb AS ssw",
    )
    return parts.selectExpr(
        "CAST(k AS BIGINT) AS k_groups",
        "CAST(nn AS BIGINT) AS n_total",
        # SSB/SSW live on the (2x money-grid)^2 scale and pass 2^63 at
        # bench SF already — report them div 1e12 (floor-composed
        # identically on both engines); F uses the full values
        "CAST(ssb div 1000000000000 AS BIGINT) AS ssb_div1e12",
        "CAST(ssw div 1000000000000 AS BIGINT) AS ssw_div1e12",
        "CAST((ssb * (nn - k) * 1000000) div (ssw * (k - 1))"
        " AS BIGINT) AS f_x1e6",
    )


@query(
    "permutation_test_sources",
    """
    WITH pool AS (
      SELECT doc_id, n_chars,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    obs AS (
      SELECT sum(is_a) AS n_a, sum(n_chars) AS s_tot,
             abs(2 * sum(CASE WHEN is_a = 1 THEN n_chars ELSE 0 END)
                 - sum(n_chars)) AS t_obs
      FROM pool
    ),
    reps AS (SELECT unnest(generate_series(1, 19)) AS r),
    h AS (
      SELECT r, doc_id, n_chars,
             ((48271 + 1009 * r) * doc_id + 7919 * r) % 1000003 AS hv
      FROM pool, reps
    ),
    ranked AS (
      SELECT r, n_chars,
             row_number() OVER (PARTITION BY r ORDER BY hv, doc_id)
               AS rn
      FROM h
    ),
    tr AS (
      SELECT r,
             abs(2 * sum(CASE WHEN rn <= (SELECT n_a FROM obs)
                         THEN n_chars ELSE 0 END)
                 - (SELECT s_tot FROM obs)) AS t_r
      FROM ranked GROUP BY r
    ),
    cnt AS (
      SELECT count(*) AS b,
             sum(CASE WHEN t_r >= (SELECT t_obs FROM obs)
                 THEN 1 ELSE 0 END) AS n_ge
      FROM tr
    )
    SELECT CAST((SELECT t_obs FROM obs) AS BIGINT) AS t_obs,
           CAST(b AS BIGINT) AS n_replicates,
           CAST(n_ge AS BIGINT) AS n_ge,
           CAST((1 + n_ge) * 1000000 // (b + 1) AS BIGINT) AS p_x1e6
    FROM cnt
    """,
)
def permutation_test_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced permutation test (r8) — is the src0-vs-src1 length
    difference larger than chance relabelings produce?  The
    distribution-free EXACT-inference sibling of
    jackknife_block_variance, closing the resampling family; where
    Mann-Whitney ranks and Welch assumes moments, the permutation test
    re-labels the ACTUAL pool.  Randomness is replaced by a
    DETERMINISTIC permutation family both engines replay bit-for-bit:
    replicate r orders the pool by h_r(doc) = ((48271 + 1009r)·doc_id
    + 7919r) mod 1000003 (tie-break doc_id) and labels the first n_a
    as group A — exactly balanced by construction, so the statistic
    |S_A - S_B| = |2·S_A - S_tot| compares cleanly across replicates.
    Monte-Carlo p-value with the observed labeling included:
    p = (1 + #{T_r >= T_obs}) / (B+1), B = 19, emitted on the 1e6
    grid (all counts; floor == trunc).

    100 TB shape: the pool is the selective two-source slice; the 19
    replicates explode the POOL (19x on the slice, never the corpus),
    each ranked within its own partition (bounded, same documented
    rank caveat as the other rank entries), then map-side-combinable
    sums.  Reference scope: flo has no analytics surface — north-star
    extension (SURVEY §2 Part B statistics)."""
    # pool slice checkpointed (r9 session 2): the observed statistic
    # and the 19-replicate explode both fork it, scanning documents
    # twice; the checkpointed frame is the 3-int-column projection of
    # the two-source slice (no text), so one filtered scan feeds both
    pool = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select(
            "doc_id",
            "n_chars",
            F.when(F.col("source") == "src0", 1).otherwise(0).alias("is_a"),
        )
        .localCheckpoint()
    )
    obs = pool.agg(
        F.sum("is_a").alias("n_a"),
        F.sum("n_chars").alias("s_tot"),
        F.abs(
            2 * F.sum(F.when(F.col("is_a") == 1, F.col("n_chars")).otherwise(0))
            - F.sum("n_chars")
        ).alias("t_obs"),
    )
    h = pool.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr("sequence(1, 19)")).alias("r"),
    ).selectExpr(
        "r",
        "n_chars",
        "doc_id",
        "((48271 + 1009 * r) * doc_id + 7919 * r) % 1000003 AS hv",
    )
    ranked = h.select(
        "r",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("r").orderBy("hv", "doc_id"))
        .alias("rn"),
    )
    tr = (
        ranked.crossJoin(F.broadcast(obs))
        .groupBy("r")
        .agg(
            F.abs(
                2
                * F.sum(
                    F.when(F.col("rn") <= F.col("n_a"), F.col("n_chars"))
                    .otherwise(0)
                )
                - F.max("s_tot")
            ).alias("t_r"),
            F.max("t_obs").alias("t_obs"),
        )
    )
    cnt = tr.agg(
        F.max("t_obs").alias("t_obs"),
        F.count("*").alias("b"),
        F.sum(
            (F.col("t_r") >= F.col("t_obs")).cast("long")
        ).alias("n_ge"),
    )
    return cnt.selectExpr(
        "CAST(t_obs AS BIGINT) AS t_obs",
        "CAST(b AS BIGINT) AS n_replicates",
        "CAST(n_ge AS BIGINT) AS n_ge",
        "CAST((1 + n_ge) * 1000000 div (b + 1) AS BIGINT) AS p_x1e6",
    )


@query(
    "cuped_variance_reduction",
    """
    WITH split AS (
      SELECT (SELECT (epoch_ms(min(ts)) + epoch_ms(max(ts))) // 2
              FROM events) AS mid_ms
    ),
    per_user AS (
      SELECT user_id,
             sum(CASE WHEN epoch_ms(ts) < s.mid_ms THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN epoch_ms(ts) >= s.mid_ms THEN 1 ELSE 0 END) AS y
      FROM events CROSS JOIN split s
      GROUP BY user_id, s.mid_ms
    ),
    moments AS (
      SELECT count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2,
           CAST(n * sxx - sx * sx AS BIGINT) AS varx_n2,
           CAST(n * syy - sy * sy AS BIGINT) AS vary_n2,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx) * 1e4 + 0.5) AS BIGINT)
             AS theta_x1e4,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      * (n * sxy - sx * sy)
                      / (n * sxx - sx * sx)
                      / (n * syy - sy * sy) * 1e4 + 0.5) AS BIGINT)
             AS rho2_x1e4
    FROM moments
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the
    pre-experiment-covariate adjustment every mature A/B platform
    applies: ``y_adj = y - theta*(x - mean_x)`` with
    theta = cov(x,y)/var(x) shrinks metric variance by rho^2, so
    experiments need 1/(1-rho^2) fewer samples): the covariate is
    each user's PRE-period activity (events before the epoch-millis
    midpoint), the metric their POST-period activity; all moment
    sums (n, sums, cross products) are EXACT integers (per-user
    counts are small, so n*sxy-type terms stay far inside int64 —
    stated bound in the entry), surfaced raw in the hash alongside
    the single-rounding theta and rho^2 — the variance-reduction
    fraction itself.

    100 TB shape: one map-side-combinable per-user reduction, one
    single-row moment aggregate — the same two-pass-free shape as
    the OLS entries; the period midpoint is a 1-row broadcast.
    North-star extension (SURVEY §2 stats rows; completes the A/B
    family: welch_t2 tests, srm guards, diff_in_diff identifies,
    CUPED powers)."""
    ev = load(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(unix_millis(cast(min(ts) as timestamp))"
            " + unix_millis(cast(max(ts) as timestamp))) div 2"
        ).alias("mid_ms")
    )
    per_user = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.expr("unix_millis(cast(ts as timestamp))")
                    < F.col("mid_ms"),
                    1,
                ).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.expr("unix_millis(cast(ts as timestamp))")
                    >= F.col("mid_ms"),
                    1,
                ).otherwise(0)
            ).alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.expr("n * sxy - sx * sy").cast("long").alias("cov_n2"),
        F.expr("n * sxx - sx * sx").cast("long").alias("varx_n2"),
        F.expr("n * syy - sy * sy").cast("long").alias("vary_n2"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (n * sxx - sx * sx) * 1e4 + 0.5) AS BIGINT)"
        ).alias("theta_x1e4"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * (n * sxy - sx * sy)"
            " / (n * sxx - sx * sx)"
            " / (n * syy - sy * sy) * 1e4 + 0.5) AS BIGINT)"
        ).alias("rho2_x1e4"),
    )


@query(
    "spearman_rho_user_metrics",
    """
    WITH u AS (
      SELECT user_id, count(*) AS activity,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS spend
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id,
             row_number() OVER (ORDER BY activity, user_id) AS ra,
             row_number() OVER (ORDER BY spend, user_id) AS rs
      FROM u
    ),
    s AS (
      SELECT count(*) AS n,
             sum((ra - rs) * (ra - rs)) AS d2
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(d2 AS BIGINT) AS sum_d2,
           CAST(1000000 - (6 * d2 * 1000000) // (n * (n * n - 1))
                AS BIGINT) AS rho_x1e6
    FROM s
    """,
)
def spearman_rho_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation via the exact FOOTRULE form
    ``rho = 1 - 6*SUM(d^2) / (n(n^2-1))`` between per-user activity
    and spend — the rational complement to
    kendall_tau_user_metrics (whose docstring notes Pearson/Spearman
    "need square roots": true only under ties — with ranks made
    DISTINCT by user_id tie-break, the classical formula is a pure
    rational, and both engines produce identical integer ranks, d^2
    sums, and the single 1e-6-grid division).  The tie-break
    convention is stated (row_number over (metric, user_id)), so the
    oracle cannot drift to midrank Spearman.

    Overflow bound, stated: 6*d^2*1e6 <= 6*n^3*1e6 needs n <= ~1e5
    users for int64 — true at every shipped SF; beyond that, reduce
    the scale factor or compute in DECIMAL.

    100 TB shape: one per-user reduction, two dimension-sized rank
    windows (user-cardinality, the quantile_normalize_sources
    caveat), one single-row aggregate — no O(n^2) pair join, which
    is exactly why Spearman complements Kendall at scale (tau's
    exact form is quadratic in users; rho's is linear after
    ranking).  North-star extension (SURVEY §2 stats rows)."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("activity"),
        F.sum(F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")).alias(
            "spend"
        ),
    )
    ranked = u.select(
        F.row_number()
        .over(Window.orderBy("activity", "user_id"))
        .alias("ra"),
        F.row_number().over(Window.orderBy("spend", "user_id")).alias("rs"),
    )
    return ranked.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("ra") - F.col("rs")) * (F.col("ra") - F.col("rs"))
        ).alias("d2"),
    ).select(
        F.col("n").cast("long").alias("n_users"),
        F.col("d2").cast("long").alias("sum_d2"),
        F.expr("1000000 - (6 * d2 * 1000000) div (n * (n * n - 1))")
        .cast("long")
        .alias("rho_x1e6"),
    )


@query(
    "overdispersion_zero_inflation",
    """
    WITH days AS (
      SELECT DISTINCT date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS d
      FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (SELECT u.user_id, d.d FROM users u CROSS JOIN days d),
    daily AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             count(*) AS n
      FROM events GROUP BY user_id, d
    ),
    dense AS (
      SELECT g.user_id, g.d, coalesce(dl.n, 0) AS n
      FROM grid g LEFT JOIN daily dl
        ON dl.user_id = g.user_id AND dl.d = g.d
    ),
    m AS (
      SELECT count(*) AS cells,
             sum(n) AS total,
             sum(n * n) AS total2,
             sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS zeros
      FROM dense
    )
    SELECT CAST(cells AS BIGINT) AS n_cells,
           CAST(total AS BIGINT) AS n_events,
           CAST(zeros AS BIGINT) AS zero_cells,
           CAST(floor((CAST(cells AS DOUBLE) * total2 - CAST(total AS DOUBLE) * total)
                      / (CAST(cells AS DOUBLE) * total) * 1e4 + 0.5)
                AS BIGINT) AS dispersion_index_x1e4,
           CAST(floor(exp(-CAST(total AS DOUBLE) / cells) * CAST(cells AS DOUBLE)
                      + 0.5) AS BIGINT) AS poisson_expected_zeros,
           CAST(floor((CAST(zeros AS DOUBLE)
                       / (exp(-CAST(total AS DOUBLE) / cells) * cells))
                      * 1e4 + 0.5) AS BIGINT) AS zero_inflation_x1e4
    FROM m
    """,
)
def overdispersion_zero_inflation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COUNT-MODEL DIAGNOSTICS — overdispersion index and
    zero-inflation ratio on the DENSE user x day activity grid (the
    two checks that decide Poisson vs negative-binomial vs
    zero-inflated models, run before anyone fits one): the dense
    grid includes every user's zero-activity days (the silent-user
    mass a sparse aggregation drops — the same dense-spine
    discipline as chain_ladder), moments are exact integer sums, and
    the derived ratios — variance/mean dispersion (>1 means
    overdispersed), Poisson-expected zero count n*exp(-lambda), and
    observed/expected zero inflation — are identical float
    expressions over those integer operands, rounded once.

    100 TB shape: the grid is |users| x |days| — at dimension scale
    (1e6 users x 365 days = 4e8 cells, a normal fact size), built as
    a cross join of two REDUCED dimensions, never via the raw
    events; daily counts reduce map-side first.  North-star
    extension (SURVEY §2 stats rows; the model-selection gate in
    front of anomaly_zscore_hourly's Gaussian assumption)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
    )
    # reduce FIRST, then derive both grid dimensions from the reduced
    # (user, day) table — every user/day present in the stream appears
    # in daily, so the distincts are identical — and checkpoint it:
    # un-cut lineage re-scanned events per fork (3 scans, r9 audit;
    # now 1, with the checkpoint bounded by active cells)
    daily = ev.groupBy("user_id", "d").agg(
        F.count("*").alias("n")
    ).localCheckpoint()
    days = daily.select("d").distinct()
    users = daily.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    dense = grid.join(daily, ["user_id", "d"], "left").select(
        F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    m = dense.agg(
        F.count("*").alias("cells"),
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.col("n")).alias("total2"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0)).alias("zeros"),
    )
    return m.selectExpr(
        "CAST(cells AS BIGINT) AS n_cells",
        "CAST(total AS BIGINT) AS n_events",
        "CAST(zeros AS BIGINT) AS zero_cells",
        """CAST(floor((CAST(cells AS DOUBLE) * total2
                       - CAST(total AS DOUBLE) * total)
                      / (CAST(cells AS DOUBLE) * total) * 1e4 + 0.5)
               AS BIGINT) AS dispersion_index_x1e4""",
        """CAST(floor(exp(-CAST(total AS DOUBLE) / cells)
                      * CAST(cells AS DOUBLE) + 0.5)
               AS BIGINT) AS poisson_expected_zeros""",
        """CAST(floor((CAST(zeros AS DOUBLE)
                       / (exp(-CAST(total AS DOUBLE) / cells) * cells))
                      * 1e4 + 0.5) AS BIGINT) AS zero_inflation_x1e4""",
    )


@query(
    "ab_power_mde_grid",
    """
    WITH px AS (
      SELECT CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) // 1000000
               AS d
      FROM orders
    ),
    m AS (
      SELECT count(*) AS n, sum(d) AS s, sum(d * d) AS s2_dollars
      FROM px
    )
    SELECT CAST(g.n_per_arm AS BIGINT) AS n_per_arm,
           CAST(m.n AS BIGINT) AS n_population,
           CAST((m.n * m.s2_dollars - m.s * m.s) // (m.n * m.n)
                AS BIGINT) AS var_hundreds2,
           CAST(floor(2.8016 * sqrt(2.0 *
                      (CAST(m.n AS DOUBLE) * m.s2_dollars
                       - CAST(m.s AS DOUBLE) * m.s)
                      / m.n / m.n / g.n_per_arm) * 100 * 1e4 + 0.5)
                AS BIGINT) AS mde_dollars_x1e4
    FROM m CROSS JOIN
         (SELECT unnest([1000, 10000, 100000]) AS n_per_arm) g
    """,
)
def ab_power_mde_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B POWER ANALYSIS — the minimum detectable effect grid run
    BEFORE an experiment (the sizing step the rest of the A/B family
    assumes was done): with alpha=0.05 two-sided and 80% power,
    MDE = (z_{0.975} + z_{0.8}) * sqrt(2*sigma^2/n) =
    2.8016 * sqrt(2*var/n) per candidate arm size.  The variance of
    order value computes in HUNDRED-DOLLAR units via per-row exact scaled
    division (squared cents or even squared dollars overflow int64
    once n*s2-style cross terms appear — the empirical_bayes scale
    discipline, one notch coarser; MDE converts back to dollars
    inside the single-rounding float expression), and the z-constant sum is a
    stated literal, so both engines evaluate the identical float
    expression over identical operands with ONE final rounding per
    grid row.

    100 TB shape: one single-row moment aggregate over the fact,
    then arithmetic against a 3-row literal grid.  Completes the
    experimentation lifecycle in the catalog: ab_power sizes,
    srm guards, welch tests, CUPED powers up, diff-in-diff and the
    event study identify (SURVEY §2 stats rows)."""
    o = load(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) div 1000000"
        ).alias("d")
    )
    m = o.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.col("d") * F.col("d")).alias("s2_dollars"),
    )
    grid = spark.createDataFrame(
        [(1000,), (10000,), (100000,)], "n_per_arm int"
    )
    return m.crossJoin(F.broadcast(grid)).selectExpr(
        "CAST(n_per_arm AS BIGINT) AS n_per_arm",
        "CAST(n AS BIGINT) AS n_population",
        "CAST((n * s2_dollars - s * s) div (n * n) AS BIGINT)"
        " AS var_hundreds2",
        "CAST(floor(2.8016 * sqrt(2.0 *"
        " (CAST(n AS DOUBLE) * s2_dollars - CAST(s AS DOUBLE) * s)"
        " / n / n / n_per_arm) * 100 * 1e4 + 0.5) AS BIGINT)"
        " AS mde_dollars_x1e4",
    )


@query(
    "variance_ratio_test",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
      FROM events GROUP BY bucket
    ),
    series AS (
      SELECT cnt, row_number() OVER (ORDER BY bucket) AS i FROM hourly
    ),
    diffs AS (
      SELECT q.q, a.i,
             a.cnt - b.cnt AS dq
      FROM series a
      JOIN (SELECT unnest([1, 2, 4, 8]) AS q) q ON TRUE
      JOIN series b ON b.i = a.i - q.q
    ),
    ss AS (
      SELECT q, count(*) AS n_q, sum(dq * dq) AS ss_q
      FROM diffs GROUP BY q
    ),
    base AS (SELECT n_q AS n1, ss_q AS ss1 FROM ss WHERE q = 1)
    SELECT CAST(s.q AS BIGINT) AS q,
           CAST(s.n_q AS BIGINT) AS n_diffs,
           CAST(s.ss_q AS BIGINT) AS sum_sq_qdiff,
           CAST((s.ss_q * b.n1 * 10000) // (s.q * b.ss1 * s.n_q)
                AS BIGINT) AS vr_x1e4
    FROM ss s CROSS JOIN base b
    WHERE s.q > 1
    """,
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LO-MACKINLAY VARIANCE RATIO test (the random-walk diagnostic:
    if a series is a random walk, the variance of q-period
    differences is exactly q times the 1-period variance, so
    VR(q) = Var(d_q)/(q*Var(d_1)) = 1; VR < 1 flags mean reversion,
    VR > 1 trending) over the hourly event-count series for
    q in {2, 4, 8}: all difference sums-of-squares are EXACT
    integers (counts are ints; squared hourly diffs stay far inside
    int64), and each ratio is a single scaled integer division over
    exact operands with the sample-size correction (n1/n_q) applied
    as integer factors — nothing floats.

    100 TB shape: the corpus reduces map-side to hourly buckets; the
    lagged self-join runs on the O(hours) series per candidate q
    (metadata-sized, the Holt/Haar/DFT fold discipline).  North-star
    extension (SURVEY §2 stats rows; the random-walk member of the
    trend family: Mann-Kendall monotonicity, Durbin-Watson serial
    correlation, CUSUM level shifts, now martingale testing)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    # O(hours) indexed series materialized once (r9): the lagged
    # self-join and the base-variance fork otherwise each re-ran the
    # corpus reduction — 4 events scans
    series = hourly.select(
        "cnt", F.row_number().over(Window.orderBy("bucket")).alias("i")
    ).localCheckpoint()
    qs = spark.createDataFrame([(1,), (2,), (4,), (8,)], "q int")
    a = series.alias("a")
    b = series.select(
        F.col("cnt").alias("bcnt"), F.col("i").alias("bi")
    )
    diffs = (
        a.crossJoin(F.broadcast(qs))
        .join(b, F.col("bi") == F.col("i") - F.col("q"))
        .select("q", (F.col("cnt") - F.col("bcnt")).alias("dq"))
    )
    ss = diffs.groupBy("q").agg(
        F.count("*").alias("n_q"),
        F.sum(F.col("dq") * F.col("dq")).alias("ss_q"),
    )
    base = ss.filter(F.col("q") == 1).select(
        F.col("n_q").alias("n1"), F.col("ss_q").alias("ss1")
    )
    return (
        ss.filter(F.col("q") > 1)
        .crossJoin(F.broadcast(base))
        .select(
            F.col("q").cast("long").alias("q"),
            F.col("n_q").cast("long").alias("n_diffs"),
            F.col("ss_q").cast("long").alias("sum_sq_qdiff"),
            F.expr("(ss_q * n1 * 10000) div (q * ss1 * n_q)")
            .cast("long")
            .alias("vr_x1e4"),
        )
    )


@query(
    "cronbach_alpha_reliability",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS i1,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS i2,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS i3
      FROM events GROUP BY bucket
    ),
    m AS (
      SELECT count(*) AS n,
             sum(i1) AS s1, sum(i2) AS s2, sum(i3) AS s3,
             sum(i1 * i1) AS q1, sum(i2 * i2) AS q2, sum(i3 * i3) AS q3,
             sum((i1 + i2 + i3) * (i1 + i2 + i3)) AS qt,
             sum(i1 + i2 + i3) AS st
      FROM hourly
    ),
    v AS (
      SELECT n,
             (n * q1 - s1 * s1) + (n * q2 - s2 * s2)
               + (n * q3 - s3 * s3) AS sum_item_var_n2,
             n * qt - st * st AS total_var_n2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(sum_item_var_n2 AS BIGINT) AS sum_item_var_n2,
           CAST(total_var_n2 AS BIGINT) AS total_var_n2,
           CAST((3 * (total_var_n2 - sum_item_var_n2) * 1000000)
                // (2 * total_var_n2) AS BIGINT) AS alpha_x1e6
    FROM v
    """,
)
def cronbach_alpha_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA — internal-consistency reliability of a
    multi-item scale (psychometrics' workhorse, equally at home
    grading whether K metrics measure one underlying construct:
    alpha = k/(k-1) * (1 - sum(item variances)/variance(total));
    high alpha means the items co-move — here, whether hourly click
    / view / signup volumes track one underlying activity level):
    every variance is the n^2-scaled integer co-moment
    (n*sum(x^2) - sum(x)^2 — the CUPED discipline), the n^2 factors
    cancel in the ratio, and alpha itself is ONE exact scaled
    integer division with the k/(k-1) = 3/2 factor folded in as
    integers.  The raw variance components hash alongside so the
    estimator's inputs are pinned, not just its output.

    100 TB shape: one hourly three-column reduction, one single-row
    moment aggregate, scalar integer algebra.  North-star extension
    (SURVEY §2 stats rows; opens the measurement-reliability family
    beside cohens_kappa_langid's inter-rater agreement)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"i{j + 1}")
            for j, t in enumerate(("click", "view", "signup"))
        ]
    )
    m = hourly.agg(
        F.count("*").alias("n"),
        *[F.sum(f"i{j}").alias(f"s{j}") for j in (1, 2, 3)],
        *[
            F.sum(F.col(f"i{j}") * F.col(f"i{j}")).alias(f"q{j}")
            for j in (1, 2, 3)
        ],
        F.sum(
            (F.col("i1") + F.col("i2") + F.col("i3"))
            * (F.col("i1") + F.col("i2") + F.col("i3"))
        ).alias("qt"),
        F.sum(F.col("i1") + F.col("i2") + F.col("i3")).alias("st"),
    )
    v = m.selectExpr(
        "n",
        "(n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3)"
        " AS sum_item_var_n2",
        "n * qt - st * st AS total_var_n2",
    )
    return v.selectExpr(
        "CAST(n AS BIGINT) AS n_obs",
        "CAST(sum_item_var_n2 AS BIGINT) AS sum_item_var_n2",
        "CAST(total_var_n2 AS BIGINT) AS total_var_n2",
        "CAST((3 * (total_var_n2 - sum_item_var_n2) * 1000000)"
        " div (2 * total_var_n2) AS BIGINT) AS alpha_x1e6",
    )


@query(
    "psi_population_stability",
    """
    WITH px AS (
      SELECT CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS y,
             o_orderkey,
             CASE WHEN epoch_ms(o_orderdate) <
                       (SELECT (epoch_ms(min(o_orderdate))
                                + epoch_ms(max(o_orderdate))) // 2
                        FROM orders)
                  THEN 'base' ELSE 'cur' END AS period
      FROM orders
    ),
    base_ranked AS (
      SELECT y, row_number() OVER (ORDER BY y, o_orderkey) AS r,
             count(*) OVER () AS n
      FROM px WHERE period = 'base'
    ),
    edges AS (
      SELECT d.d AS decile, br.y AS edge
      FROM base_ranked br
      JOIN (SELECT unnest(range(1, 10)) AS d) d
        ON br.r = (d.d * br.n) // 10
    ),
    binned AS (
      SELECT p.period,
             coalesce((SELECT min(e.decile) FROM edges e
                       WHERE p.y <= e.edge), 10) AS bin
      FROM px p
    ),
    counts AS (
      SELECT bin,
             sum(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS nc
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM counts)
    SELECT CAST(c.bin AS BIGINT) AS bin,
           CAST(c.nb AS BIGINT) AS n_base,
           CAST(c.nc AS BIGINT) AS n_current,
           CAST(floor((CAST(c.nc + 1 AS DOUBLE) / (t.tc + 10)
                       - CAST(c.nb + 1 AS DOUBLE) / (t.tb + 10))
                      * ln((CAST(c.nc + 1 AS DOUBLE) / (t.tc + 10))
                           / (CAST(c.nb + 1 AS DOUBLE) / (t.tb + 10)))
                      * 1e9 + 0.5) AS BIGINT) AS psi_term_x1e9
    FROM counts c CROSS JOIN tot t
    """,
)
def psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX — the model-monitoring drift
    metric every scorecard/ML-ops stack reports (PSI =
    SUM_bins (p_cur - p_base) * ln(p_cur/p_base); < 0.1 stable,
    > 0.25 retrain): bins are the BASE period's own deciles (exact
    order-statistic edges with key tie-breaks — the standard recipe,
    so drift shows up as current mass escaping the base's equal
    frequency bins), periods split at the epoch-millis date midpoint,
    and each bin's PSI term — add-one smoothed on both sides so
    empty bins stay finite — floors once at 1e-9 from the identical
    float expression over exact counts.  Per-bin rows hash counts
    AND terms, so the drilldown (WHICH bins drifted) is certified,
    not just the total.

    100 TB shape: decile edges come from a base-period window
    (dimension-scale after reduction — or the quantile sketch at
    extreme scale), binning is a 9-edge broadcast comparison at scan
    stage, counts reduce map-side.  North-star extension (SURVEY §2
    stats rows; the binned-drift sibling of ks_drift_priority — KS
    tests the max gap, PSI weighs the whole shape and is the one
    with industry thresholds)."""
    o = load(spark, sf_dir, "orders")
    mid = o.agg(
        F.expr(
            "(unix_millis(cast(min(o_orderdate) as timestamp))"
            " + unix_millis(cast(max(o_orderdate) as timestamp))) div 2"
        ).alias("mid_ms")
    )
    px = o.crossJoin(F.broadcast(mid)).select(
        money_scaled(F.col("o_totalprice")).alias("y"),
        "o_orderkey",
        F.when(
            F.expr("unix_millis(cast(o_orderdate as timestamp))")
            < F.col("mid_ms"),
            "base",
        )
        .otherwise("cur")
        .alias("period"),
    )
    base = px.filter(F.col("period") == "base")
    ranked = base.select(
        "y",
        F.row_number().over(Window.orderBy("y", "o_orderkey")).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    edges = (
        ranked.crossJoin(F.broadcast(ds))
        .filter(F.col("r") == F.expr("(d * n) div 10"))
        .select(F.col("d").alias("decile"), F.col("y").alias("edge"))
    )
    binned = (
        px.crossJoin(F.broadcast(edges))
        .withColumn(
            "hit", F.when(F.col("y") <= F.col("edge"), F.col("decile"))
        )
        .groupBy("period", "y", "o_orderkey")
        .agg(F.coalesce(F.min("hit"), F.lit(10)).alias("bin"))
    )
    # materialize the 10-row bin census (r9): the totals fork below
    # otherwise recomputes the whole binning pipeline — 8 orders scans
    counts = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == "base", 1).otherwise(0)).alias(
                "nb"
            ),
            F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias(
                "nc"
            ),
        )
        .localCheckpoint()
    )
    tot = counts.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("nb").cast("long").alias("n_base"),
            F.col("nc").cast("long").alias("n_current"),
            F.expr(
                "CAST(floor((CAST(nc + 1 AS DOUBLE) / (tc + 10)"
                " - CAST(nb + 1 AS DOUBLE) / (tb + 10))"
                " * ln((CAST(nc + 1 AS DOUBLE) / (tc + 10))"
                " / (CAST(nb + 1 AS DOUBLE) / (tb + 10)))"
                " * 1e9 + 0.5) AS BIGINT)"
            ).alias("psi_term_x1e9"),
        )
    )


@query(
    "sprt_sequential_replay",
    """
    WITH seq AS (
      SELECT user_id,
             list(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id
    ),
    walked AS (
      SELECT user_id, len(xs) AS n,
             list_transform(range(1, len(xs) + 1),
               k -> 5108 * list_sum(xs[1:k]) - 1252 * (k - list_sum(xs[1:k]))
             ) AS llr
      FROM seq
    ),
    decided AS (
      SELECT user_id, n,
             coalesce((SELECT min(k) FROM unnest(range(1, n + 1)) t(k)
                       WHERE abs(llr[k]) >= 29444), 0) AS stop_k,
             llr[n] AS final_llr
      FROM walked
    )
    SELECT CASE WHEN stop_k = 0 THEN 'undecided'
                WHEN llr_at_stop >= 29444 THEN 'accept_h1'
                ELSE 'accept_h0' END AS verdict,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN stop_k > 0 THEN stop_k ELSE n END)
                AS BIGINT) AS total_samples,
           CAST(min(CASE WHEN stop_k > 0 THEN stop_k END) AS BIGINT)
             AS min_stop,
           CAST(max(CASE WHEN stop_k > 0 THEN stop_k END) AS BIGINT)
             AS max_stop
    FROM (
      SELECT d.*, w.llr[CASE WHEN d.stop_k > 0 THEN d.stop_k
                             ELSE 1 END] AS llr_at_stop
      FROM decided d JOIN walked w USING (user_id)
    )
    GROUP BY verdict
    """,
)
def sprt_sequential_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD'S SPRT replayed per user — sequential hypothesis testing
    (decide H0: p = 0.15 vs H1: p = 0.25 about a user's purchase
    propensity WHILE observing, stopping as soon as the evidence
    crosses a boundary — the sequential design that needs ~half the
    samples of a fixed-n test, and the ancestor of every modern
    always-valid A/B method): each Bernoulli observation moves the
    log-likelihood ratio by one of TWO precomputed 1e-4-scaled
    INTEGER increments (+5108 on purchase, -1252 otherwise), the
    symmetric alpha = beta = 0.05 boundary is the integer 29444
    (ln 19 scaled), so every user's walk, stopping time, and verdict
    are pure integer lattice arithmetic — engine-decidable with no
    float anywhere.  The census hashes verdict counts, total and
    extreme stopping times (the sample-size saving is the payoff
    the entry exhibits).

    100 TB shape: one per-user ordered reduction, then per-user
    array arithmetic (prefix sums via bounded per-user O(n^2) HOFs —
    fine at per-entity history lengths; a running-fold form exists
    for long histories).  North-star extension (SURVEY §2 stats
    rows; the sequential member of the A/B family — power sizes
    fixed-n, CUPED shrinks variance, SPRT stops early)."""
    ev = load(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)
                        .alias("x"),
                    )
                )
            ),
            lambda s: s["x"],
        ).alias("xs")
    )
    walked = seq.selectExpr(
        "user_id",
        "size(xs) AS n",
        """
        transform(sequence(1, size(xs)), k ->
          5108 * aggregate(slice(xs, 1, k), 0L, (a, x) -> a + x)
          - 1252 * (k - aggregate(slice(xs, 1, k), 0L, (a, x) -> a + x))
        ) AS llr
        """,
    )
    decided = walked.selectExpr(
        "user_id",
        "n",
        "llr",
        """coalesce(
             aggregate(sequence(1, n), CAST(0 AS BIGINT),
               (acc, k) -> CASE WHEN acc > 0 THEN acc
                                WHEN abs(element_at(llr, k)) >= 29444
                                THEN CAST(k AS BIGINT) ELSE acc END),
             0) AS stop_k""",
    ).selectExpr(
        "n",
        "stop_k",
        "element_at(llr, CAST(CASE WHEN stop_k > 0 THEN stop_k ELSE 1 END"
        " AS INT)) AS llr_at_stop",
    )
    return (
        decided.select(
            F.when(F.col("stop_k") == 0, "undecided")
            .when(F.col("llr_at_stop") >= 29444, "accept_h1")
            .otherwise("accept_h0")
            .alias("verdict"),
            "stop_k",
            "n",
        )
        .groupBy("verdict")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(
                F.when(F.col("stop_k") > 0, F.col("stop_k")).otherwise(
                    F.col("n")
                )
            )
            .cast("long")
            .alias("total_samples"),
            F.min(F.when(F.col("stop_k") > 0, F.col("stop_k")))
            .cast("long")
            .alias("min_stop"),
            F.max(F.when(F.col("stop_k") > 0, F.col("stop_k")))
            .cast("long")
            .alias("max_stop"),
        )
    )


@query(
    "spc_funnel_rate_limits",
    """
    WITH rates AS (
      SELECT c.c_nationkey AS nat,
             count(*) AS n,
             sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ),
    pooled AS (
      SELECT sum(k) AS tk, sum(n) AS tn FROM rates
    )
    SELECT CAST(r.nat AS BIGINT) AS nation,
           CAST(r.n AS BIGINT) AS n_orders,
           CAST((r.k * 1000000) // r.n AS BIGINT) AS rate_ppm,
           CAST((p.tk * 1000000) // p.tn AS BIGINT) AS pooled_ppm,
           CAST(floor(3.0 * sqrt((CAST(p.tk AS DOUBLE) / p.tn)
                      * (1.0 - CAST(p.tk AS DOUBLE) / p.tn) / r.n)
                      * 1e6 + 0.5) AS BIGINT) AS halfwidth3_ppm,
           CASE WHEN abs((r.k * 1000000) // r.n
                         - (p.tk * 1000000) // p.tn)
                     > floor(3.0 * sqrt((CAST(p.tk AS DOUBLE) / p.tn)
                             * (1.0 - CAST(p.tk AS DOUBLE) / p.tn) / r.n)
                             * 1e6 + 0.5)
                THEN TRUE ELSE FALSE END AS outside_3sigma
    FROM rates r CROSS JOIN pooled p
    """,
)
def spc_funnel_rate_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC FUNNEL PLOT — institutional-comparison control limits
    (Spiegelhalter's funnel: rank units by a rate ONLY after checking
    the rate against volume-dependent 3-sigma limits around the
    pooled rate — small units swing wildly by chance, and naive
    league tables flag exactly those; the funnel narrows as n grows):
    per customer nation, the urgent-order rate (exact ppm) compares
    against the pooled rate's binomial half-width
    3*sqrt(p(1-p)/n) — the single float expression over exact
    integer operands, floored once to ppm — and the outside/inside
    verdict is then an integer comparison.  Rates, limits, and
    verdicts all hash per nation.

    100 TB shape: one fact-dim star aggregate to O(units) rows, a
    1-row pooled broadcast, scan-stage limit arithmetic.  North-star
    extension (SURVEY §2 stats rows; the small-sample-honesty
    sibling of empirical_bayes_shrinkage — EB pulls noisy unit
    estimates in, the funnel tells you which ones were never
    signal)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rates = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nat"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("k"),
        )
        # O(nations) rate table, checkpointed: it feeds the pooled
        # aggregate AND the funnel verdict, and un-cut lineage re-ran
        # the fact-dim star per fork (2 scans each of orders and
        # customer, r9 audit; now 1 each)
        .localCheckpoint()
    )
    pooled = rates.agg(F.sum("k").alias("tk"), F.sum("n").alias("tn"))
    hw = (
        "CAST(floor(3.0 * sqrt((CAST(tk AS DOUBLE) / tn)"
        " * (1.0 - CAST(tk AS DOUBLE) / tn) / n) * 1e6 + 0.5) AS BIGINT)"
    )
    return rates.crossJoin(F.broadcast(pooled)).selectExpr(
        "CAST(nat AS BIGINT) AS nation",
        "CAST(n AS BIGINT) AS n_orders",
        "CAST((k * 1000000) div n AS BIGINT) AS rate_ppm",
        "CAST((tk * 1000000) div tn AS BIGINT) AS pooled_ppm",
        f"{hw} AS halfwidth3_ppm",
        f"abs((k * 1000000) div n - (tk * 1000000) div tn) > {hw}"
        " AS outside_3sigma",
    )


@query(
    "meta_analysis_pooling",
    """
    WITH obs AS (
      SELECT c.c_nationkey AS nat,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS t,
             CAST(floor(o.o_totalprice * 10000 + 0.5) AS BIGINT) // 1000000
               AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    per_nat AS (
      SELECT nat,
             sum(t) AS n1, count(*) - sum(t) AS n0,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS s1,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS s0,
             sum(CASE WHEN t = 1 THEN y * y ELSE 0 END) AS q1,
             sum(CASE WHEN t = 0 THEN y * y ELSE 0 END) AS q0
      FROM obs GROUP BY nat
      HAVING sum(t) >= 2 AND count(*) - sum(t) >= 2
    ),
    studies AS (
      SELECT nat,
             CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                        * 1e4 + 0.5) AS BIGINT) AS d_x1e4,
             CAST(floor(((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                          / n1 / n1 / (n1 - 1)
                        + (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
                          / n0 / n0 / (n0 - 1)) * 1e4 + 0.5) AS BIGINT)
               AS v_x1e4
      FROM per_nat
    ),
    weighted AS (
      SELECT nat, d_x1e4, v_x1e4,
             (1000000000000000 // greatest(v_x1e4, 1)) AS w
      FROM studies
    ),
    pool AS (
      SELECT count(*) AS k,
             sum(w) AS sw,
             sum(w * d_x1e4) // sum(w) AS pooled_x1e4
      FROM weighted
    ),
    qterm AS (
      SELECT p.k, p.pooled_x1e4,
             sum(w.w * (abs(w.d_x1e4 - p.pooled_x1e4) // 100)
                     * (abs(w.d_x1e4 - p.pooled_x1e4) // 100))
               // 1000000000000 AS q_x1e3
      FROM weighted w CROSS JOIN pool p
      GROUP BY p.k, p.pooled_x1e4
    )
    SELECT CAST(k AS BIGINT) AS n_studies,
           CAST(pooled_x1e4 AS BIGINT) AS pooled_effect_x1e4,
           CAST(q_x1e3 AS BIGINT) AS q_stat_x1e3,
           CAST(greatest(CAST(0 AS BIGINT),
                ((q_x1e3 - (k - 1) * 1000) * 1000000)
                // greatest(q_x1e3, 1)) AS BIGINT) AS i2_ppm
    FROM qterm
    """,
)
def meta_analysis_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-EFFECT META-ANALYSIS — inverse-variance pooling of
    per-site effect estimates with Cochran's Q and I^2 heterogeneity
    (the multi-site/multi-experiment synthesis layer: each nation is
    a "study" estimating the urgent-vs-low order-value gap; pooling
    weights each study by 1/variance, and I^2 says how much of the
    between-study spread is real heterogeneity vs sampling noise —
    the statistic that decides fixed vs random effects): per-study
    effects and variances come from exact integer moments in
    hundred-dollar units (single 1e-4 rounding each, the MDE scale
    discipline), weights and the pooled effect are integer divisions,
    and Q / I^2 are integer arithmetic over those — the entire
    synthesis engine-decidable.  Small studies (< 2 per arm) are
    excluded by the stated rule.

    100 TB shape: one star aggregate to O(sites) rows, then
    arithmetic on the study table — the federated-experimentation
    shape (sites never ship rows, only sufficient statistics).
    North-star extension (SURVEY §2 stats rows; the synthesis
    member of the A/B family — and the reason the entry family has
    per-site effects to pool at all)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    obs = o.join(c, F.col("c_custkey") == F.col("o_custkey")).select(
        F.col("c_nationkey").alias("nat"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("t"),
        F.expr(
            "CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) div 1000000"
        ).alias("y"),
    )
    per_nat = (
        obs.groupBy("nat")
        .agg(
            F.sum("t").alias("n1"),
            (F.count("*") - F.sum("t")).alias("n0"),
            F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias("s1"),
            F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias("s0"),
            F.sum(
                F.when(F.col("t") == 1, F.col("y") * F.col("y")).otherwise(0)
            ).alias("q1"),
            F.sum(
                F.when(F.col("t") == 0, F.col("y") * F.col("y")).otherwise(0)
            ).alias("q0"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    studies = per_nat.selectExpr(
        "nat",
        "CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
        " * 1e4 + 0.5) AS BIGINT) AS d_x1e4",
        "CAST(floor(((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)"
        " / n1 / n1 / (n1 - 1)"
        " + (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)"
        " / n0 / n0 / (n0 - 1)) * 1e4 + 0.5) AS BIGINT) AS v_x1e4",
    )
    # O(sites) study table, checkpointed: it feeds the pooled
    # aggregate AND the Q/I^2 pass, and un-cut lineage re-ran the
    # fact-dim star per fork (2 scans each of orders and customer,
    # r9 audit; now 1 each)
    weighted = studies.withColumn(
        "w", F.expr("1000000000000000 div greatest(v_x1e4, 1)")
    ).localCheckpoint()
    pool = weighted.agg(
        F.count("*").alias("k"),
        F.sum("w").alias("sw"),
        # NOTE: DuckDB's // on INTEGER operands truncates toward zero,
        # exactly like Spark's div — negative quotients agree as-is
        # (verified: -1459844 on both; a floor-division emulation was
        # tried and REVERTED because it diverged by one).
        F.expr("sum(w * d_x1e4) div sum(w)").alias("pooled_x1e4"),
    )
    return (
        weighted.crossJoin(F.broadcast(pool))
        .groupBy("k", "pooled_x1e4")
        .agg(
            F.expr(
                "sum(w * (abs(d_x1e4 - pooled_x1e4) div 100)"
                " * (abs(d_x1e4 - pooled_x1e4) div 100))"
                " div 1000000000000"
            ).alias("q_x1e3")
        )
        .selectExpr(
            "CAST(k AS BIGINT) AS n_studies",
            "CAST(pooled_x1e4 AS BIGINT) AS pooled_effect_x1e4",
            "CAST(q_x1e3 AS BIGINT) AS q_stat_x1e3",
            "CAST(greatest(CAST(0 AS BIGINT),"
            " ((q_x1e3 - (k - 1) * 1000) * 1000000)"
            " div greatest(q_x1e3, 1)) AS BIGINT) AS i2_ppm",
        )
    )
