"""Sketch and approximate-query operators: HLL/theta/CountMin/
KLL-style quantiles, bitmap exact-distinct, AMS F2, reservoir sampling,
and their verified-bounds contracts.

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
    query,
)

__all__ = [
    "capture_recapture_estimate",
    "approx_distinct_bounded",
    "approx_quantile_bounded",
    "freq_items_heavy_hitters",
    "hll_sketch_union_bounded",
    "quantile_sketch_mergeable",
    "theta_sketch_audience_overlap",
    "countmin_heavy_hitters",
    "reservoir_sample_per_group",
    "approx_topk_verified",
    "theta_sketch_audience_diff",
    "bitmap_exact_distinct",
    "ams_f2_selfjoin_size",
]


@query(
    "approx_distinct_bounded",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable error-bound contract for approx_count_distinct.

    The raw `approx_distinct_users` entry is rows-only — the HLL
    estimate has no SQL oracle.  The error BOUND does: emit
    |approx - exact| <= 0.05 * exact per group (exact side computable
    in both engines; 0.05 = 2.5x the requested rsd of 0.02, and the
    HLL estimate is deterministic for fixed data, verified within
    bound at sf0.001/0.01/0.1).  A sketch-merge defect that skews the
    estimate past the band flips within_bound and breaks the hash."""
    ev = load(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.02)
    return ev.groupBy("event_type").agg(
        exact.alias("n_exact"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("within_bound"),
    )


@query(
    "approx_quantile_bounded",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_quantile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable rank-error contract for approx_percentile (the
    t-digest/GK sketch Spark uses for distributed quantiles — the
    sibling invariant to `approx_distinct_bounded`'s HLL band).

    percentile_approx(x, 0.5, accuracy=100) guarantees a rank within
    0.5 +- 1/100 of the true median; the contract brackets the sketch
    output between the EXACT 0.48 and 0.52 quantiles (double the
    guaranteed rank window, computable in both engines) and emits the
    boolean per group.  A sketch-merge defect that drifts the estimate
    past the band flips within_bound and breaks the hash; the exact
    side (count per returnflag group) pins the grouping itself."""
    li = load(spark, sf_dir, "lineitem")
    approx = F.expr("percentile_approx(l_extendedprice, 0.5, 100)")
    lo = F.expr("percentile(l_extendedprice, 0.48)")
    hi = F.expr("percentile(l_extendedprice, 0.52)")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        ((approx >= lo) & (approx <= hi)).alias("within_bound"),
    )


@query(
    "freq_items_heavy_hitters",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang
    HAVING count(*) > 0.05 * (SELECT count(*) FROM documents)
    """,
)
def freq_items_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through Spark's single-pass ``freqItems`` sketch
    (Karp-Schenker-Papadimitriou), verified exactly: the sketch
    guarantees a SUPERSET of all items with frequency > support, so
    exact-counting only the candidates and applying the threshold must
    reproduce the full-table answer — if the superset guarantee ever
    broke, a missing row fails the hash check.  The two driver-side
    collects (the 1-row candidate array and the total count) are O(1),
    documented.

    100 TB shape: this is THE pattern for heavy hitters at scale —
    one streaming-sketch pass over the corpus, then an exact count of
    the O(1/support) candidates only, instead of a full groupBy on an
    ultra-high-cardinality key."""
    docs = load(spark, sf_dir, "documents")
    total = docs.count()
    [row] = docs.freqItems(["lang"], support=0.05).collect()
    candidates = list(row[0])
    return (
        docs.filter(F.col("lang").isin(candidates))
        .groupBy("lang")
        .count()
        .filter(F.col("count") > 0.05 * total)
        .select("lang", F.col("count").alias("n_docs"))
    )


@query(
    "hll_sketch_union_bounded",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events
    """,
)
def hll_sketch_union_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL,
    Spark 3.5+ ``hll_sketch_agg``/``hll_union_agg``): per event type a
    sketch of the user set, then the per-type SKETCHES — not the raw
    data — union into the global estimate.  Re-aggregating sketches is
    THE pattern for distinct counts over 100 TB: per-partition/per-day
    sketches persist as bytes and roll up at query time without ever
    rescanning raw data (contrast approx_count_distinct, whose partial
    state lives only inside one query).

    The hash contract is the error bound, not the estimate: a merged
    union takes a different internal promotion path than a one-pass
    sketch, so estimates may legally differ by a few ulps of the rsd —
    and partition order can perturb them — but |estimate - exact| <=
    4*rsd*exact + 1 (rsd ~ 1.04/sqrt(2^12) for the default lgK=12)
    must hold for every sketch and for the union, under ANY execution
    order.  Exact counts come from the same scan; a sketch gone wrong
    flips a boolean and breaks the hash."""
    # HLL is duplicate-insensitive, so everything downstream can run on
    # the reduced distinct (type, user) frame: ONE corpus scan, persisted,
    # feeds the per-type sketches, the union, and the exact counts
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .persist()
    )
    rsd = 1.04 / (2 ** 12) ** 0.5
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n_exact"),
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
    ).persist()
    per_checked = per.select(
        "event_type",
        "n_exact",
        (
            F.abs(
                F.expr("hll_sketch_estimate(sk)") - F.col("n_exact")
            )
            <= 4 * rsd * F.col("n_exact") + 1
        ).alias("within_bound"),
    )
    total = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    merged = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    global_row = (
        total.join(F.broadcast(merged))
        .select(
            F.lit("ALL").alias("event_type"),
            "n_exact",
            (
                F.abs(F.col("est") - F.col("n_exact"))
                <= 4 * rsd * F.col("n_exact") + 1
            ).alias("within_bound"),
        )
    )
    return per_checked.unionByName(global_row)


@query(
    "quantile_sketch_mergeable",
    """
    SELECT CAST(q AS DOUBLE) AS q,
           (SELECT count(*) FROM orders) AS n_rows,
           TRUE AS within_bound, TRUE AS bound_ok
    FROM (VALUES (0.25), (0.5), (0.75), (0.9)) AS t(q)
    """,
)
def quantile_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom MERGEABLE quantile sketch (operators/sketch.py, the KLL
    compactor family) run the way a 1000-executor cluster would: one
    partial sketch per input partition built in a single Arrow pass
    (mapInPandas), partials shipped as plain array<array<double>> rows
    — O(capacity * log n) doubles each, NOT the data — and reduced in
    one task (applyInPandas over a constant group; at cluster scale
    this becomes a tree of merges, which the property-tested
    associativity licenses).  Spark's own percentile_approx cannot do
    this: its sketch state is not exposed, so partials can't persist
    or re-aggregate across queries the way these (or HLL sketches)
    can.

    Contract: each estimated quantile must land between the EXACT
    q +- 0.02 percentiles (computed JVM-side), and the sketch's own
    tracked worst-case rank-error bound must stay under 2% of n —
    both emitted as booleans, deterministic because compaction is
    (capacity=1024, alternating-pick) deterministic."""
    from flo_spark.operators.sketch import (
        SKETCH_ROW_SCHEMA,
        merge_sketch_rows,
        sketch_partials_fn,
    )

    import pandas as pd

    QS = [0.25, 0.5, 0.75, 0.9]
    CAP, EPS = 1024, 0.02

    def merge_query(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = merge_sketch_rows(pdf, CAP)
        n = sk.total_weight()
        return pd.DataFrame(
            {
                "q": QS,
                "est": [sk.quantile(q) for q in QS],
                "bound_ok": [sk.rank_error_bound <= EPS * n] * len(QS),
            }
        )

    o = load(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    parts = o.mapInPandas(sketch_partials_fn(CAP), SKETCH_ROW_SCHEMA)
    merged = (
        parts.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge_query, "q double, est double, bound_ok boolean")
    )
    brackets = o.agg(
        F.count("*").alias("n_rows"),
        *[
            F.expr(f"percentile(v, {max(q - EPS, 0.0)})").alias(f"lo_{i}")
            for i, q in enumerate(QS)
        ],
        *[
            F.expr(f"percentile(v, {min(q + EPS, 1.0)})").alias(f"hi_{i}")
            for i, q in enumerate(QS)
        ],
    )
    lo = F.array(*[F.col(f"lo_{i}") for i in range(len(QS))])
    hi = F.array(*[F.col(f"hi_{i}") for i in range(len(QS))])
    qpos = F.array_position(F.array(*[F.lit(q) for q in QS]), F.col("q"))
    return (
        merged.crossJoin(F.broadcast(brackets))
        .select(
            "q",
            "n_rows",
            (
                (F.col("est") >= F.element_at(lo, qpos.cast("int")))
                & (F.col("est") <= F.element_at(hi, qpos.cast("int")))
            ).alias("within_bound"),
            "bound_ok",
        )
    )


@query(
    "theta_sketch_audience_overlap",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_overlap AS BIGINT) AS n_exact_overlap,
           TRUE AS within_bound
    FROM p
    """,
)
def theta_sketch_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation via theta (KMV) sketches
    (operators/sketch.py::ThetaSketch) — the set-ALGEBRA sketch: HLL
    unions but cannot intersect, so 'users who did both X and Y'
    normally costs a distinct-join per pair; theta sketches answer it
    from per-segment sketches built ONCE.  Each event type's user set
    reduces to a k=256 minimum-hash sample (one applyInPandas task per
    type, groups parallel); all pairwise overlaps then come from the
    O(types) collected sketch rows — a documented, bounded driver
    step, never the user sets.

    Contract: the sketch state is provably independent of insertion
    order, chunking, and merge order (property-tested), so estimates
    are deterministic; each must land within 4/sqrt(k) of the exact
    overlap scaled by the pair's union (the theta error model), and
    below k distinct users the sketch — hence the estimate — is EXACT.
    The exact overlaps come from the same scan and pin the pairing."""
    import pandas as pd

    from flo_spark.operators.sketch import ThetaSketch

    K = 256
    du = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .persist()
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = ThetaSketch(K).add(pdf["user_id"].tolist())
        return pd.DataFrame(
            {"event_type": [pdf["event_type"].iloc[0]], "hashes": [sk.to_row()]}
        )

    sk_rows = (
        du.groupBy("event_type")
        .applyInPandas(build, "event_type string, hashes array<long>")
        .collect()  # O(types) tiny rows, documented
    )
    sketches = {
        r.event_type: ThetaSketch.from_row(list(r.hashes), K) for r in sk_rows
    }
    sizes = {t: sk.estimate() for t, sk in sketches.items()}
    types = sorted(sketches)
    rel = 4 / K ** 0.5
    est_rows = []
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            est = sketches[ta].intersect_estimate(sketches[tb])
            union_est = sizes[ta] + sizes[tb] - est
            est_rows.append((ta, tb, float(est), float(union_est)))
    est_df = spark.createDataFrame(
        est_rows, "type_a string, type_b string, est double, union_est double"
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_exact_overlap"))
    )
    return exact.join(est_df, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_exact_overlap",
        (
            F.abs(F.col("est") - F.col("n_exact_overlap"))
            <= rel * F.col("union_est") + F.lit(1e-9)
        ).alias("within_bound"),
    )


@query(
    "countmin_heavy_hitters",
    """
    WITH c AS (
      SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ),
    r AS (
      SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rn
      FROM c
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           TRUE AS est_ge_exact
    FROM r WHERE rn <= 20
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a MERGEABLE Count-Min sketch
    (operators/sketch.py::CountMinSketch) — the frequency sibling of
    the HLL/theta/KLL entries: each partition folds its user_ids into
    one (depth x width) integer table row via mapInPandas, the rows
    merge by cell-wise sum (state is a pure function of the event
    multiset — partitioning and merge order provably cancel,
    tests/test_countmin.py), and the merged table answers point
    queries for the top-20 users.  freq_items_heavy_hitters covers the
    candidate-set sketch; this one covers mergeable COUNTS — the piece
    that persists per-day/per-shard and re-aggregates at 100 TB
    without rescanning raw events.

    Contract: CM collisions only ADD, so estimate >= exact is a
    deterministic invariant for every reported user (a boolean the
    hash checks); the eps*N upper bound is statistical and pinned in
    tests/test_countmin.py instead.  Exact counts and the top-20
    selection (deterministic ties: count desc, user_id asc) come from
    the same scan and pin the ranking.

    100 TB shape: one scan; partials are O(width*depth) per partition;
    the merged-table collect is one documented bounded row (64 KiB),
    never data-scale; the exact ranking is one key shuffle + top-k."""
    import pandas as pd

    from flo_spark.operators.sketch import CountMinSketch

    WIDTH, DEPTH = 2048, 4
    ROW = "cells array<long>, total long"

    def partials(it):
        sk = CountMinSketch(WIDTH, DEPTH)
        seen = False
        for pdf in it:
            ids = pdf["user_id"].dropna()
            if len(ids):
                seen = True
                sk.add(ids.astype("int64").tolist())
        if seen:
            cells, total = sk.to_row()
            yield pd.DataFrame({"cells": [cells], "total": [total]})

    def merge_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = CountMinSketch(WIDTH, DEPTH)
        for cells, total in zip(pdf["cells"], pdf["total"]):
            sk.merge(CountMinSketch.from_row(list(cells), int(total), WIDTH, DEPTH))
        cells, total = sk.to_row()
        return pd.DataFrame({"cells": [cells], "total": [total]})

    ev = load(spark, sf_dir, "events").select("user_id")
    merged_row = (
        ev.mapInPandas(partials, ROW)
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge_rows, ROW)
        .collect()  # ONE row of width*depth cells (64 KiB), documented
    )
    sk = (
        CountMinSketch.from_row(
            list(merged_row[0].cells), int(merged_row[0].total), WIDTH, DEPTH
        )
        if merged_row
        else CountMinSketch(WIDTH, DEPTH)
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)  # TakeOrderedAndProject — no global sort
        .collect()  # 20 rows, documented bounded collect
    )
    ests = sk.estimate_many([int(r.user_id) for r in top])
    rows = [
        (int(r.user_id), int(r.n_events), bool(est >= r.n_events))
        for r, est in zip(top, ests)
    ]
    return spark.createDataFrame(
        rows, "user_id long, n_events long, est_ge_exact boolean"
    )


@query(
    "reservoir_sample_per_group",
    """
    WITH k AS (
      SELECT o_orderpriority, o_orderkey,
             (o_orderkey * 2654435761) % 1000000007 AS skey
      FROM orders
    ),
    r AS (
      SELECT o_orderpriority, o_orderkey, skey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY skey, o_orderkey) AS pos
      FROM k
    )
    SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(pos AS BIGINT) AS pos
    FROM r WHERE pos <= 5
    """,
)
def reservoir_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sampling — exactly k rows per
    group, selection invariant to row order, partitioning, and data
    arrival — via BOTTOM-K BY SEEDED HASH: a multiplicative hash mod a
    large prime gives each key a reproducible pseudo-random draw, and
    the k smallest draws per group ARE a uniform sample without
    replacement.  This is the distributed form of reservoir sampling:
    the classic algorithm is sequential state, but bottom-k is
    MERGEABLE (the bottom-k of a union is the bottom-k of each side's
    bottom-k), so per-partition top-k candidates combine without ever
    materializing the group.  The selection rule is pure arithmetic,
    so the oracle reproduces it exactly — the contract is the rule
    itself, not a statistical property.

    100 TB shape: one group-partitioned rank window over scan-computed
    keys (at extreme group size, per-partition bottom-k partials cut
    shuffle input to k rows per partition-group before the window).
    No driver collect, no global sort."""
    o = load(spark, sf_dir, "orders")
    skey = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(1000000007)
    w = Window.partitionBy("o_orderpriority").orderBy("skey", "o_orderkey")
    return (
        o.select("o_orderpriority", "o_orderkey", skey.alias("skey"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 5)
        .select("o_orderpriority", "o_orderkey", "pos")
    )


@query(
    "approx_topk_verified",
    """
    WITH c AS (
      SELECT event_type, count(*) AS n_exact FROM events GROUP BY event_type
    ),
    k AS (
      SELECT n_exact AS kth FROM c ORDER BY n_exact DESC LIMIT 1 OFFSET 2
    )
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
           TRUE AS topk_consistent, TRUE AS est_matches_exact
    FROM c, k
    """,
)
def approx_topk_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``approx_top_k`` sketch with exact verification: the
    sketch tracks up to maxItemsTracked items (default 10000), so at
    this column's cardinality its counts are EXACT and its top-3
    membership must agree with the true ranking.  The contract is
    tie-proof: membership is consistent iff every sketched item counts
    >= the true 3rd-highest count and every unsketched item counts <=
    it (a boundary tie legally resolves either way), and every
    sketched item's estimate equals its exact count.  Both booleans
    hash against literal TRUE; the exact counts pin the grouping.

    100 TB shape: approx_top_k is a single map-side-combinable
    aggregate whose state is O(maxItemsTracked) — the heavy-hitter
    shape that replaces a full groupBy + sort when only the top of the
    distribution matters; the exact verification side is one key
    shuffle."""
    ev = load(spark, sf_dir, "events")
    # O(types) exact side, checkpointed: it feeds the kth-count cut
    # AND the verification join — un-cut lineage re-scanned events per
    # fork (3 scans, r9 audit; now 2: this pass plus the sketch pass,
    # which MUST run on the raw stream — it is the operator under test)
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("n_exact")
    ).localCheckpoint()
    kth = (
        exact.orderBy(F.col("n_exact").desc())
        .limit(3)
        .agg(F.min("n_exact").alias("kth"))
    )
    sk = ev.agg(
        F.expr("approx_top_k(event_type, 3)").alias("top")
    ).select(F.explode("top").alias("t")).select(
        F.col("t.item").alias("event_type"),
        F.col("t.count").alias("est"),
    )
    return (
        exact.join(sk, "event_type", "left")
        .join(F.broadcast(kth))
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(F.col("est").isNotNull(), F.col("n_exact") >= F.col("kth"))
            .otherwise(F.col("n_exact") <= F.col("kth"))
            .alias("topk_consistent"),
            F.coalesce(F.col("est") == F.col("n_exact"), F.lit(True)).alias(
                "est_matches_exact"
            ),
        )
    )


@query(
    "theta_sketch_audience_diff",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(sa.n - p.n_overlap AS BIGINT) AS n_a_not_b,
           CAST(sb.n - p.n_overlap AS BIGINT) AS n_b_not_a,
           TRUE AS within_bound_ab,
           TRUE AS within_bound_ba
    FROM p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    """,
)
def theta_sketch_audience_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience DIFFERENCE via theta sketches — A-not-B, the third
    set-algebra operation (DataSketches' AnotB), completing the
    union / intersection / difference triple over the same per-type
    sketch rows `theta_sketch_audience_overlap` builds: 'users who did
    X but never Y' answered from O(types) sketches, no distinct-join
    per pair.  Retention/churn asks exactly this shape (bought-then-
    left, saw-but-never-clicked).

    Contract: per ordered pair both directions' estimates land within
    4/sqrt(k) of the exact difference scaled by the pair's union (the
    cut-sample error model, property-tested with the exact partition
    identity intersect+diff == cut cardinality in
    tests/test_sketch.py); below k distinct users the sketch is exact.
    Exact differences derive from the same scan (|A| - |A∩B|) and pin
    the pairing.

    100 TB shape: identical to the overlap entry — one distinct
    shuffle, one applyInPandas sketch task per type, O(types) rows
    collected (documented), pairwise algebra on sketch state only."""
    import pandas as pd

    from flo_spark.operators.sketch import ThetaSketch

    K = 256
    du = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .persist()
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = ThetaSketch(K).add(pdf["user_id"].tolist())
        return pd.DataFrame(
            {"event_type": [pdf["event_type"].iloc[0]], "hashes": [sk.to_row()]}
        )

    sk_rows = (
        du.groupBy("event_type")
        .applyInPandas(build, "event_type string, hashes array<long>")
        .collect()  # O(types) tiny rows, documented
    )
    sketches = {
        r.event_type: ThetaSketch.from_row(list(r.hashes), K) for r in sk_rows
    }
    sizes = {t: sk.estimate() for t, sk in sketches.items()}
    types = sorted(sketches)
    rel = 4 / K ** 0.5
    est_rows = []
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            inter = sketches[ta].intersect_estimate(sketches[tb])
            union_est = sizes[ta] + sizes[tb] - inter
            est_rows.append(
                (
                    ta,
                    tb,
                    float(sketches[ta].difference_estimate(sketches[tb])),
                    float(sketches[tb].difference_estimate(sketches[ta])),
                    float(union_est),
                )
            )
    est_df = spark.createDataFrame(
        est_rows,
        "type_a string, type_b string, est_ab double, est_ba double,"
        " union_est double",
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    overlap = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_overlap"))
    )
    szs = du.groupBy(F.col("event_type")).agg(F.count("*").alias("n"))
    exact = (
        overlap.join(
            szs.select(F.col("event_type").alias("type_a"), F.col("n").alias("na")),
            "type_a",
        )
        .join(
            szs.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            (F.col("na") - F.col("n_overlap")).cast("long").alias("n_a_not_b"),
            (F.col("nb") - F.col("n_overlap")).cast("long").alias("n_b_not_a"),
        )
    )
    return exact.join(est_df, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_a_not_b",
        "n_b_not_a",
        (
            F.abs(F.col("est_ab") - F.col("n_a_not_b"))
            <= rel * F.col("union_est") + F.lit(1e-9)
        ).alias("within_bound_ab"),
        (
            F.abs(F.col("est_ba") - F.col("n_b_not_a"))
            <= rel * F.col("union_est") + F.lit(1e-9)
        ).alias("within_bound_ba"),
    )


@query(
    "bitmap_exact_distinct",
    """
    SELECT event_type AS scope,
           count(DISTINCT user_id) AS n_exact
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS scope, count(DISTINCT user_id) AS n_exact
    FROM events
    """,
)
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count — Spark's
    roaring-bitmap-style surface): ids partition into 32k-bit buckets,
    each (group, bucket) folds to one bitmap, and distinct = SUM over
    buckets of the bitmap popcount.  Where HLL/theta sketches trade
    error for size, bitmaps are exact AND still re-aggregable: the
    'ALL' row is NOT a second scan — it ORs the per-type bucket
    bitmaps (users in several types collapse through bitmap_or_agg),
    proving the same partial-state re-aggregation the sketch monitors
    use, with zero error.

    Contract: both scopes must equal count(DISTINCT user_id) computed
    directly by the oracle.

    100 TB shape: one shuffle to (group, bucket) — the bucket number
    splits even a billion-id space into bounded 4 KiB bitmaps so no
    single reduce key is hot; per-type and global counts share the
    same partials; persisting the bucket bitmaps gives exact
    incremental distinct (the Count-Min/theta store recipe, error
    -free for integer keys)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("ev_bitmap_v")
    # the (group, bucket) bitmap partials feed BOTH scopes; Catalyst
    # inlines a CTE referenced twice, so the one-CTE form re-scanned
    # events per scope (2 scans, r9 audit) — materialize the partials
    # once (O(groups x buckets) bitmaps) and fold both scopes from
    # the checkpoint (now 1 scan), which IS the re-aggregation story
    # the docstring tells
    spark.sql(
        """
        SELECT event_type,
               bitmap_bucket_number(user_id) AS bk,
               bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
        FROM ev_bitmap_v GROUP BY 1, 2
        """
    ).localCheckpoint().createOrReplaceTempView("ev_bitmap_b")
    return spark.sql(
        """
        WITH b AS (SELECT * FROM ev_bitmap_b),
        per_type AS (
          SELECT event_type AS scope,
                 CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_exact
          FROM b GROUP BY event_type
        ),
        global_buckets AS (
          SELECT bk, bitmap_or_agg(bm) AS bm FROM b GROUP BY bk
        ),
        global_row AS (
          SELECT 'ALL' AS scope,
                 CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_exact
          FROM global_buckets
        )
        SELECT scope, n_exact FROM per_type
        UNION ALL
        SELECT scope, n_exact FROM global_row
        """
    )


@query(
    "ams_f2_selfjoin_size",
    """
    WITH c AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    est AS (
      SELECT event_type,
             count(*) AS n_users,
             sum(cnt) AS n_rows,
             sum(CAST(cnt AS HUGEINT) * cnt) AS f2,
             sum(CASE WHEN (user_id * 48271 + 11) % 1000003 % 2 = 0
                 THEN cnt ELSE -cnt END) AS z1,
             sum(CASE WHEN (user_id * 69621 + 23) % 1000003 % 2 = 0
                 THEN cnt ELSE -cnt END) AS z2,
             sum(CASE WHEN (user_id * 40692 + 37) % 1000003 % 2 = 0
                 THEN cnt ELSE -cnt END) AS z3,
             sum(CASE WHEN (user_id * 16807 + 53) % 1000003 % 2 = 0
                 THEN cnt ELSE -cnt END) AS z4
      FROM c GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(f2 AS BIGINT) AS f2_exact,
           CAST((CAST(z1 AS HUGEINT) * z1 + CAST(z2 AS HUGEINT) * z2
                 + CAST(z3 AS HUGEINT) * z3 + CAST(z4 AS HUGEINT) * z4)
                // 4 AS BIGINT) AS ams_estimate
    FROM est
    """,
)
def ams_f2_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment F2 = sum of per-key count squares — the
    SELF-JOIN SIZE of each event type on user_id, the statistic query
    optimizers need for join-cardinality estimation — computed EXACTLY
    from one count aggregate, alongside the classic AMS tug-of-war
    sketch estimate (Alon-Matias-Szegedy 1996): four +/-1 sign hashes,
    Z_k = sum of s_k(u)*c_u, estimate = mean of Z_k^2.  The sign hashes
    are DETERMINISTIC multiplicative hashes (Lehmer multipliers mod a
    prime, then parity) so the whole mechanism — sketch included — is
    reproducible and hash-checkable on both engines; real deployments
    draw the hash seeds randomly, and the estimator arithmetic (which
    is what this entry pins) is identical.  Same
    deterministic-mechanism discipline as dp_randomized_response.

    100 TB shape: the only corpus-scale shuffle is the (type, user)
    count aggregate (map-side combinable); the F2/AMS reduction runs
    on per-key counts.  The AMS path matters at scale because Z_k
    partials are MERGEABLE (a sum) without materializing per-key
    counts at all — the streaming form folds s(u) per row.  Squares
    accumulate in decimal(38,0)/HUGEINT.  Reference scope: flo has no
    analytics surface — north-star extension (SURVEY §2 Part B
    distinct/approx)."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))

    def z(mult: int, add: int, alias: str):
        sgn = (
            (F.col("user_id") * mult + add) % 1000003 % 2 == 0
        )
        return F.sum(
            F.when(sgn, F.col("cnt")).otherwise(-F.col("cnt"))
        ).alias(alias)

    est = c.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("cnt").alias("n_rows"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
        ).alias("f2"),
        z(48271, 11, "z1"),
        z(69621, 23, "z2"),
        z(40692, 37, "z3"),
        z(16807, 53, "z4"),
    )
    return est.selectExpr(
        "event_type",
        "CAST(n_users AS BIGINT) AS n_users",
        "CAST(n_rows AS BIGINT) AS n_rows",
        "CAST(f2 AS BIGINT) AS f2_exact",
        "CAST((CAST(z1 AS DECIMAL(38,0)) * z1 + CAST(z2 AS DECIMAL(38,0))"
        " * z2 + CAST(z3 AS DECIMAL(38,0)) * z3 + CAST(z4 AS"
        " DECIMAL(38,0)) * z4) div 4 AS BIGINT) AS ams_estimate",
    )


@query(
    "capture_recapture_estimate",
    """
    WITH marks AS (
      SELECT user_id,
             max(CASE WHEN (event_id * 2654435761) % 7 < 3
                      THEN 1 ELSE 0 END) AS in_s1,
             max(CASE WHEN (event_id * 40503) % 7 < 3
                      THEN 1 ELSE 0 END) AS in_s2
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(in_s1) AS BIGINT) AS n_sample1,
           CAST(sum(in_s2) AS BIGINT) AS n_sample2,
           CAST(sum(in_s1 * in_s2) AS BIGINT) AS n_recaptured,
           CAST((sum(in_s1) * sum(in_s2)) // sum(in_s1 * in_s2) AS BIGINT)
             AS lincoln_petersen_est,
           CAST(((sum(in_s1) + 1) * (sum(in_s2) + 1))
                // (sum(in_s1 * in_s2) + 1) - 1 AS BIGINT)
             AS chapman_est
    FROM marks
    """,
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE population estimation (Lincoln-Petersen and
    the bias-corrected Chapman estimator — the ecology method that
    predates sketches for "how many distinct are there REALLY":
    two independent observation passes, overlap size reveals the
    unseen mass via N-hat = n1*n2/m): the two "capture" passes are
    independent deterministic hash marks over each user's events
    (different Knuth multipliers, ~3/7 inclusion each), recapture is
    the intersection, and both estimators are exact integer floor
    divisions — so the estimate, its inputs, AND the true distinct
    count all hash, letting the entry double as its own accuracy
    report.  Estimation logic this shape is what audit teams use to
    size UNDERCOUNTS (dedup missed-match rates, log-loss estimation)
    where an HLL can only count what it SAW.

    100 TB shape: one map-side-combinable per-user mark reduction,
    then a single-row aggregate — no shuffle beyond the user
    groupBy; the marks are scan-stage hash arithmetic.  North-star
    extension (SURVEY §2 sketch/approx rows; the statistical-sample
    counterpart of hll_sketch_union_bounded's algorithmic
    summary)."""
    ev = load(spark, sf_dir, "events")
    marks = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_id") * 2654435761) % 7 < 3, 1).otherwise(0)
        ).alias("in_s1"),
        F.max(
            F.when((F.col("event_id") * 40503) % 7 < 3, 1).otherwise(0)
        ).alias("in_s2"),
    )
    return marks.agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum("in_s1").cast("long").alias("n_sample1"),
        F.sum("in_s2").cast("long").alias("n_sample2"),
        F.sum(F.col("in_s1") * F.col("in_s2"))
        .cast("long")
        .alias("n_recaptured"),
        F.expr("(sum(in_s1) * sum(in_s2)) div sum(in_s1 * in_s2)")
        .cast("long")
        .alias("lincoln_petersen_est"),
        F.expr(
            "((sum(in_s1) + 1) * (sum(in_s2) + 1))"
            " div (sum(in_s1 * in_s2) + 1) - 1"
        )
        .cast("long")
        .alias("chapman_est"),
    )
