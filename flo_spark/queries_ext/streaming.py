"""Structured Streaming entries: windowed aggregations, stateful
operators, stream-stream and stream-static joins, CEP, drift/sketch
monitors, IVM retractions and streaming ingest/dedup.

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
    "stream_static_join_tiers",
    "stream_stateful_user_stats",
    "stream_stream_join_attribution",
    "stream_rollup_hourly",
    "stream_profile",
    "stream_dedup_ingest",
    "stream_quantile_monitor",
    "stream_theta_audience_monitor",
    "stream_sliding_topk_sketch",
    "stream_scd2_maintenance",
    "stream_bitmap_distinct_monitor",
    "stream_stream_left_outer_attribution",
    "stream_ivm_signed_deltas",
    "stream_observe_metrics",
    "stream_late_data_drop_audit",
    "stream_stream_full_outer_attribution",
    "stream_chained_window_rollup",
    "stream_cep_pattern_monitor",
    "stream_drift_monitor",
    "watermark_disorder_audit",
    "stream_lakehouse_sink",
    "stream_stream_semi_attribution",
    "session_window_dynamic_gap",
    "stream_dlq_ingest",
    "rate_limiter_replay",
    "slo_burn_rate_alerts",
    "erlang_b_blocking",
    "consistent_hashing_ring",
    "lindley_queue_replay",
]


@query(
    "stream_static_join_tiers",
    """
    SELECT 'tier' || CAST(user_id % 5 AS VARCHAR) AS tier,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY tier
    """,
)
def stream_static_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events feed joins a static
    (broadcast) dimension per micro-batch, then aggregates per tier.
    The static side is re-resolved every batch — Spark's analog of a
    slowly-changing broadcast dim at 100 TB."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    tiers = spark.createDataFrame(
        [(i, f"tier{i}") for i in range(5)], ["tier_id", "tier"]
    )
    ev = _events_stream(spark, sf_dir).withColumn(
        "tier_id", (F.col("user_id") % 5).cast("long")
    )
    joined = ev.join(F.broadcast(tiers), "tier_id")
    agg = joined.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    return run_to_memory(agg, await_new=False, output_mode="complete", shuffle_partitions=8)


@query(
    "stream_stateful_user_stats",
    """
    SELECT user_id, count(*) AS n_events, round(max(value), 2) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, max) kept in explicit state — the
    Spark-native form of flo's per-consumer cursor state
    (consumer_stream/mod.rs:84-119).  State is partitioned by key
    across executors; each micro-batch updates and emits its keys.
    Deterministic here because the drained input is one file => one
    micro-batch; rounding happens Spark-side after the UDF."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("raw_max", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cnt", T.LongType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update_user(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            cnt, mx = state.get
        else:
            cnt, mx = 0, float("-inf")
        for pdf in pdf_iter:
            cnt += len(pdf)
            bmax = pdf["value"].max()
            if bmax == bmax:  # skip all-NaN batches
                mx = max(mx, float(bmax))
        state.update((cnt, mx))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [cnt], "raw_max": [mx]}
        )

    ev = _events_stream(spark, sf_dir)
    stats = ev.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_memory(stats, await_new=False, output_mode="update", shuffle_partitions=8)
    return res.select(
        "user_id", "n_events", F.round("raw_max", 2).alias("max_value")
    )


@query(
    "stream_stream_join_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases attributed to
    a click by the same user within the preceding 30 minutes.  Both
    sides are streaming reads; the watermarks + the time-range join
    condition bound the join state Spark must retain (clicks older than
    watermark - 30 min are evicted), which is what makes a stream-stream
    join feasible at 100 TB — state is O(window), not O(stream).
    Deterministic under the drain trigger: inner-join matches emit in
    the micro-batch the match arrives, and one input file = one batch."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
    ).select("user_id", "click_id", "purchase_id")
    return run_to_memory(joined, await_new=False, output_mode="append", shuffle_partitions=8)


@query(
    "stream_rollup_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY bucket, event_type
    """,
)
def stream_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate maintained BY THE STREAM: the events stream
    drains through a foreachBatch sink that upserts an hourly rollup
    table (`operators.rollup.maintain_rollup` — only the buckets
    present in each micro-batch are rewritten), and the query returns
    the resulting rollup.  This is the hypertable story end-to-end:
    ingest keeps the aggregate fresh incrementally; dashboards read the
    GB-sized rollup, never the raw log.  The oracle is the plain batch
    aggregate — streaming-maintained partials must merge to exactly the
    batch answer (sum/count/min/max are decomposable; rounding happens
    only at read time, never inside the maintained partials)."""
    import os as _os

    from flo_spark.operators.rollup import maintain_rollup
    from flo_spark.queries import _events_stream, scratch_dir

    ev = _events_stream(spark, sf_dir)
    tmp = scratch_dir("flo_stream_rollup_")
    rollup_dir = _os.path.join(tmp, "rollup")
    q = (
        ev.writeStream.foreachBatch(
            lambda b, _eid: maintain_rollup(
                rollup_dir, b, bucket="1 hour", keys=["event_type"]
            )
        )
        .option("checkpointLocation", _os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("stream rollup drain did not finish within 120s")
    return spark.read.parquet(rollup_dir).select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@query(
    "stream_profile",
    """
    WITH e AS (
      SELECT '/' || event_type || '/u' || CAST(user_id % 10 AS VARCHAR)
               AS namespace,
             event_type AS ns0,
             octet_length(encode(coalesce(props, ''))) AS nbytes
      FROM events
    )
    SELECT ns0,
           count(*) AS n_events,
           CAST(count(DISTINCT namespace) AS BIGINT) AS n_namespaces,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes,
           CAST(max(nbytes) AS BIGINT) AS max_bytes
    FROM e GROUP BY ns0
    """,
)
def stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational stream profile — the report a flo operator reads
    before sizing retention/segments: per top-level namespace segment
    (flo's convention is '/'-separated paths, README.md:103), event
    counts, distinct-namespace cardinality under the prefix, and
    payload byte totals/maxima.  Uses the engine's canonical
    events->envelope derivation (namespace = '/<type>/u<user mod
    10>'), so the numbers describe the same stream every flo-layer
    entry consumes.

    100 TB shape: one aggregate keyed on the (low-cardinality) first
    path segment; the distinct-namespace count adds the standard
    second (ns0, namespace) phase — both shuffles move reduced
    partials, and payload LENGTHS are computed in the scan stage, so
    payload bytes never cross an exchange."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.concat(
            F.lit("/"),
            F.col("event_type"),
            F.lit("/u"),
            (F.col("user_id") % 10).cast("string"),
        ).alias("namespace"),
        F.col("event_type").alias("ns0"),
        F.octet_length(F.coalesce("props", F.lit(""))).alias("nbytes"),
    )
    return e.groupBy("ns0").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("namespace").alias("n_namespaces"),
        F.sum("nbytes").alias("sum_bytes"),
        F.max("nbytes").alias("max_bytes"),
    )


@query(
    "stream_dedup_ingest",
    """
    SELECT DISTINCT md5(event_type || '|'
                        || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR))
               AS dedup_key
    FROM events
    """,
)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with UNBOUNDED cross-batch exact
    dedup (streaming/dedup_ingest.py): every micro-batch's keys
    anti-join a persistent parquet seen-store and only first-seen keys
    are accepted — once seen, duplicate forever, the contract a
    watermarked dedup cannot express.  Batch shards are named by batch
    id so crash replays overwrite themselves (exactly-once accepts;
    replay/restart semantics pinned in tests/test_streaming.py).  The
    oracle is the batch ground truth: the accepted set must equal the
    distinct key set of the whole stream.  Key = md5 of a coarse
    (event_type, floor(value)) fingerprint so real duplicate pressure
    exists in the testdata."""
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.streaming.dedup_ingest import dedup_ingest

    tmp = scratch_dir("flo_dedup_ingest_")
    key = F.md5(
        F.concat_ws(
            "|",
            F.col("event_type"),
            F.floor(F.col("value")).cast("long").cast("string"),
        ).cast("binary")
    )
    return dedup_ingest(
        _events_stream(spark, sf_dir),
        store_dir=f"{tmp}/store",
        key=key,
        checkpoint_dir=f"{tmp}/ckpt",
    )


@query(
    "stream_quantile_monitor",
    """
    SELECT CAST(q AS DOUBLE) AS q,
           (SELECT count(*) FROM events WHERE value IS NOT NULL) AS n_rows,
           TRUE AS within_bound
    FROM (VALUES (0.25), (0.5), (0.9)) AS t(q)
    """,
)
def stream_quantile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentile monitoring over a PERSISTENT sketch store
    (streaming/sketch_monitor.py): every micro-batch of the event
    stream reduces to one mergeable sketch row written as its own
    replay-safe shard; the all-time quantiles come from merging the
    shards — never rescanning raw history.  This is the operational
    'p50/p95 of a metric, maintained forever, restart-safe' monitor
    that percentile_approx cannot express because its sketch state
    never leaves the query.

    Contract: each monitored quantile of event.value must land
    between the exact q +- 0.02 percentiles of the same data
    (JVM-computed, boolean per q); replay idempotency is pinned in
    tests/test_sketch_monitor.py."""
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.streaming.sketch_monitor import sketch_monitor

    QS = [0.25, 0.5, 0.9]
    EPS = 0.02
    tmp = scratch_dir("flo_sketch_monitor_")
    sk = sketch_monitor(
        _events_stream(spark, sf_dir),
        store_dir=f"{tmp}/store",
        value=F.col("value"),
        checkpoint_dir=f"{tmp}/ckpt",
    )
    ests = [(q, sk.quantile(q)) for q in QS]
    est_df = spark.createDataFrame(ests, "q double, est double")
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    brackets = ev.agg(
        F.count("*").alias("n_rows"),
        *[
            F.expr(f"percentile(value, {max(q - EPS, 0.0)})").alias(f"lo_{i}")
            for i, q in enumerate(QS)
        ],
        *[
            F.expr(f"percentile(value, {min(q + EPS, 1.0)})").alias(f"hi_{i}")
            for i, q in enumerate(QS)
        ],
    )
    lo = F.array(*[F.col(f"lo_{i}") for i in range(len(QS))])
    hi = F.array(*[F.col(f"hi_{i}") for i in range(len(QS))])
    qpos = F.array_position(F.array(*[F.lit(q) for q in QS]), F.col("q"))
    return (
        est_df.crossJoin(F.broadcast(brackets))
        .select(
            "q",
            "n_rows",
            (
                (F.col("est") >= F.element_at(lo, qpos.cast("int")))
                & (F.col("est") <= F.element_at(hi, qpos.cast("int")))
            ).alias("within_bound"),
        )
    )


@query(
    "stream_theta_audience_monitor",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def stream_theta_audience_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment distinct-audience monitoring over a PERSISTENT
    theta-sketch store (streaming/sketch_monitor.py): each micro-batch
    of the event stream reduces to one k-minimum-values sketch row per
    event type, written as a replay-safe shard; all-time distinct
    counts — and pairwise overlaps, the set algebra HLL lacks — come
    from merging shards, never rescanning history.  Theta state is a
    pure function of the user SET, so replays, reorderings, and
    partitionings all converge to the identical store (pinned exactly
    in tests/test_sketch_monitor.py).

    Contract: per type, |estimate - exact| <= 4/sqrt(k) * exact + 1
    under the KMV error model; below k distinct users the sketch is
    exact.  The exact counts come from the same data and pin the
    grouping."""
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.streaming.sketch_monitor import theta_monitor

    K = 256
    tmp = scratch_dir("flo_theta_monitor_")
    sketches = theta_monitor(
        _events_stream(spark, sf_dir),
        store_dir=f"{tmp}/store",
        segment=F.col("event_type"),
        item=F.col("user_id"),
        checkpoint_dir=f"{tmp}/ckpt",
        k=K,
    )
    rel = 4 / K ** 0.5
    est_df = spark.createDataFrame(
        [(t, float(sk.estimate())) for t, sk in sketches.items()],
        "event_type string, est double",
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return exact.join(est_df, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= rel * F.col("n_exact") + 1
        ).alias("within_bound"),
    )


@query(
    "stream_sliding_topk_sketch",
    """
    WITH base AS (
      SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
               AS w0,
             user_id
      FROM events
    ),
    slides AS (
      SELECT w0 AS window_start, user_id FROM base
      UNION ALL
      SELECT w0 - INTERVAL 30 MINUTE AS window_start, user_id FROM base
    ),
    c AS (
      SELECT window_start, user_id, count(*) AS n_events
      FROM slides GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, user_id, n_events,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, user_id) AS rn
      FROM c
    )
    SELECT window_start, CAST(user_id AS BIGINT) AS user_id,
           CAST(n_events AS BIGINT) AS n_events, TRUE AS est_ge_exact
    FROM r WHERE rn <= 3
    """,
)
def stream_sliding_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window heavy hitters over a PERSISTENT Count-Min store
    (streaming/sketch_monitor.py): every micro-batch folds each 1h/30m
    sliding window it touches into one CM sketch row plus the batch's
    per-(window, user) counts, both written as replay-safe shards; the
    all-time per-window top-3 then comes from re-aggregating shards —
    never rescanning raw history — and every reported row is verified
    against the merged sketch DISTRIBUTED (one cogroup per window, no
    driver-side sketch collect).

    Contract: top-3 per window by exact count (deterministic ties:
    count desc, user_id asc) hash-matches the batch ground truth, and
    CM's one-sided invariant estimate >= exact holds for every row.
    The tested configuration keeps per-batch candidates complete so
    counts stay exact-checkable; at 100 TB the candidate shards prune
    to per-batch top-m and the CM estimates take over the ranking —
    the fold is identical either way (the honest trade is documented
    here, not hidden).

    100 TB shape: per batch, one slide-expansion + one (window, item)
    shuffle; the store grows by O(windows) sketch rows per batch
    (compactable by merging shards per window); final ranking is one
    window-partitioned top-k; verification joins sketch rows to the
    3-row-per-window candidates by window."""
    import pandas as pd

    from flo_spark.operators.sketch import CountMinSketch
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.streaming.sketch_monitor import (
        countmin_topk_monitor,
        sketch_rows_df,
    )

    WIDTH, DEPTH = 1024, 4
    tmp = scratch_dir("flo_cm_monitor_")
    exact = countmin_topk_monitor(
        _events_stream(spark, sf_dir),
        store_dir=f"{tmp}/store",
        ts=F.col("ts"),
        item=F.col("user_id"),
        checkpoint_dir=f"{tmp}/ckpt",
        width=WIDTH,
        depth=DEPTH,
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("item")
    )
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("window_start", "item", "cnt")
    )
    sk_rows = sketch_rows_df(spark, f"{tmp}/store")

    def verify(key, cand: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(
                columns=["window_start", "user_id", "n_events", "est_ge_exact"]
            )
        sk = CountMinSketch(WIDTH, DEPTH)
        for cells, total in zip(rows["cells"], rows["total"]):
            sk.merge(
                CountMinSketch.from_row(list(cells), int(total), WIDTH, DEPTH)
            )
        ests = sk.estimate_many(cand["item"].astype("int64").tolist())
        return pd.DataFrame(
            {
                "window_start": cand["window_start"],
                "user_id": cand["item"].astype("int64"),
                "n_events": cand["cnt"].astype("int64"),
                "est_ge_exact": ests >= cand["cnt"].to_numpy(),
            }
        )

    return (
        top.groupBy("window_start")
        .cogroup(sk_rows.groupBy("window_start"))
        .applyInPandas(
            verify,
            "window_start timestamp, user_id long, n_events long, "
            "est_ge_exact boolean",
        )
    )


@query(
    "stream_scd2_maintenance",
    """
    WITH chg AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS valid_from,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY valid_from) AS BIGINT)
             AS version,
           valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) IS NULL AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM chg
    """,
)
def stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 maintained FROM A STREAM: the change feed (per-user
    per-day activity) arrives in micro-batches; each batch reduces to
    its partial (user, day, count) change rows written as the batch's
    own replay-safe shard (overwrite-own-shard — the monitor-store
    idempotency recipe), and the versioned dimension DERIVES at read
    time: merge shards additively, then the same lead-window
    construction as ``scd2_customer_versions``.  Keeping the STORE as
    an idempotent change log and deriving versions on read is what
    makes streaming SCD2 replay-safe — a stored materialized
    [valid_from, valid_to) row would need in-place rewrites on every
    late or replayed batch.

    Contract: the streamed store's derived versions hash-match the
    batch ground truth computed straight from the events table.

    100 TB shape: per batch one (user, day) partial aggregation; the
    store grows by batch-partial rows (compactable additively, same
    scheme as compact_countmin_store); the read-side merge is one key
    shuffle + a user-partitioned window."""
    from flo_spark.queries import _events_stream, scratch_dir

    tmp = scratch_dir("flo_scd2_stream_")
    store = f"{tmp}/store"

    def fold(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy(
                "user_id", F.date_trunc("day", "ts").alias("valid_from")
            )
            .agg(F.count("*").alias("n_events"))
            .write.mode("overwrite")
            .parquet(f"{store}/batch={batch_id}")
        )

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("scd2 maintenance stream did not drain")
    chg = (
        spark.read.parquet(f"{store}/batch=*")
        .groupBy("user_id", "valid_from")
        .agg(F.sum("n_events").alias("n_events"))
    )
    w = Window.partitionBy("user_id").orderBy("valid_from")
    return chg.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )


@query(
    "stream_bitmap_distinct_monitor",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def stream_bitmap_distinct_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct-count monitoring — the zero-error
    sibling of `stream_theta_audience_monitor`: each micro-batch folds
    to per-(type, bucket) BITMAPS (bitmap_construct_agg over
    bitmap_bit_position) written as the batch's own replay-safe shard;
    all-time distincts come from bitmap_or_agg over shards + popcount,
    never rescanning history.  Bitmap OR is IDEMPOTENT — a replayed
    batch's shard ORs in with no effect even if the shard scheme
    failed — so this store is replay-safe by algebra, not just by
    overwrite discipline (stronger than the additive Count-Min/theta
    stores).  The price vs sketches: state scales with the true id
    range (32k ids per 4 KiB bucket), the right trade for integer
    keys below ~10^10.

    Contract: the folded store's counts hash-match exact
    count(DISTINCT) from the batch table — no error bound needed.

    100 TB shape: per batch one (type, bucket) aggregation; the store
    grows by bucket rows per batch and compacts by the same OR
    (idempotent, crash-safe to re-run); the read-side merge is one
    key shuffle of 4 KiB values."""
    from flo_spark.queries import _events_stream, scratch_dir

    tmp = scratch_dir("flo_bitmap_monitor_")
    store = f"{tmp}/store"

    def fold(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy(
                "event_type",
                F.expr("bitmap_bucket_number(user_id)").alias("bk"),
            )
            .agg(
                F.expr(
                    "bitmap_construct_agg(bitmap_bit_position(user_id))"
                ).alias("bm")
            )
            .write.mode("overwrite")
            .parquet(f"{store}/batch={batch_id}")
        )

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("bitmap monitor stream did not drain")
    shards = spark.read.parquet(f"{store}/batch=*")
    return (
        shards.groupBy("event_type", "bk")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct")
        )
    )


@query(
    "stream_stream_left_outer_attribution",
    """
    WITH m AS (
      SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
                   max(CASE WHEN event_type = 'purchase' THEN ts END))
               AS mx
      FROM events
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.user_id, c.click_id, p.purchase_id, c.cts
      FROM c LEFT JOIN p
        ON p.user_id = c.user_id
       AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
    )
    SELECT j.user_id, j.click_id, j.purchase_id
    FROM j, m WHERE j.cts < m.mx - INTERVAL 95 MINUTE
    """,
)
def stream_stream_left_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantic the
    inner-join entry can't show: clicks with NO purchase within 30
    minutes must still emit, null-padded, and they can only do so
    once the watermark PROVES no match can still arrive (state
    eviction time, watermark - 30 min past the click).  Inner matches
    emit in the batch the match arrives; the null pads emit in the
    post-watermark flush batch.

    The drained result is then restricted — identically on both
    engines — to clicks older than the GLOBAL watermark's final
    position minus margin: Spark's multi-input watermark is the MIN
    over both sides' per-column watermarks (least(max click_ts,
    max purchase_ts) - 1h), so the cutoff is least(...) - 95 min —
    the region where the final watermark provably passed every
    click's +30 min match window and pad emission is deterministic.
    Clicks in the stream's trailing watermark window are NOT
    comparable (the stream hasn't decided them yet — that's watermark
    semantics, not a defect) and are excluded by the same cutoff in
    the oracle.

    100 TB shape: join state is O(watermark window), not O(stream) —
    clicks evict 90 min after their event time, purchases after 60 —
    which is the property that makes an unbounded stream-stream outer
    join runnable at all; the cutoff frame is 1-row (broadcast by
    construction)."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        "leftOuter",
    ).select("user_id", "click_id", "purchase_id", "click_ts")
    res = run_to_memory(
        joined, await_new=False, output_mode="append", shuffle_partitions=8
    )
    mx = load(spark, sf_dir, "events").agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("mx")
    )
    return (
        res.crossJoin(F.broadcast(mx))
        .filter(F.col("click_ts") < F.col("mx") - F.expr("INTERVAL 95 MINUTES"))
        .select("user_id", "click_id", "purchase_id")
    )


@query(
    "stream_ivm_signed_deltas",
    """
    SELECT user_id,
           CAST(sum(CASE event_type WHEN 'purchase' THEN 1
                                    WHEN 'error' THEN -1 END) AS BIGINT)
             AS net_rows,
           CAST(sum(CASE event_type WHEN 'purchase' THEN 1 ELSE -1 END
                    * CAST(floor(value * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS net_value_x1e4
    FROM events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY user_id
    """,
)
def stream_ivm_signed_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with RETRACTIONS — the
    differential-dataflow/DBSP pattern: the change stream carries
    SIGNED deltas (purchase = insert +value, error = retraction
    -value), each micro-batch folds to per-user partial sums (which
    can be NEGATIVE — the property an append-only monitor never
    exercises), partials persist as replay-safe per-batch shards, and
    the live view derives by merging shards additively.  The view can
    go DOWN; correctness rests on the aggregate being a commutative
    GROUP (sum/count — invertible), which is precisely the class IVM
    can maintain without rescanning: MIN/MAX are deliberately absent
    (a retraction of the current min forces a rescan — the documented
    boundary of delta maintenance).

    Contract: the shard-merged view hash-matches the batch signed
    aggregate over the same events.  Value deltas ride the exact
    scaled-long grid (money discipline), so retraction is exact
    cancellation, not float residue.

    100 TB shape: per batch one map-side-combinable signed partial
    aggregation (shuffle of per-user partials); the store grows by
    batch-partial rows and compacts additively (same scheme as
    compact_countmin_store); the read-side merge is one key shuffle.
    Reference scope: flo consumers rebuild views by replaying the
    log (README.md:8-19); signed-delta folding is the engine-side
    shortcut — north-star extension."""
    from flo_spark.queries import _events_stream, scratch_dir

    tmp = scratch_dir("flo_ivm_")
    store = f"{tmp}/store"

    def fold(batch: DataFrame, batch_id: int) -> None:
        (
            batch.filter(F.col("event_type").isin("purchase", "error"))
            .select(
                "user_id",
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(-1)
                .alias("sgn"),
                money_scaled(F.col("value")).alias("v"),
            )
            .groupBy("user_id")
            .agg(
                F.sum("sgn").alias("d_rows"),
                F.sum(F.col("sgn") * F.col("v")).alias("d_value"),
            )
            .write.mode("overwrite")
            .parquet(f"{store}/batch={batch_id}")
        )

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("ivm stream did not drain")
    return (
        spark.read.parquet(f"{store}/batch=*")
        .groupBy("user_id")
        .agg(
            F.sum("d_rows").cast("long").alias("net_rows"),
            F.sum("d_value").cast("long").alias("net_value_x1e4"),
        )
    )


@query(
    "stream_observe_metrics",
    """
    WITH t AS (
      SELECT count(*) AS n_rows,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS sum_value,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchase
      FROM events
    )
    SELECT metric, observed, direct, observed = direct AS consistent
    FROM (
      SELECT 'n_rows' AS metric, CAST(n_rows AS BIGINT) AS observed,
             CAST(n_rows AS BIGINT) AS direct FROM t
      UNION ALL
      SELECT 'sum_value_x1e4', CAST(sum_value AS BIGINT),
             CAST(sum_value AS BIGINT) FROM t
      UNION ALL
      SELECT 'n_purchase', CAST(n_purchase AS BIGINT),
             CAST(n_purchase AS BIGINT) FROM t
    )
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Dataset.observe`` on a STREAMING query — Spark's built-in
    pipeline-observability hook: named aggregate metrics ride each
    micro-batch's ``StreamingQueryProgress.observedMetrics`` without a
    second pass over the data.  The stream observes row count, exact
    scaled-long value sum, and purchase count while draining to a
    foreachBatch sink; per-batch observations are folded driver-side
    from ``recentProgress`` (O(batches) metadata — documented) and the
    contract is that the folded totals EQUAL the direct batch
    aggregate over the same events — exact because count/sum are
    batch-split-invariant and values ride the money grid.

    100 TB shape: observe() is a zero-extra-shuffle side aggregate
    computed inside the existing micro-batch plan (partial aggregation
    on the scan, one metrics row per batch to the driver); this is the
    production pattern for row-count/quality SLO monitoring of a
    streaming ingest (cf. constraint_audit for the batch analog).
    Reference scope: flo exposes per-partition head counters as its
    only ingest telemetry (SURVEY §2 A13); named metric observation is
    engine-side — north-star extension."""
    import time

    from flo_spark.queries import _events_stream, scratch_dir

    tmp = scratch_dir("flo_observe_")
    store = f"{tmp}/store"
    n_batches = {"n": 0}

    def sink(batch: DataFrame, batch_id: int) -> None:
        n_batches["n"] += 1
        batch.write.mode("overwrite").parquet(f"{store}/batch={batch_id}")

    src = _events_stream(spark, sf_dir).withColumn(
        "value_x1e4", money_scaled(F.col("value"))
    )
    q = (
        src.observe(
            "ingest",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value_x1e4").alias("sum_value_x1e4"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchase"),
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("observe stream did not drain")
    # progress events are delivered asynchronously after termination;
    # wait (bounded) until every data batch's observation has landed
    deadline = time.monotonic() + 30
    obs = []
    while time.monotonic() < deadline:
        obs = [
            p["observedMetrics"]["ingest"]
            for p in (q.recentProgress or [])
            if p.get("observedMetrics", {}).get("ingest") is not None
            and p["observedMetrics"]["ingest"]["n_rows"] > 0
        ]
        if len(obs) >= n_batches["n"] or sum(
            m["n_rows"] for m in obs
        ) >= spark.read.parquet(f"{store}/batch=*").count():
            break
        time.sleep(0.5)
    folded = {
        "n_rows": sum(m["n_rows"] for m in obs),
        "sum_value_x1e4": sum(m["sum_value_x1e4"] for m in obs),
        "n_purchase": sum(m["n_purchase"] for m in obs),
    }
    direct = (
        spark.read.parquet(f"{store}/batch=*")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value_x1e4").alias("sum_value_x1e4"),
            F.count_if(F.col("event_type") == "purchase").alias(
                "n_purchase"
            ),
        )
        .collect()[0]  # 1-row ground-truth aggregate (documented)
    )
    rows = [
        ("n_rows", int(folded["n_rows"]), int(direct["n_rows"])),
        (
            "sum_value_x1e4",
            int(folded["sum_value_x1e4"]),
            int(direct["sum_value_x1e4"]),
        ),
        ("n_purchase", int(folded["n_purchase"]), int(direct["n_purchase"])),
    ]
    return spark.createDataFrame(
        rows, "metric string, observed long, direct long"
    ).select(
        "metric",
        "observed",
        "direct",
        (F.col("observed") == F.col("direct")).alias("consistent"),
    )


@query(
    "stream_late_data_drop_audit",
    """
    WITH b AS (SELECT max(ts) AS tmax FROM events),
    ok AS (
      SELECT e.ts, e.event_type FROM events e, b
      WHERE NOT (e.ts > b.tmax - INTERVAL 48 HOUR
                 AND e.ts <= b.tmax - INTERVAL 24 HOUR)
    )
    SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP)
               AS window_start,
           event_type, count(*) AS n_events
    FROM ok GROUP BY 1, 2
    """,
)
def stream_late_data_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics made deterministic and
    hash-checkable: the event stream arrives in two waves against ONE
    checkpoint — wave 1 is everything except a 24-hour "late slice"
    (tmax-48h, tmax-24h], wave 2 is that slice, delivered only AFTER
    the first drain has committed an event-time watermark of
    max(wave1.ts) - 1h.  Every wave-2 row's hourly window closed >= 23
    hours before that watermark, so the stateful aggregation MUST drop
    all of them (the append/update-mode late-row rule: window.end <=
    watermark); the final per-(window, type) counts therefore equal
    the batch aggregate over wave 1 alone, which is exactly what the
    oracle computes.  Batch boundaries are deterministic because each
    wave is one parquet file and each run drains with
    Trigger.AvailableNow; the watermark survives the restart in the
    checkpoint (the contract that makes the construction sound).  The
    dropped-row COUNT is additionally pinned via the progress metrics
    (numRowsDroppedByWatermark) in tests/test_streaming.py.

    Update-mode emissions fold into per-batch shards keyed by
    (window, type) with last-writer-wins by batch id — the replay-safe
    upsert store the SCD2/rollup entries use.  The single-row tmax
    lookup is O(1) driver metadata (documented).

    100 TB shape: the windowed aggregation carries O(open windows x
    types) state, late rows are filtered BEFORE the state store (no
    state churn from stragglers), and the shard store grows by
    changed-keys-per-batch, compactable like the sketch stores.
    Reference scope: flo delivers events in id order with no
    event-time semantics (SURVEY §1.4); watermarks are the Spark-side
    extension (SURVEY §2 Part B streaming)."""
    import datetime
    import os

    from flo_spark.queries import scratch_dir

    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    # single-row metadata collect: the horizon anchor (documented —
    # O(1), same discipline as the head/status entries)
    tmax = ev.agg(F.max("ts")).collect()[0][0]
    late_lo = tmax - datetime.timedelta(hours=48)
    late_hi = tmax - datetime.timedelta(hours=24)
    in_slice = (F.col("ts") > F.lit(late_lo)) & (F.col("ts") <= F.lit(late_hi))

    tmp = scratch_dir("flo_late_audit_")
    feed, ckpt, store = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/store"
    ev.filter(~in_slice).coalesce(1).write.parquet(feed)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.write.mode("overwrite").parquet(f"{store}/batch={batch_id}")

    def drain() -> None:
        src = spark.readStream.schema(ev.schema).parquet(feed)
        agg = (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        q = (
            agg.writeStream.foreachBatch(fold)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("late-audit stream did not drain")

    drain()  # wave 1: establishes watermark = max(wave1.ts) - 1h
    ev.filter(in_slice).coalesce(1).write.mode("append").parquet(feed)
    drain()  # wave 2: every row late -> dropped before the state store

    shards = [
        f"{store}/{d}"
        for d in sorted(os.listdir(store))
        if d.startswith("batch=")
    ]
    merged = None
    for s in shards:
        part = spark.read.parquet(s).withColumn(
            "bid", F.lit(int(s.rsplit("=", 1)[1]))
        )
        merged = part if merged is None else merged.unionByName(part)
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("bid").desc()
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "event_type", "n_events")
    )


@query(
    "stream_stream_full_outer_attribution",
    """
    WITH m AS (
      SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
                   max(CASE WHEN event_type = 'purchase' THEN ts END))
               AS mx
      FROM events
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT coalesce(c.user_id, p.user_id) AS user_id,
             c.click_id, p.purchase_id, c.cts, p.pts
      FROM c FULL JOIN p
        ON p.user_id = c.user_id
       AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
    )
    SELECT j.user_id, j.click_id, j.purchase_id
    FROM j, m
    WHERE coalesce(j.cts < m.mx - INTERVAL 95 MINUTE, TRUE)
      AND coalesce(j.pts < m.mx - INTERVAL 95 MINUTE, TRUE)
    """,
)
def stream_stream_full_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — the set-complete
    attribution relation: matched click->purchase pairs, clicks with
    no purchase in their 30-minute window (purchase_id null), AND
    purchases with no preceding click (click_id null).  Pads on each
    side can only emit once the watermark proves no match can still
    arrive, so the decidable-region contract from the left-outer
    entry now applies to BOTH sides: a drained row is comparable iff
    every non-null event time sits below the final global watermark
    position minus margin (coalesce(ts < cutoff, TRUE) per side,
    cutoff = least(max click ts, max purchase ts) - 95 min > the 60
    min state retention + 30 min window).  Matched pairs emit when the
    match arrives and pass the same filter on both engines, so the
    three row populations stay consistent under one predicate.

    100 TB shape: state on each side is O(watermark window), never
    O(stream) — the eviction property that makes an unbounded
    full-outer stream join runnable; the cutoff frame is 1 row.
    Reference scope: flo's consume surface feeds Spark streams
    (SURVEY §2 Part B stream-stream joins); the outer-join semantics
    are Structured Streaming's, pinned here against a batch oracle."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        "fullOuter",
    ).select(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("u"),
        "click_id",
        "purchase_id",
        "click_ts",
        "p_ts",
    )
    res = run_to_memory(
        joined, await_new=False, output_mode="append", shuffle_partitions=8
    )
    mx = load(spark, sf_dir, "events").agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("mx")
    )
    cut = F.col("mx") - F.expr("INTERVAL 95 MINUTES")
    return (
        res.crossJoin(F.broadcast(mx))
        .filter(
            F.coalesce(F.col("click_ts") < cut, F.lit(True))
            & F.coalesce(F.col("p_ts") < cut, F.lit(True))
        )
        .select(
            F.col("u").alias("user_id"), "click_id", "purchase_id"
        )
    )


@query(
    "stream_chained_window_rollup",
    """
    WITH h AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT CAST(date_trunc('day', hour) AS TIMESTAMP) AS day_start,
             event_type,
             max(n_events) AS peak_hourly,
             count(*) AS n_hours
      FROM h GROUP BY 1, 2
    ),
    m AS (SELECT max(ts) AS mx FROM events)
    SELECT d.day_start, d.event_type,
           CAST(d.peak_hourly AS BIGINT) AS peak_hourly,
           CAST(d.n_hours AS BIGINT) AS n_hours
    FROM d, m
    WHERE d.day_start + INTERVAL 1 DAY <= m.mx - INTERVAL 2 HOUR
    """,
)
def stream_chained_window_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark 4
    multiple-stateful-operator support): a watermarked 1-hour tumbling
    count per event type feeds a SECOND windowed aggregation —
    window(w, '1 day') over the inner window column — producing each
    day's peak hourly rate and hour coverage without ever leaving the
    stream.  Chaining REQUIRES append mode (complete mode cannot
    propagate watermarks through the first aggregate), so the drained
    result is restricted — identically in the oracle — to days whose
    end sits at or below the final watermark (max ts - 2h): the region
    where the outer windows provably closed and emitted.  The
    single-aggregation entries (stream_tumbling_counts,
    stream_rollup_hourly) drain in complete mode and dodge this; the
    chained form is the one that needs the discipline.

    100 TB shape: two stateful operators, each keyed by (window,
    type) — state is O(open windows x types) per operator, not
    O(stream); the day rollup consumes the hourly aggregate's already
    tiny output, so the second shuffle moves spine-sized data.
    Reference scope: flo's consume surface feeds Spark streams; the
    chained-operator semantics are Structured Streaming's, pinned
    against a batch oracle."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    ev = _events_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.col("w"), "1 day").alias("day"), "event_type"
        )
        .agg(
            F.max("n_events").alias("peak_hourly"),
            F.count("*").alias("n_hours"),
        )
        .select(
            F.col("day.start").alias("day_start"),
            F.col("day.end").alias("day_end"),
            "event_type",
            "peak_hourly",
            "n_hours",
        )
    )
    res = run_to_memory(
        daily, await_new=False, output_mode="append", shuffle_partitions=8
    )
    mx = load(spark, sf_dir, "events").agg(F.max("ts").alias("mx"))
    return (
        res.crossJoin(F.broadcast(mx))
        .filter(F.col("day_end") <= F.col("mx") - F.expr("INTERVAL 2 HOURS"))
        .select(
            "day_start",
            "event_type",
            F.col("peak_hourly").cast("long").alias("peak_hourly"),
            F.col("n_hours").cast("long").alias("n_hours"),
        )
    )


@query(
    "stream_cep_pattern_monitor",
    """
    WITH r AS (
      SELECT user_id, ts, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM r
    WHERE event_type = 'click' AND e1 = 'click' AND e2 = 'purchase'
    GROUP BY user_id
    """,
)
def stream_cep_pattern_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATEFUL streaming CEP: the click -> click -> purchase
    strict-adjacency pattern of cep_sequence_pattern_detect detected
    ACROSS micro-batch boundaries — the event stream replays as three
    time-ordered waves against one checkpoint, and
    applyInPandasWithState carries each user's last two event types
    in keyed state, so a pattern whose three events straddle a wave
    boundary still counts (drop the carried prefix and those matches
    vanish — exactly what the batch oracle would catch).  Update-mode
    emissions fold into per-batch shards; the final count per user is
    the last writer (max batch id).  Within a user, event-time order
    equals arrival order because the waves are time-range slices —
    the in-order delivery contract flo's consume surface provides
    (SURVEY §2 A6).

    100 TB shape: state is O(2 event types + a counter) per user —
    constant per key, the smallest possible NFA state for this
    pattern; rows stream through one user-keyed shuffle per batch;
    the shard store grows by changed keys per batch and compacts like
    the sketch stores.  Reference scope: flo consume + Spark stateful
    streaming (SURVEY §2 Part B applyInPandasWithState), the CEP form
    of stream_stateful_user_stats."""
    import datetime

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flo_spark.queries import scratch_dir

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # single-row metadata collect: wave horizon anchors (documented —
    # O(1), the stream_late_data_drop_audit discipline)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    cut1, cut2 = lo + span, lo + span * 2

    tmp = scratch_dir("flo_cep_")
    feed, ckpt, store = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/store"

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_matches", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("p2", T.StringType()),
            T.StructField("p1", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def update_user(key, pdf_iter, state):
        (user_id,) = key
        p2, p1, cnt = state.get if state.exists else ("", "", 0)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        seq = [p2, p1] + list(pdf["event_type"])
        for i in range(len(seq) - 2):
            if (
                seq[i] == "click"
                and seq[i + 1] == "click"
                and seq[i + 2] == "purchase"
            ):
                cnt += 1
        state.update((seq[-2], seq[-1], cnt))
        yield pd.DataFrame({"user_id": [user_id], "n_matches": [cnt]})

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.write.mode("overwrite").parquet(
            f"{store}/batch={batch_id}"
        )

    def drain() -> None:
        src = spark.readStream.schema(ev.schema).parquet(feed)
        stats = src.groupBy("user_id").applyInPandasWithState(
            update_user,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            stats.writeStream.foreachBatch(fold)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("CEP stream did not drain")

    waves = [
        F.col("ts") <= F.lit(cut1),
        (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2)),
        F.col("ts") > F.lit(cut2),
    ]
    for i, w in enumerate(waves):
        ev.filter(w).coalesce(1).write.parquet(f"{feed}/wave={i}")
        drain()

    final = spark.read.option("basePath", store).parquet(store)
    wlast = Window.partitionBy("user_id").orderBy(F.col("batch").desc())
    return (
        final.withColumn("rn", F.row_number().over(wlast))
        .filter((F.col("rn") == 1) & (F.col("n_matches") > 0))
        .select("user_id", F.col("n_matches").cast("long").alias("n_matches"))
    )


@query(
    "stream_drift_monitor",
    """
    WITH s AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS vx,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS i1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    n AS (SELECT sum(i1) AS n1, sum(i2) AS n2 FROM s),
    g AS (SELECT vx, sum(i1) AS c1, sum(i2) AS c2 FROM s GROUP BY vx),
    cum AS (
      SELECT vx,
             sum(c1) OVER (ORDER BY vx) AS cc1,
             sum(c2) OVER (ORDER BY vx) AS cc2
      FROM g
    ),
    d AS (
      SELECT vx, abs(cc1 * n.n2 - cc2 * n.n1) AS dn FROM cum, n
    ),
    best AS (SELECT vx, dn FROM d ORDER BY dn DESC, vx LIMIT 1)
    SELECT CAST(n.n1 AS BIGINT) AS n_1,
           CAST(n.n2 AS BIGINT) AS n_2,
           CAST(best.dn AS BIGINT) AS ks_num,
           CAST((best.dn * 1000000) // (n.n1 * n.n2) AS BIGINT)
             AS ks_x1e6,
           CAST(best.vx AS BIGINT) AS ks_at_vx
    FROM best, n
    """,
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-drift monitor: the exact two-sample KS statistic
    between click and purchase value distributions, maintained from a
    replay-safe shard store that NEVER rescans history — the event
    stream arrives in three time waves against one checkpoint, each
    micro-batch folds its (value-cents, side) counts into an
    append-only per-batch parquet shard (idempotent on retry: the
    batch id names the shard), and the KS evaluation re-aggregates
    the reduced shards exactly as ks_drift_priority evaluates its
    one-shot counts.  Counts are mergeable integers, so the folded
    store provably equals the direct batch aggregate — the same
    monitor discipline as the quantile/theta/Count-Min stores, here
    powering a distribution-drift gate between dataset refreshes.

    100 TB shape: per batch one map-side-combinable (bucket, side)
    count of ONLY that batch's rows; store growth is
    distinct-buckets-per-batch, compactable by re-aggregation; the
    final ECDF walk runs on the distinct-bucket spine.  Reference
    scope: flo consume + Spark streaming (SURVEY §2 Part B streaming
    monitors)."""
    from flo_spark.queries import scratch_dir

    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    # single-row metadata collect: wave horizon anchors (documented)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    cut1, cut2 = lo + span, lo + span * 2

    tmp = scratch_dir("flo_drift_")
    feed, ckpt, store = f"{tmp}/feed", f"{tmp}/ckpt", f"{tmp}/store"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.filter(F.col("event_type").isin("click", "purchase"))
            .select(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("vx"),
                F.when(F.col("event_type") == "click", 1)
                .otherwise(0)
                .alias("i1"),
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .alias("i2"),
            )
            .groupBy("vx")
            .agg(F.sum("i1").alias("c1"), F.sum("i2").alias("c2"))
            .write.mode("overwrite")
            .parquet(f"{store}/batch={batch_id}")
        )

    def drain() -> None:
        src = spark.readStream.schema(ev.schema).parquet(feed)
        q = (
            src.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("drift stream did not drain")

    waves = [
        F.col("ts") <= F.lit(cut1),
        (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2)),
        F.col("ts") > F.lit(cut2),
    ]
    for i, w in enumerate(waves):
        ev.filter(w).coalesce(1).write.parquet(f"{feed}/wave={i}")
        drain()

    g = (
        spark.read.option("basePath", store)
        .parquet(store)
        .groupBy("vx")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
        .persist()  # totals + ECDF walk share the folded store scan
    )
    n = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wv = Window.orderBy("vx")
    cum = g.select(
        "vx",
        F.sum("c1").over(wv).alias("cc1"),
        F.sum("c2").over(wv).alias("cc2"),
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "vx",
        "n1",
        "n2",
        F.abs(
            F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1")
        ).alias("dn"),
    )
    best = d.orderBy(F.col("dn").desc(), F.col("vx")).limit(1)
    return best.selectExpr(
        "CAST(n1 AS BIGINT) AS n_1",
        "CAST(n2 AS BIGINT) AS n_2",
        "CAST(dn AS BIGINT) AS ks_num",
        "CAST((dn * 1000000) div (n1 * n2) AS BIGINT) AS ks_x1e6",
        "CAST(vx AS BIGINT) AS ks_at_vx",
    )


@query(
    "watermark_disorder_audit",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ),
    inv AS (
      SELECT a.user_id,
             count(*) AS n_inv,
             max(a.tus - b.tus) AS max_late_us
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND a.event_id < b.event_id
       AND a.tus > b.tus
      GROUP BY a.user_id
    ),
    per_user AS (
      SELECT user_id, count(*) AS n FROM e GROUP BY user_id
    ),
    tot AS (
      SELECT (SELECT count(*) FROM e) AS n_events,
             (SELECT count(*) FROM per_user) AS n_users,
             (SELECT sum(CAST(n AS HUGEINT) * (n - 1) // 2)
              FROM per_user) AS n_pairs,
             coalesce((SELECT sum(n_inv) FROM inv), 0) AS n_inversions,
             coalesce((SELECT max(n_inv) FROM inv), 0) AS max_user_inv,
             coalesce((SELECT max(max_late_us) FROM inv), 0)
               AS max_late_us
    )
    SELECT CAST(n_events AS BIGINT) AS n_events,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_inversions AS BIGINT) AS n_inversions,
           CAST(CAST(n_inversions AS HUGEINT) * 1000000 // n_pairs
                AS BIGINT) AS disorder_x1e6,
           CAST(max_user_inv AS BIGINT) AS max_user_inversions,
           CAST(max_late_us // 1000 AS BIGINT) AS max_lateness_ms
    FROM tot
    """,
)
def watermark_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning disorder audit (r8) — BEFORE picking a
    `withWatermark` delay, measure how out-of-order the stream
    actually is: within each user's stream, an INVERSION is a pair
    arriving in one order (event_id) but timestamped in the other
    (ts), the exact quantity the streaming entries' watermark
    assumptions rest on.  Emits the Kendall-style disorder rate
    (inversions / same-user pairs, exact 1e6 grid), the worst single
    user, and MAX LATENESS — the largest (earlier-arrival ts − later-
    arrival ts) gap, i.e. the smallest watermark delay that would
    have admitted every late event (stream_late_data_drop_audit shows
    what happens to events beyond it).  All integer microsecond
    arithmetic; counts in HUGEINT/DECIMAL(38,0).

    100 TB shape: the pair join is PER-USER (keyed equi-join on
    user_id with the inequality as residual) — fanout is bounded by
    per-user event counts, never a global self-join; the rollups are
    map-side-combinable.  A skewed power user bounds one task —
    the documented salting escape hatch applies past that.
    Reference scope: flo delivers per-partition in id order
    (consumer ordering guarantee, flo-client-lib consumer docs); this
    audit quantifies cross-source timestamp disorder that guarantee
    cannot remove — north-star extension (SURVEY §2 Part B
    streaming)."""
    # 3-column base, checkpointed: it feeds both sides of the
    # per-user pair join AND the per-user census — un-cut lineage
    # re-scanned events per fork (3 scans, r9 audit; now 1)
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(ts)").alias("tus")
    ).localCheckpoint()
    a = e.selectExpr("user_id", "event_id AS ida", "tus AS ta")
    b = e.selectExpr("user_id AS ub", "event_id AS idb", "tus AS tb")
    inv = (
        a.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("ida") < F.col("idb"))
            & (F.col("ta") > F.col("tb")),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_inv"),
            F.max(F.col("ta") - F.col("tb")).alias("max_late_us"),
        )
    )
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # n_events folds out of the same per-user reduction (r9: a
    # separate e.agg(count) branch cost a fourth corpus scan)
    tot = (
        per_user.agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count("*").alias("n_users"),
            F.sum(
                F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2")
            ).alias("n_pairs"),
        )
        .crossJoin(
            inv.agg(
                F.coalesce(F.sum("n_inv"), F.lit(0)).alias("n_inversions"),
                F.coalesce(F.max("n_inv"), F.lit(0)).alias("max_user_inv"),
                F.coalesce(F.max("max_late_us"), F.lit(0)).alias(
                    "max_late_us"
                ),
            )
        )
    )
    return tot.selectExpr(
        "CAST(n_events AS BIGINT) AS n_events",
        "CAST(n_users AS BIGINT) AS n_users",
        "CAST(n_inversions AS BIGINT) AS n_inversions",
        "CAST(CAST(n_inversions AS DECIMAL(38,0)) * 1000000 div n_pairs"
        " AS BIGINT) AS disorder_x1e6",
        "CAST(max_user_inv AS BIGINT) AS max_user_inversions",
        "CAST(max_late_us div 1000 AS BIGINT) AS max_lateness_ms",
    )


@query(
    "stream_lakehouse_sink",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(event_id) AS BIGINT) AS min_event,
           CAST(max(event_id) AS BIGINT) AS max_event,
           TRUE AS replay_noop
    FROM events GROUP BY event_type
    """,
)
def stream_lakehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink into the manifest-versioned
    lakehouse table (``ManifestTable.commit_stream_batch`` inside
    ``foreachBatch`` — the Delta streaming-sink idempotent-txn
    protocol): each micro-batch appends one fragment and advances the
    manifest's per-source ``txn`` ledger in the SAME atomic commit, so
    a batch re-delivered after a crash (written data but unclaimed
    manifest / uncommitted checkpoint) is detected by
    ``txn[source] >= batch_id`` and skipped without writing.

    The entry drains the events stream (availableNow), then SIMULATES
    the crash-replay: batch 0 is re-submitted verbatim and must be a
    version-preserving no-op — ``replay_noop`` carries that check into
    the hashed output (a double-append would also break n_events).
    The final table aggregate must equal the batch ground truth over
    raw events: nothing lost (at-least-once from checkpointing),
    nothing duplicated (at-most-once from the txn ledger).

    100 TB shape: one fragment + one O(1) manifest write per batch —
    sink cost scales with batch data, not table size; the ledger is
    O(sources) metadata.  Fragment-count growth is the standing
    small-file concern; small_file_compaction / expire+vacuum are the
    companions.  Reference scope: flo's produce-ack batching (A8
    credit flow) is the event-log cousin; manifest txn idempotency is
    the table-format generalization (SURVEY §2 Part B streaming)."""
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    tmp = scratch_dir("flo_stream_lake_")
    t = ManifestTable(f"{tmp}/tbl")
    cols = ["event_id", "user_id", "event_type"]

    def sink(batch: DataFrame, batch_id: int) -> None:
        t.commit_stream_batch(batch.select(*cols), batch_id, source_id="events")

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("lakehouse sink did not drain within 180s")
    v_before = t.current_version()
    # crash-replay simulation: batch 0 re-delivered.  The ledger check
    # runs BEFORE any write, so the probe frame's contents are never
    # read — a 1-row stand-in proves the no-op without re-collecting
    # batch 0 (no driver-side data collect).
    probe = spark.createDataFrame(
        [(0, 0, "probe")], "event_id long, user_id long, event_type string"
    )
    t.commit_stream_batch(probe, 0, source_id="events")
    replay_noop = t.current_version() == v_before
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.min("event_id").cast("long").alias("min_event"),
            F.max("event_id").cast("long").alias("max_event"),
        )
        .withColumn("replay_noop", F.lit(bool(replay_noop)))
    )


@query(
    "stream_stream_semi_attribution",
    """
    SELECT DISTINCT c.user_id, c.event_id AS click_id
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_semi_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join — the
    existence-check form that completes the streaming join matrix
    (inner / left outer / full outer are the sibling entries): clicks
    that HAVE an attributed purchase by the same user within the
    following 30 minutes, emitted without duplicating the click per
    match and without shipping any purchase column.  Semi is the
    right shape when downstream only needs "converted?" — state and
    output stay O(clicks in window), not O(matches), and a click
    emits at most once no matter how many purchases land in its
    window (the oracle's DISTINCT over the inner join states exactly
    that contract).

    Deterministic under the drain trigger: one input file = one
    micro-batch, matches emit in the batch the match arrives.  100 TB
    shape: watermarks + the time-range predicate bound both sides'
    state (rows older than watermark - 30 min evict); the join keys
    on user_id so state is hash-partitioned across executors.
    Reference scope: flo has no join surface — Structured Streaming
    north-star extension (SURVEY §2 streaming rows)."""
    from flo_spark.queries import _events_stream
    from flo_spark.streaming.consume_stream import run_to_memory

    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        "left_semi",
    ).select("user_id", "click_id")
    return run_to_memory(
        joined, await_new=False, output_mode="append", shuffle_partitions=8
    )


@query(
    "session_window_dynamic_gap",
    """
    WITH ev AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type = 'purchase' THEN 3600000
                  ELSE 900000 END AS gap_ms
      FROM events
    ),
    marked AS (
      SELECT user_id, ts_ms, gap_ms,
             CASE WHEN ts_ms >= max(ts_ms + gap_ms) OVER (
                    PARTITION BY user_id ORDER BY ts_ms
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR row_number() OVER (
                    PARTITION BY user_id ORDER BY ts_ms) = 1
                  THEN 1 ELSE 0 END AS brk
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts_ms, gap_ms,
             sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ),
    per_session AS (
      SELECT user_id, sid, count(*) AS n_events,
             max(ts_ms + gap_ms) - min(ts_ms) AS dur_ms
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           CAST(sum(dur_ms) AS BIGINT) AS dur_ms_total
    FROM per_session GROUP BY user_id % 10
    """,
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows — the per-ROW gap expression form
    of ``F.session_window`` (Spark 3.2+'s extension the static-gap
    entry cannot exercise: a purchase keeps the session alive 60
    minutes, anything else 15 — engagement-weighted sessionization):
    Spark's native session merge runs against an oracle that derives
    the identical sessions from first principles — a session breaks
    when an event's time reaches the RUNNING MAX of all previous
    events' (ts + their own gap) (running max, not lag: one
    long-gap event must hold the session open across several
    short-gap successors — the bug a lag-based oracle would hide),
    with the half-open [start, end) boundary convention.

    Aggregates per user-bucket (session counts, event mass, longest
    session, total open duration) are exact epoch-millis integers.

    100 TB shape: sessionization is one user-partitioned window pass
    on both formulations; Spark's native operator carries session
    state per key in streaming mode (the batch entry pins identical
    semantics).  Completes the session family: static gap
    (session_windows_30m), streaming state, and now per-event
    dynamic gaps (SURVEY §2 streaming/window rows)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", "60 minutes")
        .otherwise("15 minutes")
        .alias("gap"),
    )
    sess = ev.groupBy(
        F.session_window(F.col("ts"), F.col("gap")).alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    per = sess.select(
        "user_id",
        "n_events",
        (
            F.expr("unix_millis(cast(w.end as timestamp))")
            - F.expr("unix_millis(cast(w.start as timestamp))")
        ).alias("dur_ms"),
    )
    return per.groupBy(
        (F.col("user_id") % 10).cast("long").alias("user_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.sum("dur_ms").cast("long").alias("dur_ms_total"),
    )


@query(
    "stream_dlq_ingest",
    """
    WITH classified AS (
      SELECT event_id, event_type, value,
             CASE WHEN value IS NULL OR value < 0 THEN 'neg_value'
                  WHEN event_type NOT IN
                       ('click', 'view', 'purchase', 'signup')
                    THEN 'bad_type'
                  ELSE 'ok' END AS verdict
      FROM events
    )
    SELECT verdict,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS min_event,
           CAST(max(event_id) AS BIGINT) AS max_event
    FROM classified GROUP BY verdict
    """,
)
def stream_dlq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-LETTER-QUEUE streaming ingest — the validate-and-route
    pattern every production pipeline needs (bad rows must neither
    poison the main table NOR vanish: they land in a quarantine
    table WITH their rejection reason, at the same exactly-once
    guarantee): each micro-batch splits on validation (negative/null
    values -> 'neg_value'; event types outside the allowlist ->
    'bad_type' — the corpus's 'error' type is the planted offender)
    and both routes append to their own manifest table via
    ``commit_stream_batch`` under DIFFERENT source ids in the same
    batch — so a crash replay skips both atomically-guarded routes.
    The hashed output is the routing census (row counts + event-id
    extremes per verdict) read back FROM THE TWO TABLES, equal to
    the oracle's direct classification of the raw stream: nothing
    lost, nothing duplicated, nothing misrouted.

    100 TB shape: validation is a scan-stage CASE; each route costs
    one fragment + O(1) manifest write per batch (the
    stream_lakehouse_sink cost model x2); the DLQ stays small by
    construction and is the operator's inspection surface.
    North-star extension (SURVEY §2 streaming rows; composes the
    exactly-once sink with the constraint_audit family)."""
    from flo_spark.queries import _events_stream, scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    tmp = scratch_dir("flo_dlq_")
    main_t = ManifestTable(f"{tmp}/main")
    dlq_t = ManifestTable(f"{tmp}/dlq")
    allowed = ("click", "view", "purchase", "signup")

    def sink(batch: DataFrame, batch_id: int) -> None:
        verdict = (
            F.when(
                F.col("value").isNull() | (F.col("value") < 0), "neg_value"
            )
            .when(~F.col("event_type").isin(*allowed), "bad_type")
            .otherwise("ok")
        )
        classified = batch.select(
            "event_id", "event_type", "value", verdict.alias("verdict")
        )
        main_t.commit_stream_batch(
            classified.filter(F.col("verdict") == "ok"),
            batch_id,
            source_id="main",
        )
        dlq_t.commit_stream_batch(
            classified.filter(F.col("verdict") != "ok"),
            batch_id,
            source_id="dlq",
        )

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("DLQ ingest did not drain within 180s")
    main = main_t.read(spark)
    dlq = dlq_t.read(spark)
    return (
        main.unionByName(dlq)
        .groupBy("verdict")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("event_id").cast("long").alias("min_event"),
            F.max("event_id").cast("long").alias("max_event"),
        )
    )


@query(
    "rate_limiter_replay",
    """
    WITH ue AS (
      SELECT user_id,
             list(epoch_ms(ts) ORDER BY ts, event_id) AS ts_list,
             count(*) AS n_events
      FROM events GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, n_events,
        list_reduce(
          list_prepend(
            {'tokens': CAST(5000 AS BIGINT),
             'last_ms': CAST(ts_list[1] AS BIGINT),
             'allowed': CAST(0 AS BIGINT),
             'cur': CAST(0 AS BIGINT)},
            list_transform(ts_list,
              t -> {'tokens': CAST(0 AS BIGINT),
                    'last_ms': CAST(0 AS BIGINT),
                    'allowed': CAST(0 AS BIGINT),
                    'cur': CAST(t AS BIGINT)})
          ),
          (acc, x) -> CASE
            WHEN least(5000, acc.tokens + (x.cur - acc.last_ms) // 60)
                 >= 1000
            THEN {'tokens': least(5000, acc.tokens
                            + (x.cur - acc.last_ms) // 60) - 1000,
                  'last_ms': x.cur,
                  'allowed': acc.allowed + 1,
                  'cur': CAST(0 AS BIGINT)}
            ELSE {'tokens': least(5000, acc.tokens
                            + (x.cur - acc.last_ms) // 60),
                  'last_ms': x.cur,
                  'allowed': acc.allowed,
                  'cur': CAST(0 AS BIGINT)}
          END
        ) AS st
      FROM ue
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_requests,
           CAST(sum(st.allowed) AS BIGINT) AS n_allowed,
           CAST(sum(n_events - st.allowed) AS BIGINT) AS n_throttled
    FROM folded GROUP BY user_id % 10
    """,
)
def rate_limiter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET RATE LIMITER replay — the admission-control
    policy (capacity 5 tokens, refill 1/minute, cost 1 per request)
    replayed deterministically over every user's event history to
    size throttling impact BEFORE deploying the limiter (the
    offline what-if every rate-limit rollout should run): per user,
    a left fold over the (ts, event_id)-ordered request sequence
    carries integer milli-token state — refill = elapsed_ms div 60,
    capped at 5000, admit iff >= 1000 — so the allowed/throttled
    split is pure integer arithmetic both engines replay identically
    (Spark as an ``aggregate`` HOF with explicit init; DuckDB as
    ``list_reduce`` with the init state PREPENDED, aligning the two
    folds step for step).

    100 TB shape: the fold is per-user local work after one groupBy
    (state is 3 integers; per-user sequences are the natural
    partition unit — the same shape a streaming limiter shards by
    key); the output is a 10-bucket census.  North-star extension
    (SURVEY §2 streaming rows; the admission-control sibling of the
    credit-flow batching flo's A8 implements on the wire)."""
    ev = load(spark, sf_dir, "events")
    ue = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.expr(
                            "unix_millis(cast(ts as timestamp))"
                        ).alias("t"),
                        F.col("event_id").alias("e"),
                    )
                )
            ),
            lambda s: s["t"],
        ).alias("ts_list"),
        F.count("*").alias("n_events"),
    )
    folded = ue.selectExpr(
        "user_id",
        "n_events",
        """
        aggregate(
          ts_list,
          named_struct(
            'tokens', CAST(5000 AS BIGINT),
            'last_ms', CAST(element_at(ts_list, 1) AS BIGINT),
            'allowed', CAST(0 AS BIGINT)),
          (acc, t) -> CASE
            WHEN least(CAST(5000 AS BIGINT),
                       acc.tokens + (t - acc.last_ms) div 60) >= 1000
            THEN named_struct(
              'tokens', least(CAST(5000 AS BIGINT),
                              acc.tokens + (t - acc.last_ms) div 60)
                        - 1000,
              'last_ms', t, 'allowed', acc.allowed + 1)
            ELSE named_struct(
              'tokens', least(CAST(5000 AS BIGINT),
                              acc.tokens + (t - acc.last_ms) div 60),
              'last_ms', t, 'allowed', acc.allowed)
          END
        ) AS st
        """,
    )
    return folded.groupBy(
        (F.col("user_id") % 10).cast("long").alias("user_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_requests"),
        F.sum(F.expr("st.allowed")).cast("long").alias("n_allowed"),
        F.sum(F.expr("n_events - st.allowed"))
        .cast("long")
        .alias("n_throttled"),
    )


@query(
    "slo_burn_rate_alerts",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             count(*) AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS n_err
      FROM events GROUP BY bucket
    ),
    seq AS (
      SELECT bucket, n, n_err,
             row_number() OVER (ORDER BY bucket) AS i FROM hourly
    ),
    win AS (
      SELECT a.i, a.bucket, a.n, a.n_err,
             (SELECT sum(b.n) FROM seq b
              WHERE b.i BETWEEN a.i - 5 AND a.i) AS n_6h,
             (SELECT sum(b.n_err) FROM seq b
              WHERE b.i BETWEEN a.i - 5 AND a.i) AS err_6h
      FROM seq a
    ),
    rates AS (
      SELECT i,
             (n_err * 1000000) // n AS err_ppm_1h,
             (err_6h * 1000000) // n_6h AS err_ppm_6h
      FROM win
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN err_ppm_1h > 2 * 200000
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fast_burn_alerts,
           CAST(sum(CASE WHEN err_ppm_6h > 200000
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_slow_burn_alerts,
           CAST(max(err_ppm_1h) AS BIGINT) AS worst_1h_ppm,
           CAST(max(err_ppm_6h) AS BIGINT) AS worst_6h_ppm
    FROM rates
    """,
)
def slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET BURN-RATE alerting — the multi-window
    burn-rate rule from SRE practice (a fast window catches sudden
    budget burn, a slow window catches sustained slow burn; paging
    on raw error rate alone is either noisy or late): with an
    error-budget target of 20% error events (200000 ppm — the
    corpus's planted 'error' type runs near it, so both alert
    classes exercise), the entry computes per-hour and trailing-6h
    error rates as exact ppm integer divisions and counts fast-burn
    (1h rate > 2x budget) and slow-burn (6h rate > budget) alert
    hours, plus the worst observed rates.

    100 TB shape: one hourly map-side-combinable reduction; the
    trailing window is O(hours) (correlated aggregates here; a
    range-frame window at production scale); alert evaluation is
    scan-stage arithmetic.  North-star extension (SURVEY §2
    streaming/ops rows; the alerting layer over stream_profile and
    anomaly_zscore_hourly's detectors)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_err"),
    )
    w6 = Window.orderBy("bucket").rowsBetween(-5, 0)
    rates = hourly.select(
        F.expr("(n_err * 1000000) div n").alias("err_ppm_1h"),
        F.sum("n_err").over(w6).alias("err_6h"),
        F.sum("n").over(w6).alias("n_6h"),
    ).select(
        "err_ppm_1h",
        F.expr("(err_6h * 1000000) div n_6h").alias("err_ppm_6h"),
    )
    return rates.agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum(F.when(F.col("err_ppm_1h") > 400000, 1).otherwise(0))
        .cast("long")
        .alias("n_fast_burn_alerts"),
        F.sum(F.when(F.col("err_ppm_6h") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("n_slow_burn_alerts"),
        F.max("err_ppm_1h").cast("long").alias("worst_1h_ppm"),
        F.max("err_ppm_6h").cast("long").alias("worst_6h_ppm"),
    )


@query(
    "erlang_b_blocking",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
      FROM events GROUP BY bucket
    ),
    peak AS (SELECT max(n) AS peak_n FROM hourly),
    tot AS (SELECT count(*) AS n_hours, sum(n) AS n_events FROM hourly),
    load AS (
      -- offered load a (erlangs): mean arrivals per hour, holding
      -- time 1 hour by construction -> a = mean hourly rate; kept
      -- as an exact ppm integer, converted to double ONCE below.
      SELECT (t.n_events * 1000000) // t.n_hours AS a_ppm,
             t.n_hours, t.n_events, p.peak_n
      FROM tot t CROSS JOIN peak p
    ),
    folded AS (
      SELECT a_ppm, n_hours, n_events, peak_n,
             list_reduce(
               list_prepend(
                 CAST(1.0 AS DOUBLE),
                 list_transform(range(1, 21), k -> CAST(k AS DOUBLE))
               ),
               (b, k) -> (CAST(a_ppm AS DOUBLE) / 1000000.0) * b
                         / (k + (CAST(a_ppm AS DOUBLE) / 1000000.0) * b)
             ) AS b20
      FROM load
    )
    SELECT CAST(a_ppm AS BIGINT) AS offered_load_ppm,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST(peak_n AS BIGINT) AS peak_hourly,
           CAST(floor(b20 * 1e8 + 0.5) AS BIGINT) AS blocking_20_x1e8
    FROM folded
    """,
)
def erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERLANG-B BLOCKING PROBABILITY — the queueing-theory capacity
    formula (probability an arrival finds all C servers busy in an
    M/M/C/C system; how telecoms, connection pools, and GPU-slot
    schedulers are sized): offered load a comes from the data as the
    exact ppm mean hourly arrival rate (holding time one bucket by
    construction), and B(C) evaluates via the numerically-stable
    RECURRENCE B(k) = a*B(k-1) / (k + a*B(k-1)) from B(0)=1 up to
    C=20 servers — a 20-step left fold executed with the IDENTICAL
    double operation sequence on both engines (Spark ``aggregate``
    with explicit init; DuckDB ``list_reduce`` with the init
    prepended — the rate-limiter alignment trick, now over doubles,
    sound because same-sequence IEEE ops are bit-identical), rounded
    once at 1e-8.

    100 TB shape: one hourly reduction, then O(C) scalar arithmetic
    on a 1-row frame.  North-star extension (SURVEY §2 stats rows;
    the capacity-planning member of the ops family — the limiter
    replays a policy, Erlang-B sizes one."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("n"))
    base = hourly.agg(
        F.count("*").alias("n_hours"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("peak_n"),
    ).withColumn("a_ppm", F.expr("(n_events * 1000000) div n_hours"))
    folded = base.selectExpr(
        "a_ppm",
        "n_hours",
        "peak_n",
        """
        aggregate(
          sequence(1, 20),
          CAST(1.0 AS DOUBLE),
          (b, k) -> (CAST(a_ppm AS DOUBLE) / 1000000.0) * b
                    / (k + (CAST(a_ppm AS DOUBLE) / 1000000.0) * b)
        ) AS b20
        """,
    )
    return folded.select(
        F.col("a_ppm").cast("long").alias("offered_load_ppm"),
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("peak_n").cast("long").alias("peak_hourly"),
        F.floor(F.col("b20") * 1e8 + F.lit(0.5))
        .cast("long")
        .alias("blocking_20_x1e8"),
    )


@query(
    "consistent_hashing_ring",
    """
    WITH ring8 AS (
      SELECT s.s AS shard, v.v AS vnode,
             ((s.s * 2654435761 + v.v * 40503 + 99991) % 1000000007)
               AS pos
      FROM (SELECT unnest(range(8)) AS s) s,
           (SELECT unnest(range(16)) AS v) v
    ),
    ring9 AS (
      SELECT * FROM ring8
      UNION ALL
      SELECT 8 AS shard, v.v AS vnode,
             ((8 * 2654435761 + v.v * 40503 + 99991) % 1000000007) AS pos
      FROM (SELECT unnest(range(16)) AS v) v
    ),
    keys AS (
      SELECT DISTINCT user_id,
             (user_id * 1103515245 + 12345) % 1000000007 AS kpos
      FROM events
    ),
    a8 AS (
      SELECT k.user_id,
             coalesce(
               first(r.shard ORDER BY r.pos, r.shard)
                 FILTER (WHERE r.pos >= k.kpos),
               (SELECT first(shard ORDER BY pos, shard) FROM ring8)
             ) AS shard
      FROM keys k CROSS JOIN ring8 r GROUP BY k.user_id, k.kpos
    ),
    a9 AS (
      SELECT k.user_id,
             coalesce(
               first(r.shard ORDER BY r.pos, r.shard)
                 FILTER (WHERE r.pos >= k.kpos),
               (SELECT first(shard ORDER BY pos, shard) FROM ring9)
             ) AS shard
      FROM keys k CROSS JOIN ring9 r GROUP BY k.user_id, k.kpos
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN a9.shard = 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_new_shard,
           CAST(sum(CASE WHEN a8.shard <> a9.shard AND a9.shard <> 8
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_wrongly
    FROM a8 JOIN a9 USING (user_id)
    """,
)
def consistent_hashing_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT HASHING ring placement + the resize-disruption
    audit (the shard-assignment scheme behind distributed caches and
    partitioned stores, and the REASON it exists: adding a node must
    move only ~1/(n+1) of keys, never reshuffle everything like
    mod-N): shards place 16 virtual nodes each on a 1e9+7 ring via a
    Knuth multiplicative hash (pure integer, engine-identical), keys
    hash to ring positions, and each key belongs to the first vnode
    CLOCKWISE (min position >= key, wrapping to the ring's global
    minimum — tie-broken by shard).  The entry assigns every user
    under 8 shards and again under 9, and hashes the movement
    census: total moved, landings on the new shard, and — the
    correctness heart — n_moved_wrongly = keys that moved between
    two OLD shards, which consistent hashing guarantees is ZERO (a
    mod-N scheme would move ~8/9 of keys, almost all wrongly).

    100 TB shape: the ring is a 144-row broadcast; assignment is a
    scan-stage min-over-broadcast per key (at production scale a
    sorted-ring binary search); the census is one join of two
    assignment passes.  North-star extension (SURVEY §2 streaming/
    systems rows; the placement-layer sibling of
    skew_salted_join_types and zorder_morton_key)."""
    ev = load(spark, sf_dir, "events")
    # distinct key set materialized once (r9): both ring assignments
    # reference it twice each — 4 corpus scans before
    keys = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "kpos", (F.col("user_id") * 1103515245 + 12345) % 1000000007
        )
        .localCheckpoint()
    )

    def ring(n_shards: int) -> DataFrame:
        shards = spark.range(n_shards).select(F.col("id").alias("shard"))
        vnodes = spark.range(16).select(F.col("id").alias("vnode"))
        return shards.crossJoin(vnodes).select(
            "shard",
            (
                (F.col("shard") * 2654435761 + F.col("vnode") * 40503 + 99991)
                % 1000000007
            ).alias("pos"),
        )

    def assign(r: DataFrame, tag: str) -> DataFrame:
        wrap = (
            r.orderBy("pos", "shard")
            .limit(1)
            .select(F.col("shard").alias("wrap_shard"))
        )
        cand = (
            keys.crossJoin(F.broadcast(r))
            .filter(F.col("pos") >= F.col("kpos"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy("pos", "shard")
                ),
            )
            .filter(F.col("rk") == 1)
            .select("user_id", F.col("shard").alias(tag))
        )
        return (
            keys.join(cand, "user_id", "left")
            .crossJoin(F.broadcast(wrap))
            .select(
                "user_id",
                F.coalesce(F.col(tag), F.col("wrap_shard")).alias(tag),
            )
        )

    a8 = assign(ring(8), "s8")
    a9 = assign(ring(9), "s9")
    return a8.join(a9, "user_id").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("s8") != F.col("s9"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
        F.sum(F.when(F.col("s9") == 8, 1).otherwise(0))
        .cast("long")
        .alias("n_on_new_shard"),
        F.sum(
            F.when((F.col("s8") != F.col("s9")) & (F.col("s9") != 8), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_moved_wrongly"),
    )


@query(
    "lindley_queue_replay",
    """
    WITH q AS (
      SELECT row_number() OVER (ORDER BY ts, event_id) AS rn,
             400 * (row_number() OVER (ORDER BY ts, event_id) - 1)
               - epoch_ms(ts) AS q
      FROM events
    ),
    w AS (
      SELECT rn,
             q - min(q) OVER (ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS wait
      FROM q
    )
    SELECT CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(arg_max(wait, rn) AS BIGINT) AS final_wait_ms,
           CAST(max(wait) AS BIGINT) AS max_wait_ms
    FROM w
    """,
)
def lindley_queue_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINDLEY RECURSION replay — G/G/1 waiting-time simulation over
    the ACTUAL arrival process (W_{k+1} = max(0, W_k + S - A_{k+1}),
    the single-server queue's exact waiting-time law; Erlang-B sizes
    a LOSS system analytically, this REPLAYS a wait system against
    real burst structure, which no Poisson assumption captures):
    arrivals are the event stream in (ts, event_id) order and
    service is a fixed 400 ms.  With constant service the recursion
    TELESCOPES — W_k = q_k - min_{j<=k} q_j with
    q_k = 400*k - t_k (the maximum-of-partial-sums representation of
    Lindley's equation) — so the sequential fold becomes running
    windows over exact integers, and both engines replay the
    identical closed form (an earlier revision folded the WHOLE
    corpus timestamp array inside one aggregation buffer — the same
    unbounded-buffer hazard class as the pre-r9 audit_hash_chain;
    this restructuring removes the repo's only corpus-scale
    collect_list).  The census hashes the job count, the final
    in-queue wait, and the worst wait the burst structure ever
    produced.

    100 TB shape: q_k needs only the row's own timestamp and its
    global position, so the scan decomposes by ts-prefix-consistent
    minute buckets — within-bucket row_number/running-min windows
    (sort-based, spillable, bounded by the hottest minute) plus two
    O(buckets) bucket-level scans (offsets by cumulative count,
    cross-bucket running min), stitched with broadcast joins of the
    metadata-sized bucket frame.  No per-row state crosses buckets
    except those O(buckets) scalars — the classic parallel-scan
    decomposition.  A sharded system folds per key after one
    groupBy — the rate-limiter shape.  North-star extension
    (SURVEY §2 streaming/ops rows; the wait-system twin of
    erlang_b_blocking)."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_millis(cast(ts as timestamp))").alias("t"),
        F.col("event_id").alias("e"),
        F.date_trunc("minute", F.col("ts")).alias("b"),
    )
    # one window pass yields the within-bucket rank and running min of
    # u = 400*rn - t; u differs from q only by the per-bucket constant
    # 400*(off - 1), so every cross-bucket quantity reduces to bucket
    # scalars.  The corpus is scanned twice (the windowed frame feeds
    # both the bucket reduction and the final join) — a deliberate
    # trade against materializing a corpus-sized checkpoint.
    wb = Window.partitionBy("b").orderBy("t", "e")
    loc = ev.select(
        "b",
        "t",
        F.row_number().over(wb).alias("rn"),
        (F.lit(400) * F.row_number().over(wb) - F.col("t")).alias("u"),
        F.min(F.lit(400) * F.row_number().over(wb) - F.col("t"))
        .over(wb.rowsBetween(Window.unboundedPreceding, 0))
        .alias("rm"),
    )
    # bucket frame is O(minutes): offsets by cumulative count, the
    # cross-bucket running min of bucket-min q — metadata-sized scans
    bl = loc.groupBy("b").agg(
        F.count("*").alias("nb"), F.min("u").alias("bu")
    )
    w_prev = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bl = bl.select(
        "b",
        F.coalesce(F.sum("nb").over(w_prev), F.lit(0)).alias("off"),
        "bu",
    ).select(
        "b",
        "off",
        (F.lit(400) * (F.col("off") - 1) + F.col("bu")).alias("bq"),
    )
    bl = bl.select(
        "b", "off", F.min("bq").over(w_prev).alias("pmin")
    )
    j = loc.join(F.broadcast(bl), "b").withColumn(
        "wait",
        F.lit(400) * (F.col("off") - 1)
        + F.col("u")
        - F.least(
            F.lit(400) * (F.col("off") - 1) + F.col("rm"),
            F.coalesce(
                F.col("pmin"),
                F.lit(400) * (F.col("off") - 1) + F.col("rm"),
            ),
        ),
    )
    return j.agg(
        F.count("*").cast("long").alias("n_jobs"),
        F.expr("max_by(wait, off + rn)").cast("long").alias("final_wait_ms"),
        F.max("wait").cast("long").alias("max_wait_ms"),
    )
