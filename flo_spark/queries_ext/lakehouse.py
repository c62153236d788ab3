"""Lakehouse table-format operators: SCD2, time travel, schema
evolution, copy-on-write delete/compaction, GDPR erasure, Z-order,
dynamic partition overwrite, partition pruning.

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
    query,
)

__all__ = [
    "merge_upsert_customers",
    "zorder_morton_key",
    "scd2_customer_versions",
    "scd2_point_in_time_join",
    "dpp_month_partition_prune",
    "gdpr_forget_compaction",
    "schema_evolution_merge_read",
    "small_file_compaction",
    "lakehouse_time_travel",
    "dynamic_partition_overwrite",
    "lakehouse_vacuum_orphans",
    "lakehouse_stats_skipping",
    "lakehouse_deletion_vectors",
    "lakehouse_change_data_feed",
    "lakehouse_merge_mor",
    "lakehouse_bloom_skipping",
    "lakehouse_ivm_join_view",
    "bitemporal_point_in_time",
    "lakehouse_table_diff",
    "encoding_advisor_profile",
    "lakehouse_optimize_binpack",
    "lakehouse_write_audit_publish",
]


@query(
    "merge_upsert_customers",
    """
    WITH updates AS (
      SELECT c_custkey AS key, round(c_acctbal + 100, 2) AS acctbal,
             c_name AS name
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS key, 0.0 AS acctbal,
             'NEW-' || c_name AS name
      FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT coalesce(u.key, c.c_custkey) AS c_custkey,
           coalesce(u.acctbal, round(c.c_acctbal, 2)) AS c_acctbal,
           coalesce(u.name, c.c_name) AS c_name,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN u.key IS NULL THEN 'keep' ELSE 'update' END AS merge_op
    FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.key
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE/upsert: apply an updates batch to a base table —
    matched rows take the update, unmatched updates insert, untouched
    base rows pass through — expressed as a full-outer join + coalesce
    (the engine-level shape of ``MERGE INTO ... WHEN MATCHED``).  The
    updates here are derived deterministically from the base so the
    oracle states the identical transformation.

    Scale note: both sides shuffle on the merge key once; with a
    transactional table format the same plan narrows to the touched
    files via data skipping on key ranges.  The updates side is usually
    small — AQE converts the join to broadcast at runtime."""
    # 3-column base, checkpointed: it feeds both derived-update legs
    # AND the base side of the merge join — un-cut lineage re-scanned
    # customer per fork (3 scans, r9 audit; now 1).  A real CDC batch
    # arrives from outside; deriving it from the base is this entry's
    # determinism device, so the fork is structural here.
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_name"
    ).localCheckpoint()
    updates = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.round(F.col("c_acctbal") + 100, 2).alias("acctbal"),
            F.col("c_name").alias("name"),
        )
        .unionAll(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("key"),
                F.lit(0.0).alias("acctbal"),
                F.concat(F.lit("NEW-"), F.col("c_name")).alias("name"),
            )
        )
    )
    merged = c.join(updates, c["c_custkey"] == updates["key"], "full_outer")
    return merged.select(
        F.coalesce("key", "c_custkey").alias("c_custkey"),
        F.coalesce("acctbal", F.round("c_acctbal", 2)).alias("c_acctbal"),
        F.coalesce("name", "c_name").alias("c_name"),
        F.when(c["c_custkey"].isNull(), "insert")
        .when(updates["key"].isNull(), "keep")
        .otherwise("update")
        .alias("merge_op"),
    )


def _zorder_oracle_sql() -> str:
    from flo_spark.operators.zorder import zorder_value_sql

    z = zorder_value_sql(
        [("o_custkey", 0.0, 100000.0), ("o_totalprice", 0.0, 600000.0)]
    )
    return f"""
    SELECT o_orderkey, {z} AS zvalue
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """


@query("zorder_morton_key", _zorder_oracle_sql())
def zorder_morton_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key computation — the layout primitive behind
    multi-dimensional file skipping (operators/zorder.py): quantize
    each dimension onto a FIXED grid (layout constants, not batch
    statistics) and interleave the bits so a sort by the key keeps
    every participating column locally dense.  The oracle evaluates
    the bit-for-bit identical interleave in DuckDB, pinning the
    quantization arithmetic and bit layout across engines.  The
    actual skipping effect — a totalprice-only range predicate prunes
    files under the Z-order layout but cannot prune a
    custkey-sorted one — is measured from real parquet footers in
    tests/test_zorder.py.

    100 TB shape: pure JVM bit arithmetic in the scan stage; writing
    the layout costs one range shuffle, identical to any sorted
    write."""
    from flo_spark.operators.zorder import zorder_value

    o = load(spark, sf_dir, "orders")
    z = zorder_value(
        [
            (F.col("o_custkey"), 0.0, 100000.0),
            (F.col("o_totalprice"), 0.0, 600000.0),
        ]
    )
    return (
        o.select("o_orderkey", z.alias("zvalue"))
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "scd2_customer_versions",
    """
    WITH upd AS (
      SELECT o_custkey AS custkey,
             CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS eff_date,
             max(o_totalprice) AS attr_value
      FROM orders GROUP BY 1, 2
    ),
    v AS (
      SELECT custkey, eff_date, attr_value,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY eff_date) AS version,
             lead(eff_date) OVER (PARTITION BY custkey
                                  ORDER BY eff_date) AS valid_to
      FROM upd
    )
    SELECT CAST(custkey AS BIGINT) AS custkey,
           CAST(version AS BIGINT) AS version,
           eff_date AS valid_from, valid_to,
           valid_to IS NULL AS is_current,
           floor(attr_value * 1e2 + 0.5) / 1e2 AS attr_value
    FROM v
    """,
)
def scd2_customer_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 history build — the versioned
    dimension every warehouse keeps and flo's event log naturally
    feeds: each (customer, day) change event (here: per-day max order
    value as the tracked attribute, deduplicated to one update per
    effective date) becomes a dimension VERSION with
    [valid_from, valid_to) effectivity derived by ``lead`` over the
    customer's change sequence; the open-ended current row carries
    NULL valid_to and is_current.  This is the half-open-interval
    construction a point-in-time join consumes
    (``scd2_point_in_time_join``).

    100 TB shape: one key shuffle for the per-day change dedup, one
    customer-partitioned window for versioning (state bounded by a
    customer's change count); no joins, no driver data."""
    upd = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.date_trunc("day", "o_orderdate").alias("eff_date"),
        )
        .agg(F.max("o_totalprice").alias("attr_value"))
    )
    w = Window.partitionBy("custkey").orderBy("eff_date")
    return upd.select(
        "custkey",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("eff_date").alias("valid_from"),
        F.lead("eff_date").over(w).alias("valid_to"),
        "attr_value",
    ).select(
        "custkey",
        "version",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        (F.floor(F.col("attr_value") * 1e2 + F.lit(0.5)) / 1e2).alias(
            "attr_value"
        ),
    )


@query(
    "scd2_point_in_time_join",
    """
    WITH upd AS (
      SELECT o_custkey AS custkey,
             CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS eff_date,
             max(o_totalprice) AS attr_value
      FROM orders GROUP BY 1, 2
    ),
    v AS (
      SELECT custkey, eff_date AS valid_from, attr_value,
             lead(eff_date) OVER (PARTITION BY custkey
                                  ORDER BY eff_date) AS valid_to
      FROM upd
    ),
    j AS (
      SELECT o.o_orderkey, v.custkey, v.valid_from, v.attr_value
      FROM orders o JOIN v
        ON v.custkey = o.o_custkey
       AND o.o_orderdate >= v.valid_from
       AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders_matched,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           count(*) = (SELECT count(*) FROM orders) AS exactly_one_version
    FROM j
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 dimension: every
    order joins the customer version VALID AT its order date — the
    lookup that makes Type-2 history useful and the classic
    training-data leak guard ("join features as of the label's
    timestamp, never the current row").  The half-open intervals from
    ``scd2_customer_versions`` guarantee each order matches EXACTLY
    one version (its own day's update at minimum); the entry proves it
    corpus-wide: matched count == order count == distinct matched
    orders, as a hashed boolean.

    100 TB shape: the interval predicate rides a customer-keyed
    equi-join (the non-equi part filters within the key group — never
    a BroadcastNestedLoopJoin, plan-pinned in tests/test_plans.py);
    versions-per-customer is domain-bounded, so the within-key scan is
    bounded.  At extreme version counts the bin-id rewrite
    (interval_join_binned) applies unchanged."""
    # 4-column base, checkpointed: it feeds the version derivation,
    # the fact side of the point-in-time join, and the total census —
    # un-cut lineage re-scanned orders per fork (3 scans, r9 audit;
    # now 1)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).localCheckpoint()
    upd = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.date_trunc("day", "o_orderdate").alias("eff_date"),
    ).agg(F.max("o_totalprice").alias("attr_value"))
    w = Window.partitionBy("custkey").orderBy("eff_date")
    v = upd.select(
        "custkey",
        F.col("eff_date").alias("valid_from"),
        F.lead("eff_date").over(w).alias("valid_to"),
    )
    j = o.join(
        v,
        (v["custkey"] == o["o_custkey"])
        & (o["o_orderdate"] >= v["valid_from"])
        & (v["valid_to"].isNull() | (o["o_orderdate"] < v["valid_to"])),
    )
    total = o.agg(F.count("*").alias("n_orders"))
    return (
        j.agg(
            F.count("*").alias("n_orders_matched"),
            F.countDistinct("o_orderkey").alias("n_distinct"),
        )
        .join(F.broadcast(total))
        .select(
            "n_orders_matched",
            "n_orders",
            "n_distinct",
            (F.col("n_orders_matched") == F.col("n_orders")).alias(
                "exactly_one_version"
            ),
        )
    )


@query(
    "dpp_month_partition_prune",
    """
    WITH m AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
      FROM orders
      WHERE year(o_orderdate) = 1996 AND o_orderpriority = '1-URGENT'
    )
    SELECT l.ship_month,
           count(*) AS n_items,
           floor((sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount))
                                 * 10000 + 0.5) AS BIGINT)) + 50)
                 / 100.0) / 100.0 AS revenue
    FROM (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             l_extendedprice, l_discount
      FROM lineitem
    ) l JOIN m USING (ship_month)
    GROUP BY l.ship_month
    """,
)
def dpp_month_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING end to end: the fact table is laid out
    hive-partitioned by ship month (``ship_month=YYYY-MM/`` dirs — the
    canonical 100 TB fact layout), the dim side is the set of months
    that saw an URGENT order in 1996, and Catalyst injects the dim's
    month set into the fact scan's PartitionFilters AT RUNTIME
    (``dynamicpruning#`` subquery, reusing the join's broadcast) — so
    the ~12 matching month directories are the only ones whose files
    open, out of the full date range.  Static pruning can't do this:
    the month list is data, known only after the dim filter runs.
    tests/test_plans.py pins the ``dynamicpruning`` PartitionFilter
    and the broadcast reuse in the physical plan.

    100 TB shape: THE mechanism that makes date-partitioned fact joins
    affordable — scan cost scales with the dim's selectivity, not the
    fact's history length.  The scratch layout writes one file per
    month (repartition by the partition column before partitionBy) —
    the small-files discipline a real table needs.

    Correctness: revenue per selected month hash-matches the oracle
    computed from the unpartitioned parquet; the scaled-long money sum
    keeps both engines exact."""
    from flo_spark.queries import money_sum, scratch_dir

    tmp = scratch_dir("flo_dpp_")
    li = load(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        "l_extendedprice",
        "l_discount",
    )
    (
        li.repartition("ship_month")
        .write.partitionBy("ship_month")
        .mode("overwrite")
        .parquet(f"{tmp}/fact")
    )
    fact = spark.read.parquet(f"{tmp}/fact")
    dim = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.year("o_orderdate") == 1996)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .distinct()
    )
    return (
        fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@query(
    "gdpr_forget_compaction",
    """
    WITH b AS (
      SELECT doc_id, text,
             CAST(doc_id % 20 AS BIGINT) AS uid,
             CAST(doc_id % 2 + 1 AS INT) AS partition
      FROM documents ORDER BY doc_id LIMIT 300
    ),
    cnt AS (SELECT partition, count(*) AS n FROM b GROUP BY partition),
    off AS (
      SELECT partition,
             CAST(sum(n) OVER (ORDER BY partition) - n AS BIGINT) AS off
      FROM cnt
    ),
    env AS (
      SELECT b.uid, b.text,
             off.off + row_number() OVER (PARTITION BY b.partition
                                          ORDER BY b.doc_id) AS counter
      FROM b JOIN off USING (partition)
    )
    SELECT uid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(min(counter) AS BIGINT) AS min_counter,
           CAST(max(counter) AS BIGINT) AS max_counter
    FROM env WHERE uid % 7 <> 3
    GROUP BY uid
    """,
)
def gdpr_forget_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the append-only native segment store —
    the deletion primitive an immutable log needs: subjects are
    forgotten by appending TOMBSTONE events
    (``/system/tombstones/<uid>``, the log's own mechanism — flo has
    no in-place mutation, segment/mod.rs append-only contract), and a
    COMPACTION pass rewrites the segment files dropping both the
    subject's events and the applied tombstones — physical erasure,
    not a read-side mask.  Retained events keep their ORIGINAL ids
    (erasure leaves counter gaps; ids are immutable, so gaps are the
    correct observable).  The entry round-trips documents -> native
    ``.events`` segments (+ trailing tombstone batch) -> compaction ->
    native segments -> scan, and aggregates per subject; the oracle
    reproduces the id assignment arithmetic and the forget-set filter
    from the raw table.  Physical erasure (no forgotten payload bytes
    anywhere in the compacted files) is pinned in
    tests/test_flo_segment.py.

    100 TB shape: compaction is read-filter-write over sealed
    segments — distributed at segment granularity by
    write_flo_segments' range-partitioned id ranking (no
    whole-partition task); the tombstone set is an anti-join key
    frame that scales with the forget batch, not the corpus."""
    from flo_spark.operators.produce import assign_event_ids
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_segment import (
        read_flo_segments,
        write_flo_segments,
    )

    tmp = scratch_dir("flo_gdpr_")
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(300)
    users = docs.select(
        F.col("doc_id").alias("ord"),
        (F.col("doc_id") % 20).alias("uid"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("partition"),
        F.concat(
            F.lit("/users/"), (F.col("doc_id") % 20), F.lit("/docs")
        ).alias("namespace"),
        F.encode("text", "utf-8").alias("data"),
    )
    tombs = (
        users.filter(F.col("uid") % 7 == 3)
        .select("uid")
        .distinct()
        .select(
            (F.col("uid") + 100000).alias("ord"),
            "uid",
            F.lit(2).cast("int").alias("partition"),
            F.concat(F.lit("/system/tombstones/"), F.col("uid")).alias(
                "namespace"
            ),
            F.lit(None).cast("binary").alias("data"),
        )
    )
    batch = users.unionByName(tombs).select(
        "ord",
        "partition",
        "namespace",
        "data",
        F.lit(None).cast("long").alias("parent_counter"),
        F.lit(None).cast("int").alias("parent_actor"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("ord"))
        ).alias("timestamp"),
    )
    env = assign_event_ids(batch, 0, order_by="ord").drop("ord")
    write_flo_segments(env, f"{tmp}/raw", max_events_per_segment=40)

    ev = read_flo_segments(spark, f"{tmp}/raw")
    forgotten = (
        ev.filter(F.col("namespace").startswith("/system/tombstones/"))
        .select(
            F.element_at(F.split("namespace", "/"), 4).alias("uid")
        )
        .distinct()
    )
    keep = (
        ev.filter(~F.col("namespace").startswith("/system/tombstones/"))
        .withColumn("uid", F.element_at(F.split("namespace", "/"), 3))
        .join(forgotten, "uid", "left_anti")
    )
    write_flo_segments(
        keep.drop("uid"), f"{tmp}/compacted", max_events_per_segment=40
    )
    out = read_flo_segments(spark, f"{tmp}/compacted")
    return (
        out.withColumn(
            "uid", F.element_at(F.split("namespace", "/"), 3).cast("long")
        )
        .groupBy("uid")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(F.decode("data", "utf-8"))).alias("n_chars"),
            F.min("event_counter").alias("min_counter"),
            F.max("event_counter").alias("max_counter"),
        )
    )


@query(
    "schema_evolution_merge_read",
    """
    WITH b AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents ORDER BY doc_id LIMIT 400
    ),
    g AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN lang END AS lang,
             CASE WHEN doc_id % 3 = 0 THEN n_chars END AS nc
      FROM b
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(nc) AS BIGINT) AS sum_chars_meta
    FROM g GROUP BY lang
    """,
)
def schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across table generations — the lake-format
    reality that columns ARRIVE over time: generation 1 files carry
    (doc_id, text), generation 2 adds (lang, n_chars), and ONE
    ``mergeSchema`` scan reads both — old files surface the new
    columns as NULL, no rewrite of historical data.  The aggregate
    groups by the evolved column, so the NULL group IS the
    pre-evolution history — visible, not silently dropped.  The
    oracle reproduces the generation split from the raw table.

    100 TB shape: mergeSchema reconciles STRUCTURE from file footers
    (schema union at planning time, not a data pass); per-file reads
    project only the columns that exist — old files pay nothing for
    new columns.  The footer-schema union does scale with file count,
    which is why production tables checkpoint the merged schema in a
    catalog/metastore rather than re-deriving it per query
    (documented trade; the scan itself is unchanged)."""
    from flo_spark.queries import scratch_dir

    tmp = scratch_dir("flo_schemaevo_")
    b = load(spark, sf_dir, "documents").orderBy("doc_id").limit(400)
    gen1 = b.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    gen2 = b.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text", "lang", "n_chars"
    )
    gen1.write.mode("overwrite").parquet(f"{tmp}/tbl/gen=1")
    gen2.write.mode("overwrite").parquet(f"{tmp}/tbl/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/tbl")
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum("n_chars").alias("sum_chars_meta"),
    )


@query(
    "small_file_compaction",
    """
    WITH b AS (
      SELECT doc_id, text, source FROM documents ORDER BY doc_id LIMIT 300
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(64 AS INT) AS files_before,
           CAST(4 AS INT) AS files_after
    FROM b GROUP BY source
    """,
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance op that keeps
    a streaming-ingested table scannable: a deliberately fragmented
    layout (64 round-robin files for 300 docs — the many-tiny-files
    state every micro-batch sink converges to) is rewritten into
    size-targeted files (4 here; production derives the count as
    ceil(total_bytes / target_file_size) from the source listing),
    and the contract is CONTENT IDENTITY — the per-source aggregate
    over the compacted table hash-matches the source rows, with the
    before/after file counts pinned.  File counts come from a
    filesystem listing (O(files) driver metadata — documented).

    100 TB shape: compaction is one round-robin repartition (pure
    width change, no key shuffle) executed per partition-directory in
    production so rewrite units stay independent and incremental;
    pairs with flo segment compaction (A12) which does the same for
    the native event log, and with gdpr_forget_compaction which
    rewrites for deletion rather than size.  Reference:
    segment/mod.rs rotation bounds file count at write time; parquet
    sinks need it as a separate maintenance pass."""
    import glob as _glob

    from flo_spark.queries import scratch_dir

    tmp = scratch_dir("flo_compact_")
    b = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(300)
        .select("doc_id", "text", "source")
    )
    b.repartition(64).write.mode("overwrite").parquet(f"{tmp}/small")
    small = spark.read.parquet(f"{tmp}/small")
    files_before = len(_glob.glob(f"{tmp}/small/part-*.parquet"))
    small.repartition(4).write.mode("overwrite").parquet(f"{tmp}/compact")
    files_after = len(_glob.glob(f"{tmp}/compact/part-*.parquet"))
    assert files_before == 64 and files_after == 4, (
        files_before,
        files_after,
    )
    return (
        spark.read.parquet(f"{tmp}/compact")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
        )
        .withColumn("files_before", F.lit(files_before).cast("int"))
        .withColumn("files_after", F.lit(files_after).cast("int"))
        .select(
            "source",
            "n_docs",
            "sum_doc_id",
            "sum_chars",
            "files_before",
            "files_after",
        )
    )


@query(
    "lakehouse_time_travel",
    """
    WITH v AS (SELECT unnest([1, 2, 3]) AS version),
    snap AS (
      SELECT v.version, d.doc_id, d.n_chars, d.lang
      FROM v JOIN documents d ON
           (v.version = 1 AND d.doc_id % 4 IN (0, 1))
        OR (v.version = 2 AND d.doc_id % 4 IN (0, 1, 2))
        OR (v.version = 3 AND d.doc_id % 4 IN (0, 1, 2)
            AND d.doc_id % 8 <> 0)
    )
    SELECT CAST(version AS INT) AS version,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM snap GROUP BY version
    """,
)
def lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on a manifest-versioned
    parquet table (``sources/manifest_table.py`` — the minimal
    correct core of the Iceberg/Delta commit protocol): commit 1
    writes a base fragment (doc_id % 4 in (0,1)), commit 2 APPENDS a
    fragment (% 4 = 2) by manifest reference, commit 3 is a
    COPY-ON-WRITE DELETE (doc_id % 8 = 0) that rewrites only the one
    fragment containing matches — the appended fragment carries over
    untouched by reference.  The query then reads ALL THREE versions
    AFTER the final commit and aggregates each snapshot: matching the
    oracle's per-version reconstruction from the raw table proves
    that v1 and v2 still read their exact original snapshots after
    v3's rewrite (time travel), and that the delete physically
    removed its rows from v3 (copy-on-write correctness).

    Commits are atomic put-if-absent (hard-link claim) with
    optimistic retry — no reader ever sees a partial manifest; the
    conflict path is unit-tested in tests/test_manifest_table.py.

    100 TB shape: manifests are O(fragments) driver-side metadata
    (exactly what table formats ship); data fragments scan fully
    distributed, the COW delete rewrites only fragments with matches
    (here 1 of 2; at scale, file-level stats prune the rewrite set).
    Reference scope: flo's append-only segment store
    (flo-server persistent_event.rs) has no snapshots — north-star
    extension (SURVEY §2 Part B sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    t = ManifestTable(scratch_dir("lakehouse_tt_"))
    t.append(docs.filter(F.col("doc_id") % 4 < 2).coalesce(4), "base")
    t.append(docs.filter(F.col("doc_id") % 4 == 2).coalesce(4), "more")
    t.delete_where(spark, "doc_id % 8 = 0")
    outs = []
    for v in (1, 2, 3):
        outs.append(
            t.read(spark, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars_total"),
                F.countDistinct("lang").cast("long").alias("n_langs"),
                F.min("doc_id").cast("long").alias("min_doc"),
                F.max("doc_id").cast("long").alias("max_doc"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@query(
    "dynamic_partition_overwrite",
    """
    WITH base AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders
    ),
    kept AS (
      SELECT * FROM base
      WHERE o_orderpriority <> '1-URGENT' OR px > 2000000000
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(px) AS BIGINT) AS revenue_x1e4
    FROM kept GROUP BY o_orderpriority
    """,
)
def dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition overwrite — the lakehouse daily-refresh
    primitive: orders land in a hive-partitioned table (partition =
    priority), then ONE partition ('1-URGENT', rewritten to keep only
    orders above $200k) is replaced via
    partitionOverwriteMode=dynamic — the writer only touches
    partitions present in the incoming frame, so the other four
    survive byte-identical where STATIC overwrite mode would have
    truncated the whole table (the classic data-loss footgun this
    entry pins).  The final per-priority aggregate hash-matches the
    oracle's expected combined state: four untouched partitions plus
    the filtered fifth.

    100 TB shape: the refresh writes O(changed partition), never
    O(table); readers see partition pruning on the rewritten layout
    (same hive layout as dpp_month_partition_prune).  Reference
    scope: flo's segment-granular rewrite (A12 compaction) is the
    event-log analog; this is the relational form (SURVEY §2 Part B
    sources/sinks)."""
    from flo_spark.queries import scratch_dir

    tmp = scratch_dir("flo_dpo_")
    tbl = f"{tmp}/orders_by_priority"
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        money_scaled(F.col("o_totalprice")).alias("px"),
    )
    base.write.partitionBy("prio").parquet(tbl)
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    try:
        (
            base.filter(
                (F.col("prio") == "1-URGENT")
                & (F.col("px") > 2_000_000_000)
            )
            .write.mode("overwrite")
            .partitionBy("prio")
            .parquet(tbl)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
    return (
        spark.read.parquet(tbl)
        .groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("px").cast("long").alias("revenue_x1e4"),
        )
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n_orders",
            "revenue_x1e4",
        )
    )


@query(
    "lakehouse_vacuum_orphans",
    """
    WITH snap AS (
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id % 4 IN (0, 1, 2) AND doc_id % 8 <> 0
    )
    SELECT CAST(2 AS BIGINT) AS fragments_deleted,
           CAST(2 AS BIGINT) AS fragments_kept,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM snap
    """,
)
def lakehouse_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention + orphan-file vacuum on the manifest table
    (r8; ``ManifestTable.expire_versions``/``vacuum`` — the Delta
    VACUUM / Iceberg remove_orphan_files shape): build the same 3
    commits as ``lakehouse_time_travel`` (base %4 in (0,1); append
    %4 = 2; COW-delete %8 = 0, which rewrites only the base fragment),
    then plant an abandoned UNCOMMITTED fragment (a crashed writer's
    leftover), expire every snapshot but the head, and vacuum.

    The structural counts are decidable from the plant: after
    expiry the head references {base_cow, more}, so exactly TWO
    fragments are unreachable (the superseded original base + the
    abandoned junk) and exactly TWO survive — the oracle states them
    as literals, and states the head snapshot's aggregate from the raw
    table.  Matching proves (a) vacuum deleted ALL orphans (the
    deleted-count), (b) vacuum deleted ONLY orphans (the head still
    reads completely and correctly AFTER the sweep — a vacuum that
    eats a referenced file breaks n_docs/chars_total), and (c) the
    losing-attempt orphans the optimistic-retry protocol can leave
    behind are reclaimable.

    100 TB shape: expire+vacuum are O(fragments) driver-side METADATA
    ops (one manifest-dir listing + one data-dir listing); no
    distributed work, no data read.  Reference scope: flo's segment
    TTL expiry (controller/mod.rs:158-178) is the append-only cousin;
    snapshot retention is a north-star extension (SURVEY §2 Part B
    sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = ManifestTable(scratch_dir("lakehouse_vac_"))
    t.append(docs.filter(F.col("doc_id") % 4 < 2).coalesce(4), "base")
    t.append(docs.filter(F.col("doc_id") % 4 == 2).coalesce(4), "more")
    t.delete_where(spark, "doc_id % 8 = 0")
    # a crashed writer's abandoned fragment: written, never committed
    t.write_fragment(docs.limit(3).coalesce(1), "junk")
    t.expire_versions(keep_last=1)
    rep = t.vacuum()
    agg = t.read(spark).agg(
        F.lit(rep["fragments_deleted"]).cast("long").alias(
            "fragments_deleted"
        ),
        F.lit(rep["fragments_kept"]).cast("long").alias("fragments_kept"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )
    return agg


@query(
    "lakehouse_stats_skipping",
    """
    WITH b AS (
      SELECT (max(doc_id) + 1) // 4 AS t FROM documents
    ),
    hit AS (
      SELECT d.doc_id, d.n_chars
      FROM documents d, b WHERE d.doc_id < b.t
    )
    SELECT CAST(4 AS BIGINT) AS fragments_total,
           CAST(1 AS BIGINT) AS fragments_read,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM hit
    """,
)
def lakehouse_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping from manifest-recorded stats (r8;
    ``ManifestTable.write_fragment(stats_cols=...)`` +
    ``read_where`` — the min/max pruning every table format drives
    from its manifest): documents load into FOUR doc_id-range
    fragments with per-fragment [min, max] sidecars, then a range
    scan over the first quartile lists exactly ONE fragment — the
    other three are skipped DRIVER-SIDE from O(fragments) metadata,
    no parquet footer opened, no task launched.  The structural
    skip counts (4 total / 1 read) are stated as oracle literals;
    the aggregate over the pruned scan must still equal the raw
    table's answer for the same predicate, proving the prune is
    LOSSLESS (a skip that drops a matching fragment breaks
    n_docs/chars_total; a prune that reads extra fragments breaks
    the residual-filter contract instead of the counts).

    100 TB shape: the prune cost is one tiny JSON per fragment on
    the driver; the scan cost is |matching fragments| — the
    difference between scanning the fleet and scanning one file.
    Complements zorder_morton_key (which ORDERS data so ranges
    cluster) and dpp_month_partition_prune (partition-value pruning;
    this is finer — min/max on any stats column without partitioning
    by it).  Reference scope: flo scans segments by counter-range
    headers (flo_segment index-seek analog, A5); this is the
    columnar-table generalization — north-star extension (SURVEY §2
    Part B sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t_val = docs.agg(
        ((F.max("doc_id") + 1) / 4).cast("long").alias("t")
    ).collect()[0]["t"]  # O(1) driver metadata: the quartile boundary
    t = ManifestTable(scratch_dir("lakehouse_skip_"))
    for i in range(4):
        t.append(
            docs.filter(
                (F.col("doc_id") >= i * t_val)
                & (F.col("doc_id") < (i + 1) * t_val)
                if i < 3
                else F.col("doc_id") >= i * t_val
            ).coalesce(2),
            f"q{i}",
            stats_cols=["doc_id"],
        )
    df, rep = t.read_where(spark, "doc_id", 0, t_val - 1)
    agg = df.agg(
        F.lit(rep["fragments_total"]).cast("long").alias("fragments_total"),
        F.lit(rep["fragments_read"]).cast("long").alias("fragments_read"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )
    return agg


@query(
    "lakehouse_deletion_vectors",
    """
    WITH live AS (
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
    ),
    snap AS (
      SELECT 2 AS version, 0 AS ndv, doc_id, n_chars FROM documents
      UNION ALL
      SELECT 4 AS version, 2 AS ndv, doc_id, n_chars FROM live
      UNION ALL
      SELECT 5 AS version, 0 AS ndv, doc_id, n_chars FROM live
    )
    SELECT CAST(version AS INT) AS version,
           CAST(ndv AS BIGINT) AS n_dv_files,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM snap GROUP BY version, ndv
    """,
)
def lakehouse_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via positional deletion vectors
    (``ManifestTable.delete_where_mor`` / ``rewrite_deletes`` — the
    Iceberg v2 positional-delete / Delta deletion-vector design):
    documents land as two appended fragments (v1, v2), then TWO
    stacked MOR deletes (v3: doc_id%5=0; v4: doc_id%7=3, overlapping
    v3) each write only a tiny ``(file_key, pos)`` parquet — addressed
    by ``_metadata.file_path``/``row_index`` — and republish the
    manifest; no data fragment is touched.  v5 is the PURGE
    (``rewrite_deletes``): DVs fold back into rewritten fragments and
    the delete list empties.

    The query reads v2, v4 and v5 AFTER all five commits and
    aggregates each snapshot alongside its manifest's DV-file count.
    Matching the oracle proves (a) scan-time DV application is exact
    (v4 equals the predicate-reconstructed live set), (b) stacked DVs
    compose without double-deleting (the v4 DV excludes rows v3
    already deleted — unit-pinned in test_manifest_table), (c) time
    travel reads THROUGH deletes (v2 is still the full table), and
    (d) purge is a no-op on visible rows while zeroing read-time DV
    cost (v5 rows == v4 rows, n_dv_files 2 -> 0).

    100 TB shape: a MOR delete costs O(deleted rows) — the right
    trade for GDPR-trickle/CDC-tombstone deletes where COW would
    rewrite terabytes to drop kilobytes; readers anti-join a DV side
    that AQE broadcasts (no data-side shuffle); purge is
    fragment-granular, rewriting only dirty files.  Reference scope:
    flo only expires whole segments by TTL (controller retention) —
    row-granular erasure is a north-star extension (SURVEY §2 Part B
    sources/sinks; companion to gdpr_forget_compaction's COW form)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = ManifestTable(scratch_dir("lakehouse_dv_"))
    t.append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(4), "even")
    t.append(docs.filter(F.col("doc_id") % 2 == 1).coalesce(4), "odd")
    t.delete_where_mor(spark, "doc_id % 5 = 0")
    t.delete_where_mor(spark, "doc_id % 7 = 3")
    t.rewrite_deletes(spark)
    outs = []
    for v in (2, 4, 5):
        ndv = len(t.manifest(v).get("deletes", []))
        outs.append(
            t.read(spark, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.lit(ndv).cast("long").alias("n_dv_files"),
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("chars_total"),
                F.min("doc_id").cast("long").alias("min_doc"),
                F.max("doc_id").cast("long").alias("max_doc"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@query(
    "lakehouse_change_data_feed",
    """
    WITH ch AS (
      SELECT 2 AS commit_version, 'insert' AS change_kind,
             doc_id, n_chars
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 3 AS commit_version, 'delete' AS change_kind,
             doc_id, n_chars
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT CAST(commit_version AS INT) AS commit_version,
           change_kind,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM ch GROUP BY commit_version, change_kind
    """,
)
def lakehouse_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed — incremental row-level reads between table
    versions (``ManifestTable.read_changes``, the Delta CDF /
    ``table_changes()`` shape): v1 appends even doc_ids, v2 appends
    odd, v3 merge-on-read-deletes multiples of 5, v4 purges
    (``rewrite_deletes``).  ``read_changes(1, 4)`` must emit exactly
    v2's rows as inserts (append fragments are immutable, so added
    files ARE the commit's rows), v3's DV-addressed rows as deletes
    (the deletion vector makes row-level CDF a metadata semi-join —
    the reason real engines pair CDF with DVs), and NOTHING for v4
    (purge rewrites files but no visible row: the dataChange=false
    rule).  Copy-on-write deletes are rejected by contract — their
    removals aren't row-addressable from metadata (unit-pinned).

    The aggregate per (commit_version, change_kind) hash-matches the
    oracle's reconstruction; the unit suite additionally pins the
    replay invariant v1 + inserts - deletes == head.

    100 TB shape: an incremental consumer reads only each commit's
    added fragments or one DV semi-join against the prior file set —
    never a table rescan; classification is O(versions) driver-side
    manifest metadata.  Reference scope: flo's consume-from-version-
    vector (A3) is the event-log cousin of incremental reads; CDF is
    the table-format generalization — north-star extension (SURVEY §2
    Part B sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = ManifestTable(scratch_dir("lakehouse_cdf_"))
    t.append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(4), "even")
    t.append(docs.filter(F.col("doc_id") % 2 == 1).coalesce(4), "odd")
    t.delete_where_mor(spark, "doc_id % 5 = 0")
    t.rewrite_deletes(spark)
    return (
        t.read_changes(spark, 1, 4)
        .groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change").alias("change_kind"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )


@query(
    "lakehouse_merge_mor",
    """
    WITH merged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, 42 AS n_chars
      FROM documents WHERE doc_id % 97 = 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           CAST(1 AS BIGINT) AS n_dv_files,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs_v1
    FROM merged
    """,
)
def lakehouse_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE INTO, merge-on-read
    (``ManifestTable.merge_mor`` — the Hudi MOR / Delta DV-backed
    upsert): the source holds every third document with n_chars
    bumped by 1000 (updates) plus fabricated new doc_ids (inserts);
    ONE atomic commit records the matched rows' addresses in a new
    deletion vector AND appends all source rows as one fragment —
    readers see the old or the new table, never half a merge.

    The head aggregate must equal the oracle's CASE-reconstructed
    merged table (updates replaced, non-matches untouched, inserts
    present exactly once); ``n_dv_files`` pins the single-DV
    structural shape and ``n_docs_v1`` pins time travel (the
    pre-merge snapshot still reads complete AFTER the merge).  The
    unit suite additionally pins the merge's CDF encoding
    (pre-images as deletes + source as inserts) and purge folding.

    100 TB shape: write cost is O(source + matched addresses) — a
    daily upsert of millions into billions writes megabytes, where
    COW MERGE rewrites every fragment containing a match; the match
    probe is one semi-join whose keys-only source side AQE
    broadcasts.  Reference scope: flo has no keyed update surface at
    all (append-only event log) — north-star extension (SURVEY §2
    Part B sources/sinks; table-level twin of the query-level
    merge_upsert_customers)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = ManifestTable(scratch_dir("lakehouse_merge_"))
    t.append(docs.coalesce(4), "base")
    source = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        .unionByName(
            docs.filter(F.col("doc_id") % 97 == 0).select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                F.lit(42).cast(docs.schema["n_chars"].dataType).alias(
                    "n_chars"
                ),
            )
        )
    )
    t.merge_mor(spark, source, "doc_id")
    ndv = len(t.manifest().get("deletes", []))
    n_v1 = t.read(spark, 1).count()
    return t.read(spark).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
        F.lit(ndv).cast("long").alias("n_dv_files"),
        F.lit(n_v1).cast("long").alias("n_docs_v1"),
    )


@query(
    "lakehouse_bloom_skipping",
    """
    WITH hit AS (
      SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_total
      FROM documents WHERE source = 'src7'
    )
    SELECT 'src7' AS probe,
           CAST(5 AS BIGINT) AS fragments_total,
           CAST(1 AS BIGINT) AS fragments_read,
           CAST(n_docs AS BIGINT) AS n_docs,
           chars_total
    FROM hit
    UNION ALL
    SELECT 'zz-absent', CAST(5 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    """,
)
def lakehouse_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level BLOOM-sidecar data skipping for equality lookups
    (``ManifestTable.write_fragment(bloom_cols=...)`` +
    ``read_point`` — the Iceberg bloom-filter / Parquet
    bloom-sidecar mechanism for the predicates min/max stats cannot
    prune: categorical or high-cardinality point keys): documents
    land as FIVE source-sharded fragments, each recording a
    4096-bit/3-hash bloom over its ``source`` values; a point lookup
    for 'src7' opens exactly ONE fragment (its shard — all 3 probe
    positions set only there) and a lookup for an absent source
    opens ZERO.  No false negatives by construction (every written
    value set its bits), so the prune is lossless: the probe's
    aggregate must still equal the raw table's answer for
    ``source = 'src7'`` — that plus the literal skip counts is what
    the hash pins.  (The 1-in-~4e7 structural false-positive chance
    is data-deterministic; verified 1/0 at every shipped SF.)

    100 TB shape: the probe costs one k-position hash driver-side +
    one tiny JSON per fragment — a needle-in-the-fleet point lookup
    touches one file instead of every file; complements
    lakehouse_stats_skipping (range prune) and
    dpp_month_partition_prune (partition prune).  Reference scope:
    flo seeks segments by counter-range header (A5); value-addressed
    skipping is a north-star extension (SURVEY §2 Part B
    sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = ManifestTable(scratch_dir("lakehouse_bloom_"))
    shard = F.pmod(
        F.regexp_extract("source", r"(\d+)", 1).cast("int"), F.lit(5)
    )
    for i in range(5):
        t.append(
            docs.filter(shard == i).coalesce(2),
            f"shard{i}",
            bloom_cols=["source"],
        )
    rows = []
    for probe in ("src7", "zz-absent"):
        df, rep = t.read_point(spark, "source", probe)
        rows.append(
            df.agg(
                F.lit(probe).alias("probe"),
                F.lit(rep["fragments_total"]).cast("long").alias(
                    "fragments_total"
                ),
                F.lit(rep["fragments_read"]).cast("long").alias(
                    "fragments_read"
                ),
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
                    "chars_total"
                ),
            )
        )
    return rows[0].unionAll(rows[1])


@query(
    "lakehouse_ivm_join_view",
    """
    WITH live AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS px
      FROM orders WHERE o_orderkey % 16 <> 1
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(l.px) AS BIGINT) AS revenue_x1e4
    FROM live l JOIN customer c ON c.c_custkey = l.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def lakehouse_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-AGGREGATE view off the
    table's change data feed — the delta-rule
    ``dV = (dO join C)`` applied as signed partials, never a base
    rescan: orders land in a manifest table (v1 base append, v2
    append, v3 merge-on-read delete of o_orderkey%16=1); the view
    V = orders JOIN customer GROUP BY mktsegment is computed ONCE at
    v1, then advanced to v3 purely from ``read_changes(1, 3)`` with
    sign +1/-1 per change row, merged into the v1 state by a
    full-outer combine (groups can appear, drain, or net to zero —
    zero-count groups drop, the multiset-view rule).  The result must
    hash-equal the oracle's direct final-state computation: the
    incremental path and the recompute path agree exactly (counts and
    scaled-long money sums are integers, so "exactly" is bitwise).

    This is the table-format twin of stream_ivm_signed_deltas (which
    maintains over a stream): same signed-delta algebra, here driven
    by the lakehouse CDF so ANY reader can maintain a downstream view
    without subscribing to the writer.

    100 TB shape: each refresh touches O(changed rows) joined against
    the dim (broadcastable) plus O(groups) state — a daily delta of
    millions maintains a view over billions without rescanning them;
    the CDF side reads only per-commit added fragments / one DV
    semi-join.  Reference scope: flo consumers re-derive state by
    replaying from a version vector (A3) — the same
    incremental-not-rescan principle, generalized to relational
    views (SURVEY §2 Part B streaming/lakehouse rows)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        money_scaled(F.col("o_totalprice")).alias("px"),
    )
    t = ManifestTable(scratch_dir("lakehouse_ivm_"))
    t.append(o.filter(F.col("k") % 4 < 3).coalesce(4), "base")
    t.append(o.filter(F.col("k") % 4 == 3).coalesce(4), "more")
    t.delete_where_mor(spark, "k % 16 = 1")
    # 2-column dim, checkpointed: both the base-view join and the
    # delta join read it — un-cut lineage re-scanned customer per
    # join (2 scans, r9 audit; now 1)
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).localCheckpoint()
    v1 = (
        t.read(spark, 1)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n0"),
            F.sum("px").cast("long").alias("s0"),
        )
    )
    delta = t.read_changes(spark, 1, 3).withColumn(
        "sign", F.when(F.col("_change") == "insert", 1).otherwise(-1)
    )
    dv = (
        delta.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("sign").cast("long").alias("dn"),
            F.sum(F.col("sign") * F.col("px")).cast("long").alias("ds"),
        )
    )
    return (
        v1.join(dv, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce(F.col("s0"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
            .cast("long")
            .alias("revenue_x1e4"),
        )
        .filter(F.col("n_orders") > 0)
    )


@query(
    "bitemporal_point_in_time",
    """
    WITH px AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) AS px
      FROM customer
    ),
    beliefs AS (
      -- transaction v1: every customer's period-2 row as first written
      SELECT 1 AS txn_version, c_custkey,
             (px + 20000000) // 20000000 AS tier, px
      FROM px
      UNION ALL
      -- transaction v2: the late correction for c_custkey%10=3
      SELECT 2, c_custkey,
             CASE WHEN c_custkey % 10 = 3
                  THEN (px + 30000000) // 20000000
                  ELSE (px + 20000000) // 20000000 END AS tier,
             px
      FROM px
    )
    SELECT CAST(txn_version AS INT) AS txn_version,
           CAST(tier AS BIGINT) AS tier,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(px) AS BIGINT) AS balance_x1e4
    FROM beliefs GROUP BY txn_version, tier
    """,
)
def bitemporal_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point-in-time query — BOTH time axes at once
    (valid time: when a fact was true in the world; transaction
    time: when the system believed it), composed from the two
    primitives the repo already certifies separately: SCD2-style
    validity intervals INSIDE the rows, manifest versions (time
    travel) AROUND them.  A customer-tier dimension lands with two
    validity periods per customer ([0,50) and [50,inf), tiers =
    positive-offset integer bands of acctbal); transaction v2 applies
    a LATE CORRECTION (merge_mor) to the period-2 tier of every
    c_custkey%10=3.  The query asks, for valid time V=75 (inside
    period 2): "what did we believe AS OF transaction v1, and as of
    v2?" — the corrected subset moves tiers between transaction
    versions while the valid-time selection logic is identical,
    which is exactly the audit/backtest question (\"what did the
    model see THEN?\") bitemporal tables exist to answer.

    All tiers are positive-offset integer divisions (offset keeps
    the dividend non-negative, so floor-div and trunc-div agree on
    both engines); counts and balance sums are exact.

    100 TB shape: the valid-time filter is a scan-stage predicate on
    interval columns; the transaction axis is O(1) manifest
    resolution + the DV anti-join of the correction — neither axis
    rescans history.  Reference scope: flo's version-vector consume
    is single-axis (transaction) replay; the valid axis is the
    relational north-star (SURVEY §2 Part B lakehouse/SCD2 rows —
    composes scd2_point_in_time_join with lakehouse time travel)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        money_scaled(F.col("c_acctbal")).alias("px"),
    )
    p1 = c.select(
        (F.col("ck") * 1000 + 0).alias("skey"),
        "ck",
        F.lit(0).alias("valid_from"),
        F.lit(50).alias("valid_to"),
        F.expr("(px + 10000000) div 20000000").alias("tier"),
        "px",
    )
    p2 = c.select(
        (F.col("ck") * 1000 + 50).alias("skey"),
        "ck",
        F.lit(50).alias("valid_from"),
        F.lit(99999).alias("valid_to"),
        F.expr("(px + 20000000) div 20000000").alias("tier"),
        "px",
    )
    t = ManifestTable(scratch_dir("bitemporal_"))
    t.append(p1.unionByName(p2).coalesce(4), "dim")
    correction = (
        c.filter(F.col("ck") % 10 == 3)
        .select(
            (F.col("ck") * 1000 + 50).alias("skey"),
            "ck",
            F.lit(50).alias("valid_from"),
            F.lit(99999).alias("valid_to"),
            F.expr("(px + 30000000) div 20000000").alias("tier"),
            "px",
        )
    )
    t.merge_mor(spark, correction, "skey")
    outs = []
    for v in (1, 2):
        outs.append(
            t.read(spark, v)
            .filter((F.col("valid_from") <= 75) & (F.col("valid_to") > 75))
            .groupBy("tier")
            .agg(
                F.count("*").cast("long").alias("n_customers"),
                F.sum("px").cast("long").alias("balance_x1e4"),
            )
            .select(
                F.lit(v).cast("int").alias("txn_version"),
                F.col("tier").cast("long").alias("tier"),
                "n_customers",
                "balance_x1e4",
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lakehouse_table_diff",
    """
    WITH px AS (
      SELECT c_custkey AS ck,
             CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) AS px,
             c_mktsegment AS mkt
      FROM customer
    ),
    v1 AS (SELECT * FROM px),
    v3 AS (
      -- survives the delete, with the merge's updates applied
      SELECT ck,
             CASE WHEN ck % 7 = 2 THEN px + 500000 ELSE px END AS px,
             mkt
      FROM px WHERE ck % 13 <> 4
      UNION ALL
      -- the later MOR delete applies to inserted keys too
      SELECT ck + 1000000, 0, 'NEW' FROM px
      WHERE ck % 101 = 0 AND (ck + 1000000) % 13 <> 4
    ),
    classified AS (
      SELECT coalesce(a.ck, b.ck) AS ck,
             CASE WHEN a.ck IS NULL THEN 'added'
                  WHEN b.ck IS NULL THEN 'removed'
                  WHEN a.px <> b.px OR a.mkt <> b.mkt THEN 'changed'
                  ELSE 'unchanged' END AS diff_class,
             CASE WHEN a.ck IS NOT NULL AND b.ck IS NOT NULL
                       AND a.px <> b.px THEN 1 ELSE 0 END AS px_chg,
             CASE WHEN a.ck IS NOT NULL AND b.ck IS NOT NULL
                       AND a.mkt <> b.mkt THEN 1 ELSE 0 END AS mkt_chg
      FROM v1 a FULL OUTER JOIN v3 b ON a.ck = b.ck
    )
    SELECT diff_class,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(px_chg) AS BIGINT) AS n_px_changed,
           CAST(sum(mkt_chg) AS BIGINT) AS n_mkt_changed,
           CAST(min(ck) AS BIGINT) AS min_key,
           CAST(max(ck) AS BIGINT) AS max_key
    FROM classified GROUP BY diff_class
    """,
)
def lakehouse_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-ADDRESSED snapshot diff between two table versions
    (the `data-diff`/reconciliation shape): unlike
    lakehouse_change_data_feed — which classifies from commit
    METADATA — this joins the two snapshots BY KEY and derives
    added / removed / changed / unchanged from the data itself, plus
    per-column change counts (the column-level drilldown a schema
    reconciliation or replication-verification job reports).  The
    pipeline between the compared versions is real: a merge_mor
    updates px for ck%7=2 and inserts fabricated keys, then a MOR
    delete drops ck%13=4 — so the diff must see through deletion
    vectors on the read path.

    Works against ANY two snapshots — including tables that never
    recorded ops (imported history, cross-system reconciliation) —
    which is exactly when metadata CDF is unavailable; the cost is a
    full key join instead of O(changed).  Both classifications are
    certified in this catalog, each labeled with when it applies.

    100 TB shape: one co-keyed full-outer shuffle join (bucketing
    both snapshots on the key makes it co-located); class counts
    reduce map-side.  Reference scope: reconciliation between a flo
    log and its downstream table is the operational use — north-star
    extension (SURVEY §2 Part B lakehouse rows)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        money_scaled(F.col("c_acctbal")).alias("px"),
        F.col("c_mktsegment").alias("mkt"),
    )
    t = ManifestTable(scratch_dir("lakehouse_diff_"))
    t.append(c.coalesce(4), "base")
    upd = (
        c.filter(F.col("ck") % 7 == 2)
        .select("ck", (F.col("px") + 500000).alias("px"), "mkt")
        .unionByName(
            c.filter(F.col("ck") % 101 == 0).select(
                (F.col("ck") + 1000000).alias("ck"),
                F.lit(0).cast("long").alias("px"),
                F.lit("NEW").alias("mkt"),
            )
        )
    )
    t.merge_mor(spark, upd, "ck")
    t.delete_where_mor(spark, "ck % 13 = 4")
    a = t.read(spark, 1).alias("a")
    b = t.read(spark).alias("b")
    j = a.join(b, F.col("a.ck") == F.col("b.ck"), "full_outer")
    both = F.col("a.ck").isNotNull() & F.col("b.ck").isNotNull()
    px_chg = F.when(both & (F.col("a.px") != F.col("b.px")), 1).otherwise(0)
    mkt_chg = F.when(both & (F.col("a.mkt") != F.col("b.mkt")), 1).otherwise(0)
    cls = (
        F.when(F.col("a.ck").isNull(), "added")
        .when(F.col("b.ck").isNull(), "removed")
        .when(
            (F.col("a.px") != F.col("b.px"))
            | (F.col("a.mkt") != F.col("b.mkt")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.ck"), F.col("b.ck")).alias("ck"),
            cls.alias("diff_class"),
            px_chg.alias("px_chg"),
            mkt_chg.alias("mkt_chg"),
        )
        .groupBy("diff_class")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("px_chg").cast("long").alias("n_px_changed"),
            F.sum("mkt_chg").cast("long").alias("n_mkt_changed"),
            F.min("ck").cast("long").alias("min_key"),
            F.max("ck").cast("long").alias("max_key"),
        )
    )


@query(
    "encoding_advisor_profile",
    """
    WITH stacked AS (
      SELECT o_orderkey AS phys, 'o_orderstatus' AS col_name,
             o_orderstatus AS val FROM orders
      UNION ALL
      SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ),
    runs AS (
      SELECT col_name, val,
             CASE WHEN lag(val) OVER (
                    PARTITION BY col_name ORDER BY phys) IS DISTINCT FROM val
                  THEN 1 ELSE 0 END AS is_break
      FROM stacked
    ),
    prof AS (
      SELECT col_name,
             count(*) AS n_rows,
             count(DISTINCT val) AS n_distinct,
             sum(is_break) AS n_runs
      FROM runs GROUP BY col_name
    )
    SELECT col_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_runs AS BIGINT) AS n_runs,
           CAST((n_rows * 10000) // n_runs AS BIGINT) AS avg_run_x1e4,
           CASE WHEN (n_rows * 10000) // n_runs >= 20000 THEN 'rle'
                WHEN n_distinct * 100 <= n_rows THEN 'dict'
                ELSE 'plain' END AS recommendation
    FROM prof
    """,
)
def encoding_advisor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar ENCODING ADVISOR — the storage-profiling pass a
    lakehouse optimizer runs to pick per-column encodings (the
    decision Parquet writers make from stats): three columns of
    orders are profiled IN PHYSICAL ORDER (o_orderkey as the row
    order) for cardinality and run structure — n_distinct drives
    dictionary viability, the exact run count (1 + value breaks via
    IS DISTINCT FROM lag) drives RLE viability — and an integer
    rule picks rle (avg run >= 2.0), dict (<=1% distinct), or plain.
    Every profile number is an exact integer (avg run length is a
    4dp-scaled floor division), so the advisor's verdicts hash.

    100 TB shape: this is a per-column scan profile — the stack is a
    column-pruned union (each leg reads one column), run detection
    is one lag window per column partition, and the output is
    O(columns).  In production the window runs per row group, not
    globally — the global order here IS the row-group order of the
    synthetic table (o_orderkey is the write order), which the
    docstring pins honestly.  North-star extension (SURVEY §2 Part B
    sources/sinks; advises the formats zorder_morton_key and
    small_file_compaction lay out)."""
    o = load(spark, sf_dir, "orders")
    # melt via a scan-stage explode instead of a 3-leg self-union:
    # the union re-scanned orders once per profiled column (3 scans,
    # r9 audit; the explode reads the 4 columns ONCE and emits the
    # same stacked rows)
    stacked = o.select(
        F.col("o_orderkey").alias("phys"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cname).alias("col_name"), expr.alias("val")
                    )
                    for cname, expr in (
                        ("o_orderstatus", F.col("o_orderstatus")),
                        ("o_orderpriority", F.col("o_orderpriority")),
                        ("o_custkey", F.col("o_custkey").cast("string")),
                    )
                ]
            )
        ).alias("kv"),
    ).select("phys", "kv.col_name", "kv.val")
    w = Window.partitionBy("col_name").orderBy("phys")
    runs = stacked.select(
        "col_name",
        "val",
        F.when(
            ~F.lag("val").over(w).eqNullSafe(F.col("val")), 1
        )
        .otherwise(0)
        .alias("is_break"),
    )
    prof = runs.groupBy("col_name").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("val").cast("long").alias("n_distinct"),
        F.sum("is_break").cast("long").alias("n_runs"),
    )
    return prof.select(
        "col_name",
        "n_rows",
        "n_distinct",
        "n_runs",
        F.expr("(n_rows * 10000) div n_runs").cast("long").alias(
            "avg_run_x1e4"
        ),
        F.when(F.expr("(n_rows * 10000) div n_runs >= 20000"), "rle")
        .when(F.col("n_distinct") * 100 <= F.col("n_rows"), "dict")
        .otherwise("plain")
        .alias("recommendation"),
    )


@query(
    "lakehouse_optimize_binpack",
    """
    WITH live AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 <> 5
    )
    SELECT CAST(8 AS BIGINT) AS fragments_before,
           CAST(1 AS BIGINT) AS fragments_after,
           CAST(8 AS BIGINT) AS fragments_rewritten,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM live
    """,
)
def lakehouse_optimize_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE — bin-packing small-file compaction
    (``ManifestTable.optimize``, the Delta OPTIMIZE / Iceberg
    rewrite_data_files maintenance op): documents land as EIGHT
    small single-part fragments (the streaming-ingest pathology the
    op exists for), a merge-on-read delete adds a pending DV, then
    optimize first-fit-decreasing-packs everything under the target
    into one rewritten fragment — applying the pending DV in the
    same pass (rewritten rows get new addresses, stale DV entries
    can't re-match).  The oracle pins the structural report (8 -> 1,
    all 8 rewritten) and the content invariance: the post-OPTIMIZE
    table must still equal the predicate-reconstructed live set —
    compaction moves bytes, never rows.  The unit suite additionally
    pins that the optimize commit is dataChange=false for the CDF
    (read_changes skips it) and that multi-bin FFD packing is
    deterministic.

    100 TB shape: the packing decision is O(fragments) driver
    metadata; only small fragments are read and each bin writes
    once — scan cost after OPTIMIZE drops from O(files) open
    overhead to O(bins).  Completes the maintenance family:
    small_file_compaction (repartition form), expire+vacuum,
    rewrite_deletes, and now policy-driven compaction (SURVEY §2
    Part B sources/sinks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = ManifestTable(scratch_dir("lakehouse_opt_"))
    for i in range(8):
        t.append(
            docs.filter(F.col("doc_id") % 8 == i).coalesce(1), f"shard{i}"
        )
    t.delete_where_mor(spark, "doc_id % 9 = 5")
    _v, rep = t.optimize(spark, target_bytes=1 << 30)
    return t.read(spark).agg(
        F.lit(rep["fragments_before"]).cast("long").alias("fragments_before"),
        F.lit(rep["fragments_after"]).cast("long").alias("fragments_after"),
        F.lit(rep["fragments_rewritten"])
        .cast("long")
        .alias("fragments_rewritten"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@query(
    "lakehouse_write_audit_publish",
    """
    WITH staged AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0
    ),
    bad AS (SELECT * FROM staged WHERE n_chars % 7 = 0),
    good AS (SELECT * FROM staged WHERE n_chars % 7 <> 0),
    base AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
    ),
    final AS (SELECT * FROM base UNION ALL SELECT * FROM good)
    SELECT CAST((SELECT count(*) FROM final) AS BIGINT) AS n_docs,
           CAST((SELECT sum(n_chars) FROM final) AS BIGINT) AS chars_total,
           CAST((SELECT count(*) FROM bad) AS BIGINT) AS bad_rows_rejected,
           CAST((SELECT count(*) FROM base) AS BIGINT)
             AS n_docs_before_publish,
           CAST(2 AS BIGINT) AS main_versions,
           CAST(1 AS BIGINT) AS orphans_reclaimed
    """,
)
def lakehouse_write_audit_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-AUDIT-PUBLISH — staged ingestion on a BRANCH with an
    audit gate before anything reaches readers (the Iceberg WAP /
    Nessie branch workflow; ``ManifestTable.create_branch`` /
    ``publish_branch`` / ``drop_branch``): the incoming batch
    (doc_id%3=0) first lands on branch 'incoming'; the audit finds
    the planted corrupt subset (n_chars%7=0), so the branch is
    DROPPED — main never saw it, its fragment becomes a vacuumable
    orphan (reclaim count pinned) — and the corrected batch stages
    on a fresh branch that passes audit and PUBLISHES: one atomic
    fast-forward commit making the audited state visible, however
    many staging commits the branch took.

    The hash pins the final table aggregate (base + good rows,
    exactly once), the audit's rejected-row count, main's
    pre-publish row count (staging invisible to readers — the
    whole point), main's total version count (2: base append +
    publish; staging never inflates main history), and the orphan
    reclaim.

    100 TB shape: branches are manifest-prefix metadata — zero data
    copies to create, publish, or drop; the audit reads only the
    branch snapshot; vacuum stays O(fragments).  Reference scope:
    flo's produce is ack-then-visible with no staging area — the
    audit gate is a north-star extension (SURVEY §2 Part B
    sources/sinks; composes the branch mechanism with
    constraint_audit's checks)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.manifest_table import ManifestTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    staged = docs.filter(F.col("doc_id") % 3 == 0)
    t = ManifestTable(scratch_dir("lakehouse_wap_"))
    t.append(base.coalesce(4), "base")
    n_before = t.read(spark).count()
    # attempt 1: stage the raw batch, audit, reject
    t.create_branch("incoming")
    t.append(staged.coalesce(2), "batch_raw", chain="incoming")
    bad_rows = (
        t.read(spark, chain="incoming")
        .filter((F.col("doc_id") % 3 == 0) & (F.col("n_chars") % 7 == 0))
        .count()
    )
    t.drop_branch("incoming")
    reclaimed = t.vacuum()["fragments_deleted"]
    # attempt 2: stage the corrected batch, audit passes, publish
    t.create_branch("retry")
    t.append(
        staged.filter(F.col("n_chars") % 7 != 0).coalesce(2),
        "batch_clean",
        chain="retry",
    )
    t.publish_branch(spark, "retry")
    return t.read(spark).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.lit(bad_rows).cast("long").alias("bad_rows_rejected"),
        F.lit(n_before).cast("long").alias("n_docs_before_publish"),
        F.lit(t.current_version()).cast("long").alias("main_versions"),
        F.lit(reclaimed).cast("long").alias("orphans_reclaimed"),
    )
