"""flo event-stream surface entries: native datasource scans,
TCP round trip, retention, interchange formats (ORC/XML/fixed-width),
ordered tail consume.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    query,
)

__all__ = [
    "flo_tail_consume_ordered",
    "flo_orc_roundtrip",
    "flo_datasource_scan",
    "flo_native_retention",
    "flo_tcp_roundtrip",
    "flo_xml_roundtrip",
    "flo_fixedwidth_roundtrip",
    "flo_async_pipelined_roundtrip",
    "flo_tailer_bounded_sweep",
    "audit_hash_chain",
    "merkle_tree_proof",
]


@query(
    "flo_tail_consume_ordered",
    """
    WITH b AS (
      SELECT doc_id,
             '/tail/' || source AS namespace,
             CAST(doc_id % 3 + 1 AS INT) AS partition
      FROM documents ORDER BY doc_id LIMIT 300
    ),
    cnt AS (
      SELECT partition, count(*) AS n FROM b GROUP BY partition
    ),
    off AS (
      SELECT partition,
             CAST(sum(n) OVER (ORDER BY partition) - n AS BIGINT) AS off
      FROM cnt
    )
    SELECT off.off
             + row_number() OVER (PARTITION BY b.partition ORDER BY b.doc_id)
             AS event_counter,
           b.partition AS actor,
           b.namespace
    FROM b JOIN off USING (partition)
    """,
)
def flo_tail_consume_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tail delivery, driver-verified (A9 + A6's merge order):
    produce 300 events into a fresh stream, then drain it through the
    STREAMING path — ``consume_tail_ordered`` (foreachBatch sink,
    Trigger.AvailableNow), which k-way-merges each micro-batch by
    (event_counter, actor) like the reference's live consumer
    (multi_partition_reader.rs:8-48).  The oracle reproduces the
    deterministic id assignment; within-batch ordering is additionally
    asserted here (the oracle's value compare is order-insensitive)."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.event_table import EventStream
    from flo_spark.streaming.consume_stream import consume_tail_ordered

    path = scratch_dir("flo_tail_") + "/stream"
    s = EventStream.create(spark, path, num_partitions=3)
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(300)
    batch = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("/tail/"), F.col("source")).alias("namespace"),
        F.encode("text", "utf-8").alias("data"),
        (F.col("doc_id") % 3 + 1).cast("int").alias("partition"),
    )
    s.produce(batch, order_by="doc_id")
    tail = consume_tail_ordered(spark, path, await_new=False, timeout_sec=120)
    rows = []
    for delivered in tail.batches():
        ids = [(r.event_counter, r.actor) for r in delivered]
        assert ids == sorted(ids), "micro-batch not in merge order"
        rows.extend(
            (r.event_counter, r.actor, r.namespace) for r in delivered
        )
    # bounded by the produce size (300) — evidence query, not a data path
    return spark.createDataFrame(
        rows, "event_counter long, actor int, namespace string"
    )


@query(
    "flo_orc_roundtrip",
    """
    WITH b AS (
      SELECT doc_id, text,
             '/docs/' || source AS namespace,
             CAST(doc_id % 3 + 1 AS INT) AS partition
      FROM documents ORDER BY doc_id LIMIT 300
    ),
    cnt AS (SELECT partition, count(*) AS n FROM b GROUP BY partition),
    off AS (
      SELECT partition,
             CAST(sum(n) OVER (ORDER BY partition) - n AS BIGINT) AS off
      FROM cnt
    ),
    env AS (
      SELECT b.namespace,
             off.off + row_number()
               OVER (PARTITION BY b.partition ORDER BY b.doc_id)
               AS event_counter,
             octet_length(encode(b.text)) AS nbytes
      FROM b JOIN off USING (partition)
    )
    SELECT namespace,
           count(*) AS n_events,
           CAST(sum(event_counter) AS BIGINT) AS sum_counters,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes
    FROM env GROUP BY namespace
    """,
)
def flo_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: produce a 3-partition event stream, export it
    as ORC (Spark's second native columnar format; BINARY payloads
    carried natively, no text encoding), read it back through the
    schema-explicit scan path, and aggregate — counters, counts, and
    exact payload byte lengths must survive, hash-checked against SQL
    computing the same from the source table.  Complements the CSV+JSON
    text round trip (`flo_interchange_roundtrip`) so every interchange
    format the engine exposes (parquet/orc/csv/json + the native
    .events codec) has round-trip evidence."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.event_table import EventStream

    tmp = scratch_dir("flo_orc_")
    s = EventStream.create(spark, f"{tmp}/stream", num_partitions=3)
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(300)
    batch = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("/docs/"), F.col("source")).alias("namespace"),
        F.encode("text", "utf-8").alias("data"),
        (F.col("doc_id") % 3 + 1).cast("int").alias("partition"),
    )
    s.produce(batch, order_by="doc_id")
    s.export(f"{tmp}/orc", fmt="orc")
    o = EventStream.read_events(spark, f"{tmp}/orc", fmt="orc")
    return o.groupBy("namespace").agg(
        F.count("*").alias("n_events"),
        F.sum("event_counter").alias("sum_counters"),
        F.sum(F.octet_length("data")).alias("sum_bytes"),
    )


@query(
    "flo_datasource_scan",
    """
    WITH b AS (
      SELECT event_id, event_type, props,
             CAST(event_id % 3 + 1 AS INT) AS part
      FROM events ORDER BY event_id LIMIT 400
    )
    SELECT '/events/' || event_type AS namespace,
           count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS sum_counters,
           CAST(sum(octet_length(encode(coalesce(props, ''))))
                AS BIGINT) AS sum_bytes
    FROM b
    WHERE substr(event_type, 1, 1) IN ('c', 'p', 'v')
      AND ((part = 1 AND event_id > 100) OR (part = 2 AND event_id > 0))
    GROUP BY namespace
    """,
)
def flo_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``format("flo")`` end-to-end: encode 400 events into native
    ``.events`` segments (3 partition dirs, forced rotation), register
    the Spark 4 Python Data Source, and scan them back THROUGH the
    format with both reader options engaged — a namespace glob with a
    character class (``/events/[cpv]*``) and a version-vector
    ``startpositions`` cursor ({1: 100, 2: 0} — partition 3 absent, so
    never read; exclusive bounds).  The aggregate hash-checks that the
    DS-API scan path (one InputPartition per segment file) plus the
    Python-side option filters reproduce exactly the SQL formula on
    the source table.  The STREAMING half of the source — the
    per-event version-vector offset cursor — is exercised by
    tests/test_flo_datasource.py (mid-segment restart, torn-tail
    parking), which a SQL oracle cannot express."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_datasource import register
    from flo_spark.sources.flo_segment import write_flo_segments

    ev = load(spark, sf_dir, "events").orderBy("event_id").limit(400)
    batch = ev.select(
        F.col("event_id").alias("event_counter"),
        (F.col("event_id") % 3 + 1).cast("int").alias("actor"),
        F.lit(None).cast("long").alias("parent_counter"),
        F.lit(None).cast("int").alias("parent_actor"),
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("/events/"), F.col("event_type")).alias("namespace"),
        F.encode(F.coalesce("props", F.lit("")), "utf-8").alias("data"),
        (F.col("event_id") % 3 + 1).cast("int").alias("partition"),
    )
    path = scratch_dir("flo_ds_") + "/native"
    write_flo_segments(batch, path, max_events_per_segment=60)
    register(spark)
    import json as _json

    df = (
        spark.read.format("flo")
        .option("namespace", "/events/[cpv]*")
        .option("startpositions", _json.dumps({1: 100, 2: 0}))
        .load(path)
    )
    return df.groupBy("namespace").agg(
        F.count("*").alias("n_events"),
        F.sum("event_counter").alias("sum_counters"),
        F.sum(F.octet_length("data")).alias("sum_bytes"),
    )


@query(
    "flo_native_retention",
    """
    WITH b AS (
      SELECT event_id, CAST(event_id % 3 + 1 AS INT) AS part
      FROM events ORDER BY event_id LIMIT 300
    ),
    r AS (
      SELECT event_id, part,
             CAST((row_number() OVER (PARTITION BY part ORDER BY event_id)
                   - 1) // 40 AS INT) + 1 AS seg
      FROM b
    ),
    s AS (
      SELECT part, seg, max(event_id * 1000) AS seg_end FROM r
      GROUP BY part, seg
    ),
    lim AS (
      SELECT CAST(min(event_id) * 1000
                  + 3 * (max(event_id) - min(event_id)) * 1000 // 5
                  AS BIGINT) AS cut
      FROM b
    ),
    s2 AS (
      SELECT part, seg,
             max(seg_end) OVER (PARTITION BY part ORDER BY seg
                                ROWS UNBOUNDED PRECEDING) AS cm,
             max(seg) OVER (PARTITION BY part) AS maxseg
      FROM s
    ),
    keep AS (
      SELECT part, seg FROM s2 CROSS JOIN lim
      WHERE NOT (cm < lim.cut AND seg < maxseg)
    )
    SELECT r.part AS partition,
           count(*) AS n_events,
           CAST(sum(r.event_id) AS BIGINT) AS sum_counters,
           CAST(max(r.event_id) AS BIGINT) AS head_counter,
           TRUE AS primary_flag
    FROM r JOIN keep USING (part, seg)
    GROUP BY r.part
    """,
)
def flo_native_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-dir TTL + head snapshot end to end (A11 + A13 on flo's
    own storage format): encode 300 events into 3 partition dirs
    (id-derived monotone timestamps, 40-event segments), run
    ``expire_native_segments`` at a cutoff 60% into the time range,
    then scan the SURVIVING segments and join the per-partition head
    from ``native_head_status``.  The oracle reproduces the whole
    pipeline in SQL — segment membership (rank // 40), content-derived
    header end-times (max id-ms per segment), the take_while
    drop-prefix rule via a running cummax, the never-expire-active
    rule, and the head (which expiry must NOT move).  A defect in
    segment assignment, header times, prefix-stop, active protection,
    or head recovery changes a count/sum and breaks the hash.

    The two driver-side pieces are O(1)/O(partitions) by construction
    (documented): the min/max collect that derives the cutoff, and
    the head-status list."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_segment import (
        expire_native_segments,
        native_head_status,
        read_flo_segments,
        write_flo_segments,
    )

    ev = load(spark, sf_dir, "events").orderBy("event_id").limit(300)
    batch = ev.select(
        F.col("event_id").alias("event_counter"),
        (F.col("event_id") % 3 + 1).cast("int").alias("actor"),
        F.lit(None).cast("long").alias("parent_counter"),
        F.lit(None).cast("int").alias("parent_actor"),
        F.timestamp_seconds(F.col("event_id")).alias("timestamp"),
        F.concat(F.lit("/events/"), F.col("event_type")).alias("namespace"),
        F.encode(F.coalesce("props", F.lit("")), "utf-8").alias("data"),
        (F.col("event_id") % 3 + 1).cast("int").alias("partition"),
    )
    path = scratch_dir("flo_native_ttl_") + "/native"
    write_flo_segments(batch, path, max_events_per_segment=40)
    # O(1) driver collect: the cutoff bounds (min/max id of the subset)
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).collect()[0]
    cut = row["mn"] * 1000 + 3 * (row["mx"] - row["mn"]) * 1000 // 5
    expire_native_segments(path, retention_millis=0, now_millis=cut)
    heads = spark.createDataFrame(
        native_head_status(path),
        "partition int, head_counter long, primary_flag boolean",
    )
    back = read_flo_segments(spark, path)
    return (
        back.groupBy("partition")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_counter").alias("sum_counters"),
        )
        .join(F.broadcast(heads), "partition")
        .select(
            "partition",
            "n_events",
            "sum_counters",
            "head_counter",
            "primary_flag",
        )
    )


@query(
    "flo_tcp_roundtrip",
    """
    WITH d AS (SELECT doc_id, lang, text FROM documents
               ORDER BY doc_id LIMIT 20)
    SELECT CAST(row_number() OVER (PARTITION BY doc_id % 2
                                   ORDER BY doc_id) AS BIGINT)
               AS event_counter,
           CAST(doc_id % 2 + 1 AS INT) AS actor,
           '/docs/' || lang AS namespace,
           substr(text, 1, 40) AS payload
    FROM d
    """,
)
def flo_tcp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The network surface end-to-end: a remote client produces the
    first 20 documents over the flo TCP WIRE PROTOCOL (announce
    handshake, ProduceEvent/AckEvent — flo-protocol/src/client.rs) to
    an embedded server persisting native ``.events`` segments; the
    engine then scans the server's data dir with
    ``spark.read.format("flo")``.  The oracle reconstructs the
    expected events from the documents table alone: the server's
    per-partition contiguous counter assignment over doc_id-ordered
    produces IS row_number() partitioned by doc_id % 2 — so the hash
    match proves id assignment, payload integrity, and the shared
    storage format across the TCP and Spark access paths.

    Driver-side work is the 20-row produce loop (bounded, documented);
    the read-back is the distributed flo scan.  Timestamps are
    server-assigned wall clock, hence excluded from the contract."""
    from flo_spark.protocol.client import FloClient
    from flo_spark.protocol.server import FloTcpServer
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_datasource import register

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
        .limit(20)
        .collect()
    )
    root = scratch_dir("flo_tcp_")
    with FloTcpServer(root) as srv:
        with FloClient(srv.host, srv.port, client_name="roundtrip") as c:
            for r in docs:
                c.produce(
                    int(r["doc_id"]) % 2 + 1,
                    f"/docs/{r['lang']}",
                    r["text"][:40].encode("utf-8"),
                )
    register(spark)
    ev = spark.read.format("flo").load(f"{root}/default")
    return ev.select(
        "event_counter",
        "actor",
        "namespace",
        F.decode(F.col("data"), "UTF-8").alias("payload"),
    )


@query(
    "flo_xml_roundtrip",
    """
    WITH b AS (
      SELECT doc_id, text,
             '/xml/' || lang AS namespace,
             CAST(doc_id % 4 + 1 AS INT) AS partition
      FROM documents ORDER BY doc_id LIMIT 250
    ),
    cnt AS (SELECT partition, count(*) AS n FROM b GROUP BY partition),
    off AS (
      SELECT partition,
             CAST(sum(n) OVER (ORDER BY partition) - n AS BIGINT) AS off
      FROM cnt
    ),
    env AS (
      SELECT b.namespace,
             off.off + row_number()
               OVER (PARTITION BY b.partition ORDER BY b.doc_id)
               AS event_counter,
             octet_length(encode(b.text)) AS nbytes
      FROM b JOIN off USING (partition)
    )
    SELECT namespace,
           count(*) AS n_events,
           CAST(sum(event_counter) AS BIGINT) AS sum_counters,
           CAST(sum(nbytes) AS BIGINT) AS sum_bytes,
           count(*) AS n_null_parents
    FROM env GROUP BY namespace
    """,
)
def flo_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange: produce a 4-partition event stream, export it
    through Spark 4's NATIVE XML source (the spark-xml package folded
    into core — new public surface in this Spark generation), read it
    back with the explicit envelope schema, and aggregate.  Payloads
    travel base64 (XML is text, same rule as CSV/JSON); null parent
    ids become OMITTED elements on write and must come back as real
    NULLs under the explicit read schema — ``n_null_parents`` pins
    exactly that omitted-element round trip (every produced event has
    no parent, so the count must equal ``n_events``).

    Completes the interchange matrix: parquet / orc / csv / json /
    gzip-jsonl / xml / native ``.events`` all have hash-checked
    round-trip evidence.

    100 TB shape: XML records span physical lines, so a shard is
    parallel at FILE granularity only (like the gzip JSONL shards) —
    export partitioning decides scan parallelism; the aggregation is
    one map-side-combinable shuffle of per-namespace partials.
    Reference: flo's wire form is length-prefixed bytes
    (flo-protocol/src/client.rs:106-122); base64 is the text-safe
    analog, identical to the CSV/JSON rule."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.event_table import EventStream

    tmp = scratch_dir("flo_xml_")
    s = EventStream.create(spark, f"{tmp}/stream", num_partitions=4)
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(250)
    batch = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("/xml/"), F.col("lang")).alias("namespace"),
        F.encode("text", "utf-8").alias("data"),
        (F.col("doc_id") % 4 + 1).cast("int").alias("partition"),
    )
    s.produce(batch, order_by="doc_id")
    s.export(f"{tmp}/xml", fmt="xml")
    x = EventStream.read_events(spark, f"{tmp}/xml", fmt="xml")
    return x.groupBy("namespace").agg(
        F.count("*").alias("n_events"),
        F.sum("event_counter").alias("sum_counters"),
        F.sum(F.octet_length("data")).alias("sum_bytes"),
        F.count(F.when(F.col("parent_counter").isNull(), 1)).alias(
            "n_null_parents"
        ),
    )


@query(
    "flo_fixedwidth_roundtrip",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY lang
    """,
)
def flo_fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH text interchange — the mainframe/feed format every
    real ETL stack still meets: documents serialize to 37-byte records
    (doc_id right-aligned in 12, lang left-padded to 5, n_chars in 8,
    source in 12 — lpad/rpad, pure JVM), write through the text sink,
    read back as raw lines, and parse by SUBSTRING offsets (no
    delimiter anywhere); per-language aggregates of the PARSED columns
    must hash-match SQL over the source table, so a one-byte offset
    error in either direction breaks the round trip.  Completes the
    interchange matrix (parquet/orc/csv/json/jsonl.gz/xml/native
    .events) with the only format defined purely by column positions.

    100 TB shape: scan-stage string formatting, a parallel text write
    (one file per partition), a parallel text scan, scan-stage
    substring parsing — no shuffle until the final aggregate;
    fixed-width is the cheapest possible parse (constant offsets, no
    quoting state machine).  Reference scope: interchange extension
    of SURVEY §2 Part B sources/sinks."""
    from flo_spark.queries import scratch_dir

    tmp = scratch_dir("flo_fixedwidth_")
    docs = load(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(
            F.lpad(F.col("doc_id").cast("string"), 12, " "),
            F.rpad(F.col("lang"), 5, " "),
            F.lpad(F.col("n_chars").cast("string"), 8, " "),
            F.rpad(F.col("source"), 12, " "),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(f"{tmp}/fw")
    back = spark.read.text(f"{tmp}/fw").select(
        F.expr("CAST(trim(substring(value, 1, 12)) AS BIGINT)").alias(
            "doc_id"
        ),
        F.expr("trim(substring(value, 13, 5))").alias("lang"),
        F.expr("CAST(trim(substring(value, 18, 8)) AS BIGINT)").alias(
            "n_chars"
        ),
        F.expr("trim(substring(value, 26, 12))").alias("source"),
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@query(
    "flo_async_pipelined_roundtrip",
    """
    WITH d AS (SELECT doc_id, lang, text FROM documents
               ORDER BY doc_id LIMIT 24)
    SELECT CAST(row_number() OVER (PARTITION BY doc_id % 2
                                   ORDER BY doc_id) AS BIGINT)
               AS event_counter,
           CAST(doc_id % 2 + 1 AS INT) AS actor,
           '/adocs/' || lang AS namespace,
           substr(text, 1, 40) AS payload,
           CAST(24 AS BIGINT) AS n_consumed_live
    FROM d
    """,
)
def flo_async_pipelined_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 ASYNC network surface end-to-end
    (protocol/async_client.py — the reference's pipelined
    op-id state machines, flo-client-lib/src/async/ops/*): one
    asyncio client on one socket (a) pipelines the first 16 documents
    through produce_all (all sends, then gathered acks), (b) opens a
    LIVE consume cursor, and (c) after 8 consumed events produces the
    remaining 8 documents MID-CONSUME — their acks resolve while the
    cursor drains and the events flow back through it (the interleaved
    state machine the sync client cannot express).  The client
    consumes exactly 24 events live (pinned as the constant
    n_consumed_live column: fewer means the mid-consume produces were
    dropped; the iterator would hang, not pad).  The engine then scans
    the server's native segments with ``format("flo")`` — the oracle
    reconstructs counters/payloads from the documents table alone, so
    the hash proves the PIPELINED path assigns the same contiguous
    per-partition ids as the sync path (flo_tcp_roundtrip's contract,
    now under concurrency).

    Driver-side work is the bounded 24-event protocol exchange
    (documented); the read-back is the distributed flo scan."""
    import asyncio

    from flo_spark.protocol.async_client import AsyncFloClient
    from flo_spark.protocol.server import FloTcpServer
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.flo_datasource import register

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
        .limit(24)
        .collect()
    )
    events = [
        (
            int(r["doc_id"]) % 2 + 1,
            f"/adocs/{r['lang']}",
            r["text"][:40].encode("utf-8"),
        )
        for r in docs
    ]

    async def drive(host: str, port: int) -> int:
        c = await AsyncFloClient.connect(
            host, port, client_name="async-roundtrip"
        )
        await c.produce_all(events[:16])
        got, pending = 0, []
        async for _ev in c.consume(
            version_vector={1: 0, 2: 0}, await_new=True
        ):
            got += 1
            if got == 8:
                pending = [c.produce_nowait(*e) for e in events[16:]]
            if got == 24:
                break
        for f in pending:
            await f  # every mid-consume ack must resolve
        await c.stop_consuming()
        await c.close()
        return got

    root = scratch_dir("flo_async_")
    with FloTcpServer(root) as srv:
        n_live = asyncio.run(drive(srv.host, srv.port))
    register(spark)
    ev = spark.read.format("flo").load(f"{root}/default")
    return ev.select(
        "event_counter",
        "actor",
        "namespace",
        F.decode(F.col("data"), "UTF-8").alias("payload"),
        F.lit(n_live).cast("long").alias("n_consumed_live"),
    )


@query(
    "flo_tailer_bounded_sweep",
    """
    WITH c AS (SELECT unnest(generate_series(1, 20)) AS k),
    p AS (SELECT unnest(generate_series(1, 2)) AS part),
    e AS (
      -- contiguous GLOBAL ids: partitions take cumulative sub-ranges
      -- (highest_counter.rs semantics), so partition 2 holds 21..40
      SELECT part, (part - 1) * 20 + k AS counter,
             (k - 1) // 4 + 1 AS seg
      FROM c, p
    ),
    s AS (
      SELECT part, counter,
             CASE WHEN seg = 5 THEN 4
                  ELSE ((part - 1) * 4 + seg + 2) // 3 END AS sweep
      FROM e
    )
    SELECT CAST(sweep AS INT) AS sweep,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(counter) AS BIGINT) AS sum_counters
    FROM s GROUP BY sweep ORDER BY sweep
    """,
)
def flo_tailer_bounded_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 bounded cold-start tail (``NativeDirTailer.
    max_segments_per_sweep`` — VERDICT r7 item 7): 40 events export to
    native segments at 4 events/segment (5 segments per partition dir,
    A12 rotation), and a tailer capped at 3 segments/sweep cold-starts
    over the dir.  The BATCH BOUNDARIES are the contract: sealed
    segments deliver in (partition dir, segment number) order as
    sweeps [12, 12, 8] events (never all 32 at once — the driver-spike
    guard), the remainder carries as backlog between sweeps, and the
    final drain delivers both ACTIVE segments [8].  The oracle derives
    every sweep's membership from pure arithmetic (segment k of
    partition p holds counters (k-1)*4+1..k*4; sealed global index
    (p-1)*4+s buckets by ceil(idx/3); actives drain last), so the hash
    pins batch sizes, ordering, AND per-sweep counter sums.

    Driver-side work: the swept rows themselves (40, bounded,
    documented — the tailer's callback contract is driver-side
    delivery).  Reference scope: sealed-segment granularity is flo's
    own storage rule (segment/mod.rs:65-74 — rotated segments are
    never written again); the sweep cap is the Spark-side cold-start
    bound."""
    from flo_spark.queries import scratch_dir
    from flo_spark.sources.event_table import EventStream
    from flo_spark.sources.flo_segment import NativeDirTailer

    path = scratch_dir("flo_tailsweep_")
    s = EventStream.create(spark, path + "/stream", num_partitions=2)
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(40)
    batch = docs.select(
        "doc_id",
        F.lit("/t").alias("namespace"),
        F.encode(F.substring("text", 1, 8), "utf-8").alias("data"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("partition"),
    )
    s.produce(batch, order_by="doc_id")
    native = path + "/native"
    s.export_native(native, max_events_per_segment=4)
    sweeps: list[list] = []
    t = NativeDirTailer(
        native,
        callback=lambda rows: sweeps.append(list(rows)),
        max_segments_per_sweep=3,
    )
    while True:
        n = t.poll_once()
        if n == 0 and t.backlog == 0:
            break
    t.poll_once(include_active=True)
    while t.backlog:
        t.poll_once(include_active=True)
    out = [
        (i + 1, len(b), sum(int(r.event_counter) for r in b))
        for i, b in enumerate(sweeps)
    ]
    return spark.createDataFrame(
        out, "sweep int, n_events long, sum_counters long"
    ).orderBy("sweep")


def _hourly_tree_digest(ev: DataFrame, line) -> DataFrame:
    """Bounded-buffer per-hour content digest, shared by
    audit_hash_chain and merkle_tree_proof: md5 fixed 64-event_id
    sub-ranges in id order (level-1 buffers hold <= 64 serialized
    lines), fold each run of 64 chunk digests (level-2 buffers hold
    <= 64 32-byte digests), then fold the superchunk digests per hour
    (O(events/4096) digests — the only buffer that grows with the
    hour, metadata-sized at any realistic rate).  Order-sensitive
    hashing cannot partial-aggregate, so bounded group keys — not
    map-side combine — are what makes this safe at 100 TB."""

    def _fold(order_col, value_col):
        return F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                order_col.alias("k"), value_col.alias("v")
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                "",
            ).cast("binary")
        )

    sub = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.expr("event_id div 64").alias("chunk"),
    ).agg(_fold(F.col("event_id"), line).alias("d"))
    sup = sub.groupBy(
        "bucket", F.expr("chunk div 64").alias("superchunk")
    ).agg(_fold(F.col("chunk"), F.col("d")).alias("d"))
    return sup.groupBy("bucket").agg(
        _fold(F.col("superchunk"), F.col("d")).alias("digest")
    )


@query(
    "audit_hash_chain",
    """
    WITH RECURSIVE c1 AS (
      SELECT date_trunc('hour', ts) AS bucket, event_id // 64 AS chunk,
             md5(string_agg(concat_ws('|', event_id, user_id, event_type),
                            '' ORDER BY event_id)) AS d
      FROM events GROUP BY bucket, chunk
    ),
    c2 AS (
      SELECT bucket, chunk // 64 AS superchunk,
             md5(string_agg(d, '' ORDER BY chunk)) AS d
      FROM c1 GROUP BY bucket, superchunk
    ),
    ev AS (
      SELECT bucket, md5(string_agg(d, '' ORDER BY superchunk)) AS digest
      FROM c2 GROUP BY bucket
    ),
    h AS (SELECT row_number() OVER (ORDER BY bucket) AS i, digest FROM ev),
    chain AS (
      SELECT 1 AS i, (SELECT digest FROM h WHERE i = 1) AS digest,
             md5((SELECT digest FROM h WHERE i = 1)) AS chain_hash
      UNION ALL
      SELECT c.i + 1, hh.digest, md5(concat(c.chain_hash, hh.digest))
      FROM chain c JOIN h hh ON hh.i = c.i + 1
    )
    SELECT CAST(i AS BIGINT) AS link_id, digest, chain_hash FROM chain
    """,
)
def audit_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident HASH CHAIN over the event log (the
    ledger/audit-log integrity mechanism: each hour's content digest
    is chained into ``h_i = md5(h_{i-1} || digest_i)``, so modifying,
    dropping, or reordering ANY event anywhere changes every
    subsequent link — verification of the head certifies the whole
    history).  Per-hour digest = a BOUNDED-BUFFER TREE DIGEST over
    the hour's events in event_id order (VERDICT r8 restructuring of
    the original whole-hour ``collect_list``, which put a hot hour's
    entire serialized content into ONE aggregation buffer — OOM at
    100 TB, and order-sensitive hashing cannot partial-aggregate, so
    that buffer had no map-side escape): level 1 hashes fixed
    64-event_id sub-ranges (``event_id div 64`` — every buffer holds
    at most 64 lines), level 2 folds each run of 64 chunk digests
    (``event_id div 4096`` — at most 64 32-byte digests per buffer),
    and the hourly digest folds the superchunk digests in id order.
    The chain is then replayed per link, giving an anchor sequence an
    auditor can spot-check at any depth.

    Both engines emit every (link_id, digest, chain_hash) row, so the
    hash gate certifies the two fold levels AND chain recursion
    byte-for-byte (md5 hex is engine-independent).

    100 TB shape: the corpus-scale shuffles group on (hour, chunk)
    and (hour, superchunk) — high-cardinality keys with hard
    64-element buffer bounds; the top fold per hour is
    O(events/4096) 32-byte digests (~80 MB at an extreme
    10^10-event hour, KBs below that), and hotter retention deepens
    the tree by another div-64 level — the Merkle machinery next
    door.  The chain folds over the O(hours) digest array —
    metadata-sized, exactly like the Holt fold; the per-link prefix
    replay is O(hours^2) md5s over 32-byte strings, still
    driver-free and trivially small.  At petabyte retention the
    chain would checkpoint per segment — flo's segment headers
    (flo_segment.rs) are the natural anchor points, which is why
    this lives with the flo-surface entries: it is the integrity
    audit flo's append-only log implies but never materializes
    (north-star extension, SURVEY §2 Part A retention/status rows)."""
    ev = load(spark, sf_dir, "events")
    line = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
    )
    hourly = _hourly_tree_digest(ev, line)
    arr = hourly.agg(
        F.array_sort(F.collect_list(F.struct("bucket", "digest"))).alias("ds")
    )
    return (
        arr.select(
            F.explode(
                F.expr(
                    """
                    transform(sequence(1, size(ds)), i -> struct(
                      CAST(i AS BIGINT) AS link_id,
                      ds[i - 1].digest AS digest,
                      aggregate(slice(ds, 1, i), '',
                                (acc, x) -> md5(CAST(concat(acc, x.digest)
                                                     AS BINARY)))
                        AS chain_hash))
                    """
                )
            ).alias("l")
        )
        .select("l.link_id", "l.digest", "l.chain_hash")
    )


def _merkle_level_sql(prev: str, n: int) -> str:
    """One Merkle level: pairwise md5(left || right); odd tail node
    promoted unchanged (the Bitcoin-style odd rule, stated)."""
    return f"""
    m{n} AS (
      SELECT list_transform(
               range(1, CAST(ceil(len(h) / 2.0) AS BIGINT) + 1),
               i -> CASE WHEN 2 * i <= len(h)
                         THEN md5(h[2 * i - 1] || h[2 * i])
                         ELSE h[2 * i - 1] END) AS h
      FROM m{n - 1}
    )"""


@query(
    "merkle_tree_proof",
    f"""
    WITH c1 AS (
      SELECT date_trunc('hour', ts) AS bucket, event_id // 64 AS chunk,
             md5(string_agg(concat_ws('|', event_id, user_id, event_type),
                            '' ORDER BY event_id)) AS d
      FROM events GROUP BY bucket, chunk
    ),
    c2 AS (
      SELECT bucket, chunk // 64 AS superchunk,
             md5(string_agg(d, '' ORDER BY chunk)) AS d
      FROM c1 GROUP BY bucket, superchunk
    ),
    ev AS (
      SELECT bucket, md5(string_agg(d, '' ORDER BY superchunk)) AS digest
      FROM c2 GROUP BY bucket
    ),
    m0 AS (SELECT list(digest ORDER BY bucket) AS h FROM ev),
    {_merkle_level_sql('m0', 1)},
    {_merkle_level_sql('m1', 2)},
    {_merkle_level_sql('m2', 3)},
    {_merkle_level_sql('m3', 4)},
    {_merkle_level_sql('m4', 5)},
    {_merkle_level_sql('m5', 6)},
    {_merkle_level_sql('m6', 7)},
    proof AS (
      -- audit path for leaf 1: at each level the CURRENT node is at
      -- index 1; its sibling is index 2 (or promoted if absent).
      SELECT
        (SELECT CASE WHEN len(h) >= 2 THEN md5(h[1] || h[2])
                     ELSE h[1] END FROM m0) AS step1_expected,
        (SELECT h[1] FROM m1) AS step1_actual
    )
    SELECT CAST((SELECT len(h) FROM m0) AS BIGINT) AS n_leaves,
           (SELECT h[1] FROM m7) AS merkle_root,
           (SELECT h[1] FROM m0) AS leaf1_digest,
           CAST((SELECT step1_expected = step1_actual FROM proof)
                AS BOOLEAN) AS proof_step1_ok
    """,
)
def merkle_tree_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE TREE over the event log's hourly digests — the
    tamper-evidence structure that upgrades audit_hash_chain's
    linear verification to O(log n) MEMBERSHIP PROOFS (verify one
    hour's integrity with ~7 hashes instead of replaying the whole
    chain — how transparency logs and blockchains audit inclusion):
    leaves are the same event_id-ordered hourly md5 digests as the
    chain entry; seven unrolled levels pair-hash md5(left || right)
    with the odd tail node PROMOTED (the Bitcoin odd rule, stated so
    both engines build the identical tree shape for any leaf
    count); the hash pins the leaf count, the ROOT, leaf 1's digest,
    and an in-query verification of the first proof step (the
    level-1 parent recomputed from leaf 1 + its sibling equals the
    tree's own node).  Leaves use the same bounded-buffer tree
    digest as audit_hash_chain (64-event_id chunks, then 64-chunk
    superchunks, then the hourly fold — no whole-hour aggregation
    buffer; see _hourly_tree_digest).

    100 TB shape: the corpus-scale work is the hourly digest
    reduction, now bucketed on (hour, chunk)/(hour, superchunk) keys
    with hard 64-element buffer bounds (top fold O(events/4096) per
    hour); the tree is seven array-HOF steps over O(hours)
    strings (the Haar fold discipline applied to hashing); at
    segment scale the leaves would be flo's segment digests, giving
    per-segment inclusion proofs against a published root
    (north-star extension, SURVEY §2 Part A retention/status rows —
    the proof-capable sibling of audit_hash_chain)."""
    ev = load(spark, sf_dir, "events")
    line = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
    )
    hourly = _hourly_tree_digest(ev, line)
    cur = hourly.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "digest"))),
            lambda s: s["digest"],
        ).alias("h")
    ).localCheckpoint()
    leaves = cur.selectExpr(
        "size(h) AS n_leaves", "element_at(h, 1) AS leaf1_digest"
    )
    step1 = cur.selectExpr(
        """CASE WHEN size(h) >= 2
                THEN md5(CAST(concat(element_at(h, 1), element_at(h, 2))
                              AS BINARY))
                ELSE element_at(h, 1) END AS step1_expected"""
    )
    level_expr = """
        transform(sequence(1, CAST(ceil(size(h) / 2.0) AS INT)),
          i -> CASE WHEN 2 * i <= size(h)
                    THEN md5(CAST(concat(element_at(h, 2 * i - 1),
                                         element_at(h, 2 * i)) AS BINARY))
                    ELSE element_at(h, 2 * i - 1) END) AS h
    """
    step1_actual = None
    for lvl in range(1, 8):
        cur = cur.selectExpr(level_expr)
        if lvl == 1:
            cur = cur.localCheckpoint()
            step1_actual = cur.selectExpr(
                "element_at(h, 1) AS step1_actual"
            )
    root = cur.selectExpr("element_at(h, 1) AS merkle_root")
    return (
        leaves.crossJoin(F.broadcast(root))
        .crossJoin(F.broadcast(step1))
        .crossJoin(F.broadcast(step1_actual))
        .select(
            F.col("n_leaves").cast("long").alias("n_leaves"),
            "merkle_root",
            "leaf1_digest",
            (F.col("step1_expected") == F.col("step1_actual")).alias(
                "proof_step1_ok"
            ),
        )
    )
