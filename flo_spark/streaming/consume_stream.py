"""Streaming consume — flo's tail/await mode on Structured Streaming.

Mapping (SURVEY.md §2 A3/A8/A9/A10):

- consume(..., await_new=True)  -> readStream + default micro-batch
  trigger: the query keeps running and delivers new events as files
  land — flo's parked-consumer + notifier wake-up
  (consumer_manager.rs:27-40, notifier.rs:47-66) becomes trigger
  scheduling.
- consume(..., await_new=False) -> Trigger.AvailableNow: drain
  everything currently in the stream, then terminate — exactly the
  client ending at `AwaitingEvents` (ops/consume.rs:149-156).
- batching / credit flow        -> maxFilesPerTrigger (the analog of
  SetBatchSize/NextBatch credit, consumer_stream/mod.rs:115-155).
- StopConsuming                 -> query.stop().

The version-vector start is a filter predicate rather than source
offsets because the event table is a plain parquet dir; for an exactly
-once cursor hand-off the caller checkpoints (checkpointLocation), which
persists the files-seen log — Spark's own version vector.  That durable
cursor is SEGMENT-granular (the file source's unit is the file);
``resume_trim`` below restores per-event semantics on the first
redelivered batch, and the native-dir path has a fully per-EVENT
durable cursor in :mod:`flo_spark.sources.flo_datasource`, whose
streaming offsets are version vectors in the offset log.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from flo_spark.operators.consume import (
    namespace_filter,
    resume_trim_filter,
    version_vector_filter,
)
from flo_spark.schema import DEFAULT_SEGMENT_MAX_RECORDS, EVENT_SCHEMA
from flo_spark.sources.event_table import _OPTIONS_FILE


def consume_stream(
    spark: SparkSession,
    stream_path: str,
    namespace: str | None = None,
    version_vector: Mapping[int, int] | None = None,
    max_files_per_trigger: int | None = None,
    batch_size: int | None = None,
    resume_trim: Mapping[int, int] | None = None,
) -> DataFrame:
    """Streaming consume over an EventStream directory.

    Returns an unbounded DataFrame; pair with ``run_to_memory`` (drain,
    await_new=False) or ``writeStream`` + default trigger (tail).

    ``batch_size`` is the credit-window analog of flo's SetBatchSize
    (A8, client.rs:261-267, consumer_stream/mod.rs:115-155): cap the
    events delivered per micro-batch.  Segments (files) are written
    with at most ``segment_max_records`` rows (``EventStream.produce``),
    so the cap maps onto the file source's ``maxFilesPerTrigger`` —
    ceil(batch_size / segment_max_records) files per trigger bounds the
    per-trigger event count by batch_size rounded up to whole segments
    (delivery stays segment-aligned, exactly like flo's server batches
    end on record boundaries).

    ``resume_trim`` restores flo's EVENT-granular resume on top of the
    file source's segment-granular checkpoint: pass the VersionVector
    of events the previous consumer incarnation actually delivered
    (``TailConsumer.delivered_vv()``), and the redelivered in-flight
    segment is trimmed to exactly the events the crash lost — see
    ``operators.consume.resume_trim_filter``."""
    if batch_size is not None:
        if max_files_per_trigger is not None:
            raise ValueError("pass batch_size or max_files_per_trigger, not both")
        opts = os.path.join(stream_path, _OPTIONS_FILE)
        seg_records = DEFAULT_SEGMENT_MAX_RECORDS
        if os.path.exists(opts):
            with open(opts) as f:
                seg_records = json.load(f).get(
                    "segment_max_records", DEFAULT_SEGMENT_MAX_RECORDS
                )
        max_files_per_trigger = max(1, -(-int(batch_size) // int(seg_records)))
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stream_path)
    if version_vector is not None:
        df = df.filter(version_vector_filter(version_vector))
    if resume_trim is not None:
        df = df.filter(resume_trim_filter(resume_trim))
    ns = namespace_filter(namespace)
    if ns is not None:
        df = df.filter(ns)
    return df


def run_to_memory(
    stream_df: DataFrame,
    await_new: bool = False,
    timeout_sec: int = 120,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> "DataFrame | tuple":
    """Execute a streaming DataFrame into an in-memory table.

    TEST/DRAIN HARNESS, not a production sink: the memory format
    materializes every result row on the driver, so this is for
    bounded drains (oracle checks, tests, small interactive tails).
    Point production queries at a real sink (parquet/foreachBatch) —
    an unbounded high-cardinality aggregate through here is a driver
    OOM by construction.

    await_new=False => Trigger.AvailableNow (drain and stop, the
    reference's non-tail consume) and returns the drained table.
    await_new=True leaves the query running and returns a
    ``(DataFrame, StreamingQuery)`` pair — the caller stops via the
    query handle.

    ``shuffle_partitions`` overrides the state-store partition count
    for THIS query (restored afterwards): each stateful-agg partition
    opens its own state store per micro-batch, a fixed setup cost
    (~25 ms each, measured) that dominates small drains — 32 stores
    for a 3,600-key window agg is pure overhead.  Size it to key
    cardinality: small for bounded drains, the session default (or
    higher) for real high-cardinality deployments."""
    spark = stream_df.sparkSession
    name = "flo_mem_" + uuid.uuid4().hex[:12]
    prev_sp: str | None = None
    if shuffle_partitions is not None:
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        writer = stream_df.writeStream.format("memory").queryName(
            name
        ).outputMode(output_mode)
        if await_new:
            query = writer.start()
            # leave the shuffle_partitions override IN PLACE for a live
            # tail: the first micro-batch plans asynchronously after
            # this returns, and an eager restore would race it back to
            # the session default, pinning the state store count wrong
            # for the checkpoint's lifetime.  The caller owns restoring
            # the session conf after stop().
            prev_sp = None
            return spark.table(name), query
        query = writer.trigger(availableNow=True).start()
        finished = query.awaitTermination(timeout_sec)
        if not finished and query.isActive:
            # a slow drain must fail loudly, not silently hand a
            # truncated table to an oracle-checked caller
            query.stop()
            raise TimeoutError(
                f"streaming drain did not finish within {timeout_sec}s "
                f"(query {name}); partial results discarded"
            )
        return spark.table(name)
    finally:
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


class TailConsumer:
    """Handle for an ordered tail consume — flo's live consumer.

    ``batches()`` returns the delivered micro-batches in delivery
    order, each a list of Rows sorted by ``(event_counter, actor)``;
    ``rows()`` flattens them.  ``stop()`` is A10's StopConsuming.

    When the consume was started WITH a ``sink`` callback, rows are
    handed to the sink and NOT retained — a long-running tail would
    otherwise grow driver memory without bound (every micro-batch kept
    forever).  Only the ``delivered_vv()`` cursor is maintained in that
    mode (O(actors)); ``batches()``/``rows()`` raise."""

    def __init__(self, query, delivered: list, vv: "VersionVector"):
        self.query = query
        self._delivered = delivered
        self._vv = vv
        self._retains_rows = None  # set by consume_tail_ordered

    def batches(self) -> list[list]:
        self._require_retained()
        return [rows for _eid, rows in self._delivered]

    def rows(self) -> list:
        self._require_retained()
        return [r for _eid, rows in self._delivered for r in rows]

    def _require_retained(self) -> None:
        if self._retains_rows is False:
            raise RuntimeError(
                "rows were delivered to the sink callback and not "
                "retained (bounded-memory tail); use delivered_vv() "
                "for the cursor, or start without a sink to buffer"
            )

    def delivered_vv(self) -> "VersionVector":
        """VersionVector of everything this consumer has delivered —
        the event-granular cursor flo keeps per consumer
        (consumer_stream/mod.rs:84-119).  Hand it to a restarted
        consumer as ``resume_trim`` to drop the redelivered prefix of
        the in-flight segment.  Maintained incrementally at delivery
        time, so it stays exact even when rows are not retained."""
        from flo_spark.version_vector import VersionVector

        return VersionVector(self._vv)

    def process_available(self, timeout_sec: int = 60) -> None:
        """Block until everything currently in the stream is delivered."""
        import time

        deadline = time.monotonic() + timeout_sec
        while time.monotonic() < deadline:
            if not self.query.isActive:
                exc = self.query.exception()
                if exc is not None:
                    # a crashed tail must fail loudly — returning here
                    # would hand the caller silently truncated results
                    raise RuntimeError(
                        f"tail query failed before draining: {exc}"
                    )
                return  # stopped cleanly: the delivered set is final
            status = self.query.status
            if (
                self.query.lastProgress is not None  # >=1 trigger completed
                and not status["isDataAvailable"]
                and not status["isTriggerActive"]
            ):
                return
            time.sleep(0.1)
        raise TimeoutError(f"tail did not drain within {timeout_sec}s")

    def stop(self) -> None:
        self.query.stop()


def consume_tail_ordered(
    spark: SparkSession,
    stream_path: str,
    namespace: str | None = None,
    version_vector: Mapping[int, int] | None = None,
    max_files_per_trigger: int | None = None,
    batch_size: int | None = None,
    await_new: bool = True,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    resume_trim: Mapping[int, int] | None = None,
    sink=None,
    source: str = "parquet",
) -> TailConsumer:
    """Tail consume with flo's delivery order: within every
    micro-batch, events arrive k-way-merged by ``(event_counter,
    actor)`` (multi_partition_reader.rs:8-48 — the live consumer's
    ordered merge across partition readers).

    Structured Streaming cannot sort an unbounded stream, so the merge
    happens where flo's does — at delivery: a ``foreachBatch`` sink
    sorts each bounded micro-batch before handing it to the consumer.
    Per-batch sort cost is bounded by the batch size (credit window),
    exactly like the reference's in-memory merge heap.  With
    ``await_new=False`` the stream drains (AvailableNow) and the handle
    holds every batch; with ``await_new=True`` the query keeps running
    and the handle accumulates — stop via ``.stop()``.

    ``checkpoint_dir`` is the durable cursor (A3's exactly-once
    hand-off): the offset log records what was delivered (files on a
    parquet stream, a version vector on a native dir), so a NEW consumer started with the same checkpoint
    resumes exactly after the last acknowledged batch — Spark's own
    version vector, surviving process restarts (flo persists consumer
    positions client-side via VersionVector snapshots; here the
    checkpoint plays that role).

    On a parquet stream the checkpoint cursor is SEGMENT-granular
    (foreachBatch side effects are at-least-once): a consumer that
    crashes mid-epoch gets that epoch's segments REdelivered on
    restart.  ``resume_trim``
    closes the gap to flo's event-granular cursor: pass the previous
    incarnation's ``delivered_vv()`` and the redelivered batch is
    trimmed to only the events the crash actually lost — restart
    delivers no duplicates (tested in
    test_streaming.py::test_mid_segment_restart_no_duplicates).

    ``sink`` (tests/fault-injection): replaces the per-batch delivery
    callback; receives (rows, epoch_id) AFTER the ordered collect and
    may raise to simulate a consumer crash mid-epoch.

    ``source="native"`` tails a flo server's native ``.events``
    directory (live or archived) through ``tail_flo_segments`` instead
    of a parquet EventStream — same ordering and sink on top.  There
    the checkpoint cursor is EVENT-granular: the streaming offset is a
    version vector, so a restart redelivers nothing already committed
    and events appended to an active segment after an earlier trigger
    still arrive.  ``batch_size`` and ``max_files_per_trigger`` are
    parquet-only (both map onto the file source's files per trigger)
    and are rejected for native dirs."""
    if source == "native":
        if batch_size is not None or max_files_per_trigger is not None:
            raise ValueError(
                "batch_size and max_files_per_trigger are parquet-only; "
                "a native dir tails event by event"
            )
        from flo_spark.sources.flo_segment import tail_flo_segments

        df = tail_flo_segments(
            spark,
            stream_path,
            namespace=namespace,
            version_vector=version_vector,
        )
        if resume_trim is not None:
            df = df.filter(resume_trim_filter(resume_trim))
    elif source == "parquet":
        df = consume_stream(
            spark,
            stream_path,
            namespace=namespace,
            version_vector=version_vector,
            max_files_per_trigger=max_files_per_trigger,
            batch_size=batch_size,
            resume_trim=resume_trim,
        )
    else:
        raise ValueError(f"unknown source: {source!r}")
    from flo_spark.version_vector import EventId, VersionVector

    delivered: list = []
    vv = VersionVector()
    retain = sink is None  # with a sink, rows are the sink's — holding
    # every batch forever would OOM the driver on a long-running tail

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        rows = bdf.orderBy("event_counter", "actor").collect()
        for r in rows:
            vv.update_if_greater(
                EventId.of(int(r["actor"]), int(r["event_counter"]))
            )
        if rows and retain:
            delivered.append((epoch_id, rows))
        if sink is not None:
            sink(rows, epoch_id)

    def _handle(query) -> TailConsumer:
        tc = TailConsumer(query, delivered, vv)
        tc._retains_rows = retain
        return tc

    writer = df.writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if await_new:
        return _handle(writer.start())
    query = writer.trigger(availableNow=True).start()
    finished = query.awaitTermination(timeout_sec)
    if not finished and query.isActive:
        query.stop()
        raise TimeoutError(f"ordered drain did not finish within {timeout_sec}s")
    return _handle(query)


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming dedup within the watermark horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])
