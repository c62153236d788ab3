"""Streaming produce — flo's write path fed by an unbounded source.

The reference's produce loop (client sends ProduceEvent, server appends
to the partition log and acks with the assigned id —
flo-client-lib/src/async/ops/produce.rs:159-264,
flo-server/src/engine/event_stream/partition/controller/mod.rs:192-215)
maps to Structured Streaming's ``foreachBatch`` sink: every micro-batch
is one produce batch, appended atomically through
``EventStream.produce``, which reserves a contiguous id range off the
stream head exactly like ``HighestCounter::increment_and_get``
(highest_counter.rs:43-62).

Delivery semantics: with a ``checkpoint_dir`` the file-source offsets
are persisted, so a restarted query resumes after the last committed
batch (at-least-once into the log, like flo's ack-per-batch producer;
a replayed batch would re-append with fresh ids).  flo makes the same
trade: a producer that never got its ack re-sends
(async/ops/produce.rs:60-79).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flo_spark.sources.event_table import EventStream


def produce_stream(
    stream: EventStream,
    source: DataFrame,
    checkpoint_dir: str | None = None,
    await_completion: bool = True,
    timeout_sec: int = 120,
) -> StreamingQuery:
    """Sink a streaming DataFrame into an EventStream (A1/A2, streaming).

    ``source`` must carry the produce-batch columns (`namespace`,
    optional `data`/`partition`/`parent_*`).  Each micro-batch becomes
    one contiguous-id produce batch.  With ``await_completion`` the
    call drains the currently-available input (Trigger.AvailableNow)
    and returns after the final commit; otherwise the query keeps
    running (tail-producer) and the caller owns ``query.stop()``.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        stream.produce(batch_df)

    return _run_foreach_batch(
        source, _sink, checkpoint_dir, await_completion, timeout_sec
    )


def _run_foreach_batch(
    source: DataFrame,
    per_batch,
    checkpoint_dir: str | None,
    await_completion: bool,
    timeout_sec: int,
) -> StreamingQuery:
    """Shared foreachBatch runner.  An AvailableNow drain that does not
    finish within ``timeout_sec`` RAISES (after stopping the query) —
    a silently truncated drain is indistinguishable from a complete
    one otherwise; with a checkpoint_dir the caller can simply re-run
    to resume, without one the remainder would be lost."""
    writer = source.writeStream.foreachBatch(per_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if not await_completion:
        return writer.start()
    query = writer.trigger(availableNow=True).start()
    finished = query.awaitTermination(timeout_sec)
    if not finished:
        if query.isActive:
            query.stop()
        raise TimeoutError(
            f"AvailableNow drain did not finish within {timeout_sec}s "
            "(stopped; re-run with the same checkpoint_dir to resume)"
        )
    return query


def replicate_native(
    stream: EventStream,
    native_path: str,
    checkpoint_dir: str | None = None,
    await_completion: bool = True,
    timeout_sec: int = 120,
) -> StreamingQuery:
    """Live replication of a flo server's native ``.events`` data dir
    into a parquet EventStream — the CONTINUOUS form of
    ``EventStream.import_native``: run the reference server and this
    engine side by side, and every event the server appends lands
    here in a micro-batch, appended verbatim (ids, timestamps
    and lineage preserved — no re-assignment, unlike
    :func:`produce_stream`).

    The target stream must be written ONLY by this replicator:
    preserved counters cannot interleave with produced ones.  The
    source dir is read through ``tail_flo_segments``, whose offset is
    a version vector: with ``checkpoint_dir`` a restart resumes at the
    exact next event, including events the server appended to an
    active segment after an earlier drain read it (event-granular,
    same cursor semantics as the consume side).
    """
    from flo_spark.sources.flo_segment import tail_flo_segments

    source = tail_flo_segments(stream.spark, native_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        stream.append_verbatim(batch_df)

    return _run_foreach_batch(
        source, _sink, checkpoint_dir, await_completion, timeout_sec
    )
