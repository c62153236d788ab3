"""flo-client-cli analog — the reference's command-line surface over
the embedded engine (reference: flo-client-cli/src/main.rs:40-114
argument grammar; client_cli/producer.rs:22-43 produce loop;
client_cli/consumer.rs:25-72 consume loop + event print format).

``--host/--port`` become ``--stream-dir``: the SparkSession IS the
embedded server (SURVEY §2 A20/A21), so the CLI talks to a stream
directory instead of a TCP endpoint.  Everything else mirrors the
reference:

- ``produce -n NS [-p P] [-d DATA]... [--parent-id C.A]`` appends one
  event per ``-d`` body, prints each assigned id (``counter.actor``
  display form, flo-event/src/lib.rs:73-77) then a summary line.
- ``consume -n GLOB [-s C.A] [-l N] [-b N] [--await]`` prints events
  in the reference's block format (``EventId:``/``Namespace:``/
  ``Timestamp:``/``Body:``, lossy-utf8 body = LossyStringCodec).
  ``--start-position`` sets a single-entry version vector, which —
  exactly like the reference (consumer.rs:34-38 + server
  consumer/mod.rs:91-107) — consumes ONLY that partition.
- ``--native`` points every command at a NATIVE flo data dir
  (``*.events`` segments — e.g. a stopped flo server's storage):
  produce appends real segments with ids continuing from the dir's
  head, consume scans/tails through the native codec.
"""

from __future__ import annotations

import argparse
import sys


def _parse_event_id(s: str) -> tuple[int, int]:
    """'counter.actor' display form -> (counter, actor)."""
    try:
        counter, actor = s.split(".")
        return int(counter), int(actor)
    except ValueError:
        raise SystemExit(f"invalid event id (want counter.actor): {s!r}")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flo_spark",
        description="flo client CLI over the embedded Spark engine",
    )
    p.add_argument("--stream-dir", required=True, help="event stream directory")
    p.add_argument(
        "--native",
        action="store_true",
        help="treat --stream-dir as a NATIVE flo data dir (*.events "
        "segment files, e.g. a real flo server's storage) instead of "
        "a parquet event stream",
    )
    p.add_argument("-v", "--verbose", action="store_true")
    sub = p.add_subparsers(dest="command", required=True)

    pr = sub.add_parser("produce", help="produce events")
    pr.add_argument("-n", "--namespace", required=True)
    pr.add_argument("-p", "--partition", type=int, default=1)
    pr.add_argument(
        "-d",
        "--data",
        action="append",
        default=[],
        help="event body (repeatable; one event per flag)",
    )
    pr.add_argument("--parent-id", default=None, help="counter.actor")

    co = sub.add_parser("consume", help="consume events")
    co.add_argument("-n", "--namespace", default=None, help="namespace glob")
    co.add_argument(
        "-s", "--start-position", default=None,
        help="counter.actor — consumes ONLY that partition, like the "
        "reference's single-id start position",
    )
    co.add_argument("-l", "--limit", type=int, default=None)
    co.add_argument("-b", "--batch-size", type=int, default=None)
    co.add_argument(
        "--await", dest="await_new", action="store_true",
        help="tail: keep waiting for new events (stop with Ctrl-C)",
    )

    be = sub.add_parser(
        "bench-produce",
        help="produce throughput benchmark (flo-bench-cli analog)",
    )
    be.add_argument(
        "--size", type=int, default=1024, help="event body bytes"
    )
    be.add_argument("-w", "--windows", type=int, default=10)
    be.add_argument("-s", "--seconds", type=float, default=10.0)
    be.add_argument(
        "--events-per-batch", type=int, default=1000,
        help="batch granularity (the engine acks per produce batch, "
        "not per event)",
    )

    sub.add_parser(
        "fsck",
        help="integrity-check a NATIVE data dir (--native implied): "
        "decode every segment, classify torn tails, verify header "
        "times and within-dir counter monotonicity; exit 1 on "
        "corruption",
    )

    sv = sub.add_parser(
        "serve",
        help="serve the flo TCP wire protocol over --stream-dir (a "
        "native data dir with one subdir per event stream); remote "
        "clients produce/consume against this engine's storage",
    )
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=3000)  # flo's default
    sv.add_argument(
        "--default-stream", default="default", help="stream served at announce"
    )
    sv.add_argument(
        "--duration",
        type=float,
        default=None,
        help="stop after N seconds (default: run until interrupted)",
    )
    return p


def _print_event(row, out) -> None:
    # client_cli/consumer.rs:58-72 print_event, LossyStringCodec body
    parent = (
        f", Parent: {row.parent_counter}.{row.parent_actor}"
        if row.parent_counter is not None
        else ""
    )
    body = (bytes(row.data) if row.data is not None else b"").decode(
        "utf-8", errors="replace"
    )
    out.write(
        f"\nEventId: {row.event_counter}.{row.actor}{parent}\n"
        f"Namespace: {row.namespace}\n"
        f"Timestamp: {row.timestamp}\n"
        f"Body: {body}\n"
    )


def main(argv: list[str] | None = None, spark=None, out=None) -> int:
    args = _build_parser().parse_args(argv)
    out = out or sys.stdout
    if args.command == "serve":
        return _main_serve(args, out)
    if args.command == "fsck":
        args.native = True  # fsck is native-only and needs no Spark
        return _main_native(args, spark=None, out=out)
    if spark is None:
        from flo_spark.session import get_spark

        spark = get_spark("flo-client-cli")
    if args.native:
        return _main_native(args, spark, out)
    from flo_spark.sources.event_table import EventStream

    stream = EventStream(spark, args.stream_dir)

    if args.command == "produce":
        if not args.data:
            raise SystemExit("produce requires at least one -d/--data body")
        nparts = stream.options["num_partitions"]
        if not 1 <= args.partition <= nparts:
            # the reference server rejects out-of-range partitions; an
            # unvalidated write here would land outside every default
            # consume's version vector — a silent black hole
            raise SystemExit(
                f"partition {args.partition} out of range 1..{nparts}"
            )
        rows = [(args.namespace, d.encode("utf-8")) for d in args.data]
        batch = spark.createDataFrame(
            rows, "namespace string, data binary"
        ).selectExpr(
            "namespace", "data", f"CAST({args.partition} AS INT) AS partition"
        )
        if args.parent_id:
            pc, pa = _parse_event_id(args.parent_id)
            batch = batch.selectExpr(
                "*",
                f"CAST({pc} AS BIGINT) AS parent_counter",
                f"CAST({pa} AS INT) AS parent_actor",
            )
        ack = stream.produce(batch)
        lo, hi = ack.ranges[args.partition]
        for counter in range(lo, hi + 1):
            out.write(f"{counter}.{args.partition}\n")
        out.write(
            f"Successfully produced {int(ack)} events to {args.namespace}\n"
        )
        return 0

    if args.command == "bench-produce":
        return _bench_produce(spark, stream, args, out)

    # consume
    if args.start_position:
        counter, actor = _parse_event_id(args.start_position)
        vv = {actor: counter}
    else:
        vv = None
    if args.await_new:
        from flo_spark.streaming.consume_stream import consume_tail_ordered

        consumer = consume_tail_ordered(
            spark,
            args.stream_dir,
            namespace=args.namespace,
            version_vector=vv,
            batch_size=args.batch_size,
            sink=lambda rows, _eid: [_print_event(r, out) for r in rows],
        )
        try:
            consumer.query.awaitTermination()
        except KeyboardInterrupt:
            consumer.stop()
        return 0
    rows = stream.consume(
        namespace=args.namespace, version_vector=vv, limit=args.limit
    ).collect()
    for r in rows:
        _print_event(r, out)
    return 0


def _bench_produce(spark, stream, args, out) -> int:
    """flo-bench-cli's single benchmark, re-based on batch produce
    (reference: flo-bench-cli/src/main.rs:79-143 — N windows x S
    seconds, iterations/sec per window + latency percentiles;
    benches/producer.rs:37-70 drives one sync producer with
    ack-per-event).  The engine acks per BATCH (one contiguous id
    range reservation), so the unit here is a produce-batch call;
    events/s = batch events x calls/s.  Windowed reporting and the
    p50/p90/p999/max latency summary match the reference's output
    shape."""
    import time

    body = (b"x" * args.size).decode()
    rows = [("/bench", body.encode("utf-8"))] * args.events_per_batch
    batch = spark.createDataFrame(rows, "namespace string, data binary")
    batch = batch.selectExpr("namespace", "data", "CAST(1 AS INT) AS partition")
    stream.produce(batch)  # untimed warmup (plan + Python workers)
    latencies: list[float] = []
    total = 0
    for w in range(1, args.windows + 1):
        t_end = time.monotonic() + args.seconds
        n = 0
        while time.monotonic() < t_end:
            t0 = time.monotonic()
            stream.produce(batch)
            latencies.append(time.monotonic() - t0)
            n += args.events_per_batch
        total += n
        out.write(f"window {w}: {n / args.seconds:,.0f} events/sec\n")
    lat = sorted(latencies)

    def pct(p: float) -> float:
        return lat[min(len(lat) - 1, int(p * len(lat)))] * 1000

    out.write(
        f"total: {total} events in {args.windows * args.seconds:.0f}s "
        f"({total / (args.windows * args.seconds):,.0f} events/sec)\n"
        f"batch latency ms: p50={pct(0.5):.1f} p90={pct(0.9):.1f} "
        f"p999={pct(0.999):.1f} max={lat[-1] * 1000:.1f}\n"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def _main_serve(args, out) -> int:
    """Run the flo TCP server over a native data dir (no Spark needed:
    the server speaks the wire protocol straight to the segment
    codec).  Remote clients (flo_spark.protocol.client.FloClient, or
    anything speaking the reference protocol) connect on --port."""
    import time as _time

    from flo_spark.protocol.server import FloTcpServer

    with FloTcpServer(
        args.stream_dir,
        host=args.host,
        port=args.port,
        default_stream=args.default_stream,
    ) as srv:
        out.write(f"flo server listening on {srv.host}:{srv.port}\n")
        out.flush()
        try:
            if args.duration is not None:
                _time.sleep(args.duration)
            else:
                while True:
                    _time.sleep(3600)
        except KeyboardInterrupt:
            pass
    return 0


def _main_native(args, spark, out) -> int:
    """The same CLI grammar against a NATIVE flo data dir — the
    closest analog to the reference client talking to a live server's
    storage.  produce appends real ``.events`` segments with
    contiguous ids continuing from the dir's current head (server
    semantics: id + timestamp assigned at persist time,
    controller/mod.rs:192-215); consume scans/tails the segment files
    through the native codec with the standard glob/vv/limit
    filters."""
    from flo_spark.sources.flo_segment import (
        native_head_status,
        read_flo_segments,
    )

    if args.command == "fsck":
        from flo_spark.sources.flo_segment import fsck_native_dir

        rep = fsck_native_dir(args.stream_dir)
        out.write(
            f"checked {rep['files_ok']} segment file(s), "
            f"{rep['n_events']} event(s)\n"
        )
        for a in sorted(rep["heads"]):
            out.write(f"partition {a}: head {rep['heads'][a]}\n")
        for line in rep["torn_active"]:
            out.write(f"PARKED (in-flight append): {line}\n")
        for line in rep["warnings"]:
            out.write(f"WARNING: {line}\n")
        for line in rep["errors"]:
            out.write(f"ERROR: {line}\n")
        out.write("OK\n" if not rep["errors"] else "CORRUPT\n")
        return 0 if not rep["errors"] else 1

    if args.command == "bench-produce":
        raise SystemExit(
            "bench-produce targets a parquet event stream; omit --native"
        )

    if args.command == "produce":
        import time

        import pyarrow as _pa

        from flo_spark.sources.flo_datasource import _ARROW_SCHEMA, FloWriter

        if not args.data:
            raise SystemExit("produce requires at least one -d/--data body")
        if args.partition < 1:
            raise SystemExit(f"partition must be >= 1: {args.partition}")
        heads = dict(
            (p, h) for p, h, _primary in native_head_status(args.stream_dir)
        )
        head = heads.get(args.partition, 0)
        p_counter = p_actor = None
        if args.parent_id:
            p_counter, p_actor = _parse_event_id(args.parent_id)
        now_us = int(time.time() * 1_000_000)
        n = len(args.data)
        batch = _pa.RecordBatch.from_pydict(
            {
                "event_counter": [head + i + 1 for i in range(n)],
                "actor": [args.partition] * n,
                "parent_counter": [p_counter] * n,
                "parent_actor": [p_actor] * n,
                "timestamp": [now_us] * n,
                "namespace": [args.namespace] * n,
                "data": [d.encode("utf-8") for d in args.data],
                "partition": [args.partition] * n,
            },
            schema=_ARROW_SCHEMA,
        )
        w = FloWriter({"path": args.stream_dir}, overwrite=False)
        w.commit([w.write(iter([batch]))])
        for i in range(n):
            out.write(f"{head + i + 1}.{args.partition}\n")
        out.write(
            f"Successfully produced {n} events to {args.namespace}\n"
        )
        return 0

    # consume
    vv = None
    if args.start_position:
        counter, actor = _parse_event_id(args.start_position)
        vv = {actor: counter}
    if args.await_new:
        if args.batch_size is not None:
            raise SystemExit(
                "--await with --batch-size targets a parquet event stream; "
                "omit --native or --batch-size"
            )
        from flo_spark.streaming.consume_stream import consume_tail_ordered

        consumer = consume_tail_ordered(
            spark,
            args.stream_dir,
            namespace=args.namespace,
            version_vector=vv,
            sink=lambda rows, _eid: [_print_event(r, out) for r in rows],
            source="native",
        )
        try:
            consumer.query.awaitTermination()
        except KeyboardInterrupt:
            consumer.stop()
        return 0
    from flo_spark.operators.consume import consume as consume_df

    rows = consume_df(
        read_flo_segments(spark, args.stream_dir),
        namespace=args.namespace,
        version_vector=vv,
        limit=args.limit,
    ).collect()
    for r in rows:
        _print_event(r, out)
    return 0
