"""The event-log half of the ``spark`` workload: writes beside reads.

Each pass produces batches through ``EventStream.produce``, each
followed by a cursor ``EventStream.consume`` (glob plus version
vector).  It then reads the pass back in full and writes the same
events through the ``flo`` sink.  After the last pass, every event is
drained once through the ``flo`` streaming source (partitioned reader,
``availableNow``).

It uses the storage layers the catalog only reads, and the segment
codec without the server.  Every event body starts with its 8-byte
generator id, so each read can be traced back to what was produced."""

from __future__ import annotations

import json
import os
import struct
import time

import layer_probe
import spark_util
from checks import check_contiguous, check_ids_once, event_checksum, glob_match
from harness import median
from metrics import STREAM_PHASES

PARTITIONS = 4
DOMAINS = ("orders", "payments", "shipping", "users")
REGIONS = ("eu", "us", "ap")
KINDS = ("created", "updated", "deleted")
#: selects about a third of the events
GLOB = "/*/eu/*"
BATCHES_PER_PASS = 2
#: the smaller of the two batch sizes at which BASELINE.md reports the
#: program's own produce benchmark (``python -m flo_spark bench-produce``),
#: with that benchmark's 1 KiB bodies
EVENTS_PER_BATCH = 5000
BODY_BYTES = 1024


def namespaces() -> list[str]:
    return [f"/{d}/{r}/{k}" for d in DOMAINS for r in REGIONS for k in KINDS]


def gen_id(body: bytes) -> int:
    return struct.unpack_from(">Q", body)[0]


def _rows(df) -> list[tuple[int, int, str, bytes]]:
    return [
        (r["event_counter"], r["actor"], r["namespace"], bytes(r["data"]))
        for r in df.select("event_counter", "actor", "namespace", "data").collect()
    ]


class EventLog:
    """One ``EventStream`` and one native ``flo`` directory, grown pass
    by pass, with everything the checks and metrics need."""

    def __init__(self, ctx, spark, rng, jobs):
        from flo_spark.sources.event_table import EventStream

        self.ctx, self.spark, self.rng, self.jobs = ctx, spark, rng, jobs
        self.ns_list = namespaces()
        self.stream = EventStream.create(
            spark, os.path.join(ctx.work, "event_table"), num_partitions=PARTITIONS
        )
        self.native_dir = os.path.join(ctx.work, "native")
        self.produced = 0
        self.highest = 0  # stream-wide highest counter acknowledged
        self.native_heads = {p: 0 for p in range(1, PARTITIONS + 1)}
        self.last_write_start: dict[int, int] = {}
        self.drain_s = 0.0
        self.checksum_gen = self.checksum_log = self.checksum_drain = 0
        self.files = 0
        self.warm_events = 0
        self.sample: list = []
        keys = ("produce_ms", "consume_ms", "head_ms", "write_s", "produce_jobs")
        self.warm = {k: [] for k in keys}

    def _batch(self) -> list[tuple[str, bytes]]:
        out = []
        for _ in range(EVENTS_PER_BATCH):
            self.produced += 1
            body = struct.pack(">Q", self.produced) + self.rng.randbytes(BODY_BYTES - 8)
            out.append((self.rng.choice(self.ns_list), body))
        return out

    def run_pass(self, pno: int, warm: bool) -> None:
        from flo_spark.schema import EVENT_SCHEMA

        tr, res, spark, stream = self.ctx.tracer, self.ctx.result, self.spark, self.stream
        rec = self.warm if warm else {k: [] for k in self.warm}
        op = tr.new_op()
        pass_vv = stream.head()
        pass_events: dict[int, tuple[str, bytes]] = {}

        for _ in range(BATCHES_PER_PASS):
            events = self._batch()
            if not self.sample:
                self.sample = [(1, ns, body) for ns, body in events]
            for ns, body in events:
                pass_events[gen_id(body)] = (ns, body)
                self.checksum_gen += event_checksum(ns, body)
            df = spark.createDataFrame(events, "namespace string, data binary")

            t0 = time.perf_counter()
            with tr.span("sources.event_table", "head", op):
                vv = stream.head()
            rec["head_ms"].append((time.perf_counter() - t0) * 1e3)

            t0 = time.perf_counter()
            with spark_util.group(self.jobs) as g, tr.span("sources.event_table", "produce", op):
                ack = stream.produce(df)
            rec["produce_ms"].append((time.perf_counter() - t0) * 1e3)
            rec["produce_jobs"].append(g.get("jobs", 0))
            res.op()
            acked = sorted(c for lo, hi in ack.ranges.values() for c in range(lo, hi + 1))
            res.problems.extend(check_contiguous(self.highest + 1, acked, f"pass {pno} produce"))
            res.check(int(ack) == len(events), f"pass {pno}: ack counts {int(ack)} of {len(events)} events")
            self.highest += len(events)

            t0 = time.perf_counter()
            with tr.span("sources.event_table", "consume", op):
                got = _rows(stream.consume(namespace=GLOB, version_vector=vv))
            rec["consume_ms"].append((time.perf_counter() - t0) * 1e3)
            res.op()
            want = sorted((ns, body) for ns, body in events if glob_match(GLOB, ns))
            res.check(
                sorted((ns, body) for _c, _a, ns, body in got) == want,
                f"pass {pno}: cursor consume did not return exactly the batch's {len(want)} glob matches",
            )
            res.check(
                all(self.highest - len(events) < c <= self.highest for c, *_x in got),
                f"pass {pno}: cursor consume returned events outside the batch's ids",
            )
            self.files = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(stream.path) for f in fs)

        # the whole pass, read back through EventStream
        with tr.span("sources.event_table", "consume", op):
            rows = _rows(stream.consume(version_vector=pass_vv))
        res.op()
        res.problems.extend(
            check_ids_once(set(pass_events), [gen_id(b) for *_x, b in rows], f"pass {pno} full read")
        )
        self.checksum_log += sum(event_checksum(ns, b) for _c, _a, ns, b in rows)

        # the same events through the flo sink
        self.last_write_start = dict(self.native_heads)
        t0 = time.perf_counter()
        with tr.span("sources.flo_datasource", "write", op):
            stream.consume(version_vector=pass_vv).select(
                *[f.name for f in EVENT_SCHEMA.fields]
            ).write.format("flo").mode("append").save(self.native_dir)
        rec["write_s"].append(time.perf_counter() - t0)
        res.op()
        for c, a, _ns, _b in rows:
            self.native_heads[a] = max(self.native_heads[a], c)
        if warm:
            self.warm_events += len(pass_events)

    def drain(self) -> None:
        """Every event written through the sink, drained once through the
        ``flo`` streaming source into a memory sink."""
        tr, res, spark = self.ctx.tracer, self.ctx.result, self.spark
        name = "perfbench_drain"
        start = {p: 0 for p in self.native_heads}
        t0 = time.perf_counter()
        with tr.span("streaming", "flo_drain", tr.new_op()):
            q = (
                spark.readStream.format("flo")
                .option("startpositions", json.dumps(start))
                .load(self.native_dir)
                .writeStream.format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            drained = _rows(spark.table(name))
        self.drain_s = time.perf_counter() - t0
        res.op()
        want = set(range(1, self.produced + 1))
        res.problems.extend(check_ids_once(want, [gen_id(b) for *_x, b in drained], "flo drain"))
        self.checksum_drain = sum(event_checksum(ns, b) for _c, _a, ns, b in drained)
        spark.catalog.dropTempView(name)

    def planned_files(self) -> None:
        """Files a version-vector-pinned ``FloBatchReader`` plans, against
        all files, with the cursor where the last pass's write started."""
        from flo_spark.sources.flo_datasource import FloBatchReader
        from flo_spark.sources.flo_segment import list_segment_files

        total = sum(len(e) for e in list_segment_files(self.native_dir).values())
        opts = {"path": self.native_dir, "startpositions": json.dumps(self.last_write_start)}
        with self.ctx.tracer.span("sources.flo_datasource", "partitions"):
            planned = len(FloBatchReader(opts).partitions())
        L = self.ctx.result.layer
        L["sources.flo_datasource.files_planned"] = (planned, "count")
        L["sources.flo_datasource.files_total"] = (total, "count")

    def finish(self, reports) -> None:
        """Checks over the whole run, then the layer metrics (the codec
        probe reads the native files, so the session may be gone)."""
        res, tr, w = self.ctx.result, self.ctx.tracer, self.warm
        res.check(self.checksum_log == self.checksum_gen, "EventStream reads: checksum differs from the generator's")
        res.check(self.checksum_drain == self.checksum_gen, "flo drain: checksum differs from the generator's")
        L = res.layer
        n_warm_batches = len(w["produce_ms"])
        L["log_produce_eps"] = (n_warm_batches * EVENTS_PER_BATCH / (sum(w["produce_ms"]) / 1e3), "events/s")
        L["native_write_eps"] = (self.warm_events / sum(w["write_s"]), "events/s")
        L["native_drain_eps"] = (self.produced / self.drain_s, "events/s")
        L["sources.event_table.produce_ms"] = (median(w["produce_ms"]), "ms")
        L["sources.event_table.produce_jobs"] = (median(w["produce_jobs"]), "count")
        L["sources.event_table.consume_ms"] = (median(w["consume_ms"]), "ms")
        L["sources.event_table.head_ms"] = (median(w["head_ms"]), "ms")
        L["sources.event_table.files"] = (self.files, "count")
        L["sources.flo_datasource.write_s"] = (median(w["write_s"]), "s")
        phases = spark_util.phase_sums(reports, "perfbench_drain", STREAM_PHASES)
        for p, v in phases.items():
            L[f"streaming.flo_drain.{p}_ms"] = (v, "ms")
        if tr.enabled:
            layer_probe.segment_and_glob(
                self.ctx, self.native_dir, self.sample, self.ns_list, GLOB, self.produced
            )

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """The write rate and round latency of the warm passes: writes
        are ``produce`` plus the ``flo`` sink, and a round is one
        ``produce`` followed by its cursor consume."""
        w = self.warm
        produced = len(w["produce_ms"]) * EVENTS_PER_BATCH
        write_s = sum(w["produce_ms"]) / 1e3 + sum(w["write_s"])
        rounds = [p + c for p, c in zip(w["produce_ms"], w["consume_ms"])]
        return {
            "write_eps": ((produced + self.warm_events) / write_s, "events/s"),
            "op_ms": (median(rounds), "ms"),
        }
