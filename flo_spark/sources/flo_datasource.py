"""``format("flo")`` — a Spark 4 Python Data Source over native flo
data directories (``*.events`` segment files).

This is the idiomatic-Spark packaging of the native codec
(:mod:`flo_spark.sources.flo_segment`): after
``spark.dataSource.register(FloDataSource)``,

- ``spark.read.format("flo").load(dir)`` scans a flo server's data
  dir with one task per segment file, and
- ``spark.readStream.format("flo").load(dir)`` tails it with a
  **per-event durable cursor**: the streaming offset IS a version
  vector (``{actor: last_delivered_counter}``), persisted in Spark's
  offset log, so a consumer restarting MID-SEGMENT resumes from the
  exact next event — the semantics of flo's own consumer cursor
  (flo-server/.../consumer_stream/mod.rs:84-119; vv semantics
  flo-client-lib/src/sync/mod.rs:124-130).  It also tails a LIVE
  dir exactly: the active segment is re-read every trigger, so events
  appended to it after an earlier trigger still arrive.

Every Spark read of the native format goes through these readers:
:func:`~flo_spark.sources.flo_segment.read_flo_segments` (and so
``EventStream.import_native``) is the batch scan, and
:func:`~flo_spark.sources.flo_segment.tail_flo_segments` (and so
``consume_tail_ordered(source="native")`` and ``replicate_native``)
is the stream tail.

SQL access goes through a temp view
(``spark.read.format("flo").load(dir).createOrReplaceTempView("t")``):
``CREATE TABLE ... USING flo OPTIONS (path ...)`` is NOT supported —
this Spark build hands a catalog-table scan an EMPTY options dict, so
the reader never sees the path (verified against 4.1; the DataFrame
reader path passes options correctly).

Options (both readers):

- ``namespace``: flo glob; matching happens per event inside the
  Python reader — the analog of the server applying the glob inside
  each PartitionReader (event_reader/mod.rs:60-74).
- ``startpositions``: version-vector JSON ``{"1": 10, "2": 0}``.
  Batch: plain vv filter (only listed partitions, exclusive bounds).
  Streaming: the initial offset; when absent, all partitions are
  consumed from 0 and new actors are picked up as they appear.
- ``indexfile`` (streaming): path to persist the sealed-segment
  index as JSON so a restarted consumer skips the one-pass rebuild
  (sealed segments are immutable — entries never go stale).
- ``batchsize`` (streaming): switches to the credit-flow reader
  (``FloCreditStreamReader``) — at most that many MATCHING events per
  micro-batch, delivered in global (counter, actor) id order; flo's
  SetBatchSize/NextBatch loop (A8) as Spark admission control.  The
  budget is per-connection state, NOT part of the durable cursor: a
  restart from the same checkpoint with a different ``batchsize``
  resumes from the exact version vector under the new budget
  (SetBatchSize outside the handshake, client.rs:261-267).

Writer option: ``maxbytes`` — segment byte budget (default 1 GiB,
flo's max segment size): an event that would overflow the open staged
segment seals it and rotates (EventTooBig -> rotate -> append,
segment/mod.rs:65-74); an event larger than the whole budget gets a
segment of its own.

Scale shape: every reader plans from one
:class:`~flo_spark.sources.flo_segment.SegmentIndex` — one walk of the
dir and at most one 64-byte header read per file — and decodes through
its one reader.  That reader stops at a record that does not decode in
an ACTIVE (max-numbered) segment, an append in flight that completes
by the next trigger, and raises on one in a sealed segment (the
reference's recovery scan stops at the first invalid record the same
way, mmap.rs:111-134).  The batch reader and
the credit-flow reader skip the files a version vector has fully
consumed (the index's first-counter rule).  On top of that the stream
reader keeps a driver-side per-file index — for each sealed file, the
(min, max) counter range per actor, built by decoding each sealed file
exactly once — so ``partitions(start, end)`` ships each executor only
the files whose range overlaps its (start, end] slice: the index-seek
analog (A5, index.rs:86-129).  Only the active segments are re-read
per trigger.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from datetime import timezone

import pyarrow as pa

from pyspark.errors import PySparkNotImplementedError

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from flo_spark.functions.glob import glob_to_regex, is_match_all
from flo_spark.schema import EVENT_SCHEMA
from flo_spark.sources.flo_segment import (
    HEADER_LEN,
    STAGING_DIRNAME,
    SegmentFile,
    SegmentIndex,
    encode_event,
    keep_event,
)


#: Arrow schema mirroring EVENT_SCHEMA; readers yield RecordBatches,
#: not per-row tuples — one Arrow transfer per chunk instead of one
#: pickled tuple per event.  At bench scale (12.5k events/task) the
#: fixed Python-worker startup dominates and both transports measure
#: within noise (~147k events/s); the Arrow form is kept because its
#: cost grows with bytes, not rows — the transport that still works
#: when a task decodes a 1 GiB reference-sized segment
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("event_counter", pa.int64()),
        pa.field("actor", pa.int32()),
        pa.field("parent_counter", pa.int64()),
        pa.field("parent_actor", pa.int32()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("namespace", pa.string()),
        pa.field("data", pa.binary()),
        pa.field("partition", pa.int32()),
    ]
)

#: events per emitted RecordBatch (bounds reader memory per chunk)
ARROW_CHUNK_EVENTS = 8192


def _to_batches(evs):
    """Codec tuples -> Arrow RecordBatches in bounded chunks."""

    def _make(rows):
        cols = list(zip(*rows))
        return pa.RecordBatch.from_pydict(
            {
                "event_counter": cols[0],
                "actor": cols[1],
                "parent_counter": cols[2],
                "parent_actor": cols[3],
                "timestamp": [t * 1000 for t in cols[4]],  # ms -> us
                "namespace": cols[5],
                "data": cols[6],
                "partition": cols[1],  # partition == ActorId (§1.1)
            },
            schema=_ARROW_SCHEMA,
        )

    buf: list[tuple] = []
    for ev in evs:
        buf.append(ev)
        if len(buf) >= ARROW_CHUNK_EVENTS:
            yield _make(buf)
            buf = []
    if buf:
        yield _make(buf)


def _parse_vv(raw: str | None) -> dict[int, int] | None:
    if not raw:
        return None
    return {int(k): int(v) for k, v in json.loads(raw).items()}


@dataclass
class FloSegmentPartition(InputPartition):
    """Batch input split: one segment file (flo's storage unit), and
    whether it is its dir's active segment, where a torn tail is an
    append in flight rather than corruption."""

    path: str
    active: bool


@dataclass
class FloStreamPartition(InputPartition):
    """Streaming input split: one actor's (start, end] counter slice
    plus exactly the segment files whose index range overlaps it."""

    files: tuple[str, ...]
    active_files: tuple[str, ...]
    actor: int
    start: int
    end: int


class FloBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("format('flo') requires .load(<data dir>)")
        ns = options.get("namespace")
        self.ns_regex = None if is_match_all(ns) else glob_to_regex(ns)
        self.vv = _parse_vv(options.get("startpositions"))
        # NOTE deliberately NO pushFilters: Spark constructs ONE reader
        # per load() and re-plans it for every derived DataFrame, but
        # only plans that carry filters invoke pushFilters — so state
        # pushed by one plan would silently leak into a filterless
        # sibling plan (verified against 4.1: df.filter(c>10).count()
        # followed by df.count() returns the filtered count twice).
        # The vv/namespace OPTIONS give the same Python-side row
        # reduction with per-load scoping, and the vv prunes files
        # through the SegmentIndex, which is not plan-dependent.

    def partitions(self):
        index = SegmentIndex(self.root)
        return [
            FloSegmentPartition(seg.path, seg.active)
            for d in index.dirs
            for seg in index.unread(d, self.vv, self.vv)
        ]

    def read(self, partition: FloSegmentPartition | None):
        if partition is None:
            # Spark plans one None partition when partitions() is empty:
            # a dir with no segment files, or a vv that prunes them all
            return
        yield from _to_batches(
            ev
            for ev in SegmentFile(partition.path, active=partition.active).events()
            if keep_event(ev, self.vv, self.ns_regex)
        )


class FloStreamReader(DataSourceStreamReader):
    """Event-granular streaming tail: offset == version vector.

    Scale contract of the index build: each SEALED segment is decoded
    once, driver-side, to learn its per-actor counter range — the
    same one-pass recovery scan flo itself runs to rebuild its index
    at startup (mmap.rs:111-134), amortized here across the
    consumer's lifetime.  The ``indexfile`` option persists that
    index as JSON so a RESTARTED consumer skips the rebuild entirely
    (sealed segments are immutable, so entries never go stale — they
    are only dropped when the TTL job deletes the file); without it a
    fresh consumer on a large archive pays the scan once.  Truly
    archival scans belong on the distributed batch path
    (``spark.read.format("flo")`` / ``read_flo_segments``).

    This is the reader behind ``tail_flo_segments``, and so behind
    ``consume_tail_ordered(source="native")`` and
    ``replicate_native``: their checkpoints hold version vectors, and
    growth of an active segment that an earlier trigger already read
    is delivered by the next one."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("format('flo') requires .load(<data dir>)")
        ns = options.get("namespace")
        self.ns_regex = None if is_match_all(ns) else glob_to_regex(ns)
        self.start_vv = _parse_vv(options.get("startpositions"))
        # pinned mode: only the partitions named in startpositions are
        # consumed (sync/mod.rs:126-128); otherwise all, from zero
        self.pinned = (
            frozenset(self.start_vv) if self.start_vv is not None else None
        )
        #: sealed-file index: path -> {"actors": {actor: (lo, hi)},
        #: "ns": sorted list of distinct namespaces, or None when the
        #: file holds more than NS_INDEX_CAP distinct ones ("mixed" —
        #: never pruned by namespace)}
        self._index: dict[str, dict] = {}
        self._indexfile = options.get("indexfile")
        if self._indexfile and os.path.exists(self._indexfile):
            with open(self._indexfile) as f:
                raw = json.load(f)
            if isinstance(raw, dict) and raw.get("version") == 2:
                self._index = {
                    p: {
                        "actors": {
                            int(a): tuple(rng)
                            for a, rng in e["actors"].items()
                        },
                        "ns": e["ns"],
                    }
                    for p, e in raw["files"].items()
                }
            else:  # v1 files carried actor ranges only
                self._index = {
                    p: {
                        "actors": {
                            int(a): tuple(rng) for a, rng in actors.items()
                        },
                        "ns": None,
                    }
                    for p, actors in raw.items()
                }

    #: distinct namespaces recorded per sealed file before the entry
    #: degrades to "mixed" (no namespace pruning for that file)
    NS_INDEX_CAP = 64

    # -- index maintenance (driver-side, each sealed file decoded once)
    def _scan_file(self, seg: SegmentFile) -> dict:
        rng: dict[int, tuple[int, int]] = {}
        namespaces: set | None = set()
        for ev in seg.events():
            counter, actor = ev[0], ev[1]
            lo, hi = rng.get(actor, (counter, counter))
            rng[actor] = (min(lo, counter), max(hi, counter))
            if namespaces is not None:
                namespaces.add(ev[5])
                if len(namespaces) > self.NS_INDEX_CAP:
                    namespaces = None  # mixed: too many to index
        return {
            "actors": rng,
            "ns": sorted(namespaces) if namespaces is not None else None,
        }

    def _refresh_index(self) -> SegmentIndex:
        """Bring the sealed-file index up to date with the dir; return
        the dir's SegmentIndex.  Active files are never indexed: they
        still grow."""
        index = SegmentIndex(self.root)
        sealed = {seg.path: seg for seg in index.files() if not seg.active}
        dirty = False
        for path, seg in sealed.items():
            if path not in self._index:
                self._index[path] = self._scan_file(seg)
                dirty = True
        for stale in set(self._index) - set(sealed):
            del self._index[stale]  # expired by the TTL job
            dirty = True
        if dirty and self._indexfile:
            tmp = self._indexfile + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "version": 2,
                        "files": {
                            p: {
                                "actors": {
                                    str(a): list(rng)
                                    for a, rng in e["actors"].items()
                                },
                                "ns": e["ns"],
                            }
                            for p, e in self._index.items()
                        },
                    },
                    f,
                )
            os.replace(tmp, self._indexfile)
        return index

    def initialOffset(self) -> dict:
        if self.start_vv is not None:
            return {str(a): int(c) for a, c in self.start_vv.items()}
        return {}

    def latestOffset(self) -> dict:
        index = self._refresh_index()
        # active files are re-read every trigger — the only per-trigger
        # decode, bounded by one segment per partition dir
        active = [self._scan_file(seg) for seg in index.files() if seg.active]
        heads: dict[int, int] = {}
        for entry in list(self._index.values()) + active:
            for actor, (_lo, hi) in entry["actors"].items():
                if self.pinned is not None and actor not in self.pinned:
                    continue
                heads[actor] = max(heads.get(actor, 0), hi)
        off = {str(a): c for a, c in heads.items()}
        if self.start_vv is not None:
            for a, c in self.start_vv.items():
                key = str(a)
                off[key] = max(off.get(key, 0), int(c))
        return off

    def partitions(self, start: dict, end: dict):
        # refresh first: on a checkpoint restart Spark REPLAYS the last
        # uncommitted (start, end] batch through partitions() without
        # calling latestOffset, and the rebuilt index must already
        # cover those files or the replay would drop events
        index = self._refresh_index()
        sealed = [seg.path for seg in index.files() if not seg.active]
        # active files have no persistent index entry; always candidates
        active = tuple(sorted(seg.path for seg in index.files() if seg.active))
        out = []
        for key, end_c in end.items():
            actor = int(key)
            start_c = int(start.get(key, 0))
            end_c = int(end_c)
            if end_c <= start_c:
                continue
            files = []
            for path in sealed:
                entry = self._index.get(path)
                got = entry["actors"].get(actor) if entry else None
                if not (got and got[1] > start_c and got[0] <= end_c):
                    continue
                # namespace pruning: a sealed file whose (indexed)
                # namespace set contains no glob match holds nothing
                # the reader would emit — skip it entirely, the glob
                # analog of the counter index seek.  "mixed" files
                # (ns is None) are never pruned.
                ns_set = entry.get("ns")
                if (
                    self.ns_regex is not None
                    and ns_set is not None
                    and not any(re.match(self.ns_regex, n) for n in ns_set)
                ):
                    continue
                files.append(path)
            out.append(
                FloStreamPartition(
                    files=tuple(sorted(files)),
                    active_files=active,
                    actor=actor,
                    start=start_c,
                    end=end_c,
                )
            )
        return out

    def read(self, partition: FloStreamPartition):
        def slice_events():
            for path in partition.files + partition.active_files:
                seg = SegmentFile(path, active=path in partition.active_files)
                for ev in seg.events():
                    counter, actor = ev[0], ev[1]
                    if actor != partition.actor:
                        continue
                    if not (partition.start < counter <= partition.end):
                        continue
                    if self.ns_regex is not None and not re.match(
                        self.ns_regex, ev[5]
                    ):
                        continue
                    yield ev

        yield from _to_batches(slice_events())

    def commit(self, end: dict) -> None:
        pass  # retention is the TTL job's decision, not the consumer's


class FloCreditStreamReader(SimpleDataSourceStreamReader):
    """Credit-flow tail (A8): at most ``batchsize`` MATCHING events
    per micro-batch, delivered in global (counter, actor) id order —
    the multi_partition_reader + batch_size/NextBatch loop
    (consumer_stream/mod.rs:115-155) re-based on the SIMPLE stream
    reader API, whose ``read(start)`` hands the reader its own cursor
    and so makes admission control exact (the partitioned
    DataSourceStreamReader API never sees the committed start, so a
    cap there could regress offsets after a restart and redeliver).

    Both reads pull from :meth:`SegmentIndex.merged`, the one lazy
    id-ordered merge past a version vector — the same merge the TCP
    server's cursors read.  It holds one decoded segment per partition
    dir, decodes only the files the cursor frontier overlaps (consumed
    files prune via per-dir floors) and never opens the files past the
    budget.  The reader never waits: Spark's trigger decides when to
    read again.

    Cursor rule: an actor's offset advances only over events the merge
    actually PROCESSED (delivered, or scanned-and-glob-skipped — flo
    counts only matching events against the batch budget, the same
    rule as next_matching + the decrement at mod.rs:116-119); an event
    peeked but unprocessed when the budget ran out is re-read next
    trigger.  Data moves through the driver (the simple-reader
    contract), so large backfills still belong on the partitioned
    reader (no ``batchsize`` option)."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("format('flo') requires .load(<data dir>)")
        ns = options.get("namespace")
        self.ns_regex = None if is_match_all(ns) else glob_to_regex(ns)
        self.start_vv = _parse_vv(options.get("startpositions"))
        self.pinned = (
            frozenset(self.start_vv) if self.start_vv is not None else None
        )
        self.batch_size = int(options.get("batchsize", 10000))

    def initialOffset(self) -> dict:
        if self.start_vv is not None:
            return {str(a): int(c) for a, c in self.start_vv.items()}
        return {}

    def _merged(self, start: dict):
        """The one lazy id-ordered merge, :meth:`SegmentIndex.merged`,
        past the offset ``start``."""
        cursor = {int(a): int(c) for a, c in start.items()}
        return SegmentIndex(self.root).merged(cursor, self.pinned)

    def read(self, start: dict):
        merged = self._merged(start)
        last: dict[int, int] = {}
        out: list[tuple] = []
        budget = self.batch_size
        # budget checked BEFORE pulling: the merge must not advance
        # (and so not decode the next file) past the last counted event
        while budget > 0:
            ev = next(merged, None)
            if ev is None:
                break
            last[ev[1]] = ev[0]
            if self.ns_regex is None or re.match(self.ns_regex, ev[5]):
                out.append(_simple_row(ev))
                budget -= 1
        end = dict(start)
        for a, c in last.items():
            end[str(a)] = c
        return iter(out), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of a recorded (start, end] slice."""
        global_hi = max((int(c) for c in end.values()), default=0)
        rows = []
        for ev in self._merged(start):
            if ev[0] > global_hi:
                break  # merge is id-ordered; nothing later qualifies
            if ev[0] <= int(end.get(str(ev[1]), 0)) and (
                self.ns_regex is None or re.match(self.ns_regex, ev[5])
            ):
                rows.append(_simple_row(ev))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass


def _simple_row(ev: tuple) -> tuple:
    """Codec tuple -> EVENT_SCHEMA-ordered row (simple-reader form)."""
    from datetime import datetime, timedelta

    counter, actor, p_counter, p_actor, ts_millis, namespace, data = ev
    ts = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(
        milliseconds=ts_millis
    )
    return (counter, actor, p_counter, p_actor, ts, namespace, data, actor)


@dataclass
class FloWriteMessage(WriterCommitMessage):
    """One staged segment per (task, actor): committed by the driver
    via rename into the actor's partition dir."""

    staged_path: str
    actor: int
    n_events: int


class FloWriter(DataSourceArrowWriter, DataSourceStreamArrowWriter):
    """Write events as native ``.events`` segments — ``df.write
    .format("flo")`` (batch append/overwrite) and ``writeStream
    .format("flo")`` (one segment per (micro-batch, task, actor)).

    Two-phase commit: tasks stage uniquely-named segments under
    ``<root>/_staging/`` (a retried task stages a NEW file; the loser's
    file is simply never committed), then the driver's ``commit`` moves
    each staged file to ``p<actor>/<n>.events`` with ``n`` allocated
    monotonically per dir — so the previous active segment seals and
    the new file becomes active, exactly the rotation rule readers
    assume (segment/mod.rs:65-74).  Streaming commits additionally
    record batch ids in ``_flo_commits.json``: a batch REPLAYED after a
    crash-before-checkpoint is detected and its staged files dropped
    instead of duplicated (the foreachBatch idempotency recipe, built
    in).  The root must be on storage shared by driver and executors
    (any real cluster FS; local FS under local[*]).

    Rows must carry the canonical envelope (event_counter, actor,
    namespace, ...); ids are caller-assigned — the contiguous-counter
    produce path stays ``EventStream.produce`` (A15), and this writer
    is the storage sink (A1's persist half + A12 rotation).  Naive
    timestamps are taken as UTC (every engine session pins
    spark.sql.session.timeZone=UTC; a caller on a non-UTC session
    must convert first)."""

    def __init__(self, options, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("format('flo') requires .save(<data dir>)")
        self.overwrite = overwrite
        # segment byte budget (flo's max segment size, event_stream/
        # mod.rs:27-37 — 1 GiB default): an event that would overflow
        # the open segment forces rotation (EventTooBig -> rotate ->
        # append, segment/mod.rs:65-74); an event LARGER than the whole
        # budget gets its own segment rather than erroring
        self.max_bytes = int(options.get("maxbytes", 1 << 30))

    # -- executor side -------------------------------------------------
    def write(self, iterator) -> FloWriteMessage:
        """Arrow batches stream straight into one open staged file per
        actor — the Arrow writer API skips per-row pickling entirely,
        and memory stays O(actors) + one batch, never O(task rows) (a
        task may carry a whole reference-sized 1 GiB segment's worth).
        The 16-byte create/end-time header needs the min/max
        timestamps, which are only known at the end, so each file
        starts with a placeholder header that is patched in place on
        close."""
        import struct as _struct
        import uuid as _uuid

        staging = os.path.join(self.root, STAGING_DIRNAME)
        os.makedirs(staging, exist_ok=True)
        # per-actor: [file handle, path, n_events, min_ms, max_ms, bytes]
        open_files: dict[int, list] = {}
        messages = []

        def _seal(st) -> None:
            f, path, n, lo, hi, _b, actor = st
            f.seek(0)
            f.write(_struct.pack(">QQ", lo, hi))
            f.close()
            messages.append(FloWriteMessage(path, actor, n))

        def _fresh(actor: int, ms: int) -> list:
            path = os.path.join(staging, f"{_uuid.uuid4().hex}.events")
            f = open(path, "wb")
            f.write(b"\x00" * HEADER_LEN)  # patched on close
            st = [f, path, 0, ms, ms, HEADER_LEN, actor]
            return st

        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                col = {n: batch.column(n) for n in batch.schema.names}
                ts_ms = [
                    v // 1000
                    for v in col["timestamp"].cast(pa.int64()).to_pylist()
                ]
                counters = col["event_counter"].to_pylist()
                actors = col["actor"].to_pylist()
                pcs = col["parent_counter"].to_pylist()
                pas = col["parent_actor"].to_pylist()
                nss = col["namespace"].to_pylist()
                datas = col["data"].to_pylist()
                for k in range(batch.num_rows):
                    actor = int(actors[k])
                    ms = int(ts_ms[k])
                    encoded = encode_event(
                        int(counters[k]),
                        actor,
                        pcs[k],
                        pas[k],
                        ms,
                        nss[k],
                        datas[k] if datas[k] is not None else b"",
                    )
                    st = open_files.get(actor)
                    if (
                        st is not None
                        and st[2] > 0
                        and st[5] + len(encoded) > self.max_bytes
                    ):
                        # EventTooBig -> seal and rotate; a non-empty
                        # check means an over-budget single event still
                        # lands (alone) instead of erroring
                        _seal(st)
                        st = None
                    if st is None:
                        st = open_files[actor] = _fresh(actor, ms)
                    st[0].write(encoded)
                    st[2] += 1
                    st[3] = min(st[3], ms)
                    st[4] = max(st[4], ms)
                    st[5] += len(encoded)
            for actor in sorted(open_files):
                _seal(open_files[actor])
        finally:
            for st in open_files.values():
                if not st[0].closed:
                    st[0].close()
        # the API allows ONE message per task; pack the per-actor list
        return FloWriteMessage(
            staged_path=json.dumps(
                [[m.staged_path, m.actor, m.n_events] for m in messages]
            ),
            actor=-1,
            n_events=sum(m.n_events for m in messages),
        )

    # -- driver side ---------------------------------------------------
    def _staged(self, messages) -> list[tuple[str, int, int]]:
        out = []
        for m in messages:
            if m is None:
                continue
            out.extend(
                (p, int(a), int(n)) for p, a, n in json.loads(m.staged_path)
            )
        return out

    def _commit_files(self, staged: list[tuple[str, int, int]]) -> None:
        # the index skips _staging, so an overwrite removes only
        # COMMITTED segments — never the files this very commit is
        # about to rename into place (a staging-inclusive walk here
        # used to delete both old data and the new staged files, then
        # fail the rename: data loss with nothing written)
        index = SegmentIndex(self.root)
        if self.overwrite:
            for seg in index.files():
                os.remove(seg.path)
            index.dirs.clear()
            self.overwrite = False
        self._gc_stale_staged(keep={p for p, _a, _n in staged})
        next_num: dict[str, int] = {}

        # commit per actor in FIRST-EVENT-COUNTER order (one header read
        # per staged file), so rotated segments land with counters
        # growing across segment numbers — the within-dir monotonicity
        # every reader's file pruning relies on.  uuid path order is
        # random and would interleave them.
        def _key(t):
            first = SegmentFile(t[0]).first
            return (t[1], first[0] if first else -1, t[0])

        for path, actor, _n in sorted(staged, key=_key):
            d = os.path.join(self.root, f"p{actor}")
            os.makedirs(d, exist_ok=True)
            if d not in next_num:
                next_num[d] = index.next_num(d)
            os.replace(path, os.path.join(d, f"{next_num[d]}.events"))
            next_num[d] += 1

    def _drop_staged(self, staged) -> None:
        for path, _a, _n in staged:
            try:
                os.remove(path)
            except OSError:
                pass

    #: staged files older than this are crash/retry leftovers and are
    #: garbage-collected at the next commit.  Age-based (not
    #: whole-directory) so a CONCURRENT writer's in-flight staged files
    #: survive another job's commit.
    STALE_STAGED_SECONDS = 24 * 3600

    def _gc_stale_staged(self, keep: set[str]) -> None:
        import time as _time

        staging = os.path.join(self.root, STAGING_DIRNAME)
        if not os.path.isdir(staging):
            return
        cutoff = _time.time() - self.STALE_STAGED_SECONDS
        for fname in os.listdir(staging):
            path = os.path.join(staging, fname)
            if path in keep:
                continue
            try:
                if os.path.getmtime(path) < cutoff:
                    os.remove(path)
            except OSError:
                pass  # concurrent GC/commit

    def commit(self, messages, batchId: int | None = None) -> None:
        staged = self._staged(messages)
        if batchId is not None:
            ledger = os.path.join(self.root, "_flo_commits.json")
            done: list[int] = []
            if os.path.exists(ledger):
                with open(ledger) as f:
                    done = json.load(f)
            if batchId in done:
                self._drop_staged(staged)  # replayed batch: no dupes
                return
            self._commit_files(staged)
            tmp = ledger + ".tmp"
            with open(tmp, "w") as f:
                # bounded ledger: replays only ever target the LAST
                # uncommitted batch, so a 1000-id tail is ample
                json.dump((done + [batchId])[-1000:], f)
            os.replace(tmp, ledger)
        else:
            self._commit_files(staged)

    def abort(self, messages, batchId: int | None = None) -> None:
        self._drop_staged(self._staged(messages))


class FloDataSource(DataSource):
    """``spark.dataSource.register(FloDataSource)`` enables
    ``format("flo")`` for batch and streaming reads and writes."""

    @classmethod
    def name(cls) -> str:
        return "flo"

    def schema(self):
        return EVENT_SCHEMA

    def reader(self, schema) -> FloBatchReader:
        return FloBatchReader(self.options)

    def streamReader(self, schema) -> FloStreamReader:
        # a batchsize option selects the credit-flow SIMPLE reader:
        # raising NOT_IMPLEMENTED here makes the engine fall back to
        # simpleStreamReader (pyspark.sql.datasource_internal
        # _streamReader), the only reader API whose read(start) sees
        # the committed cursor and can therefore rate-limit exactly
        if "batchsize" in self.options:
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader(batchsize)"},
            )
        return FloStreamReader(self.options)

    def simpleStreamReader(self, schema) -> FloCreditStreamReader:
        return FloCreditStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> FloWriter:
        return FloWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> FloWriter:
        return FloWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent registration of the "flo" format."""
    spark.dataSource.register(FloDataSource)
