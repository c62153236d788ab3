"""Native flo segment-file (``.events``) binary codec — read and write
flo's on-disk storage format directly, so segment files written by a
real flo server can be scanned by this engine (and files we write are
valid input for flo's own recovery scan).

This closes the one "partial" surface row (A18/A19 storage
de/serialization): the CSV/JSON interchange in
:mod:`flo_spark.sources.event_table` is the *text-safe analog*; this
module is the byte-exact format itself.

Layout (reference: flo-server/src/engine/event_stream/partition/segment/
persistent_event.rs:20-35 ``get_repr_length`` / ``write_event_unchecked``
and :69-103 ``validate``; header: segment/header.rs:10-58; all integers
big-endian per flo-protocol/src/client.rs:11)::

    segment file = 16-byte header | event* | zero padding
    header       = u64 create-time millis | u64 end-time millis
    event        = u32 total_len (= 48 + ns_len + data_len)
                 | 8B marker b"FLO_EVT\\n"
                 | u16 actor | u64 event_counter          (id)
                 | u16 parent_actor | u64 parent_counter  (counter 0 = null)
                 | u64 timestamp millis-since-epoch
                 | u32 ns_len  | namespace utf-8 bytes
                 | u32 data_len| data bytes

flo pre-allocates segments and zero-fills the tail
(segment/mod.rs:125-128), so a reader stops at the first position whose
marker bytes are zero; a *non-zero* marker mismatch is corruption and
raises, exactly like ``PersistentEvent::validate``.

Scale shape: one segment file == one Spark task on read (flo's own
unit of storage parallelism; segments are bounded at 1 GiB by the
reference default, event_stream/mod.rs:27-37) and one write task per
(partition, segment) group on write.  The codec itself is a per-file
Python hop over Arrow batches — the same budget as the multimodal
decoders — never per-row Python inside a relational plan.
"""

from __future__ import annotations

import heapq
import io
import json
import os
import re
import struct
from collections.abc import Collection, Iterator, Mapping
from functools import cached_property
from operator import itemgetter

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from flo_spark.functions.glob import glob_to_regex, is_match_all
from flo_spark.schema import EVENT_SCHEMA, ID_ORDER

MARKER = b"FLO_EVT\n"
HEADER_LEN = 16
#: fixed bytes per event before the two variable-length fields
EVENT_FIXED_LEN = 48

_EPOCH = pd.Timestamp("1970-01-01")

#: the fixed 44-byte prefix (total_len .. ns_len) as one precompiled
#: Struct — pack/unpack of the whole envelope head in a single call
_FIXED = struct.Struct(">I8sHQHQQI")

#: (counter, actor) of a decoded event tuple: flo's id order
_EVENT_ID = itemgetter(0, 1)


def encode_event(
    event_counter: int,
    actor: int,
    parent_counter: int | None,
    parent_actor: int | None,
    ts_millis: int,
    namespace: str,
    data: bytes | None,
) -> bytes:
    """One event in flo's on-disk byte layout (persistent_event.rs
    write_event_unchecked).  A null parent is written as the zero id —
    the reference writes ``parent_id().unwrap_or(zero)`` and reads
    counter==0 back as None regardless of the actor half."""
    if "\n" in namespace:
        # the reference forbids newlines in namespaces (the wire and
        # CLI treat \n as a terminator) — flo-event/src/lib.rs:197-200
        raise ValueError("namespace must not contain a newline")
    ns = namespace.encode("utf-8")
    payload = data if data is not None else b""
    total = EVENT_FIXED_LEN + len(ns) + len(payload)
    head = _FIXED.pack(
        total,
        MARKER,
        actor,
        event_counter,
        (parent_actor or 0) if parent_counter else 0,
        parent_counter or 0,
        ts_millis,
        len(ns),
    )
    return b"".join((head, ns, struct.pack(">I", len(payload)), payload))


def encode_segment(
    events: Iterator[tuple], create_millis: int, end_millis: int
) -> bytes:
    """Header + every event, in iteration order.  ``events`` yields
    ``(event_counter, actor, parent_counter, parent_actor, ts_millis,
    namespace, data)`` tuples."""
    buf = io.BytesIO()
    buf.write(struct.pack(">QQ", create_millis, end_millis))
    for ev in events:
        buf.write(encode_event(*ev))
    return buf.getvalue()


def segment_header(buf: bytes) -> tuple[int, int]:
    """(create_millis, end_millis) from a segment's 16-byte header."""
    if len(buf) < HEADER_LEN:
        raise ValueError(
            f"segment shorter than {HEADER_LEN}-byte header: {len(buf)}B"
        )
    return struct.unpack_from(">QQ", buf, 0)


class CorruptRecord(ValueError):
    """A record that does not decode.  ``offset`` is where it starts,
    which is also the end of the last whole event before it."""

    def __init__(self, what: str, offset: int):
        super().__init__(f"{what} at offset {offset}")
        self.offset = offset


def decode_segment(buf: bytes) -> Iterator[tuple]:
    """Yield ``(event_counter, actor, parent_counter, parent_actor,
    ts_millis, namespace, data)`` for each event; stop at the
    zero-filled pre-allocation tail; raise :class:`CorruptRecord` on
    corruption.  The generator's return value is the byte offset where
    decoding stopped (the end of the last whole event).

    Mirrors PersistentEvent::validate (persistent_event.rs:69-103):
    length/marker check, then ns/data length cross-check against
    total_len."""
    pos = HEADER_LEN
    n = len(buf)
    while pos + EVENT_FIXED_LEN <= n:
        (
            total_len,
            marker,
            actor,
            counter,
            p_actor,
            p_counter,
            ts_millis,
            ns_len,
        ) = _FIXED.unpack_from(buf, pos)
        if marker != MARKER:
            if total_len == 0 and marker == b"\x00" * 8:
                return pos  # zero-filled tail of a pre-allocated segment
            raise CorruptRecord("invalid marker bytes", pos)
        if pos + EVENT_FIXED_LEN + ns_len > n:
            raise CorruptRecord("namespace length too large", pos)
        ns_start = pos + 44
        try:
            namespace = buf[ns_start : ns_start + ns_len].decode("utf-8")
        except UnicodeDecodeError:
            raise CorruptRecord("invalid namespace utf-8", pos) from None
        (data_len,) = struct.unpack_from(">I", buf, ns_start + ns_len)
        if total_len != EVENT_FIXED_LEN + ns_len + data_len:
            raise CorruptRecord("mismatched lengths", pos)
        data_start = ns_start + ns_len + 4
        if data_start + data_len > n:
            raise CorruptRecord("data length too large", pos)
        data = bytes(buf[data_start : data_start + data_len])
        yield (
            counter,
            actor,
            p_counter if p_counter else None,
            p_actor if p_counter else None,
            ts_millis,
            namespace,
            data,
        )
        pos += total_len
    return pos


#: the flo Data Source writer stages uncommitted segments here; every
#: segment-listing walk must skip it or half-written / never-committed
#: files get scanned as real segments (duplicate or torn events)
STAGING_DIRNAME = "_staging"


def list_segment_files(root: str) -> dict[str, list[tuple[int, str]]]:
    """``{dir: [(segment_num, path), ...] sorted by number}`` for every
    ``.events`` file under ``root`` — the walk :class:`SegmentIndex` is
    built from.  ``_staging`` subtrees (the writer's two-phase-commit
    scratch space) are pruned: a file there is either mid-write, a
    retried task's abandoned loser, or a crash leftover — never data."""
    by_dir: dict[str, list[tuple[int, str]]] = {}
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != STAGING_DIRNAME]
        for fname in files:
            if not fname.endswith(".events"):
                continue
            try:
                num = int(fname[: -len(".events")])
            except ValueError:
                num = -1  # non-flo-named files sort first (sealed)
            by_dir.setdefault(r, []).append((num, os.path.join(r, fname)))
    for entries in by_dir.values():
        entries.sort()
    return by_dir


class SegmentFile:
    """One ``.events`` file: its number, whether it is its dir's
    ACTIVE (max-numbered) segment, and the two headers at its start.

    ``events()`` is the one reader of the native format.  A rotated
    segment is never written again (segment/mod.rs:65-74), so a record
    that does not decode is tolerated only in the active segment, where
    it is an append in flight: the scan stops there, like flo's
    recovery scan (mmap.rs:111-134).  Anywhere else it raises.  After a
    full scan ``valid_len`` is the byte length of the header plus every
    whole event, and ``torn`` holds the tolerated error, if any."""

    def __init__(self, path: str, num: int = -1, active: bool = False):
        self.path = path
        self.num = num
        self.active = active
        self.valid_len: int | None = None
        self.torn: CorruptRecord | None = None

    @cached_property
    def _head(self) -> bytes:
        """The 16-byte segment header and the first event's 48-byte
        envelope, from one read (empty when unreadable)."""
        try:
            with open(self.path, "rb") as f:
                return f.read(HEADER_LEN + EVENT_FIXED_LEN)
        except OSError:
            return b""

    @property
    def header(self) -> tuple[int, int] | None:
        """(create_millis, end_millis), or None for a short file."""
        head = self._head
        return segment_header(head) if len(head) >= HEADER_LEN else None

    @property
    def first(self) -> tuple[int, int] | None:
        """(counter, actor) of the first event, or None when the file
        holds no whole first envelope."""
        head = self._head
        if len(head) < HEADER_LEN + EVENT_FIXED_LEN:
            return None
        _len, marker, actor, counter, *_rest = _FIXED.unpack_from(
            head, HEADER_LEN
        )
        return (counter, actor) if marker == MARKER else None

    def events(self) -> Iterator[tuple]:
        with open(self.path, "rb") as f:
            buf = f.read()
        self.torn = None
        try:
            self.valid_len = yield from decode_segment(buf)
        except CorruptRecord as err:
            if not self.active:
                raise
            self.torn, self.valid_len = err, err.offset


class SegmentIndex:
    """Every segment file under ``root``, per dir, in segment-number
    order — one :func:`list_segment_files` walk, plus at most one
    64-byte header read per file, made only when a rule needs it.

    It holds the rules every reader of the native format shares:

    - a dir named ``p<N>`` belongs to actor N (the server and writer
      layout), and is known single-actor when every first event agrees;
    - the max-numbered file of a dir is active, the rest are sealed;
    - counters only grow across a dir's segment numbers, so file *i*
      holds nothing past a cursor ``floor`` when the next file's first
      counter minus one is ``<= floor`` (the index-seek analog, A5,
      index.rs:86-129);
    - a new segment takes the dir's max number plus one.

    :meth:`merged` is the one "events past a version vector, in id
    order" read, shared by the TCP server's cursors and the credit-flow
    stream reader.
    """

    def __init__(self, root: str):
        self.dirs: dict[str, list[SegmentFile]] = {
            d: [
                SegmentFile(p, n, i == len(entries) - 1)
                for i, (n, p) in enumerate(entries)
            ]
            for d, entries in sorted(list_segment_files(root).items())
        }

    def files(self) -> Iterator[SegmentFile]:
        """Every file, in (dir, segment number) order."""
        for segs in self.dirs.values():
            yield from segs

    @staticmethod
    def dir_actor(d: str) -> int | None:
        """N for a dir named ``p<N>``, else None."""
        m = re.fullmatch(r"p([0-9]+)", os.path.basename(d))
        return int(m.group(1)) if m else None

    def known_actor(self, d: str) -> int | None:
        """N when dir ``d`` is named ``p<N>`` (the writer's layout
        contract, one actor per partition dir) AND every readable
        first event agrees; None otherwise."""
        actor = self.dir_actor(d)
        if actor is None or any(
            s.first is not None and s.first[1] != actor for s in self.dirs[d]
        ):
            return None
        return actor

    def unread(
        self,
        d: str,
        cursor: dict[int, int] | None = None,
        pinned: Collection[int] | None = None,
    ) -> list[SegmentFile]:
        """The files of dir ``d`` that can hold an event past
        ``cursor`` (``{actor: last delivered counter}``; None keeps
        every file).  ``pinned`` limits the consumer to those actors.

        The dir's floor is the least cursor over the actors that can
        appear in it.  An actor absent from the cursor counts as 0, so
        a new actor's history never prunes against another actor's
        high cursor.  Hence: a known single-actor dir uses its own
        actor's cursor, and is skipped when that actor is not pinned;
        an unknown dir uses the least pinned cursor, or 0 when nothing
        is pinned."""
        segs = self.dirs[d]
        if cursor is None:
            return list(segs)
        actor = self.known_actor(d)
        if actor is None:
            floor = min((cursor.get(a, 0) for a in pinned or ()), default=0)
        elif pinned is not None and actor not in pinned:
            return []
        else:
            floor = cursor.get(actor, 0)
        return [
            s
            for s, nxt in zip(segs, segs[1:] + [None])
            if nxt is None or nxt.first is None or nxt.first[0] - 1 > floor
        ]

    def merged(
        self,
        cursor: dict[int, int],
        pinned: Collection[int] | None = None,
    ) -> Iterator[tuple]:
        """The events past ``cursor`` (``counter > cursor[actor]``; an
        absent actor counts as 0) of the ``pinned`` actors (None: every
        actor), in (counter, actor) id order.

        A lazy k-way merge with one stream per dir over the files
        :meth:`unread` keeps.  A file is decoded only when the merge
        pulls on it, so memory holds one decoded segment per dir, and a
        reader that stops early never opens the files behind it.
        Counters only grow across a dir's segments, so each dir streams
        file by file; within a file the events are sorted, since a dir
        need not hold one actor."""
        cursor = dict(cursor)

        def past(ev: tuple) -> bool:
            actor = ev[1]
            if pinned is not None and actor not in pinned:
                return False
            return ev[0] > cursor.get(actor, 0)

        def stream(segs: list[SegmentFile]) -> Iterator[tuple]:
            for seg in segs:
                yield from sorted(filter(past, seg.events()), key=_EVENT_ID)

        return heapq.merge(
            *(stream(self.unread(d, cursor, pinned)) for d in self.dirs),
            key=_EVENT_ID,
        )

    def heads(self, d: str, full_scan: bool = False) -> dict[int, int]:
        """{actor: max counter} in dir ``d``.  Without ``full_scan`` the
        files are read newest first until one yields events (flo
        fast-forwards its counter from the tail the same way,
        controller/mod.rs:64-66) — exact for a one-actor dir."""
        heads: dict[int, int] = {}
        segs = self.dirs[d]
        for seg in segs if full_scan else reversed(segs):
            found = False
            for ev in seg.events():
                found = True
                if ev[0] > heads.get(ev[1], 0):
                    heads[ev[1]] = ev[0]
            if found and not full_scan:
                break
        return heads

    def next_num(self, d: str) -> int:
        """The number a new segment in dir ``d`` takes."""
        nums = [s.num for s in self.dirs.get(d, []) if s.num >= 0]
        return max(nums) + 1 if nums else 0


_WRITE_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType()),
        T.StructField("segment_num", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def write_flo_segments(
    df: DataFrame, path: str, max_events_per_segment: int = 1_000_000
) -> DataFrame:
    """Write an EVENT_SCHEMA DataFrame as native flo segment files:
    ``<path>/partition=<p>/<n>.events``, ``n`` 1-based in id order
    (flo names segments the same way, partition/mod.rs:48-53).

    Distributed, with NO whole-partition task: the id-order rank that
    decides segment membership is computed as range-partitioned local
    row_numbers plus a prefix-sum offset per (partition, range-bucket)
    — the offsets job collects O(shuffle partitions) rows, the same
    broadcast-offsets trick as ``operators.produce.assign_event_ids``
    — so a flo partition of any size spreads across the full cluster
    instead of sorting inside one window task.  The ranged frame is
    persisted so the counts job and the write job see ONE
    materialization (range boundaries are sampled; recomputation could
    re-draw them).  Header times are the segment's min/max event time
    (content-derived for determinism; the reference stamps wall-clock
    create time + rotation deadline, which a converter cannot
    reproduce).

    Returns the per-segment write report (materialized eagerly so the
    write happens now, like ``DataFrame.write``).
    """
    spark = df.sparkSession
    nbuckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(nbuckets, "partition", *ID_ORDER)
        .withColumn("_bucket", F.spark_partition_id())
        .persist()
    )
    from collections import defaultdict

    per_part: dict[int, list] = defaultdict(list)
    for r in ranged.groupBy("partition", "_bucket").count().collect():
        per_part[r["partition"]].append((r["_bucket"], r["count"]))
    offs = []
    for part, lst in per_part.items():
        acc = 0
        # range-bucket ids ascend with the (partition, counter, actor)
        # sort order, so cumulating in bucket order is the global rank
        for b, cnt in sorted(lst):
            offs.append((int(part), int(b), acc))
            acc += int(cnt)
    offsets_df = spark.createDataFrame(
        offs or [], "partition int, _bucket int, _off long"
    )
    rn = F.row_number().over(
        Window.partitionBy("partition", "_bucket").orderBy(*ID_ORDER)
    )
    bucketed = (
        ranged.join(F.broadcast(offsets_df), ["partition", "_bucket"])
        .withColumn(
            "segment_num",
            ((rn - F.lit(1) + F.col("_off")) / F.lit(max_events_per_segment))
            .cast("int")
            + F.lit(1),
        )
        .drop("_bucket", "_off")
    )

    def _write(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        part, seg = int(key[0]), int(key[1])
        pdf = pdf.sort_values(["event_counter", "actor"])
        ts_ms = (
            (pdf["timestamp"] - _EPOCH) // pd.Timedelta(milliseconds=1)
        ).astype("int64")
        events = zip(
            pdf["event_counter"].astype("int64"),
            pdf["actor"].astype("int64"),
            [None if pd.isna(v) else int(v) for v in pdf["parent_counter"]],
            [None if pd.isna(v) else int(v) for v in pdf["parent_actor"]],
            ts_ms,
            pdf["namespace"],
            pdf["data"],
        )
        blob = encode_segment(events, int(ts_ms.min()), int(ts_ms.max()))
        seg_dir = os.path.join(path, f"partition={part}")
        os.makedirs(seg_dir, exist_ok=True)
        out = os.path.join(seg_dir, f"{seg}.events")
        with open(out, "wb") as f:
            f.write(blob)
        return pd.DataFrame(
            {
                "partition": [part],
                "segment_num": [seg],
                "n_events": [len(pdf)],
                "n_bytes": [len(blob)],
            }
        )

    try:
        report = (
            bucketed.groupBy("partition", "segment_num")
            .applyInPandas(_write, schema=_WRITE_REPORT_SCHEMA)
            .cache()
        )
        report.count()  # force the write
    finally:
        ranged.unpersist()
    return report


def read_flo_segments(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory of native flo segment files into the canonical
    event schema: ``spark.read.format("flo")``, one Spark task per
    segment file, decoded by :meth:`SegmentFile.events` (a torn tail
    of an active segment is read up to its last whole event).
    ``partition`` is taken from each event's actor half — in flo the
    partition IS the ActorId (SURVEY.md §1.1), so this also reads bare
    ``*.events`` files that a real flo server laid out without hive
    dirs.  A missing ``path`` raises FileNotFoundError: the format
    reads it as an empty dir, and an import of nothing must not pass
    for a migration."""
    from flo_spark.sources.flo_datasource import register

    if not os.path.exists(path):
        raise FileNotFoundError(f"no flo data dir at {path}")
    register(spark)
    return spark.read.format("flo").load(path)


def tail_flo_segments(
    spark: SparkSession,
    path: str,
    namespace: str | None = None,
    version_vector=None,
) -> DataFrame:
    """Streaming consume over a native flo data dir, archived or live:
    ``spark.readStream.format("flo")`` with the consume filters as its
    options.  ``namespace`` is the glob; ``version_vector`` is the
    start position — only its partitions are read, each past its
    exclusive bound (None: every partition from 0, new ones picked up
    as they appear).  The streaming offset is a version vector, so a
    checkpointed query resumes at the exact next event, also inside
    an active segment the server is still appending to.  Pair with
    ``run_to_memory`` / ``consume_tail_ordered``'s sinks exactly like
    the parquet-backed ``consume_stream``."""
    from flo_spark.sources.flo_datasource import register

    register(spark)
    reader = spark.readStream.format("flo")
    if namespace is not None:
        reader = reader.option("namespace", namespace)
    if version_vector is not None:
        vv = {str(int(a)): int(c) for a, c in version_vector.items()}
        reader = reader.option("startpositions", json.dumps(vv))
    return reader.load(path)


def keep_event(
    ev: tuple, vv: Mapping[int, int] | None, ns_regex: str | None
) -> bool:
    """The consume filters on a decoded event: with a version vector,
    only its partitions, each past its exclusive bound; with a
    namespace regex, only matching namespaces."""
    counter, actor = ev[0], ev[1]
    if vv is not None and (actor not in vv or counter <= vv[actor]):
        return False
    return ns_regex is None or re.match(ns_regex, ev[5]) is not None


class NativeDirTailer:
    """Sweep-by-sweep tail of a flo data directory at segment
    granularity, decoded on the driver with no Spark job.

    A rotated segment is never written again (segment/mod.rs:65-74 —
    rotation moves the writer to a new file), so every segment EXCEPT
    the highest-numbered one per dir is sealed and safe to read exactly
    once.  Each poll decodes the newly sealed segments with
    :meth:`SegmentFile.events`, keeps the events :func:`keep_event`
    passes for ``version_vector`` and ``namespace``, and hands them to
    ``callback`` as one list of ``pyspark.sql.Row`` objects with the
    EVENT_SCHEMA fields, in (counter, actor) order.  The processed-file
    set persists to ``checkpoint_file`` (written after the callback —
    at-least-once on crash, exactly like the foreachBatch cursor).  For
    an event-granular tail of a live dir, use :func:`tail_flo_segments`.

    ``stop(drain_active=True)`` reads the active segments too, up to
    their last whole event — correct once the server has stopped or
    when a final snapshot is acceptable.

    A sweep is capped at ``max_segments_per_sweep`` files (delivered in
    (partition dir, segment number) order; the remainder carries to the
    next sweep, ``backlog`` reports it): a cold start over a large dir
    would otherwise decode every historical segment into one batch and
    spike the driver.  The thread loop and ``drain_active`` both keep
    sweeping back-to-back while a backlog remains, so the cap bounds
    memory, not throughput.
    """

    def __init__(
        self,
        path: str,
        callback,
        namespace: str | None = None,
        version_vector=None,
        checkpoint_file: str | None = None,
        max_segments_per_sweep: int = 64,
    ):
        self.path = path
        self.callback = callback
        self.ns_regex = (
            None if is_match_all(namespace) else glob_to_regex(namespace)
        )
        self.vv = (
            None
            if version_vector is None
            else {int(a): int(c) for a, c in version_vector.items()}
        )
        self.checkpoint_file = checkpoint_file
        self.max_segments_per_sweep = max_segments_per_sweep
        self.backlog = 0
        self._processed: set[str] = set()
        self._thread = None
        self._stop_evt = None
        if checkpoint_file and os.path.exists(checkpoint_file):
            with open(checkpoint_file) as f:
                self._processed = set(json.load(f))

    def poll_once(self, include_active: bool = False) -> int:
        """Process newly sealed segments (plus active ones when
        ``include_active``); returns the number of events delivered."""
        from pyspark.sql import Row

        from flo_spark.sources.flo_datasource import _simple_row

        todo = [
            seg
            for seg in SegmentIndex(self.path).files()
            if (include_active or not seg.active)
            and seg.path not in self._processed
        ]
        if not todo:
            self.backlog = 0
            return 0
        # bounded sweep in (dir, segment number) order; remainder
        # carries to the next sweep
        self.backlog = max(0, len(todo) - self.max_segments_per_sweep)
        todo = todo[: self.max_segments_per_sweep]
        evs = sorted(
            (
                ev
                for seg in todo
                for ev in seg.events()
                if keep_event(ev, self.vv, self.ns_regex)
            ),
            key=_EVENT_ID,
        )
        event_row = Row(*EVENT_SCHEMA.fieldNames())
        rows = [event_row(*_simple_row(ev)) for ev in evs]
        if rows:
            self.callback(rows)
        self._processed.update(seg.path for seg in todo)
        if self.checkpoint_file:
            tmp = self.checkpoint_file + ".tmp"
            with open(tmp, "w") as f:
                json.dump(sorted(self._processed), f)
            os.replace(tmp, self.checkpoint_file)
        return len(rows)

    def start(self, poll_interval: float = 1.0) -> "NativeDirTailer":
        import threading

        self._stop_evt = threading.Event()

        def _loop():
            while not self._stop_evt.is_set():
                self.poll_once()
                while self.backlog and not self._stop_evt.is_set():
                    self.poll_once()  # drain the capped-sweep remainder
                self._stop_evt.wait(poll_interval)

        self._thread = threading.Thread(target=_loop, daemon=True)
        self._thread.start()
        return self

    def stop(self, drain_active: bool = False) -> None:
        if self._stop_evt is not None:
            self._stop_evt.set()
            self._thread.join()
        if drain_active:
            self.poll_once(include_active=True)
            while self.backlog:
                self.poll_once(include_active=True)


def expire_native_segments(
    root: str, retention_millis: int, now_millis: int | None = None
) -> dict:
    """TTL expiry over a native flo data dir (A11,
    controller/mod.rs:158-178): per partition dir, delete the
    CONTIGUOUS PREFIX of sealed segments whose header end-time is
    older than ``now - retention`` — whole-file drops costing one
    header read each (never a per-event delete), stopping at
    the first unexpired segment exactly like the reference's
    take_while (the comparison there reads inverted as written; the
    embedded TTL test and our parquet ``EventStream.expire_old_events``
    pin the drop-expired-prefix intent this follows).  The ACTIVE
    (max-numbered) segment never expires — the reference's writer
    always keeps it."""
    import time as _time

    if now_millis is None:
        now_millis = int(_time.time() * 1000)
    cutoff = now_millis - retention_millis
    report = {"files_deleted": 0, "files_kept": 0, "events_dropped": 0}
    for segs in SegmentIndex(root).dirs.values():
        for i, seg in enumerate(segs):
            if seg.active or seg.header is None:
                report["files_kept"] += 1
                break
            if seg.header[1] >= cutoff:
                report["files_kept"] += len(segs) - i
                break  # take_while: stop at the first unexpired
            report["events_dropped"] += sum(1 for _ in seg.events())
            os.remove(seg.path)
            report["files_deleted"] += 1
    return report


def native_head_status(root: str, full_scan: bool = False) -> list[tuple]:
    """Per-partition head snapshot over a native dir — A13's
    EventStreamStatus (connection_state.rs:94-114) without a server:
    ``[(partition, head_counter, primary), ...]`` sorted by partition.

    The cheap path decodes only each dir's TAIL segments, newest
    first, until one yields events (``SegmentIndex.heads``) — exact
    for flo's one-actor-per-dir layout.  For mixed-actor dirs pass
    ``full_scan=True`` to fold every segment.  ``primary`` is
    constantly true: the embedded/single-engine deployment owns every
    partition it reads (client.rs:207-221; clustering is vestigial)."""
    index = SegmentIndex(root)
    heads: dict[int, int] = {}
    for d in index.dirs:
        for actor, head in index.heads(d, full_scan).items():
            heads[actor] = max(heads.get(actor, 0), head)
    return [(a, heads[a], True) for a in sorted(heads)]


def fsck_native_dir(root: str) -> dict:
    """Integrity check for a native flo data dir — the reference's
    recovery scan (mmap.rs:111-134) and PersistentEvent::validate
    (persistent_event.rs:69-103) packaged as an operational tool
    (``python -m flo_spark --stream-dir DIR --native fsck``).

    Per segment file: header shape (16 bytes, create <= end), full
    event decode (marker / length cross-checks), torn-tail
    classification (PARKED on the active segment — an in-flight
    append, exactly what the recovery scan tolerates — but an ERROR on
    a sealed one, where nothing should ever append again).  Per
    partition dir: counter monotonicity across segment numbers (the
    invariant every reader's file pruning relies on) and header
    end-times covering the events (an end-time below the last event's
    timestamp lets the TTL sweep expire live data).

    Returns ``{files_ok, n_events, errors: [...], warnings: [...],
    torn_active: [...], heads: {actor: head}}`` — empty errors ==
    healthy.  Pure driver-side sequential scan: fsck is an admin
    command, not a query path."""
    report = {
        "files_ok": 0,
        "n_events": 0,
        "errors": [],
        "warnings": [],
        "torn_active": [],
        "heads": {},
    }
    heads = report["heads"]
    for segs in SegmentIndex(root).dirs.values():
        prev_max = None
        for seg in segs:
            path = seg.path
            if seg.header is None:
                report["errors"].append(f"{path}: short or unreadable header")
                continue
            create_ms, end_ms = seg.header
            if end_ms < create_ms:
                report["warnings"].append(
                    f"{path}: header end-time precedes create-time"
                )
            n, lo, hi, max_ts = 0, None, None, None
            try:
                for ev in seg.events():
                    n += 1
                    lo = ev[0] if lo is None else min(lo, ev[0])
                    hi = ev[0] if hi is None else max(hi, ev[0])
                    max_ts = ev[4] if max_ts is None else max(max_ts, ev[4])
                    heads[ev[1]] = max(heads.get(ev[1], 0), ev[0])
            except CorruptRecord as err:
                report["errors"].append(f"{path}: sealed file torn: {err}")
                continue
            finally:
                report["n_events"] += n
            if seg.torn is not None:
                report["torn_active"].append(f"{path}: {seg.torn}")
            if max_ts is not None and end_ms < max_ts:
                report["warnings"].append(
                    f"{path}: header end-time {end_ms} < last event "
                    f"timestamp {max_ts} (TTL could expire live data)"
                )
            if prev_max is not None and lo is not None and lo <= prev_max:
                report["warnings"].append(
                    f"{path}: first counter {lo} <= previous "
                    f"segment's max {prev_max} — within-dir monotonicity "
                    "broken; file pruning will be conservative"
                )
            if hi is not None:
                prev_max = hi
            report["files_ok"] += 1
    return report
