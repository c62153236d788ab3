"""Embedded flo TCP server — serves the reference's client protocol
over a native ``.events`` data dir, so a REMOTE (non-embedded) client
can produce and consume against this engine.

Semantics ported (flo-server/src/engine/connection_handler):

- Announce -> StreamStatus of the default stream; an announced batch
  size overrides the 10k default (connection_state.rs:11,40-48).
- SetEventStream -> StreamStatus of the named stream, or
  ``NoSuchStream`` error (connection_state.rs:58-76).
- ProduceEvent -> contiguous per-partition counter assignment, persist
  to the partition's active segment (rotating on byte/event budgets),
  AckEvent with the assigned id — also while a cursor is open: the
  protocol is pipelined (op_id correlation, client.rs:102-109), and the
  reference's async client interleaves produces with an open consume
  on one socket (flo-client-lib/src/async/mod.rs).
- NewStartConsuming -> glob validated (InvalidNamespaceGlob on error,
  consumer/mod.rs:111-117), version vector validated (at most one
  entry per partition -> InvalidVersionVector), CursorCreated with the
  effective batch size, then ReceiveEvent* in (counter, actor) id order
  across the PINNED partitions only (sync/mod.rs:124-130 — partitions
  absent from the vv are not read), EndOfBatch after batch_size events
  (resume on NextBatch), AwaitingEvents exactly once at caught-up
  (client.rs:268-271), live delivery as new events arrive, the event
  limit or StopConsuming ends the cursor and the connection returns to
  idle.
- SetBatchSize outside a consume updates the credit window; during a
  consume it is an InvalidConsumerState error (client.rs:261-262).

A cursor is flo's consumer state machine (consumer_stream/mod.rs:
115-155) built from one merge, one dispatch and one wait:

- the merge is :meth:`SegmentIndex.merged`, the lazy id-ordered merge
  the credit-flow stream reader also reads: a file decodes only when
  delivery reaches it, so a cursor holds one decoded segment per
  partition and one that stops early never opens the files behind it;
- ``_Handler._dispatch`` acts on every inbound message, and knows
  whether a cursor is open;
- the handler thread blocks only in ``inbox.get()``, in ``_Handler.
  _next``, which first sends, in one write, the replies an open cursor
  buffered since the handler last went idle; with no cursor open each
  reply is written at once.  The receiver thread puts every message
  into the inbox, and ``None`` at close.  Before each merge pass a
  cursor registers its inbox with the stream, under the stream lock,
  and the next append puts a wake token into it — so an append that
  lands after the pass went by still wakes the cursor.

Storage is the same on-disk layout every other reader in this engine
uses (``<root>/<stream>/p<N>/<seg>.events``), read through the same
:class:`~flo_spark.sources.flo_segment.SegmentIndex`, so a dir
populated over TCP is directly scannable by ``spark.read.format("flo")``
and vice versa.  On start each stream rebuilds its heads from that
index and cuts a torn record off the tail of each active segment: the
append that tore was never acked.  The server is an operational
sidecar for remote clients — the 100 TB analytics path stays the
distributed Spark scan; nothing here is on a query hot path.
"""

from __future__ import annotations

import os
import queue
import re
import socketserver
import struct
import threading
import time
from collections.abc import Iterator

from flo_spark.functions.glob import GlobError, glob_to_regex, is_match_all
from flo_spark.protocol import wire
from flo_spark.sources.flo_segment import HEADER_LEN, SegmentIndex, encode_event

DEFAULT_BATCH_SIZE = 10_000  # connection_state.rs:11

#: what ``_Handler._dispatch`` reports to an open cursor; ``_WAKE`` is
#: also the token an append puts into a registered inbox
_STOP, _NEXT, _WAKE = "stop", "next", "wake"


class _Stream:
    """One event stream: per-partition heads + active segments, an
    append lock, and the inboxes to wake at the next append."""

    def __init__(self, path: str, max_bytes: int, max_events: int):
        self.path = path
        self.max_bytes = max_bytes
        self.max_events = max_events
        self.lock = threading.Lock()
        #: inboxes that get a wake token at the next append (once)
        self.waiting: set[queue.Queue] = set()
        #: partition -> [head_counter, active_path, n_events, n_bytes]
        self.parts: dict[int, list] = {}
        os.makedirs(path, exist_ok=True)
        self._recover()

    def _recover(self) -> None:
        """Rebuild heads + active-segment fill from the dir — the same
        one-pass recovery scan flo runs at startup (mmap.rs:111-134).
        A torn record at the tail of an active segment is an append
        that crashed before its ack was sent, so it is cut off: appends
        go to the end of the file, and would land behind it."""
        index = SegmentIndex(self.path)
        for d, segs in index.dirs.items():
            part = index.dir_actor(d)
            if part is None:
                continue
            active = segs[-1]
            n = head = 0
            for ev in active.events():
                n += 1
                head = max(head, ev[0])
            if n == 0:
                head = max(index.heads(d).values(), default=0)
            if os.path.getsize(active.path) != active.valid_len:
                os.truncate(active.path, active.valid_len)
            self.parts[part] = [head, active.path, n, active.valid_len]

    def _fresh_segment(self, part: int, now_ms: int) -> str:
        d = os.path.join(self.path, f"p{part}")
        os.makedirs(d, exist_ok=True)
        seg = os.path.join(d, f"{SegmentIndex(d).next_num(d)}.events")
        with open(seg, "wb") as f:
            f.write(struct.pack(">QQ", now_ms, now_ms))
        return seg

    def produce(
        self,
        part: int,
        namespace: str,
        data: bytes,
        parent: wire.EventId | None,
    ) -> wire.EventId:
        now_ms = int(time.time() * 1000)
        with self.lock:
            st = self.parts.get(part)
            if st is None:
                st = self.parts[part] = [
                    0,
                    self._fresh_segment(part, now_ms),
                    0,
                    HEADER_LEN,
                ]
            counter = st[0] + 1
            encoded = encode_event(
                counter,
                part,
                parent.counter if parent else None,
                parent.actor if parent else None,
                now_ms,
                namespace,
                data,
            )
            if st[2] > 0 and (
                st[3] + len(encoded) > self.max_bytes
                or st[2] >= self.max_events
            ):
                st[1] = self._fresh_segment(part, now_ms)
                st[2], st[3] = 0, HEADER_LEN
            with open(st[1], "r+b") as f:
                f.seek(0, os.SEEK_END)
                f.write(encoded)
                f.seek(8)
                f.write(struct.pack(">Q", now_ms))  # header end-time
            st[0] = counter
            st[2] += 1
            st[3] += len(encoded)
            for inbox in self.waiting:
                inbox.put(_WAKE)
            self.waiting.clear()
            return wire.EventId(counter, part)

    def status(self, op_id: int, name: str) -> wire.StreamStatus:
        with self.lock:
            parts = [
                wire.PartitionStatus(p, st[0], True)  # primary: A13/A22
                for p, st in sorted(self.parts.items())
            ]
        return wire.StreamStatus(op_id, name, parts)

    def read_past(
        self, vv: dict[int, int], inbox: queue.Queue
    ) -> Iterator[tuple]:
        """The events past ``vv`` of its partitions, lazily merged in id
        order.  ``inbox`` is registered first, under the lock, so the
        next append wakes it even when this read has already gone by."""
        with self.lock:
            self.waiting.add(inbox)
        return SegmentIndex(self.path).merged(vv, frozenset(vv))

    def appended_since_read(self, inbox: queue.Queue) -> bool:
        """True once an append has come since ``inbox`` last read."""
        with self.lock:
            return inbox not in self.waiting

    def forget(self, inbox: queue.Queue) -> None:
        with self.lock:
            self.waiting.discard(inbox)


class _Handler(socketserver.BaseRequestHandler):
    """One connection: a receiver thread feeds parsed messages into a
    queue; this thread owns all writes."""

    #: a cursor's buffered replies past this many bytes are sent
    #: without waiting for the handler to go idle
    FLUSH_BYTES = 1 << 16

    def setup(self):
        self.out = bytearray()
        #: the op id of the open cursor, None when there is none.  A
        #: cursor's replies (CursorCreated, the events, AwaitingEvents)
        #: leave in one write when the handler goes idle: written one by
        #: one, Nagle held each reply that followed an unanswered one
        #: until the client's delayed ACK, about 40 ms.  Outside a
        #: cursor each reply is written at once.
        self.cursor: int | None = None
        self.framer = wire.Framer()
        self.inbox: queue.Queue = queue.Queue()
        self.closed = threading.Event()
        self.batch_size = DEFAULT_BATCH_SIZE
        self.stream_name = self.server.flo.default_stream
        self._recv_thread = threading.Thread(target=self._recv, daemon=True)
        self._recv_thread.start()

    def _recv(self):
        try:
            while not self.closed.is_set():
                data = self.request.recv(65536)
                if not data:
                    break
                for msg in self.framer.feed(data):
                    self.inbox.put(msg)
        except OSError:
            pass
        finally:
            self.closed.set()
            self.inbox.put(None)  # wake the handler

    def _send(self, msg) -> None:
        self.out += wire.serialize(msg)
        if self.cursor is None or len(self.out) >= self.FLUSH_BYTES:
            self._flush()

    def _flush(self) -> None:
        self.request.sendall(self.out)
        self.out.clear()

    def _next(self):
        """The one blocking call: the next inbox message, after sending
        every buffered reply if it has to wait for it."""
        if self.out and self.inbox.empty():
            self._flush()
        return self.inbox.get()

    def _error(self, op_id: int, kind: int, text: str) -> None:
        self._send(wire.ErrorMessage(op_id, kind, text))

    @property
    def stream(self) -> _Stream:
        return self.server.flo.stream(self.stream_name)

    def handle(self):
        while not self.closed.is_set():
            self._dispatch(self._next())

    def _dispatch(self, msg) -> str | None:
        """Act on one inbox message.  Returns ``_STOP`` when the cursor
        or the connection ends, ``_NEXT`` for NextBatch and ``_WAKE``
        for a wake token; None otherwise."""
        cursor = self.cursor
        if msg is None or (
            cursor is not None and isinstance(msg, wire.StopConsuming)
        ):
            return _STOP
        if msg is _WAKE:
            return _WAKE
        if isinstance(msg, wire.NextBatch):
            return _NEXT
        if isinstance(msg, wire.ProduceEvent):
            try:
                eid = self.stream.produce(
                    msg.partition, msg.namespace, msg.data, msg.parent_id
                )
                self._send(wire.AckEvent(msg.op_id, eid))
            except OSError as err:
                self._error(msg.op_id, wire.ERROR_STORAGE_ENGINE_IO, str(err))
        elif isinstance(msg, wire.SetBatchSize):
            if cursor is None:
                self.batch_size = msg.batch_size
            else:
                self._error(
                    cursor,
                    wire.ERROR_INVALID_CONSUMER_STATE,
                    "cannot set batch size while consuming",
                )
        elif cursor is not None:
            pass  # any other message while consuming is protocol misuse
        elif isinstance(msg, wire.Announce):
            if msg.consume_batch_size:
                self.batch_size = msg.consume_batch_size
            self._send(self.stream.status(msg.op_id, self.stream_name))
        elif isinstance(msg, wire.SetEventStream):
            if self.server.flo.has_stream(msg.name):
                self.stream_name = msg.name
                self._send(self.stream.status(msg.op_id, msg.name))
            else:
                self._error(
                    msg.op_id,
                    wire.ERROR_NO_STREAM,
                    f"no event stream named '{msg.name}'",
                )
        elif isinstance(msg, wire.NewStartConsuming):
            self._consume(msg)
        # StopConsuming with no cursor open: ignored, like the reference
        return None

    def _wait(self, until: str) -> bool:
        """Dispatch inbox messages, blocking in ``_next``, until
        ``until`` comes (True) or the cursor ends (False)."""
        while True:
            ctl = self._dispatch(self._next())
            if ctl == until:
                return True
            if ctl == _STOP:
                return False

    def _consume(self, start: wire.NewStartConsuming) -> None:
        op = start.op_id
        try:
            rx = (
                None
                if is_match_all(start.namespace)
                else re.compile(glob_to_regex(start.namespace))
            )
        except GlobError as err:
            return self._error(op, wire.ERROR_INVALID_NAMESPACE, str(err))
        vv: dict[int, int] = {}
        for eid in start.version_vector:
            if eid.actor in vv:
                return self._error(
                    op,
                    wire.ERROR_INVALID_VERSION_VECTOR,
                    f"duplicate entry for partition {eid.actor}",
                )
            vv[eid.actor] = eid.counter
        remaining = (
            None
            if start.max_events == wire.CONSUME_UNLIMITED
            else start.max_events
        )
        credit = self.batch_size
        awaiting_sent = False
        stream = self.stream
        self.cursor = op
        try:
            self._send(wire.CursorCreated(op, self.batch_size))
            while True:
                for ev in stream.read_past(vv, self.inbox):
                    vv[ev[1]] = ev[0]
                    if rx is not None and not rx.match(ev[5]):
                        continue
                    if credit == 0:
                        self._send(wire.EndOfBatch())
                        if not self._wait(_NEXT):
                            return
                        credit = self.batch_size
                    self._send(
                        wire.ReceiveEvent(
                            wire.EventId(ev[0], ev[1]),
                            wire.EventId(ev[2], ev[3]) if ev[2] else None,
                            ev[4],
                            ev[5],
                            bytes(ev[6]),
                        )
                    )
                    credit -= 1
                    if remaining is not None:
                        remaining -= 1
                        if remaining == 0:
                            return  # event_limit reached: cursor done
                    # a StopConsuming stops delivery before the next event
                    while not self.inbox.empty():
                        msg = self.inbox.get_nowait()
                        if self._dispatch(msg) == _STOP:
                            return
                if not awaiting_sent:
                    self._send(wire.AwaitingEvents())
                    awaiting_sent = True
                if stream.appended_since_read(self.inbox):
                    continue  # the next pass reads what this one missed
                if not self._wait(_WAKE):
                    return
        finally:
            self.cursor = None
            stream.forget(self.inbox)

    def finish(self):
        self.closed.set()


class _TcpServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class FloTcpServer:
    """``with FloTcpServer(root) as srv: ... srv.port ...`` — an
    embedded flo server over a native data dir."""

    def __init__(
        self,
        root: str,
        host: str = "127.0.0.1",
        port: int = 0,
        default_stream: str = "default",
        max_segment_bytes: int = 1 << 30,
        max_events_per_segment: int = 1_000_000,
    ):
        self.root = root
        self.default_stream = default_stream
        self.max_segment_bytes = max_segment_bytes
        self.max_events_per_segment = max_events_per_segment
        self._streams: dict[str, _Stream] = {}
        self._streams_lock = threading.Lock()
        self.stream(default_stream)  # ensure the default exists
        self._server = _TcpServer((host, port), _Handler)
        self._server.flo = self
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def stream(self, name: str) -> _Stream:
        with self._streams_lock:
            st = self._streams.get(name)
            if st is None:
                st = self._streams[name] = _Stream(
                    os.path.join(self.root, name),
                    self.max_segment_bytes,
                    self.max_events_per_segment,
                )
            return st

    def has_stream(self, name: str) -> bool:
        return name in self._streams or os.path.isdir(
            os.path.join(self.root, name)
        )

    def start(self) -> "FloTcpServer":
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "FloTcpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.shutdown()
