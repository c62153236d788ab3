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
  AckEvent with the assigned id.
- NewStartConsuming -> glob validated (InvalidNamespaceGlob on error,
  consumer/mod.rs:111-117), version vector validated (at most one
  entry per partition -> InvalidVersionVector), CursorCreated with the
  effective batch size, then ReceiveEvent* k-way-merged in (counter,
  actor) id order across the PINNED partitions only (sync/mod.rs:
  124-130 — partitions absent from the vv are not read), EndOfBatch
  after batch_size events (resume on NextBatch, consumer_stream/
  mod.rs:115-155), AwaitingEvents exactly once at caught-up
  (client.rs:268-271), live delivery as new events arrive,
  StopConsuming ends the cursor and the connection returns to idle.
- SetBatchSize outside a consume updates the credit window; during a
  consume it is an InvalidConsumerState error (client.rs:261-262).

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
import socket
import socketserver
import struct
import threading
import time

from flo_spark.functions.glob import GlobError, glob_to_regex, is_match_all
from flo_spark.protocol import wire
from flo_spark.sources.flo_segment import HEADER_LEN, SegmentIndex, encode_event

DEFAULT_BATCH_SIZE = 10_000  # connection_state.rs:11


class _Stream:
    """One event stream: per-partition heads + active segments, an
    append lock, and a condition to wake waiting tails."""

    def __init__(self, path: str, max_bytes: int, max_events: int):
        self.path = path
        self.max_bytes = max_bytes
        self.max_events = max_events
        self.lock = threading.Lock()
        self.new_events = threading.Condition(self.lock)
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
            self.new_events.notify_all()
            return wire.EventId(counter, part)

    def status(self, op_id: int, name: str) -> wire.StreamStatus:
        with self.lock:
            parts = [
                wire.PartitionStatus(p, st[0], True)  # primary: A13/A22
                for p, st in sorted(self.parts.items())
            ]
        return wire.StreamStatus(op_id, name, parts)

    def events_after(self, vv: dict[int, int], ns_regex) -> list[tuple]:
        """Snapshot of events with counter > vv[partition], pinned to
        vv's partitions, glob-filtered, in (counter, actor) id order.
        Files fully below the cursor prune on a header peek; a torn
        tail (an append racing this read) parks until the next poll —
        the recovery-scan rule."""
        index = SegmentIndex(self.path)
        out = []
        for d in index.dirs:
            part = index.dir_actor(d)
            if part not in vv:
                continue
            floor = vv[part]
            for seg in index.unread(d, vv, vv):
                out.extend(
                    ev
                    for ev in seg.events()
                    if ev[0] > floor and (ns_regex is None or ns_regex.match(ev[5]))
                )
        out.sort(key=lambda e: (e[0], e[1]))
        return out


class _Handler(socketserver.BaseRequestHandler):
    """One connection: a receiver thread feeds parsed messages into a
    queue; this thread owns all writes."""

    def setup(self):
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
        self.request.sendall(wire.serialize(msg))

    def _next(self, timeout: float | None = None):
        try:
            return self.inbox.get(timeout=timeout)
        except queue.Empty:
            return None

    @property
    def stream(self) -> _Stream:
        return self.server.flo.stream(self.stream_name)

    def handle(self):
        while not self.closed.is_set():
            msg = self._next(timeout=0.2)
            if msg is None:
                continue
            if isinstance(msg, wire.Announce):
                if msg.consume_batch_size:
                    self.batch_size = msg.consume_batch_size
                self._send(self.stream.status(msg.op_id, self.stream_name))
            elif isinstance(msg, wire.SetEventStream):
                if self.server.flo.has_stream(msg.name):
                    self.stream_name = msg.name
                    self._send(self.stream.status(msg.op_id, msg.name))
                else:
                    self._send(
                        wire.ErrorMessage(
                            msg.op_id,
                            wire.ERROR_NO_STREAM,
                            f"no event stream named '{msg.name}'",
                        )
                    )
            elif isinstance(msg, wire.SetBatchSize):
                self.batch_size = msg.batch_size
            elif isinstance(msg, wire.ProduceEvent):
                try:
                    eid = self.stream.produce(
                        msg.partition, msg.namespace, msg.data, msg.parent_id
                    )
                    self._send(wire.AckEvent(msg.op_id, eid))
                except OSError as err:
                    self._send(
                        wire.ErrorMessage(
                            msg.op_id, wire.ERROR_STORAGE_ENGINE_IO, str(err)
                        )
                    )
            elif isinstance(msg, wire.NewStartConsuming):
                self._consume(msg)
            elif isinstance(msg, wire.StopConsuming):
                pass  # no cursor active: ignored, like the reference

    # -- consumer state machine ---------------------------------------
    def _consume(self, start: wire.NewStartConsuming) -> None:
        try:
            rx = (
                None
                if is_match_all(start.namespace)
                else __import__("re").compile(glob_to_regex(start.namespace))
            )
        except GlobError as err:
            self._send(
                wire.ErrorMessage(
                    start.op_id, wire.ERROR_INVALID_NAMESPACE, str(err)
                )
            )
            return
        vv: dict[int, int] = {}
        for eid in start.version_vector:
            if eid.actor in vv:
                self._send(
                    wire.ErrorMessage(
                        start.op_id,
                        wire.ERROR_INVALID_VERSION_VECTOR,
                        f"duplicate entry for partition {eid.actor}",
                    )
                )
                return
            vv[eid.actor] = eid.counter
        self._send(wire.CursorCreated(start.op_id, self.batch_size))

        remaining = (
            None
            if start.max_events == wire.CONSUME_UNLIMITED
            else start.max_events
        )
        batch_left = self.batch_size
        awaiting_sent = False
        stream = self.stream
        while not self.closed.is_set():
            backlog = stream.events_after(vv, rx)
            for ev in backlog:
                if batch_left == 0:
                    self._send(wire.EndOfBatch())
                    if not self._await_next_batch(start.op_id):
                        return
                    batch_left = self.batch_size
                self._send(
                    wire.ReceiveEvent(
                        wire.EventId(ev[0], ev[1]),
                        wire.EventId(ev[2], ev[3]) if ev[2] else None,
                        ev[4],
                        ev[5],
                        bytes(ev[6]),
                    )
                )
                vv[ev[1]] = max(vv.get(ev[1], 0), ev[0])
                batch_left -= 1
                if remaining is not None:
                    remaining -= 1
                    if remaining == 0:
                        return  # event_limit reached: cursor done
                ctl = self._drain_control(start.op_id)
                if ctl == "stop":
                    return
            if not awaiting_sent:
                self._send(wire.AwaitingEvents())
                awaiting_sent = True
            # wait for new events OR a control message
            with stream.lock:
                stream.new_events.wait(timeout=0.2)
            ctl = self._drain_control(start.op_id)
            if ctl == "stop":
                return

    def _produce_inline(self, msg: wire.ProduceEvent) -> None:
        """Produce + ack while a cursor is active — the protocol is
        fully pipelined (op_id correlation, client.rs:102-109), so a
        client may interleave produces with an open consume on one
        socket (the reference's async connection does exactly this,
        flo-client-lib/src/async/mod.rs)."""
        try:
            eid = self.stream.produce(
                msg.partition, msg.namespace, msg.data, msg.parent_id
            )
            self._send(wire.AckEvent(msg.op_id, eid))
        except OSError as err:
            self._send(
                wire.ErrorMessage(
                    msg.op_id, wire.ERROR_STORAGE_ENGINE_IO, str(err)
                )
            )

    def _drain_control(self, op_id: int) -> str | None:
        """Non-blocking: process control messages that may arrive while
        a cursor is active."""
        while True:
            try:
                msg = self.inbox.get_nowait()
            except queue.Empty:
                return None
            if msg is None or isinstance(msg, wire.StopConsuming):
                return "stop"
            if isinstance(msg, wire.ProduceEvent):
                self._produce_inline(msg)
            elif isinstance(msg, wire.SetBatchSize):
                self._send(
                    wire.ErrorMessage(
                        op_id,
                        wire.ERROR_INVALID_CONSUMER_STATE,
                        "cannot set batch size while consuming",
                    )
                )
            # other messages while consuming are protocol misuse; skip

    def _await_next_batch(self, op_id: int) -> bool:
        """Block until NextBatch (True) or StopConsuming/close (False)."""
        while not self.closed.is_set():
            msg = self._next(timeout=0.2)
            if msg is None:
                continue
            if isinstance(msg, wire.NextBatch):
                return True
            if isinstance(msg, wire.StopConsuming):
                return False
            if isinstance(msg, wire.ProduceEvent):
                self._produce_inline(msg)
                continue
            if isinstance(msg, wire.SetBatchSize):
                self._send(
                    wire.ErrorMessage(
                        op_id,
                        wire.ERROR_INVALID_CONSUMER_STATE,
                        "cannot set batch size while consuming",
                    )
                )
        return False

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
