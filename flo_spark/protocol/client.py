"""Blocking flo TCP client — the remote (non-embedded) counterpart of
the reference's sync client (flo-client-lib/src/sync/mod.rs): announce
handshake, stream selection, pipelined produce with acks, and a
credit-flow consume iterator that answers EndOfBatch with NextBatch
automatically.

Works against :class:`flo_spark.protocol.server.FloTcpServer` — or any
server speaking the reference wire protocol, since the codec is
byte-compatible (flo-protocol/src/client.rs)."""

from __future__ import annotations

import socket
from collections.abc import Iterator

from flo_spark.protocol import wire


class FloProtocolError(RuntimeError):
    def __init__(self, err: wire.ErrorMessage):
        super().__init__(f"flo error {err.kind}: {err.description}")
        self.kind = err.kind
        self.op_id = err.op_id


class FloClient:
    def __init__(
        self,
        host: str,
        port: int,
        client_name: str = "flo-spark-client",
        consume_batch_size: int | None = None,
        timeout: float = 30.0,
    ):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        # every message is one small write: Nagle would hold a write
        # that follows an unanswered one (StopConsuming, then the next
        # request) until the server's delayed ACK, about 40 ms
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._framer = wire.Framer()
        self._pending: list = []
        self._op = 0
        self.current_stream = self._rpc(
            wire.Announce(1, self._next_op(), client_name, consume_batch_size),
            wire.StreamStatus,
        )

    # -- plumbing ------------------------------------------------------
    def _next_op(self) -> int:
        self._op += 1
        return self._op

    def _send(self, msg) -> None:
        self._sock.sendall(wire.serialize(msg))

    def _recv(self):
        while not self._pending:
            data = self._sock.recv(65536)
            if not data:
                raise ConnectionError("server closed the connection")
            self._pending.extend(self._framer.feed(data))
        return self._pending.pop(0)

    def _rpc(self, msg, want):
        self._send(msg)
        while True:
            got = self._recv()
            # stale consume traffic can trail a StopConsuming (events
            # already in flight when the stop was sent); skip it rather
            # than mistake it for the rpc response.  A stale EndOfBatch
            # gets no NextBatch, so the server-side cursor stays parked
            # until its StopConsuming arrives.
            if isinstance(
                got,
                (wire.ReceiveEvent, wire.EndOfBatch, wire.AwaitingEvents),
            ):
                continue
            if isinstance(got, wire.ErrorMessage):
                raise FloProtocolError(got)
            if not isinstance(got, want):
                raise RuntimeError(f"expected {want.__name__}, got {got!r}")
            return got

    # -- API -----------------------------------------------------------
    def set_event_stream(self, name: str) -> wire.StreamStatus:
        status = self._rpc(
            wire.SetEventStream(self._next_op(), name), wire.StreamStatus
        )
        self.current_stream = status
        return status

    def set_batch_size(self, batch_size: int) -> None:
        self._send(wire.SetBatchSize(batch_size))

    def produce(
        self,
        partition: int,
        namespace: str,
        data: bytes,
        parent_id: wire.EventId | None = None,
    ) -> wire.EventId:
        op = self._next_op()
        ack = self._rpc(
            wire.ProduceEvent(op, partition, namespace, parent_id, data),
            wire.AckEvent,
        )
        if ack.op_id != op:
            raise RuntimeError(f"ack for op {ack.op_id}, expected {op}")
        return ack.event_id

    def produce_many(
        self,
        events: list[tuple[int, str, bytes]],
        parent_id: wire.EventId | None = None,
    ) -> list[wire.EventId]:
        """Pipelined batch produce — the protocol is pipelined by
        design (op_id correlation, client.rs:102-109): send every
        ProduceEvent back-to-back, then collect the acks, so the batch
        costs ~one round trip instead of one per event (the same
        amortization the reference's produce_all stream drives,
        flo-client-lib/src/async/ops/produce.rs:159-264).  Events are
        ``(partition, namespace, data)``; acks return in send order.
        An ErrorMessage for any op aborts with the ids produced so far
        attached to the exception."""
        ops = []
        for partition, namespace, data in events:
            op = self._next_op()
            ops.append(op)
            self._send(
                wire.ProduceEvent(op, partition, namespace, parent_id, data)
            )
        acks: dict[int, wire.EventId] = {}
        while len(acks) < len(ops):
            got = self._recv()
            if isinstance(got, wire.AckEvent):
                acks[got.op_id] = got.event_id
            elif isinstance(got, wire.ErrorMessage):
                err = FloProtocolError(got)
                err.produced = [acks[o] for o in ops if o in acks]
                raise err
            else:
                raise RuntimeError(f"unexpected during produce: {got!r}")
        return [acks[o] for o in ops]

    def consume(
        self,
        namespace: str = "/**/*",
        version_vector: dict[int, int] | None = None,
        max_events: int = wire.CONSUME_UNLIMITED,
        await_new: bool = False,
    ) -> Iterator[wire.ReceiveEvent]:
        """Iterate events.  ``version_vector`` maps partition ->
        exclusive start counter; ``None`` pins every partition of the
        current stream from 0 (the sync client's VersionVector::
        zero_for convenience).  With ``await_new=False`` iteration
        stops at the server's AwaitingEvents (caught up); with True it
        blocks for live events until ``stop_consuming``/``max_events``.
        EndOfBatch is answered with NextBatch transparently."""
        if version_vector is None:
            version_vector = {
                p.partition_num: 0 for p in self.current_stream.partitions
            }
        op = self._next_op()
        vv = [wire.EventId(c, p) for p, c in sorted(version_vector.items())]
        self._send(wire.NewStartConsuming(op, vv, max_events, namespace))
        first = self._recv()
        if isinstance(first, wire.ErrorMessage):
            raise FloProtocolError(first)
        if not isinstance(first, wire.CursorCreated):
            raise RuntimeError(f"expected CursorCreated, got {first!r}")
        self.cursor = first

        def events():
            delivered = 0
            while True:
                msg = self._recv()
                if isinstance(msg, wire.ReceiveEvent):
                    delivered += 1
                    yield msg
                    if max_events and delivered >= max_events:
                        return
                elif isinstance(msg, wire.EndOfBatch):
                    self._send(wire.NextBatch())
                elif isinstance(msg, wire.AwaitingEvents):
                    if not await_new:
                        self.stop_consuming(op)
                        return
                elif isinstance(msg, wire.ErrorMessage):
                    raise FloProtocolError(msg)
                else:
                    raise RuntimeError(f"unexpected mid-consume: {msg!r}")

        return events()

    def stop_consuming(self, op_id: int | None = None) -> None:
        self._send(wire.StopConsuming(op_id or self._op))

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "FloClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
