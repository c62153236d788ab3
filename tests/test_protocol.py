"""flo TCP wire protocol: codec round trips (byte-compatible with
flo-protocol/src/client.rs), and client<->server sessions over a real
socket against a native data dir."""

import os
import sys
import threading
import time

import pytest

from flo_spark.protocol import wire
from flo_spark.protocol.client import FloClient, FloProtocolError
from flo_spark.protocol.server import FloTcpServer
from flo_spark.sources.flo_segment import encode_event

# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

ROUND_TRIP_MESSAGES = [
    # mirrors the reference's serde tests (client.rs:736-901)
    wire.Announce(1, 765, "nathan", 456),
    wire.Announce(1, 2, "noname", None),
    wire.StreamStatus(
        6425,
        "foo",
        [
            wire.PartitionStatus(1, 638, True),
            wire.PartitionStatus(2, 0, False),
            wire.PartitionStatus(3, 638, True),
        ],
    ),
    wire.StreamStatus(0, "", []),
    wire.SetEventStream(7264, "foo"),
    wire.NewStartConsuming(
        321,
        [wire.EventId(5, 1), wire.EventId(8, 3), wire.EventId(5, 8)],
        987,
        "/foo/bar/*",
    ),
    wire.NewStartConsuming(3, [wire.EventId(0, 1)], 1, "/foo/*"),
    wire.ReceiveEvent(
        wire.EventId(5, 4), wire.EventId(3, 4), 99, "/foo/bar", b"\x09" * 99
    ),
    wire.ReceiveEvent(wire.EventId(1, 1), None, 0, "", b""),
    wire.StopConsuming(345),
    wire.CursorCreated(543, 78910),
    wire.NextBatch(),
    wire.EndOfBatch(),
    wire.SetBatchSize(1234567),
    wire.AwaitingEvents(),
    wire.ErrorMessage(
        12345, wire.ERROR_INVALID_NAMESPACE, "some glob problem"
    ),
    wire.AckEvent(2345667, wire.EventId(456, 123)),
    wire.ProduceEvent(
        9, 7, "/the/namespace", wire.EventId(456, 123), b"\x09" * 5
    ),
    wire.ProduceEvent(1, 1, "/n", None, b""),  # null parent, empty body
]


@pytest.mark.parametrize(
    "msg", ROUND_TRIP_MESSAGES, ids=lambda m: type(m).__name__
)
def test_serialize_parse_round_trip(msg):
    buf = wire.serialize(msg) + bytes([4, 3, 2, 1])  # trailing junk
    got, pos = wire.parse_one(buf)
    assert got == msg
    assert buf[pos:] == bytes([4, 3, 2, 1])


def test_string_layout_matches_reference():
    """u16-length-prefixed utf-8 (serializer.rs:151-162)."""
    out = wire.serialize(wire.SetEventStream(0, "bacon and eggs"))
    assert out[5:7] == bytes([0, 14])
    assert out[7:] == b"bacon and eggs"


def test_incomplete_event_header_is_parsed_as_need_more():
    """The reference's `this_works_how_i_think_it_does` vector
    (client.rs:923-936): a ReceiveEvent header that declares a 12137-
    byte body must come back incomplete, not error."""
    buf = bytes(
        [3]
        + [0, 0, 0, 0, 0, 0, 1, 34, 0, 1]
        + [0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
        + [0, 0, 1, 93, 77, 45, 214, 26]
        + [47, 101, 118, 101]
    )
    with pytest.raises(wire.NeedMore):
        wire.parse_one(buf)


def test_framer_reassembles_byte_at_a_time():
    msgs = [
        wire.ProduceEvent(1, 2, "/a", None, b"payload"),
        wire.AckEvent(1, wire.EventId(10, 2)),
        wire.ReceiveEvent(wire.EventId(10, 2), None, 5, "/a", b"xyz"),
        wire.NextBatch(),
    ]
    blob = b"".join(wire.serialize(m) for m in msgs)
    f = wire.Framer()
    got = []
    for i in range(len(blob)):
        got.extend(f.feed(blob[i : i + 1]))
    assert got == msgs


def test_unknown_tag_raises():
    with pytest.raises(ValueError, match="unknown message tag"):
        wire.parse_one(bytes([99, 0, 0]))


# ---------------------------------------------------------------------------
# client <-> server sessions
# ---------------------------------------------------------------------------


@pytest.fixture()
def server(tmp_path):
    with FloTcpServer(str(tmp_path / "flo_data")) as srv:
        yield srv


def test_announce_handshake_returns_stream_status(server):
    with FloClient(server.host, server.port, client_name="t1") as c:
        assert c.current_stream.name == "default"
        assert c.current_stream.partitions == []


def test_produce_assigns_contiguous_ids_per_partition(server):
    with FloClient(server.host, server.port) as c:
        ids = [c.produce(1, "/a/x", f"d{i}".encode()) for i in range(5)]
        assert [e.counter for e in ids] == [1, 2, 3, 4, 5]
        assert all(e.actor == 1 for e in ids)
        other = c.produce(2, "/a/y", b"z")
        assert (other.counter, other.actor) == (1, 2)
        status = c.set_event_stream("default")
        assert [(p.partition_num, p.head, p.primary) for p in status.partitions] == [
            (1, 5, True),
            (2, 1, True),
        ]


def test_consume_merges_partitions_in_id_order(server):
    with FloClient(server.host, server.port) as c:
        for i in range(4):
            c.produce(1, "/a/x", f"p1-{i}".encode())
            c.produce(2, "/a/x", f"p2-{i}".encode())
        c.set_event_stream("default")  # refresh partition list
        got = list(c.consume())
        assert [(e.id.counter, e.id.actor) for e in got] == [
            (1, 1),
            (1, 2),
            (2, 1),
            (2, 2),
            (3, 1),
            (3, 2),
            (4, 1),
            (4, 2),
        ]
        assert got[0].data == b"p1-0"


def test_consume_version_vector_pins_partitions(server):
    with FloClient(server.host, server.port) as c:
        for i in range(4):
            c.produce(1, "/a", b"x")
            c.produce(2, "/a", b"y")
        got = list(c.consume(version_vector={1: 2}))
        # partition 2 absent from the vv: not read (sync/mod.rs:124-130)
        assert [(e.id.counter, e.id.actor) for e in got] == [(3, 1), (4, 1)]


def test_consume_glob_and_max_events(server):
    with FloClient(server.host, server.port) as c:
        for i in range(6):
            c.produce(1, "/keep/x" if i % 2 == 0 else "/skip/y", b"d")
        got = list(c.consume(namespace="/keep/*", version_vector={1: 0}))
        assert [e.id.counter for e in got] == [1, 3, 5]
        got2 = list(
            c.consume(namespace="/keep/*", version_vector={1: 0}, max_events=2)
        )
        assert [e.id.counter for e in got2] == [1, 3]


def test_batch_credit_flow_and_renegotiation(server):
    """EndOfBatch arrives every batch_size events and the cursor parks
    until NextBatch; SetBatchSize between consumes renegotiates."""
    import socket as _socket

    with FloClient(server.host, server.port) as c:
        for i in range(7):
            c.produce(1, "/a", str(i).encode())

    # raw socket session to observe the protocol without client sugar
    s = _socket.create_connection((server.host, server.port), timeout=10)
    f = wire.Framer()

    def recv_one():
        while True:
            msgs = f.feed(s.recv(65536))
            if msgs:
                return msgs

    pending = []

    def nxt():
        if pending:
            return pending.pop(0)
        got = recv_one()
        pending.extend(got[1:])
        return got[0]

    s.sendall(wire.serialize(wire.Announce(1, 1, "raw", 3)))
    status = nxt()
    assert isinstance(status, wire.StreamStatus)
    s.sendall(
        wire.serialize(
            wire.NewStartConsuming(2, [wire.EventId(0, 1)], 0, "/**/*")
        )
    )
    assert nxt() == wire.CursorCreated(2, 3)  # announced batch size used
    seen = []
    for _ in range(3):
        m = nxt()
        assert isinstance(m, wire.ReceiveEvent)
        seen.append(m.id.counter)
    assert nxt() == wire.EndOfBatch()
    # batch-size change DURING consume is an error (client.rs:261-262)
    s.sendall(wire.serialize(wire.SetBatchSize(5)))
    err = nxt()
    assert isinstance(err, wire.ErrorMessage)
    assert err.kind == wire.ERROR_INVALID_CONSUMER_STATE
    s.sendall(wire.serialize(wire.NextBatch()))
    for _ in range(3):
        m = nxt()
        assert isinstance(m, wire.ReceiveEvent)
        seen.append(m.id.counter)
    assert nxt() == wire.EndOfBatch()
    s.sendall(wire.serialize(wire.NextBatch()))
    m = nxt()
    seen.append(m.id.counter)
    assert seen == [1, 2, 3, 4, 5, 6, 7]
    assert nxt() == wire.AwaitingEvents()
    s.sendall(wire.serialize(wire.StopConsuming(2)))
    s.close()


def test_consume_errors(server):
    with FloClient(server.host, server.port) as c:
        c.produce(1, "/a", b"x")
        with pytest.raises(FloProtocolError) as e1:
            list(c.consume(namespace="/foo[unclosed", version_vector={1: 0}))
        assert e1.value.kind == wire.ERROR_INVALID_NAMESPACE
        # duplicate partition entry in the version vector
        op = c._next_op()
        c._send(
            wire.NewStartConsuming(
                op, [wire.EventId(0, 1), wire.EventId(2, 1)], 0, "/**/*"
            )
        )
        got = c._recv()
        assert isinstance(got, wire.ErrorMessage)
        assert got.kind == wire.ERROR_INVALID_VERSION_VECTOR
        with pytest.raises(FloProtocolError) as e2:
            c.set_event_stream("nope")
        assert e2.value.kind == wire.ERROR_NO_STREAM


def test_live_tail_sees_new_events(server):
    with FloClient(server.host, server.port) as producer:
        producer.produce(1, "/live/a", b"first")

        consumer = FloClient(server.host, server.port)
        got = []

        def tail():
            for ev in consumer.consume(
                version_vector={1: 0}, await_new=True, max_events=3
            ):
                got.append(ev.id.counter)

        t = threading.Thread(target=tail, daemon=True)
        t.start()
        deadline = time.time() + 10
        while len(got) < 1 and time.time() < deadline:
            time.sleep(0.05)
        producer.produce(1, "/live/b", b"second")
        producer.produce(1, "/live/c", b"third")
        t.join(timeout=10)
        assert got == [1, 2, 3]
        consumer.close()


def test_caught_up_consume_returns_without_a_timed_wait(server):
    """Twenty rounds of produce, then a consume that is caught up, on
    one connection: the cursor ends on the StopConsuming sent after
    AwaitingEvents at once, and the next request is answered at once."""
    with FloClient(server.host, server.port) as c:
        t0 = time.perf_counter()
        for _ in range(20):
            head = c.produce(1, "/round", b"x").counter
            assert list(c.consume(version_vector={1: head})) == []
        assert time.perf_counter() - t0 < 2.0


def test_consume_decodes_only_the_segments_it_delivers(tmp_path, monkeypatch):
    """The cursor merge is lazy: with max_events=1 over a partition of
    three segments, only the first segment file is ever decoded."""
    from flo_spark.sources.flo_segment import SegmentFile

    with FloTcpServer(str(tmp_path / "d"), max_events_per_segment=2) as srv:
        with FloClient(srv.host, srv.port) as c:
            for _ in range(6):
                c.produce(1, "/a", b"x")
            assert sorted(os.listdir(tmp_path / "d" / "default" / "p1")) == [
                "0.events",
                "1.events",
                "2.events",
            ]
            opened = []
            real = SegmentFile.events

            def spy(self):
                opened.append(os.path.basename(self.path))
                return real(self)

            monkeypatch.setattr(SegmentFile, "events", spy)
            got = list(c.consume(version_vector={1: 0}, max_events=1))
            assert [e.id.counter for e in got] == [1]
            # the cursor ended at its limit; this produce is acked after it
            assert c.produce(1, "/a", b"x").counter == 7
    assert opened == ["0.events"], opened


def test_named_streams_are_isolated(server):
    with FloClient(server.host, server.port) as c:
        c.produce(1, "/d", b"on-default")
        server.stream("other")  # create a second stream server-side
        c.set_event_stream("other")
        c.produce(1, "/o", b"on-other")
        got = list(c.consume(version_vector={1: 0}))
        assert [e.data for e in got] == [b"on-other"]
        c.set_event_stream("default")
        got2 = list(c.consume(version_vector={1: 0}))
        assert [e.data for e in got2] == [b"on-default"]


def test_server_recovers_heads_from_disk(tmp_path):
    root = str(tmp_path / "recover")
    with FloTcpServer(root) as srv:
        with FloClient(srv.host, srv.port) as c:
            for _ in range(5):
                c.produce(3, "/r", b"x")
    with FloTcpServer(root) as srv2:
        with FloClient(srv2.host, srv2.port) as c2:
            eid = c2.produce(3, "/r", b"y")
            assert (eid.counter, eid.actor) == (6, 3)  # head recovered
            status = c2.set_event_stream("default")
            assert [(p.partition_num, p.head) for p in status.partitions] == [
                (3, 6)
            ]


_TORN_N = 5
#: byte length of the last event the torn-tail tests produce
_TORN_LAST_LEN = len(encode_event(_TORN_N, 1, None, None, 0, "/torn", b"e-05"))


@pytest.fixture(scope="module")
def torn_server(tmp_path_factory):
    """One server restarted over a root that holds, per cut, a stream
    ``c<cut>`` whose p1 active segment lost its last ``cut`` bytes.
    Each stream runs its recovery scan when first opened."""
    src = str(tmp_path_factory.mktemp("torn_src"))
    with FloTcpServer(src) as srv:
        with FloClient(srv.host, srv.port) as c:
            for i in range(1, _TORN_N + 1):
                c.produce(1, "/torn", b"e-%02d" % i)
    with open(os.path.join(src, "default", "p1", "0.events"), "rb") as f:
        blob = f.read()
    root = str(tmp_path_factory.mktemp("torn"))
    for cut in range(1, _TORN_LAST_LEN):
        os.makedirs(os.path.join(root, f"c{cut}", "p1"))
        with open(os.path.join(root, f"c{cut}", "p1", "0.events"), "wb") as f:
            f.write(blob[:-cut])
    with FloTcpServer(root) as srv:
        yield srv


@pytest.mark.parametrize("cut", range(1, _TORN_LAST_LEN))
def test_server_restarts_over_torn_tail(torn_server, cut):
    """A crash mid-append leaves the last event of the active segment
    torn at any byte.  That event was never acked, so the restarted
    server drops it: head n-1, the next produce gets counter n, and a
    consume returns every whole event plus the new one."""
    with FloClient(torn_server.host, torn_server.port) as c:
        status = c.set_event_stream(f"c{cut}")
        assert [(p.partition_num, p.head) for p in status.partitions] == [
            (1, _TORN_N - 1)
        ]
        eid = c.produce(1, "/torn", b"new")
        assert (eid.counter, eid.actor) == (_TORN_N, 1)
        got = list(c.consume(version_vector={1: 0}))
    assert [(e.id.counter, e.data) for e in got] == [
        (i, b"e-%02d" % i) for i in range(1, _TORN_N)
    ] + [(_TORN_N, b"new")]


def test_parent_id_round_trips_through_server(server):
    with FloClient(server.host, server.port) as c:
        root_id = c.produce(1, "/p", b"root")
        child_id = c.produce(1, "/p", b"child", parent_id=root_id)
        assert child_id.counter == root_id.counter + 1
        got = {e.id.counter: e for e in c.consume(version_vector={1: 0})}
        assert got[root_id.counter].parent_id is None
        assert got[child_id.counter].parent_id == root_id


# ---------------------------------------------------------------------------
# interop: the TCP surface and the Spark scan share one storage format
# ---------------------------------------------------------------------------


def test_tcp_produced_dir_is_spark_readable(spark, tmp_path):
    """Events produced over the wire protocol are directly scannable by
    spark.read.format("flo") — one storage format, two access paths."""
    from flo_spark.sources.flo_datasource import register

    root = str(tmp_path / "interop")
    with FloTcpServer(root) as srv:
        with FloClient(srv.host, srv.port) as c:
            for i in range(10):
                c.produce((i % 2) + 1, f"/ns/{i % 3}", f"payload-{i}".encode())
    register(spark)
    df = spark.read.format("flo").load(f"{root}/default")
    rows = df.collect()
    assert len(rows) == 10
    assert sorted((r.event_counter, r.actor) for r in rows) == sorted(
        ((i // 2) + 1, (i % 2) + 1) for i in range(10)
    )
    datas = {bytes(r.data) for r in rows}
    assert datas == {f"payload-{i}".encode() for i in range(10)}


def test_spark_written_dir_is_tcp_consumable(spark, tmp_path):
    """The converse: a dir written by the Spark flo writer serves
    remote consumers over TCP."""
    import datetime as dt

    from pyspark.sql import Row

    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.sources.flo_datasource import register

    register(spark)
    root = str(tmp_path / "interop2")
    stream_dir = f"{root}/default"
    rows = [
        Row(
            event_counter=i + 1,
            actor=1,
            parent_counter=None,
            parent_actor=None,
            timestamp=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
            namespace="/s/x",
            data=bytearray(f"spark-{i}".encode()),
            partition=1,
        )
        for i in range(6)
    ]
    spark.createDataFrame(rows, schema=EVENT_SCHEMA).coalesce(1).write.format(
        "flo"
    ).mode("append").save(stream_dir)
    with FloTcpServer(root) as srv:
        with FloClient(srv.host, srv.port) as c:
            got = list(c.consume(version_vector={1: 0}))
            assert [e.data for e in got] == [
                f"spark-{i}".encode() for i in range(6)
            ]
            # and the recovered head continues the counter sequence
            eid = c.produce(1, "/s/y", b"over-tcp")
            assert eid.counter == 7


def test_pipelined_produce_many(server):
    """produce_many sends every ProduceEvent before reading acks (the
    protocol's op_id pipelining), and acks come back in send order with
    contiguous per-partition ids."""
    with FloClient(server.host, server.port) as c:
        events = [((i % 2) + 1, f"/pipe/{i}", f"e{i}".encode()) for i in range(20)]
        ids = c.produce_many(events)
        assert len(ids) == 20
        per_part = {}
        for (part, _ns, _d), eid in zip(events, ids):
            assert eid.actor == part
            per_part.setdefault(part, []).append(eid.counter)
        assert per_part[1] == list(range(1, 11))
        assert per_part[2] == list(range(1, 11))
        # the stream agrees
        got = list(c.consume(version_vector={1: 0, 2: 0}))
        assert len(got) == 20


# ---------------------------------------------------------------------------
# property tests: random messages must round-trip bit-exactly
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_ns = st.text(
    alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)),
    max_size=80,
)
_eid = st.builds(
    wire.EventId, st.integers(1, 2**63 - 1), st.integers(0, 2**16 - 1)
)
_opt_eid = st.one_of(st.none(), _eid)

_message = st.one_of(
    st.builds(
        wire.Announce,
        st.integers(0, 2**32 - 1),
        st.integers(0, 2**32 - 1),
        _ns,
        st.one_of(st.none(), st.integers(1, 2**32 - 1)),
    ),
    st.builds(
        wire.ProduceEvent,
        st.integers(0, 2**32 - 1),
        st.integers(0, 2**16 - 1),
        _ns,
        _opt_eid,
        st.binary(max_size=200),
    ),
    st.builds(
        wire.ReceiveEvent,
        _eid,
        _opt_eid,
        st.integers(0, 2**63 - 1),
        _ns,
        st.binary(max_size=200),
    ),
    st.builds(wire.AckEvent, st.integers(0, 2**32 - 1), _eid),
    st.builds(
        wire.NewStartConsuming,
        st.integers(0, 2**32 - 1),
        st.lists(
            st.builds(
                wire.EventId, st.integers(0, 2**63 - 1), st.integers(0, 2**16 - 1)
            ),
            max_size=8,
        ),
        st.integers(0, 2**63 - 1),
        _ns,
    ),
    st.builds(
        wire.StreamStatus,
        st.integers(0, 2**32 - 1),
        _ns,
        st.lists(
            st.builds(
                wire.PartitionStatus,
                st.integers(0, 2**16 - 1),
                st.integers(0, 2**63 - 1),
                st.booleans(),
            ),
            max_size=6,
        ),
    ),
    st.builds(
        wire.ErrorMessage,
        st.integers(0, 2**32 - 1),
        st.sampled_from(sorted(wire.ERROR_KINDS)),
        _ns,
    ),
    st.builds(wire.SetBatchSize, st.integers(0, 2**32 - 1)),
    st.builds(wire.StopConsuming, st.integers(0, 2**32 - 1)),
    st.builds(wire.CursorCreated, st.integers(0, 2**32 - 1), st.integers(0, 2**32 - 1)),
)


@settings(max_examples=300, deadline=None)
@given(msgs=st.lists(_message, min_size=1, max_size=6), chunk=st.integers(1, 64))
def test_wire_property_random_messages_roundtrip_through_framer(msgs, chunk):
    """Any message sequence, any unicode namespace, any payload, fed
    through the Framer in arbitrary chunk sizes, comes back verbatim
    and in order."""
    blob = b"".join(wire.serialize(m) for m in msgs)
    f = wire.Framer()
    got = []
    for i in range(0, len(blob), chunk):
        got.extend(f.feed(blob[i : i + chunk]))
    assert got == msgs


def test_concurrent_producers_and_tailing_consumers(server):
    """Stress the server's locking: 4 producer connections interleave
    on 2 partitions while 2 live consumers tail — every consumer sees
    every event exactly once in id order, and each partition's counters
    come out contiguous.  A short switch interval interleaves the
    threads often, so an append that slips between a cursor's read and
    its wait, and is lost, hangs a consumer."""
    N_PER_PRODUCER = 25
    n_producers = 4
    total = N_PER_PRODUCER * n_producers

    results = {}
    errors = []

    def produce(worker):
        try:
            with FloClient(server.host, server.port) as c:
                for i in range(N_PER_PRODUCER):
                    c.produce((worker % 2) + 1, f"/w{worker}", f"{worker}-{i}".encode())
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    def consume(tag):
        try:
            c = FloClient(server.host, server.port)
            got = [
                (e.id.counter, e.id.actor)
                for e in c.consume(
                    version_vector={1: 0, 2: 0}, await_new=True, max_events=total
                )
            ]
            results[tag] = got
            c.close()
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    threads = [
        threading.Thread(target=consume, args=(t,), daemon=True)
        for t in ("c1", "c2")
    ] + [
        threading.Thread(target=produce, args=(w,), daemon=True)
        for w in range(n_producers)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive(), "stress thread hung"
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors

    for tag in ("c1", "c2"):
        got = results[tag]
        assert len(got) == total
        # exactly-once per event
        assert len(set(got)) == total
        # per-partition delivery is in counter order and the assigned
        # counters are contiguous.  (GLOBAL id order only holds for a
        # settled backlog: with producers racing the tail, a lower
        # counter on another partition may be persisted after a higher
        # one was already delivered — the same property as the
        # reference, which serializes order per partition only,
        # README.md:117-119.)
        per_part = {}
        for c_, a in got:
            per_part.setdefault(a, []).append(c_)
        for a, counters in per_part.items():
            assert counters == list(range(1, len(counters) + 1)), (
                tag,
                a,
                counters[:5],
            )
