"""Byte-level tests for the native flo segment-file codec
(flo_spark/sources/flo_segment.py) against the reference layout in
persistent_event.rs:20-35/69-103 and segment/header.rs:10-58."""

import os
import struct
from datetime import datetime, timezone

import pytest

from flo_spark.sources.flo_segment import (
    EVENT_FIXED_LEN,
    HEADER_LEN,
    MARKER,
    decode_segment,
    encode_event,
    encode_segment,
    read_flo_segments,
    segment_header,
    write_flo_segments,
)

UTC = timezone.utc


def test_encode_event_golden_bytes():
    """Hand-computed layout: every field at the documented offset."""
    b = encode_event(7, 2, 3, 1, 1234567890123, "/a/b", b"xyz")
    ns_len, data_len = 4, 3
    assert len(b) == EVENT_FIXED_LEN + ns_len + data_len
    assert struct.unpack_from(">I", b, 0)[0] == 48 + ns_len + data_len
    assert b[4:12] == MARKER
    assert struct.unpack_from(">H", b, 12)[0] == 2  # actor
    assert struct.unpack_from(">Q", b, 14)[0] == 7  # counter
    assert struct.unpack_from(">H", b, 22)[0] == 1  # parent actor
    assert struct.unpack_from(">Q", b, 24)[0] == 3  # parent counter
    assert struct.unpack_from(">Q", b, 32)[0] == 1234567890123
    assert struct.unpack_from(">I", b, 40)[0] == ns_len
    assert b[44:48] == b"/a/b"
    assert struct.unpack_from(">I", b, 48)[0] == data_len
    assert b[52:55] == b"xyz"


def test_null_parent_written_as_zero_id():
    """Reference writes parent.unwrap_or(zero) and reads counter==0
    back as None regardless of the actor half."""
    b = encode_event(1, 1, None, None, 0, "", None)
    assert struct.unpack_from(">HQ", b, 22) == (0, 0)
    # actor half nonzero but counter zero must still read back as null
    corrupt_actor = bytearray(b)
    struct.pack_into(">H", corrupt_actor, 22, 9)
    seg = struct.pack(">QQ", 0, 0) + bytes(corrupt_actor)
    (ev,) = decode_segment(seg)
    assert ev[2] is None and ev[3] is None


def test_segment_roundtrip_with_zero_padding_tail():
    events = [
        (1, 1, None, None, 1000, "/x", b""),
        (2, 1, 1, 1, 2000, "/x/y", b"\x00\xff payload"),
        (5, 1, None, None, 3000, "", b"z" * 100),
    ]
    seg = encode_segment(iter(events), 1000, 3000) + b"\x00" * 256
    assert segment_header(seg) == (1000, 3000)
    assert list(decode_segment(seg)) == events


@pytest.mark.parametrize(
    "mutate,err",
    [
        (lambda b: b[:20] + b"X" + b[21:], "invalid marker"),
        # total_len claims one byte more than ns+data account for
        (
            lambda b: b[:16]
            + struct.pack(">I", struct.unpack_from(">I", b, 16)[0] + 1)
            + b[20:],
            "mismatched lengths",
        ),
        # namespace length larger than the remaining buffer
        (
            lambda b: b[:56] + struct.pack(">I", 10_000) + b[60:],
            "namespace length too large",
        ),
    ],
)
def test_corruption_raises(mutate, err):
    seg = encode_segment(iter([(1, 1, None, None, 0, "/ns", b"d")]), 0, 0)
    with pytest.raises(ValueError, match=err):
        list(decode_segment(mutate(seg)))


def test_truncated_header_raises():
    with pytest.raises(ValueError, match="header"):
        segment_header(b"\x00" * 8)


def test_distributed_write_read_roundtrip(spark, tmp_path):
    """write_flo_segments → read_flo_segments is the identity, across
    multiple partitions and forced segment rotation."""
    from flo_spark.schema import EVENT_SCHEMA

    rows = [
        (
            c,
            p,
            c - 1 if c > 1 else None,
            p if c > 1 else None,
            datetime(2020, 1, 1, 0, 0, c % 60, (c % 1000) * 1000, tzinfo=UTC),
            f"/t/{p}/{c % 3}",
            bytes([c % 256]) * (c % 50),
            p,
        )
        for p in (1, 2, 3)
        for c in range(1, 41)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = str(tmp_path / "native")
    report = write_flo_segments(df, path, max_events_per_segment=15)
    # 40 events / 15 per segment = 3 segments per partition
    assert report.count() == 9
    files = {
        f
        for d in os.listdir(path)
        for f in os.listdir(os.path.join(path, d))
    }
    assert files == {"1.events", "2.events", "3.events"}

    back = read_flo_segments(spark, path)
    cols = [f.name for f in EVENT_SCHEMA.fields]
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, df.select(cols).collect())
    )


def test_read_one_task_per_segment(spark, tmp_path):
    """Scan parallelism is per segment file — flo's own storage unit."""
    from flo_spark.schema import EVENT_SCHEMA

    rows = [
        (c, 1, None, None, datetime(2020, 1, 1, tzinfo=UTC), "/s", b"", 1)
        for c in range(1, 31)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = str(tmp_path / "native")
    write_flo_segments(df, path, max_events_per_segment=10)
    n_files = sum(len(fs) for _, _, fs in os.walk(path) if fs)
    assert n_files == 3
    assert read_flo_segments(spark, path).rdd.getNumPartitions() >= 1


def test_tail_native_segments_drain_and_filters(spark, tmp_path):
    """Streaming tail over a native segment dir: drain everything with
    AvailableNow, with glob + version-vector filters applied."""
    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.streaming.consume_stream import run_to_memory

    rows = [
        (
            c,
            p,
            None,
            None,
            datetime(2021, 6, 1, tzinfo=UTC),
            f"/app/{'a' if c % 2 else 'b'}/{c}",
            b"",
            p,
        )
        for p in (1, 2)
        for c in range(1, 21)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = str(tmp_path / "native")
    write_flo_segments(df, path, max_events_per_segment=8)

    from flo_spark.sources.flo_segment import tail_flo_segments

    tailed = tail_flo_segments(
        spark, path, namespace="/app/a/*", version_vector={1: 5, 2: 10}
    )
    got = run_to_memory(tailed, await_new=False)
    out = sorted(
        (r.actor, r.event_counter) for r in got.collect()
    )
    want = sorted(
        (p, c)
        for p in (1, 2)
        for c in range(1, 21)
        if c % 2 and ((p == 1 and c > 5) or (p == 2 and c > 10))
    )
    assert out == want


def test_namespace_newline_rejected():
    with pytest.raises(ValueError, match="newline"):
        encode_event(1, 1, None, None, 0, "/a\n/b", b"")


def test_import_export_native_migration(spark, tmp_path):
    """The reference-user migration story: a flo server's native data
    dir imports into a parquet EventStream with ids/lineage preserved
    verbatim, consume works on it, and export_native round-trips the
    stream back out byte-semantically."""
    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.sources.event_table import EventStream
    from flo_spark.sources.flo_segment import read_flo_segments

    rows = [
        (
            c,
            p,
            c - 1 if c % 4 == 0 else None,
            p if c % 4 == 0 else None,
            datetime(2022, 3, 1, 12, 0, c % 60, tzinfo=UTC),
            f"/srv/{'x' if c % 2 else 'y'}",
            bytes([p, c % 256]),
            p,
        )
        for p in (1, 2)
        for c in range(1, 26)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    native = str(tmp_path / "server_data")
    write_flo_segments(df, native, max_events_per_segment=10)

    s = EventStream.create(spark, str(tmp_path / "stream"), num_partitions=2)
    assert s.import_native(native) == 50
    # ids preserved verbatim -> head is the max imported counter
    assert s.head() == {1: 25, 2: 25}
    got = s.consume(namespace="/srv/x", version_vector={1: 20, 2: 23})
    assert sorted((r.actor, r.event_counter) for r in got.collect()) == [
        (1, 21),
        (1, 23),
        (1, 25),
        (2, 25),
    ]
    # a second import must refuse (preserved ids can't interleave)
    with pytest.raises(ValueError, match="empty stream"):
        s.import_native(native)

    out = str(tmp_path / "exported")
    s.export_native(out, max_events_per_segment=10)
    back = read_flo_segments(spark, out)
    cols = [f.name for f in EVENT_SCHEMA.fields]
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, df.select(cols).collect())
    )


# -- property: encode/decode identity over the whole value domain ------
from hypothesis import given, settings
from hypothesis import strategies as st

_ns = st.text(
    alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)),
    max_size=64,
)
_event = st.tuples(
    st.integers(min_value=1, max_value=2**63 - 1),   # counter
    st.integers(min_value=0, max_value=2**16 - 1),   # actor (u16)
    st.one_of(st.none(), st.integers(min_value=1, max_value=2**63 - 1)),
    st.integers(min_value=0, max_value=2**16 - 1),   # parent actor
    st.integers(min_value=0, max_value=2**53),       # ts millis
    _ns,
    st.one_of(st.none(), st.binary(max_size=200)),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_event, max_size=20), st.integers(0, 4096))
def test_property_roundtrip(evs, pad):
    """encode -> decode is the identity for arbitrary valid events
    (unicode namespaces, u16 actor bounds, u64-range counters, null
    parents/payloads), under any zero-padding tail."""
    norm = [
        (c, a, pc, pa if pc else None, ts, ns, d if d is not None else b"")
        for (c, a, pc, pa, ts, ns, d) in evs
    ]
    seg = encode_segment(iter(norm), 0, 0) + b"\x00" * pad
    got = list(decode_segment(seg))
    want = [
        (c, a, pc, pa if pc else None, ts, ns, d)
        for (c, a, pc, pa, ts, ns, d) in norm
    ]
    assert got == want


def test_one_mib_payload_native_roundtrip():
    """1 MiB event through the binary codec (the
    sync_client_tests.rs:84-100 large-event analog, native format)."""
    payload = bytes(range(256)) * 4096  # 1 MiB
    seg = encode_segment(
        iter([(1, 1, None, None, 42, "/big", payload)]), 42, 42
    )
    (ev,) = decode_segment(seg)
    assert ev[6] == payload and len(ev[6]) == 1 << 20


def test_ordered_tail_over_native_dir(spark, tmp_path):
    """consume_tail_ordered(source='native'): each delivered batch is
    (counter, actor)-merged across partitions of a native flo dir."""
    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.streaming.consume_stream import consume_tail_ordered

    rows = [
        (c, p, None, None, datetime(2023, 1, 1, tzinfo=UTC), "/m", b"", p)
        for p in (1, 2, 3)
        for c in range(1, 11)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = str(tmp_path / "native")
    write_flo_segments(df, path, max_events_per_segment=100)

    consumer = consume_tail_ordered(
        spark, path, await_new=False, source="native"
    )
    got = [
        (r.event_counter, r.actor)
        for batch in consumer.batches()
        for r in batch
    ]
    assert got == sorted(got)
    assert len(got) == 30
    with pytest.raises(ValueError, match="parquet-only"):
        consume_tail_ordered(spark, path, source="native", batch_size=5)
    with pytest.raises(ValueError, match="parquet-only"):
        consume_tail_ordered(
            spark, path, source="native", max_files_per_trigger=1
        )


def test_replicate_native_live_migration(spark, tmp_path):
    """Continuous replication: segments written to a 'server' dir land
    in the parquet EventStream with ids preserved; a second drain with
    the same checkpoint replicates only the new segments (no dupes)."""
    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.sources.event_table import EventStream
    from flo_spark.streaming.produce_stream import replicate_native

    def mk(lo, hi):
        return spark.createDataFrame(
            [
                (c, 1, None, None, datetime(2024, 1, 1, tzinfo=UTC), "/r", b"", 1)
                for c in range(lo, hi)
            ],
            EVENT_SCHEMA,
        )

    server = str(tmp_path / "server")
    write_flo_segments(mk(1, 21), server, max_events_per_segment=10)

    s = EventStream.create(spark, str(tmp_path / "replica"), num_partitions=1)
    ckpt = str(tmp_path / "ckpt")
    replicate_native(s, server, checkpoint_dir=ckpt)
    assert s.head() == {1: 20}

    # server rotates two more segments; resume replicates only those
    import shutil

    more = str(tmp_path / "more")
    write_flo_segments(mk(21, 41), more, max_events_per_segment=10)
    for f in sorted(os.listdir(os.path.join(more, "partition=1"))):
        # renumber past the existing segments, like a real rotation
        n = int(f.split(".")[0])
        shutil.copy(
            os.path.join(more, "partition=1", f),
            os.path.join(server, "partition=1", f"{n + 2}.events"),
        )
    replicate_native(s, server, checkpoint_dir=ckpt)
    assert s.head() == {1: 40}
    assert s.consume().count() == 40  # no duplicates


def test_replicate_native_delivers_growth_of_a_read_active_segment(
    spark, tmp_path
):
    """A live server appends into the active segment that an earlier
    drain already read; the next drain with the same checkpoint
    replicates exactly the appended events (a file-stream source lists
    each file once and would never see them)."""
    from flo_spark.sources.event_table import EventStream
    from flo_spark.streaming.produce_stream import replicate_native

    def evs(lo, hi):
        return [
            (c, 1, None, None, 1_700_000_000_000 + c, "/live", b"v")
            for c in range(lo, hi)
        ]

    server = tmp_path / "server"
    (server / "p1").mkdir(parents=True)
    active = server / "p1" / "0.events"
    active.write_bytes(encode_segment(iter(evs(1, 6)), 0, 0))

    s = EventStream.create(spark, str(tmp_path / "replica"), num_partitions=1)
    ckpt = str(tmp_path / "ckpt")
    replicate_native(s, str(server), checkpoint_dir=ckpt)
    assert s.head() == {1: 5}

    with open(active, "ab") as f:
        for ev in evs(6, 9):
            f.write(encode_event(*ev))
    replicate_native(s, str(server), checkpoint_dir=ckpt)
    assert sorted(r.event_counter for r in s.consume().collect()) == list(
        range(1, 9)
    )


def _tear(path):
    """Append one event cut 5 bytes short: a crash mid-append."""
    ev = encode_event(10_000, 1, None, None, 0, "/torn", b"y" * 20)
    with open(path, "ab") as f:
        f.write(ev[:-5])


def test_torn_tail_is_read_to_the_last_whole_event_only_when_active(
    spark, tmp_path
):
    """A crashed server leaves its active segment ending in a torn
    event.  The batch scan, import_native and the tailer's final drain
    return every whole event; the same tear in a sealed segment is
    corruption and still raises."""
    import shutil

    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.sources.event_table import EventStream
    from flo_spark.sources.flo_segment import CorruptRecord, NativeDirTailer

    rows = [
        (c, 1, None, None, datetime(2024, 2, 1, tzinfo=UTC), "/t", b"d", 1)
        for c in range(1, 16)
    ]
    native = str(tmp_path / "crashed")
    write_flo_segments(
        spark.createDataFrame(rows, EVENT_SCHEMA),
        native,
        max_events_per_segment=10,
    )
    sealed = str(tmp_path / "sealed")
    shutil.copytree(native, sealed)
    _tear(os.path.join(native, "partition=1", "2.events"))  # active
    want = list(range(1, 16))

    back = read_flo_segments(spark, native).select("event_counter")
    assert sorted(r.event_counter for r in back.collect()) == want
    s = EventStream.create(spark, str(tmp_path / "stream"), num_partitions=1)
    assert s.import_native(native) == 15
    got = []
    NativeDirTailer(native, callback=got.extend).stop(drain_active=True)
    assert [r.event_counter for r in got] == want

    _tear(os.path.join(sealed, "partition=1", "1.events"))
    with pytest.raises(Exception, match="CorruptRecord"):
        read_flo_segments(spark, sealed).collect()
    with pytest.raises(CorruptRecord):
        NativeDirTailer(sealed, callback=got.extend).poll_once()


def test_read_flo_segments_missing_dir_raises_empty_dir_reads_empty(
    spark, tmp_path
):
    """A missing dir is an error, not an empty import; an existing dir
    with no segment files reads as zero events."""
    from flo_spark.sources.event_table import EventStream

    missing = str(tmp_path / "no_such_dir")
    with pytest.raises(FileNotFoundError):
        read_flo_segments(spark, missing)
    s = EventStream.create(spark, str(tmp_path / "stream"), num_partitions=1)
    with pytest.raises(FileNotFoundError):
        s.import_native(missing)
    (tmp_path / "empty").mkdir()
    assert read_flo_segments(spark, str(tmp_path / "empty")).count() == 0


def test_segment_rank_correct_across_range_buckets(spark, tmp_path):
    """The distributed rank (range buckets + prefix-sum offsets) must
    reproduce exact per-partition id order: with many more rows than
    range buckets, every segment holds exactly max_events consecutive
    ids and the global read-back is the identity."""
    from flo_spark.schema import EVENT_SCHEMA

    # counters deliberately sparse/non-contiguous per partition
    rows = [
        (c * 7 + p, p, None, None, datetime(2020, 5, 1, tzinfo=UTC), "/r", b"", p)
        for p in (1, 2)
        for c in range(1, 201)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    path = str(tmp_path / "native")
    report = write_flo_segments(df, path, max_events_per_segment=25)
    # 200 events / 25 = 8 segments per partition, all full
    got = {
        (r.partition, r.segment_num): r.n_events for r in report.collect()
    }
    assert got == {(p, s): 25 for p in (1, 2) for s in range(1, 9)}
    # segment s must hold exactly the s-th 25-chunk of sorted counters
    for p in (1, 2):
        want = sorted(c * 7 + p for c in range(1, 201))
        for s in range(1, 9):
            seg_counters = sorted(
                ev[0]
                for f in [str(tmp_path / "native" / f"partition={p}" / f"{s}.events")]
                for ev in decode_segment(open(f, "rb").read())
            )
            assert seg_counters == want[(s - 1) * 25 : s * 25]


def test_native_dir_tailer_sealed_granularity(tmp_path):
    """The live-dir tailer must never capture a partial active segment:
    an active segment that GROEW after a poll is delivered in full once
    it rotates (the file-stream source would have lost the growth)."""
    from flo_spark.sources.flo_segment import NativeDirTailer

    pdir = tmp_path / "live" / "partition=1"
    pdir.mkdir(parents=True)

    def seg(lo, hi):
        return encode_segment(
            iter(
                (c, 1, None, None, 0, "/l", b"") for c in range(lo, hi)
            ),
            0,
            0,
        )

    (pdir / "1.events").write_bytes(seg(1, 11))
    (pdir / "2.events").write_bytes(seg(11, 16))  # active, half-written

    got = []
    ckpt = str(tmp_path / "tailer.json")
    t = NativeDirTailer(
        str(tmp_path / "live"),
        callback=lambda rows: got.extend(r.event_counter for r in rows),
        checkpoint_file=ckpt,
    )
    assert t.poll_once() == 10  # only the sealed segment
    assert got == list(range(1, 11))

    # the active segment grows — a file source would never see this
    (pdir / "2.events").write_bytes(seg(11, 21))
    assert t.poll_once() == 0  # still active, still not delivered
    # server rotates: 2.events seals, delivered IN FULL
    (pdir / "3.events").write_bytes(seg(21, 23))
    assert t.poll_once() == 10
    assert got == list(range(1, 21))
    # stop + drain picks up the final active segment
    t.stop(drain_active=True)
    assert got == list(range(1, 23))

    # a new tailer on the same checkpoint redelivers nothing
    got2 = []
    t2 = NativeDirTailer(
        str(tmp_path / "live"),
        callback=lambda rows: got2.extend(rows),
        checkpoint_file=ckpt,
    )
    assert t2.poll_once(include_active=True) == 0
    assert got2 == []


def test_native_dir_tailer_thread_loop(tmp_path):
    """start()/stop() drive poll_once on a background thread."""
    from flo_spark.sources.flo_segment import NativeDirTailer

    pdir = tmp_path / "live" / "partition=1"
    pdir.mkdir(parents=True)
    blob = encode_segment(
        iter((c, 1, None, None, 0, "/t", b"") for c in (1, 2)), 0, 0
    )
    (pdir / "1.events").write_bytes(blob)
    (pdir / "2.events").write_bytes(blob[:HEADER_LEN])  # empty active

    import time

    got = []
    t = NativeDirTailer(
        str(tmp_path / "live"), callback=got.extend
    ).start(poll_interval=0.2)
    deadline = time.time() + 30
    while not got and time.time() < deadline:
        time.sleep(0.1)
    t.stop()
    assert [r.event_counter for r in got] == [1, 2]


def test_native_dir_tailer_bounded_sweep(tmp_path):
    """VERDICT r7 item 7: a cold start over a dir with many pending
    sealed segments must NOT collect them all in one sweep — each
    poll_once processes at most max_segments_per_sweep files in
    (dir, segment number) order and carries the remainder as backlog;
    drain_active keeps sweeping until the backlog clears."""
    from flo_spark.sources.flo_segment import NativeDirTailer

    pdir = tmp_path / "live" / "partition=1"
    pdir.mkdir(parents=True)
    c = 1
    for num in range(1, 10):  # 8 sealed (1..8) + active (9)
        blob = encode_segment(
            iter((cc, 1, None, None, 0, "/b", b"") for cc in (c, c + 1)),
            0,
            0,
        )
        (pdir / f"{num}.events").write_bytes(blob)
        c += 2

    batches = []
    t = NativeDirTailer(
        str(tmp_path / "live"),
        callback=lambda rows: batches.append(
            [r.event_counter for r in rows]
        ),
        max_segments_per_sweep=3,
    )
    assert t.poll_once() == 6  # 3 segments x 2 events, NOT all 16
    assert t.backlog == 5
    assert batches == [[1, 2, 3, 4, 5, 6]]  # segment-id order
    assert t.poll_once() == 6
    assert t.backlog == 2
    assert t.poll_once() == 4
    assert t.backlog == 0
    assert t.poll_once() == 0  # active segment still held back
    # drain_active sweeps repeatedly: the final sweep picks up the
    # active segment even though the cap was hit on earlier sweeps
    t.stop(drain_active=True)
    assert [e for b in batches for e in b] == list(range(1, 19))


def test_import_native_widens_partition_count(spark, tmp_path):
    """Importing data with more actors than the stream was created
    with must widen num_partitions — otherwise consume()'s default
    version vector (built from the options file) silently drops the
    higher-numbered partitions."""
    from flo_spark.schema import EVENT_SCHEMA
    from flo_spark.sources.event_table import EventStream

    rows = [
        (c, p, None, None, datetime(2024, 6, 1, tzinfo=UTC), "/w", b"", p)
        for p in (1, 2, 3)
        for c in range(p, 10, 3)
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    native = str(tmp_path / "nat")
    write_flo_segments(df, native)

    s = EventStream.create(spark, str(tmp_path / "s"))  # 1 partition
    n = s.import_native(native)
    assert s.options["num_partitions"] == 3
    assert s.consume().count() == n == len(rows)  # nothing dropped


def test_expire_native_segments_drops_expired_prefix(tmp_path):
    """A11 on native dirs: only the contiguous old-end-time prefix of
    sealed segments is deleted; the first fresh segment stops the
    sweep (take_while) and the active segment never expires."""
    from flo_spark.sources.flo_segment import (
        encode_segment,
        expire_native_segments,
    )

    d = tmp_path / "p1"
    d.mkdir()
    now = 1_000_000_000_000
    # seg0 old, seg1 fresh, seg2 OLD again (but after a fresh one),
    # seg3 active and old
    ends = [now - 500_000, now - 10_000, now - 500_000, now - 500_000]
    for i, end in enumerate(ends):
        evs = [(i * 10 + j + 1, 1, None, None, end - 100, "/a", b"x")
               for j in range(3)]
        (d / f"{i}.events").write_bytes(
            encode_segment(iter(evs), end - 1000, end)
        )
    report = expire_native_segments(
        str(tmp_path), retention_millis=100_000, now_millis=now
    )
    assert report == {
        "files_deleted": 1,
        "files_kept": 3,
        "events_dropped": 3,
    }
    assert sorted(f.name for f in d.iterdir()) == [
        "1.events",
        "2.events",
        "3.events",
    ]


def test_segment_index_reader_tolerates_tears_only_in_active(tmp_path):
    """The index's one reader: a torn record ends the scan of a dir's
    active segment, with ``valid_len`` at the end of the last whole
    event, and raises in a sealed one."""
    from flo_spark.sources.flo_segment import CorruptRecord, SegmentIndex

    d = tmp_path / "p1"
    d.mkdir()
    whole = encode_segment(
        iter([(c, 1, None, None, 0, "/i", b"x") for c in (1, 2)]), 0, 0
    )
    torn = whole + encode_event(3, 1, None, None, 0, "/i", b"x")[:-2]
    (d / "0.events").write_bytes(torn)
    (d / "1.events").write_bytes(torn)
    sealed, active = SegmentIndex(str(tmp_path)).dirs[str(d)]
    assert (sealed.active, active.active) == (False, True)
    assert [ev[0] for ev in active.events()] == [1, 2]
    assert active.valid_len == len(whole) and active.torn is not None
    with pytest.raises(CorruptRecord, match=f"at offset {len(whole)}"):
        list(sealed.events())


def test_segment_index_unread_prunes_by_dir_floor(tmp_path):
    """A file is skipped once the next file's first counter shows the
    cursor consumed it; known p<N> dirs use their own actor's cursor
    (and drop out when not pinned), other dirs the least pinned one."""
    from flo_spark.sources.flo_segment import SegmentIndex

    for name, actor in (("p1", 1), ("p2", 2), ("mixed", 1)):
        d = tmp_path / name
        d.mkdir()
        for s in range(3):
            evs = [(s * 10 + i + 1, actor, None, None, 0, "/u", b"") for i in range(10)]
            (d / f"{s}.events").write_bytes(encode_segment(iter(evs), 0, 0))
    index = SegmentIndex(str(tmp_path))

    def nums(name, cursor, pinned=None):
        return [s.num for s in index.unread(str(tmp_path / name), cursor, pinned)]

    assert nums("p1", None) == [0, 1, 2]
    assert nums("p1", {1: 10}) == [1, 2]
    assert nums("p1", {1: 9}) == [0, 1, 2]
    assert nums("p1", {2: 25}) == [0, 1, 2]  # actor 1 absent: cursor 0
    assert nums("p2", {1: 20}, pinned={1}) == []
    assert nums("mixed", {1: 25, 2: 5}, pinned={1, 2}) == [0, 1, 2]
    assert nums("mixed", {1: 25, 2: 15}, pinned={1, 2}) == [1, 2]
    assert nums("mixed", {1: 25}) == [0, 1, 2]  # unpinned: floor 0
    assert index.next_num(str(tmp_path / "p1")) == 3
    assert index.next_num(str(tmp_path / "p9")) == 0


def test_native_head_status_reads_tail_segments(tmp_path):
    from flo_spark.sources.flo_segment import (
        encode_event,
        encode_segment,
        native_head_status,
    )

    for actor, dirn, counters in [(1, "p1", [1, 3, 9]), (2, "p2", [2, 8])]:
        d = tmp_path / dirn
        d.mkdir()
        evs = [(c, actor, None, None, 1000, "/a", b"x") for c in counters]
        (d / "0.events").write_bytes(encode_segment(iter(evs), 0, 10**13))
        # empty active segment after rotation: header only
        (d / "1.events").write_bytes(encode_segment(iter([]), 0, 10**13))
    assert native_head_status(str(tmp_path)) == [(1, 9, True), (2, 8, True)]
    # torn tail on an active segment is skipped, not fatal
    full = encode_event(11, 1, None, None, 1000, "/a", b"x")
    with open(tmp_path / "p1" / "1.events", "ab") as f:
        f.write(full[:-3])
    assert native_head_status(str(tmp_path))[0] == (1, 9, True)


def test_fsck_reports_health_and_corruption(tmp_path):
    """fsck_native_dir: clean dirs report OK; torn tails classify by
    sealed-vs-active; mid-file corruption and stale header end-times
    surface with file context (persistent_event.rs:69-103 validate +
    the recovery-scan rule as an admin tool)."""
    import struct

    from flo_spark.sources.flo_segment import (
        encode_event,
        encode_segment,
        fsck_native_dir,
    )

    root = tmp_path / "fsck"
    d = root / "p1"
    d.mkdir(parents=True)
    evs = [(i + 1, 1, None, None, 5000 + i, "/f", b"x") for i in range(4)]
    with open(d / "0.events", "wb") as f:
        f.write(encode_segment(iter(evs), 0, 10**13))
    with open(d / "1.events", "wb") as f:
        f.write(encode_segment(iter([(5, 1, None, None, 9000, "/f", b"y")]), 0, 10**13))
    rep = fsck_native_dir(str(root))
    assert rep["errors"] == [] and rep["warnings"] == []
    assert rep["files_ok"] == 2 and rep["n_events"] == 5
    assert rep["heads"] == {1: 5}

    # torn tail on the ACTIVE (max-numbered) file: parked, not an error
    full = encode_event(6, 1, None, None, 9100, "/f", b"z")
    with open(d / "1.events", "ab") as f:
        f.write(full[:-3])
    rep2 = fsck_native_dir(str(root))
    assert rep2["errors"] == [] and len(rep2["torn_active"]) == 1

    # the same torn bytes on a SEALED file: error
    with open(d / "2.events", "wb") as f:
        f.write(encode_segment(iter([(7, 1, None, None, 9200, "/f", b"w")]), 0, 10**13))
    rep3 = fsck_native_dir(str(root))
    assert any("sealed file torn" in e for e in rep3["errors"])

    # header end-time below the events: TTL-hazard warning
    d2 = root / "p2"
    d2.mkdir()
    with open(d2 / "0.events", "wb") as f:
        f.write(encode_segment(iter([(1, 2, None, None, 7777, "/g", b"v")]), 0, 100))
    rep4 = fsck_native_dir(str(root))
    assert any("TTL could expire live data" in w for w in rep4["warnings"])

    # mid-file marker corruption on a sealed file
    blob = bytearray((d / "0.events").read_bytes())
    blob[16 + 4] ^= 0xFF  # flip a marker byte of the first event
    (d / "0.events").write_bytes(bytes(blob))
    rep5 = fsck_native_dir(str(root))
    assert any("0.events" in e and "torn" in e for e in rep5["errors"])


def test_gdpr_compaction_physically_erases_subject_bytes(spark, tmp_path):
    """Tombstone-driven compaction must leave NO trace of the
    forgotten subject in the compacted segment FILES — namespace,
    payload, or tombstone — while every retained event keeps its
    original id (erasure leaves counter gaps, ids never reassign)."""
    from pyspark.sql import functions as F

    from flo_spark.operators.produce import assign_event_ids

    rows = [
        # (ord, uid, secret payload)
        (1, 1, b"alpha-public"),
        (2, 3, b"SECRET-FORGET-ME"),
        (3, 1, b"beta-public"),
        (4, 3, b"SECRET-TOO"),
        (5, 2, b"gamma-public"),
    ]
    base = spark.createDataFrame(
        [
            (o, 1, f"/users/{u}/docs", d, None, None,
             datetime(2024, 1, 1, 0, 0, o, tzinfo=UTC))
            for o, u, d in rows
        ]
        + [(99, 1, "/system/tombstones/3", None, None, None,
            datetime(2024, 1, 1, 0, 2, tzinfo=UTC))],
        "ord long, partition int, namespace string, data binary, "
        "parent_counter long, parent_actor int, timestamp timestamp",
    )
    env = assign_event_ids(base, 0, order_by="ord").drop("ord")
    raw, compacted = str(tmp_path / "raw"), str(tmp_path / "compacted")
    write_flo_segments(env, raw, max_events_per_segment=2)

    ev = read_flo_segments(spark, raw)
    forgotten = (
        ev.filter(F.col("namespace").startswith("/system/tombstones/"))
        .select(F.element_at(F.split("namespace", "/"), 4).alias("uid"))
        .distinct()
    )
    keep = (
        ev.filter(~F.col("namespace").startswith("/system/tombstones/"))
        .withColumn("uid", F.element_at(F.split("namespace", "/"), 3))
        .join(forgotten, "uid", "left_anti")
    )
    write_flo_segments(keep.drop("uid"), compacted, max_events_per_segment=2)

    blob = b""
    for root, _, files in os.walk(compacted):
        for f in files:
            if f.endswith(".events"):
                blob += open(os.path.join(root, f), "rb").read()
    assert b"SECRET" not in blob
    assert b"/users/3/" not in blob
    assert b"tombstones" not in blob
    assert b"alpha-public" in blob and b"gamma-public" in blob

    out = read_flo_segments(spark, compacted)
    kept = sorted(
        (r.event_counter, bytes(r.data).decode())
        for r in out.collect()
    )
    # ords 1,3,5 got counters 1,3,5 at write time and keep them:
    # the forgotten events' counters (2, 4) are GAPS, not reassigned
    assert kept == [(1, "alpha-public"), (3, "beta-public"),
                    (5, "gamma-public")]
