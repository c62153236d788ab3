"""format("flo") Python Data Source: batch scan, option filters, and
the event-granular streaming cursor (offset == version vector)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from flo_spark.sources.flo_datasource import register
from flo_spark.sources.flo_segment import encode_event, encode_segment


def _write_segment(path, events):
    with open(path, "wb") as f:
        f.write(encode_segment(iter(events), 0, 10**13))


def _append_events(path, events):
    """Append into the ACTIVE segment — a live server's in-place
    growth (controller/mod.rs:192-215 appends to the open segment)."""
    with open(path, "ab") as f:
        for ev in events:
            f.write(encode_event(*ev))


def _ev(counter, actor, ns="/foo/a", payload=b"x"):
    return (counter, actor, None, None, 1000 + counter, ns, payload)


@pytest.fixture()
def flo_dir(tmp_path):
    """Two partition dirs; p1 has a sealed + an active segment."""
    root = tmp_path / "data"
    for actor, dirn in [(1, "p1"), (2, "p2")]:
        d = root / dirn
        d.mkdir(parents=True)
        _write_segment(
            d / "0.events",
            [_ev(i * 2 + actor, actor) for i in range(5)],
        )
    _write_segment(
        root / "p1" / "1.events",
        [_ev(100 + i, 1, ns="/bar/b") for i in range(3)],
    )
    return str(root)


def test_batch_read_all(spark, flo_dir):
    register(spark)
    df = spark.read.format("flo").load(flo_dir)
    assert df.count() == 13
    first = df.orderBy("event_counter", "actor").first()
    assert (first.event_counter, first.actor, first.partition) == (1, 1, 1)
    assert [f.name for f in df.schema.fields] == [
        "event_counter",
        "actor",
        "parent_counter",
        "parent_actor",
        "timestamp",
        "namespace",
        "data",
        "partition",
    ]


def test_batch_namespace_and_vv_options(spark, flo_dir):
    register(spark)
    glob = (
        spark.read.format("flo")
        .option("namespace", "/bar/*")
        .load(flo_dir)
    )
    assert glob.count() == 3
    vv = (
        spark.read.format("flo")
        .option("startpositions", json.dumps({1: 7}))
        .load(flo_dir)
    )
    # actor 1 only (vv semantics: absent partitions are not read),
    # counters > 7: {9, 100, 101, 102}
    got = sorted(r.event_counter for r in vv.collect())
    assert got == [9, 100, 101, 102]


def _drain(spark, flo_dir, checkpoint, **options):
    """One availableNow drain through a checkpointed foreachBatch sink
    (the memory sink does not support checkpoint recovery)."""
    reader = spark.readStream.format("flo")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(flo_dir)
    got = []
    q = (
        df.writeStream.foreachBatch(
            lambda b, _eid: got.extend(
                (r.event_counter, r.actor)
                for r in b.select("event_counter", "actor").collect()
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return got


def test_stream_drain_then_mid_segment_resume_no_duplicates(
    spark, flo_dir, tmp_path
):
    """THE event-granular cursor property (consumer_stream/mod.rs:
    84-119): after a drain, events appended INTO THE SAME active
    segment file are delivered on restart without redelivering that
    segment's already-consumed prefix."""
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    got1 = _drain(spark, flo_dir, ckpt)
    assert sorted(got1) == sorted(
        [(i * 2 + 1, 1) for i in range(5)]
        + [(i * 2 + 2, 2) for i in range(5)]
        + [(100 + i, 1) for i in range(3)]
    )
    # grow p1's ACTIVE segment (1.events) and p2's (0.events) in place
    _append_events(
        os.path.join(flo_dir, "p1", "1.events"),
        [_ev(103, 1, ns="/bar/b")],
    )
    _append_events(
        os.path.join(flo_dir, "p2", "0.events"), [_ev(12, 2)]
    )
    got2 = _drain(spark, flo_dir, ckpt)
    assert sorted(got2) == [(12, 2), (103, 1)]  # ONLY the new events


def test_stream_startpositions_pins_partitions(spark, flo_dir, tmp_path):
    register(spark)
    got = _drain(
        spark,
        flo_dir,
        str(tmp_path / "ckpt_vv"),
        startpositions=json.dumps({1: 8}),
    )
    # only partition 1, counters > 8
    assert sorted(got) == [(9, 1), (100, 1), (101, 1), (102, 1)]


def test_stream_namespace_glob(spark, flo_dir, tmp_path):
    register(spark)
    got = _drain(
        spark,
        flo_dir,
        str(tmp_path / "ckpt_ns"),
        namespace="/bar/*",
    )
    assert sorted(got) == [(100, 1), (101, 1), (102, 1)]


def test_stream_torn_tail_parks_until_complete(spark, flo_dir, tmp_path):
    """A half-written event at the active segment's tail must not fail
    the batch OR be delivered; once the append completes, the event
    arrives (the recovery-scan rule, mmap.rs:111-134)."""
    register(spark)
    ckpt = str(tmp_path / "ckpt_torn")
    _drain(spark, flo_dir, ckpt)
    active = os.path.join(flo_dir, "p1", "1.events")
    full = encode_event(*_ev(103, 1, ns="/bar/b"))
    with open(active, "ab") as f:
        f.write(full[: len(full) - 5])  # torn write
    assert _drain(spark, flo_dir, ckpt) == []
    with open(active, "ab") as f:
        f.write(full[len(full) - 5 :])  # append completes
    assert _drain(spark, flo_dir, ckpt) == [(103, 1)]


def test_batch_vv_that_prunes_every_file_reads_empty(spark, flo_dir):
    """A version vector naming only absent partitions plans no segment
    file; the scan is empty, not an error."""
    register(spark)
    df = (
        spark.read.format("flo")
        .option("startpositions", json.dumps({"9": 0}))
        .load(flo_dir)
    )
    assert df.count() == 0


def test_batch_derived_plans_do_not_leak_filters(spark, flo_dir):
    """One load() serves many plans: a filtered count must not change
    the unfiltered count afterwards (the reader is shared)."""
    register(spark)
    df = spark.read.format("flo").load(flo_dir)
    assert df.filter(F.col("event_counter") > 50).count() == 3
    assert df.count() == 13


def test_batch_scan_equals_codec_scan_on_random_layouts(spark, tmp_path):
    """format("flo") and a Spark-free decode of every ``.events``
    file must agree row-for-row on arbitrary layouts (mixed dir
    nesting, empty segments, multi-actor files, unicode namespaces,
    empty/odd payloads)."""
    import random

    from flo_spark.sources.flo_segment import decode_segment

    rng = random.Random(1234)
    register(spark)
    for trial in range(3):
        root = tmp_path / f"layout{trial}"
        counter = 0
        for d in ["a", "a/nested", "b"]:
            dd = root / d
            dd.mkdir(parents=True)
            for seg in range(rng.randint(1, 3)):
                events = []
                for _ in range(rng.randint(0, 6)):
                    counter += 1
                    events.append(
                        (
                            counter,
                            rng.randint(1, 4),  # mixed actors per file
                            counter - 1 if rng.random() < 0.3 else None,
                            1 if rng.random() < 0.3 else None,
                            rng.randint(0, 10**12),
                            rng.choice(["/x/y", "/x/über", "/z"]),
                            bytes(rng.randbytes(rng.randint(0, 20))),
                        )
                    )
                # normalize parent pairs (actor only with counter)
                events = [
                    (c, a, pc, (pa or 1) if pc else None, t, ns, dt)
                    for c, a, pc, pa, t, ns, dt in events
                ]
                _write_segment(dd / f"{seg}.events", events)
        via_ds = spark.read.format("flo").load(str(root)).select(
            "event_counter",
            "actor",
            "parent_counter",
            "parent_actor",
            F.unix_millis("timestamp"),
            "namespace",
            "data",
            "partition",
        )
        # partition == actor (the codec tuple's second field)
        via_codec = [
            (*ev, ev[1])
            for f in sorted(root.rglob("*.events"))
            for ev in decode_segment(f.read_bytes())
        ]

        def _canon(rows):
            return sorted(
                tuple(
                    bytes(v) if isinstance(v, (bytes, bytearray)) else v
                    for v in r
                )
                for r in rows
            )

        assert _canon(via_ds.collect()) == _canon(
            via_codec
        ), f"layout {trial} diverged"


def test_batch_write_then_read_roundtrip(spark, flo_dir, tmp_path):
    """df.write.format("flo") lays out p<actor>/<n>.events segments a
    reader (ours or a flo server's recovery scan) accepts verbatim."""
    register(spark)
    out = str(tmp_path / "out")
    src = spark.read.format("flo").load(flo_dir)
    src.write.format("flo").mode("append").save(out)
    back = spark.read.format("flo").load(out)
    key = lambda r: (r.event_counter, r.actor)  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(
        map(key, src.collect())
    )
    # layout: per-actor dirs, contiguous numeric segment names (one
    # segment per (task, actor) — actor 1 spans 2 read tasks here),
    # no staging residue
    def seg_nums(d):
        return sorted(
            int(f[: -len(".events")]) for f in os.listdir(d)
        )

    p1_before = seg_nums(os.path.join(out, "p1"))
    assert p1_before == list(range(len(p1_before)))
    assert seg_nums(os.path.join(out, "p2")) == [0]
    assert os.listdir(os.path.join(out, "_staging")) == []
    # append again: segment numbers advance (rotation rule)
    src.write.format("flo").mode("append").save(out)
    p1_after = seg_nums(os.path.join(out, "p1"))
    assert p1_after == list(range(len(p1_after)))
    assert len(p1_after) == 2 * len(p1_before)
    assert spark.read.format("flo").load(out).count() == 26


def test_stream_native_to_native_replication(spark, flo_dir, tmp_path):
    """The full pub/sub story through Spark: readStream.format("flo")
    -> writeStream.format("flo") replicates a flo dir into another,
    per-event cursor on the read side, segment append on the write
    side; a second drain after the source grows ships only the new
    events."""
    register(spark)
    out = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ckpt_repl")

    def run():
        q = (
            spark.readStream.format("flo")
            .load(flo_dir)
            .writeStream.format("flo")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    key = lambda r: (r.event_counter, r.actor)  # noqa: E731
    src = spark.read.format("flo").load(flo_dir)
    assert sorted(map(key, spark.read.format("flo").load(out).collect())) == sorted(
        map(key, src.collect())
    )
    _append_events(
        os.path.join(flo_dir, "p1", "1.events"),
        [_ev(103, 1, ns="/bar/b")],
    )
    run()
    got = sorted(
        map(key, spark.read.format("flo").load(out).collect())
    )
    assert got.count((103, 1)) == 1 and len(got) == 14


def test_stream_write_replayed_batch_not_duplicated(spark, flo_dir, tmp_path):
    """A batch id that already committed must be dropped on replay
    (the _flo_commits.json ledger)."""
    import json as _json

    from flo_spark.sources.flo_datasource import FloWriter

    register(spark)
    out = str(tmp_path / "replay_out")
    batches = (
        spark.read.format("flo").load(flo_dir).limit(3).toArrow().to_batches()
    )
    w = FloWriter({"path": out}, overwrite=False)
    msg = w.write(iter(batches))
    w.commit([msg], batchId=7)
    n1 = spark.read.format("flo").load(out).count()
    msg2 = w.write(iter(batches))  # same batch retried after crash
    w.commit([msg2], batchId=7)
    assert spark.read.format("flo").load(out).count() == n1 == 3
    ledger = _json.load(open(os.path.join(out, "_flo_commits.json")))
    assert ledger == [7]


def test_writer_abort_drops_staged_files(spark, flo_dir, tmp_path):
    """An aborted task set leaves no committed segments and no staged
    residue."""
    from flo_spark.sources.flo_datasource import FloWriter

    register(spark)
    out = str(tmp_path / "abort_out")
    batches = (
        spark.read.format("flo").load(flo_dir).limit(4).toArrow().to_batches()
    )
    w = FloWriter({"path": out}, overwrite=False)
    msg = w.write(iter(batches))
    w.abort([msg], batchId=0)
    assert os.listdir(os.path.join(out, "_staging")) == []
    assert not [
        d for d in os.listdir(out) if d.startswith("p")
    ], "no partition dirs may exist after abort"


def test_stream_indexfile_persists_and_preloads(spark, flo_dir, tmp_path):
    """The sealed-segment index written via the indexfile option is
    reloaded by a fresh consumer (restart skips the rebuild scan)."""
    from flo_spark.sources.flo_datasource import FloStreamReader

    register(spark)  # standalone-runnable: don't rely on test order
    idx = str(tmp_path / "flo_index.json")
    got = _drain(
        spark,
        flo_dir,
        str(tmp_path / "ckpt_idx"),
        indexfile=idx,
    )
    assert len(got) == 13
    saved = json.load(open(idx))
    assert saved["version"] == 2
    # exactly the sealed files (p1/0.events; actives are never indexed)
    sealed = os.path.join(flo_dir, "p1", "0.events")
    assert list(saved["files"]) == [sealed]
    assert saved["files"][sealed] == {
        "actors": {"1": [1, 9]},
        "ns": ["/foo/a"],
    }
    fresh = FloStreamReader({"path": flo_dir, "indexfile": idx})
    assert fresh._index == {
        sealed: {"actors": {1: (1, 9)}, "ns": ["/foo/a"]}
    }
    # a v1 indexfile (actor ranges only) still loads, with ns unknown
    with open(idx, "w") as f:
        json.dump({sealed: {"1": [1, 9]}}, f)
    legacy = FloStreamReader({"path": flo_dir, "indexfile": idx})
    assert legacy._index == {
        sealed: {"actors": {1: (1, 9)}, "ns": None}
    }


def test_stream_partitions_index_seek_prunes_files(spark, flo_dir, tmp_path):
    """partitions(start, end) must ship only sealed files whose
    per-actor counter range overlaps the slice — the index-seek analog
    (index.rs:86-129): a cursor past a segment's range skips it."""
    from flo_spark.sources.flo_datasource import FloStreamReader

    r = FloStreamReader({"path": flo_dir})
    r.latestOffset()  # builds the sealed index
    # p1/0.events holds actor-1 counters 1..9; 1.events (active) 100..102
    [part] = r.partitions({"1": 50}, {"1": 102})
    assert part.files == ()  # sealed file pruned: its range [1,9] < 50
    [part2] = r.partitions({"1": 3}, {"1": 102})
    assert any(p.endswith("p1/0.events") for p in part2.files)


def test_invalid_glob_option_raises(spark, flo_dir):
    from flo_spark.functions.glob import GlobError
    from flo_spark.sources.flo_datasource import FloBatchReader

    with pytest.raises(GlobError):
        FloBatchReader({"path": flo_dir, "namespace": "/foo[unclosed"})


def test_credit_flow_batchsize_drains_in_id_order(spark, tmp_path):
    """A8 at the data-source level: with batchsize=7, successive
    drains deliver 7/7/6/0 events, each batch the globally smallest
    remaining (counter, actor) ids — the k-way merge + credit loop
    (consumer_stream/mod.rs:115-155)."""
    root = tmp_path / "credit"
    for actor, dirn in [(1, "p1"), (2, "p2")]:
        d = root / dirn
        d.mkdir(parents=True)
        _write_segment(
            d / "0.events",
            [_ev(i * 2 + actor, actor) for i in range(10)],
        )
    register(spark)
    ckpt = str(tmp_path / "ckpt_credit")
    batches = [
        _drain(spark, str(root), ckpt, batchsize="7") for _ in range(4)
    ]
    assert [len(b) for b in batches] == [7, 7, 6, 0]
    all_ids = sorted(x[0] for b in batches for x in b)
    assert all_ids == sorted(i * 2 + a for a in (1, 2) for i in range(10))
    # each batch is exactly the globally smallest remaining ids
    flat = [x for b in batches for x in b]
    assert flat == sorted(flat)


def test_credit_flow_glob_skips_do_not_consume_budget(spark, tmp_path):
    """Only MATCHING events count against the batch budget (flo
    decrements per sent event, after the glob filter)."""
    root = tmp_path / "credit_glob"
    d = root / "p1"
    d.mkdir(parents=True)
    evs = [
        _ev(i + 1, 1, ns="/keep/x" if i % 2 == 0 else "/skip/y")
        for i in range(10)
    ]
    _write_segment(d / "0.events", evs)
    register(spark)
    got = _drain(
        spark,
        str(root),
        str(tmp_path / "ckpt_cg"),
        batchsize="3",
        namespace="/keep/*",
    )
    # 3 matching events delivered; the interleaved /skip events they
    # passed over are consumed by the cursor, not re-scanned later
    assert [c for c, _a in sorted(got)] == [1, 3, 5]
    got2 = _drain(
        spark,
        str(root),
        str(tmp_path / "ckpt_cg"),
        batchsize="3",
        namespace="/keep/*",
    )
    assert [c for c, _a in sorted(got2)] == [7, 9]


# ---------------------------------------------------------------------------
# property tests: the credit-flow reader is pure driver-side Python, so
# its cursor algebra can be exercised without a Spark session
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _layouts(draw):
    """Random flo dir shape: 1-3 actors, 1-3 segments each, 0-8 events
    per segment.  Counters either increase GLOBALLY across actors (one
    server's log fanned into per-actor dirs) or INDEPENDENTLY per actor
    (each partition its own sequence — the layout where a later actor's
    counters sit far below another actor's cursor, which the old
    global-floor pruning silently dropped)."""
    n_actors = draw(st.integers(1, 3))
    shared = draw(st.booleans())
    plan = []
    counter = 0
    for actor in range(1, n_actors + 1):
        if not shared:
            counter = 0
        segs = []
        for _ in range(draw(st.integers(1, 3))):
            n = draw(st.integers(0, 8))
            evs = []
            for _ in range(n):
                counter += draw(st.integers(1, 3))
                ns = draw(st.sampled_from(["/keep/x", "/skip/y"]))
                evs.append((counter, actor, None, None, 1000, ns, b"d"))
            segs.append(evs)
        plan.append((actor, segs))
    return plan


def _materialize(tmpdir, plan):
    import pathlib

    root = pathlib.Path(tmpdir) / "data"
    for actor, segs in plan:
        d = root / f"p{actor}"
        d.mkdir(parents=True, exist_ok=True)
        for i, evs in enumerate(segs):
            _write_segment(d / f"{i}.events", evs)
    return str(root)


@settings(max_examples=60, deadline=None)
@given(plan=_layouts(), batch=st.integers(1, 7), globbed=st.booleans())
def test_credit_reader_partitions_event_set_exactly(plan, batch, globbed):
    """Driving read(start) to fixpoint must deliver every matching
    event exactly once, in global (counter, actor) order within and
    across batches, with per-batch counts <= batchsize; and
    readBetweenOffsets must replay each recorded slice verbatim."""
    import tempfile

    from flo_spark.sources.flo_datasource import FloCreditStreamReader

    with tempfile.TemporaryDirectory() as tmp:
        root = _materialize(tmp, plan)
        opts = {"path": root, "batchsize": str(batch)}
        if globbed:
            opts["namespace"] = "/keep/*"
        r = FloCreditStreamReader(opts)
        start = r.initialOffset()
        batches, offsets = [], [start]
        for _ in range(200):
            rows, nxt = r.read(dict(start))
            rows = list(rows)
            if not rows and nxt == start:
                break
            batches.append(rows)
            offsets.append(nxt)
            start = nxt
        else:
            raise AssertionError("reader did not converge")
        got = [x for b in batches for x in b]
        want = sorted(
            (ev[0], ev[1])
            for _a, segs in plan
            for evs in segs
            for ev in evs
            if not globbed or ev[5].startswith("/keep")
        )
        assert [(x[0], x[1]) for x in got] == want  # order + exactness
        assert all(len(b) <= batch for b in batches)
        # replay determinism: each recorded slice reproduces its batch
        for i, b in enumerate(batches):
            replay = list(r.readBetweenOffsets(offsets[i], offsets[i + 1]))
            assert sorted(replay) == sorted(b)


# ---------------------------------------------------------------------------
# round-6 fixes: overwrite safety, staging isolation, new-actor pruning,
# lazy decode
# ---------------------------------------------------------------------------


def test_batch_overwrite_replaces_data(spark, flo_dir, tmp_path):
    """mode("overwrite") must atomically replace prior segments with the
    new data — the staging-inclusive deletion walk used to remove BOTH
    the old segments and the freshly staged files, then fail the commit
    rename (data loss with nothing written)."""
    register(spark)
    out = str(tmp_path / "ow_out")
    src = spark.read.format("flo").load(flo_dir)
    src.write.format("flo").mode("append").save(out)
    assert spark.read.format("flo").load(out).count() == 13
    repl = src.filter(F.col("actor") == 2)  # 5 events
    repl.write.format("flo").mode("overwrite").save(out)
    back = spark.read.format("flo").load(out)
    key = lambda r: (r.event_counter, r.actor)  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, repl.collect()))
    assert os.listdir(os.path.join(out, "_staging")) == []


def test_staging_residue_invisible_to_readers(spark, flo_dir, tmp_path):
    """A leftover file under <root>/_staging (crashed writer, retried
    task's abandoned loser) must be invisible to every scan: batch read,
    streaming drain, head status, TTL sweep.  It is uncommitted — and
    may be torn mid-record."""
    from flo_spark.sources.flo_segment import (
        expire_native_segments,
        native_head_status,
    )

    staging = os.path.join(flo_dir, "_staging")
    os.makedirs(staging)
    _write_segment(
        os.path.join(staging, "deadbeef.events"), [_ev(999, 9)]
    )
    with open(os.path.join(staging, "torn.events"), "wb") as f:
        f.write(b"\x00" * 16 + b"\x00\x00\x01\x00FLO_EVT\n\x00\x01")

    register(spark)
    batch = spark.read.format("flo").load(flo_dir)
    assert batch.count() == 13  # not 14, and the torn file didn't raise
    assert all(r.actor != 9 for r in batch.collect())

    got = _drain(spark, flo_dir, str(tmp_path / "ckpt_stage"))
    assert len(got) == 13 and all(a != 9 for _c, a in got)

    heads = native_head_status(flo_dir)
    assert [a for a, _h, _p in heads] == [1, 2]

    report = expire_native_segments(flo_dir, retention_millis=0, now_millis=10**15)
    assert os.path.exists(os.path.join(staging, "deadbeef.events"))


def test_credit_flow_new_actor_history_not_lost(spark, tmp_path):
    """A new actor appearing AFTER other actors' cursors have advanced
    must have its full sealed history delivered.  The old global-floor
    pruning (floor = min over cursors PRESENT in start) dropped a new
    actor's sealed files whenever its counters sat below another
    actor's cursor, then advanced its offset past them — permanent
    loss."""
    from flo_spark.sources.flo_datasource import FloCreditStreamReader

    root = tmp_path / "newactor"
    d1 = root / "p1"
    d1.mkdir(parents=True)
    _write_segment(d1 / "0.events", [_ev(100 * (i + 1), 1) for i in range(10)])

    r = FloCreditStreamReader({"path": str(root), "batchsize": "100"})
    rows, cursor = r.read(r.initialOffset())
    assert len(list(rows)) == 10 and cursor == {"1": 1000}

    # actor 2 appears with a sealed (0.events) + active (1.events)
    # segment, all counters far below actor 1's cursor
    d2 = root / "p2"
    d2.mkdir()
    _write_segment(d2 / "0.events", [_ev(i + 1, 2) for i in range(6)])
    _write_segment(d2 / "1.events", [_ev(i + 7, 2) for i in range(4)])

    rows2, cursor2 = r.read(dict(cursor))
    rows2 = list(rows2)
    assert [(x[0], x[1]) for x in rows2] == [(i + 1, 2) for i in range(10)]
    assert cursor2 == {"1": 1000, "2": 10}
    # replay of the recorded slice sees the same events
    replay = list(r.readBetweenOffsets(cursor, cursor2))
    assert [(x[0], x[1]) for x in replay] == [(i + 1, 2) for i in range(10)]


def test_batch_reader_tolerates_torn_active_tail(tmp_path):
    """A crashed server leaves a torn record at the tail of a
    partition's active segment; the batch reader reads the whole
    events before it, as the server's own recovery does, instead of
    failing the scan."""
    from flo_spark.protocol.server import _Stream
    from flo_spark.sources.flo_datasource import FloBatchReader

    root = str(tmp_path / "torn")
    stream = _Stream(root, 1 << 30, 1_000_000)
    for _ in range(5):
        stream.produce(1, "/a", b"x" * 100, None)
    seg = os.path.join(root, "p1", "0.events")
    os.truncate(seg, os.path.getsize(seg) - 30)

    reader = FloBatchReader({"path": root})
    got = [
        c
        for part in reader.partitions()
        for batch in reader.read(part)
        for c in batch.column("event_counter").to_pylist()
    ]
    assert got == [1, 2, 3, 4]


def test_credit_flow_decode_is_lazy_up_to_budget(spark, tmp_path, monkeypatch):
    """With a deep backlog and a small budget, read() must decode only
    the files at the cursor frontier — not the whole backlog (the old
    implementation buffered and re-decoded every unconsumed event each
    trigger)."""
    from flo_spark.sources import flo_datasource as mod
    from flo_spark.sources.flo_segment import SegmentFile

    root = tmp_path / "lazy"
    d = root / "p1"
    d.mkdir(parents=True)
    for s in range(6):
        _write_segment(
            d / f"{s}.events", [_ev(s * 10 + i + 1, 1) for i in range(10)]
        )

    opened = []
    real = SegmentFile.events

    def spy(self):
        opened.append(os.path.basename(self.path))
        return real(self)

    monkeypatch.setattr(SegmentFile, "events", spy)
    r = mod.FloCreditStreamReader({"path": str(root), "batchsize": "5"})
    rows, cursor = r.read(r.initialOffset())
    assert [x[0] for x in rows] == [1, 2, 3, 4, 5]
    assert opened == ["0.events"], opened
    # second trigger: consumed file 0 still re-decodes (cursor is mid-
    # file) but nothing past the frontier
    opened.clear()
    rows2, cursor2 = r.read(dict(cursor))
    assert [x[0] for x in rows2] == [6, 7, 8, 9, 10]
    assert opened == ["0.events"], opened
    # after file 0 is fully consumed it prunes away entirely
    opened.clear()
    rows3, _c3 = r.read(dict(cursor2))
    assert [x[0] for x in rows3] == [11, 12, 13, 14, 15]
    assert opened == ["1.events"], opened


def test_credit_flow_batchsize_renegotiated_on_restart(spark, tmp_path):
    """SetBatchSize outside the handshake (client.rs:261-267): a
    consumer restarting from its checkpoint with a DIFFERENT batchsize
    must resume from the exact version-vector cursor and apply the new
    budget immediately — the credit window is per-connection state, not
    part of the durable cursor."""
    root = tmp_path / "renego"
    d = root / "p1"
    d.mkdir(parents=True)
    _write_segment(d / "0.events", [_ev(i + 1, 1) for i in range(12)])
    register(spark)
    ckpt = str(tmp_path / "ckpt_renego")

    def drain(batchsize):
        per_batch = []
        q = (
            spark.readStream.format("flo")
            .option("batchsize", str(batchsize))
            .load(str(root))
            .writeStream.foreachBatch(
                lambda b, _eid: per_batch.append(
                    sorted(r.event_counter for r in b.collect())
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return [b for b in per_batch if b]

    # one trigger per availableNow run on the simple-reader path
    first = [drain(4) for _ in range(3)]
    assert [len(b) for run in first for b in run] == [4, 4, 4]

    _append_events(d / "0.events", [_ev(i + 13, 1) for i in range(10)])
    second = [drain(7) for _ in range(2)]
    # resumes at counter 13 exactly (no redelivery, no gap), with the
    # NEW 7-event budget
    assert [len(b) for run in second for b in run] == [7, 3]
    flat = [c for run in second for b in run for c in b]
    assert flat == list(range(13, 23))


def test_writer_maxbytes_rotation_with_oversized_events(spark, tmp_path):
    """Byte-budget segment rotation (segment/mod.rs:65-74): an event
    that would overflow the open segment seals it and starts a new one
    (EventTooBig -> rotate -> append); an event LARGER than the whole
    budget gets a segment of its own instead of erroring.  Mixed
    1 MiB + small events round-trip hash-checked, and counters grow
    across the rotated segment files (the pruning invariant)."""
    import hashlib

    from pyspark.sql import Row

    register(spark)
    out = str(tmp_path / "rot_out")
    big = bytes(range(256)) * 4096  # 1 MiB
    rows = []
    for c in range(1, 21):
        payload = big if c % 7 == 0 else f"small-{c}".encode()
        rows.append(
            Row(
                event_counter=c,
                actor=1,
                parent_counter=None,
                parent_actor=None,
                timestamp=__import__("datetime").datetime(
                    2024, 1, 1, 0, 0, c, tzinfo=__import__("datetime").timezone.utc
                ),
                namespace="/rot/x",
                data=bytearray(payload),
                partition=1,
            )
        )
    from flo_spark.schema import EVENT_SCHEMA

    src = spark.createDataFrame(rows, schema=EVENT_SCHEMA).coalesce(1)
    (
        src.write.format("flo")
        .option("maxbytes", str(64 * 1024))
        .mode("append")
        .save(out)
    )
    d = os.path.join(out, "p1")
    segs = sorted(
        int(f[: -len(".events")]) for f in os.listdir(d)
    )
    assert len(segs) >= 4  # three 1 MiB events force rotations
    # counters grow across segment numbers (within-dir monotonicity)
    from flo_spark.sources.flo_segment import SegmentFile

    firsts = [SegmentFile(os.path.join(d, f"{n}.events")).first[0] for n in segs]
    assert firsts == sorted(firsts)
    back = spark.read.format("flo").load(out)

    def canon(df):
        return sorted(
            (r.event_counter, r.actor, hashlib.sha256(bytes(r.data)).hexdigest())
            for r in df.collect()
        )

    assert canon(back) == canon(src)


def test_stream_partitions_namespace_index_prunes_files(spark, flo_dir):
    """A sealed file whose indexed namespace set contains no glob match
    is skipped at planning — the glob analog of the counter index
    seek.  Mixed files (too many namespaces to index) never prune."""
    from flo_spark.sources.flo_datasource import FloStreamReader

    # p1/0.events namespaces are all /foo/a; 1.events (active) /bar/b
    r = FloStreamReader({"path": flo_dir, "namespace": "/bar/*"})
    r.latestOffset()
    [part] = r.partitions({"1": 0}, {"1": 102})
    assert part.files == ()  # sealed /foo-only file pruned by glob
    assert part.active_files  # actives always scanned

    r2 = FloStreamReader({"path": flo_dir, "namespace": "/foo/*"})
    r2.latestOffset()
    [part2] = r2.partitions({"1": 0}, {"1": 102})
    assert any(p.endswith("p1/0.events") for p in part2.files)

    # a "mixed" entry (ns None) is never pruned
    sealed = os.path.join(flo_dir, "p1", "0.events")
    r._index[sealed]["ns"] = None
    [part3] = r.partitions({"1": 0}, {"1": 102})
    assert any(p.endswith("p1/0.events") for p in part3.files)
