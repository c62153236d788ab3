"""flo-client-cli analog surface (flo_spark/cli.py) — argument grammar
and print formats mirror flo-client-cli/src/main.rs:40-114 +
client_cli/consumer.rs:58-72."""

import io

import pytest

from flo_spark.cli import main
from flo_spark.sources.event_table import EventStream


@pytest.fixture()
def stream_dir(spark, tmp_path):
    EventStream.create(spark, str(tmp_path / "s"), num_partitions=2)
    return str(tmp_path / "s")


def run(spark, *argv):
    out = io.StringIO()
    rc = main(list(argv), spark=spark, out=out)
    assert rc == 0
    return out.getvalue()


def test_produce_prints_ids_and_summary(spark, stream_dir):
    out = run(
        spark, "--stream-dir", stream_dir, "produce",
        "-n", "/orders/new", "-p", "2", "-d", "first", "-d", "second",
    )
    assert out.splitlines() == [
        "1.2",
        "2.2",
        "Successfully produced 2 events to /orders/new",
    ]


def test_consume_block_format_and_parent(spark, stream_dir):
    run(
        spark, "--stream-dir", stream_dir, "produce",
        "-n", "/a", "-p", "1", "-d", "root",
    )
    run(
        spark, "--stream-dir", stream_dir, "produce",
        "-n", "/a", "-p", "1", "-d", "child", "--parent-id", "1.1",
    )
    out = run(spark, "--stream-dir", stream_dir, "consume", "-n", "/a")
    assert "EventId: 1.1\nNamespace: /a\n" in out
    assert "EventId: 2.1, Parent: 1.1\n" in out
    assert "Body: child\n" in out


def test_consume_start_position_single_partition(spark, stream_dir):
    """--start-position consumes ONLY that partition, like the
    reference's single-id version vector (consumer.rs:34-38)."""
    for p in ("1", "2"):
        run(
            spark, "--stream-dir", stream_dir, "produce",
            "-n", "/x", "-p", p, "-d", "e1", "-d", "e2", "-d", "e3",
        )
    # stream-wide contiguous id assignment: partition 1 got 1-3,
    # partition 2 got 4-6 (flo reserves counters off one stream head)
    out = run(
        spark, "--stream-dir", stream_dir, "consume",
        "-n", "/x", "-s", "4.2", "-l", "10",
    )
    ids = [
        line.split()[1]
        for line in out.splitlines()
        if line.startswith("EventId:")
    ]
    assert ids == ["5.2", "6.2"]  # partition 2 only, after counter 4


def test_bad_event_id_exits(spark, stream_dir):
    with pytest.raises(SystemExit, match="invalid event id"):
        main(
            ["--stream-dir", stream_dir, "consume", "-s", "nope"],
            spark=spark,
            out=io.StringIO(),
        )


def test_bench_produce_reports_windows_and_latency(spark, stream_dir):
    out = run(
        spark, "--stream-dir", stream_dir, "bench-produce",
        "--size", "64", "-w", "2", "-s", "0.1", "--events-per-batch", "10",
    )
    lines = out.splitlines()
    assert lines[0].startswith("window 1:") and "events/sec" in lines[0]
    assert lines[1].startswith("window 2:")
    assert lines[2].startswith("total:")
    assert "p50=" in lines[3] and "max=" in lines[3]


def test_module_entrypoint_help():
    """python -m flo_spark --help exercises the __main__ wiring without
    starting a session (argparse exits before main's body runs)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "flo_spark", "--help"],
        capture_output=True,
        text=True,
        timeout=60,
        cwd="/root/repo",
    )
    assert r.returncode == 0
    assert "produce" in r.stdout and "consume" in r.stdout


def test_produce_requires_data_and_valid_partition(spark, stream_dir):
    with pytest.raises(SystemExit, match="at least one -d"):
        main(
            ["--stream-dir", stream_dir, "produce", "-n", "/a"],
            spark=spark,
            out=io.StringIO(),
        )
    with pytest.raises(SystemExit, match="out of range 1..2"):
        main(
            ["--stream-dir", stream_dir, "produce", "-n", "/a",
             "-p", "9", "-d", "x"],
            spark=spark,
            out=io.StringIO(),
        )


def test_native_produce_consume_roundtrip(spark, tmp_path):
    """--native drives a real .events dir: produce appends segments
    with ids continuing from the dir head; consume decodes them with
    glob/limit/start-position semantics intact."""
    import os

    d = str(tmp_path / "native")
    os.makedirs(d)
    out = run(
        spark, "--stream-dir", d, "--native", "produce",
        "-n", "/orders/new", "-p", "1", "-d", "first", "-d", "second",
    )
    assert out.splitlines() == [
        "1.1",
        "2.1",
        "Successfully produced 2 events to /orders/new",
    ]
    # ids continue from the head on a second produce
    out2 = run(
        spark, "--stream-dir", d, "--native", "produce",
        "-n", "/orders/more", "-p", "1", "-d", "third",
    )
    assert out2.splitlines()[0] == "3.1"
    # real segment files exist
    segs = sorted(os.listdir(os.path.join(d, "p1")))
    assert segs == ["0.events", "1.events"]
    got = run(spark, "--stream-dir", d, "--native", "consume",
              "-n", "/orders/*")
    assert got.count("EventId:") == 3
    assert "Body: third" in got
    limited = run(
        spark, "--stream-dir", d, "--native", "consume",
        "-s", "1.1", "-l", "1",
    )
    assert limited.count("EventId:") == 1
    assert "EventId: 2.1" in limited


def test_native_bench_produce_rejected(spark, tmp_path):
    with pytest.raises(SystemExit):
        main(
            ["--stream-dir", str(tmp_path), "--native", "bench-produce"],
            spark=spark,
            out=io.StringIO(),
        )


def test_native_await_batch_size_rejected(spark, tmp_path):
    """-b maps onto a parquet stream's files per trigger; a native dir
    tails event by event, so the combination exits with a message."""
    with pytest.raises(SystemExit, match="omit --native"):
        main(
            ["--stream-dir", str(tmp_path), "--native", "consume",
             "--await", "-b", "5"],
            spark=spark,
            out=io.StringIO(),
        )


def test_serve_runs_the_tcp_server(tmp_path):
    """`serve` exposes the wire protocol over a native data dir — no
    Spark session needed; a remote client produces and consumes."""
    import re
    import threading
    import time

    from flo_spark.protocol.client import FloClient

    root = str(tmp_path / "served")
    out = io.StringIO()

    def run_server():
        main(
            [
                "--stream-dir", root, "serve",
                "--port", "0", "--duration", "15",
            ],
            out=out,
        )

    t = threading.Thread(target=run_server, daemon=True)
    t.start()
    deadline = time.time() + 10
    port = None
    while time.time() < deadline:
        m = re.search(r"listening on 127\.0\.0\.1:(\d+)", out.getvalue())
        if m:
            port = int(m.group(1))
            break
        time.sleep(0.05)
    assert port, "server did not report its port"
    with FloClient("127.0.0.1", port) as c:
        for i in range(3):
            c.produce(1, "/cli/serve", f"e{i}".encode())
        got = list(c.consume(version_vector={1: 0}))
        assert [e.data for e in got] == [b"e0", b"e1", b"e2"]


def test_fsck_cli_reports_and_exit_code(tmp_path):
    """`fsck` needs no Spark session; OK on a healthy dir, exit 1 with
    an ERROR line on corruption."""
    from flo_spark.sources.flo_segment import encode_segment

    root = tmp_path / "fsck_cli"
    d = root / "p1"
    d.mkdir(parents=True)
    evs = [(i + 1, 1, None, None, 5000, "/f", b"x") for i in range(3)]
    with open(d / "0.events", "wb") as f:
        f.write(encode_segment(iter(evs), 0, 10**13))
    out = io.StringIO()
    rc = main(["--stream-dir", str(root), "fsck"], out=out)
    assert rc == 0
    text = out.getvalue()
    assert "partition 1: head 3" in text and text.rstrip().endswith("OK")

    # corrupt a sealed file (add a second file so 0.events seals)
    with open(d / "1.events", "wb") as f:
        f.write(encode_segment(iter([(4, 1, None, None, 5001, "/f", b"y")]), 0, 10**13))
    blob = bytearray((d / "0.events").read_bytes())
    blob[16 + 4] ^= 0xFF
    (d / "0.events").write_bytes(bytes(blob))
    out2 = io.StringIO()
    rc2 = main(["--stream-dir", str(root), "fsck"], out=out2)
    assert rc2 == 1 and "ERROR" in out2.getvalue()
    assert out2.getvalue().rstrip().endswith("CORRUPT")
