"""Workload ``tcp_log``: one client, one connection, against the TCP
server started as ``python -m flo_spark --stream-dir D serve``.

A run is a cold pass followed by warm passes over one growing log.
Each pass:

1. bulk produce: pipelined ``produce_many`` windows into 4 partitions,
   1 KiB bodies, namespaces from a three-level tree;
2. full consume of the whole log, from a zero cursor;
3. selective-glob consume from the pass's start cursor;
4. closed-loop tail rounds: sync-produce a few events, then consume
   from the cursor until caught up.

It is the only workload that runs ``protocol`` and the server's decode
path.  Inputs come from ``--seed`` alone."""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import time
from statistics import fmean

import layer_probe
from harness import median, percentile, proc_cpu_s, proc_peak_rss_mb
from checks import check_contiguous, check_delivery, glob_match

PARTITIONS = (1, 2, 3, 4)
REGIONS = ("eu", "us", "ap")
SERVICES = ("api", "db", "cache", "auth")
HOSTS = tuple(f"h{i}" for i in range(5))
#: selects about 15% of the events: one service, three hosts of five
GLOB = "/*/db/h[0-2]"
#: the default ``--size`` of the reference's produce benchmark, flo-bench-cli
BODY_BYTES = 1024
WINDOW = 500  # events per produce_many call
EVENTS_PER_PASS = 12000
TAIL_ROUNDS_PER_PASS = 6
TAIL_EVENTS = 3


def namespaces() -> list[str]:
    return [f"/{r}/{s}/{h}" for r in REGIONS for s in SERVICES for h in HOSTS]


def make_event(rng: random.Random, ns_list: list[str]):
    return rng.choice(PARTITIONS), rng.choice(ns_list), rng.randbytes(BODY_BYTES)


def passes_for(seconds: float) -> int:
    """1 cold pass + warm passes; a pass takes about 4 s on 4 cores."""
    return 1 + max(3, round(seconds / 4))


class _Server:
    """The ``serve`` CLI as a child process; stopped with SIGINT (the
    CLI's own shutdown path) and always waited for."""

    def __init__(self, root: str, data_dir: str):
        env = dict(os.environ)
        env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "flo_spark", "--stream-dir", data_dir,
             "serve", "--port", "0"],
            cwd=root, env=env, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if "listening on" not in line:
            self.stop()
            raise RuntimeError(f"server did not start: {line!r}")
        host, port = line.rsplit(" ", 1)[1].strip().rsplit(":", 1)
        self.host, self.port, self.pid = host, int(port), self.proc.pid

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def run(ctx) -> None:
    from flo_spark.protocol.client import FloClient

    tr, res = ctx.tracer, ctx.result
    rng = random.Random(ctx.seed)
    ns_list = namespaces()
    n_passes = passes_for(ctx.seconds)

    data_dir = os.path.join(ctx.work, "tcp_data")
    server = _Server(ctx.root, data_dir)
    try:
        client = FloClient(server.host, server.port, client_name="perfbench")
        try:
            ctx.setup_done()
            _passes(ctx, client, server, rng, ns_list, n_passes)
            res.layer["server_peak_rss_mb"] = (proc_peak_rss_mb(server.pid), "MB")
        finally:
            client.close()
    finally:
        server.stop()

    if tr.enabled:
        layer_probe.segment_and_glob(
            ctx, data_dir, ctx.state["sample"], ns_list, GLOB, ctx.state["produced"]
        )


def _passes(ctx, client, server, rng, ns_list, n_passes) -> None:
    tr, res = ctx.tracer, ctx.result
    heads = {p: 0 for p in PARTITIONS}
    produced = 0
    window_ms, sync_us, first_ms, round_ms, idle_ms = [], [], [], [], []
    cpu = {"produce": 0.0, "consume": 0.0, "glob_consume": 0.0, "tail": 0.0}
    produce_s = consume_s = 0.0
    consumed = 0
    pass_s = []
    all_sent: dict = {}

    def consume(vv, glob):
        out = []
        t0 = time.perf_counter()
        with tr.span("protocol", "consume"):
            for ev in client.consume(namespace=glob, version_vector=dict(vv)):
                if not out:
                    first_ms.append((time.perf_counter() - t0) * 1e3)
                out.append((ev.id.counter, ev.id.actor, ev.namespace, ev.data))
        res.op()
        return out

    def acked(ids, events, sent, what):
        for eid, (part, ns, body) in zip(ids, events):
            res.check(eid.actor == part, f"{what}: ack for partition {eid.actor}, sent to {part}")
            res.problems.extend(check_contiguous(heads[part] + 1, [eid.counter], f"{what} p{part}"))
            heads[part] = eid.counter
            sent[(eid.counter, eid.actor)] = (ns, body)

    for pno in range(n_passes):
        op = tr.new_op()
        t_pass = time.perf_counter()
        start_vv = dict(heads)
        sent: dict = {}
        events = [make_event(rng, ns_list) for _ in range(EVENTS_PER_PASS)]
        if pno == 0:
            ctx.state["sample"] = events[:2000]

        # 1. pipelined produce
        c0 = proc_cpu_s(server.pid)
        t0 = time.perf_counter()
        for i in range(0, len(events), WINDOW):
            win = events[i : i + WINDOW]
            tw = time.perf_counter()
            with tr.span("protocol", "produce_many", op):
                ids = client.produce_many(win)
            window_ms.append((time.perf_counter() - tw) * 1e3)
            res.op()
            acked(ids, win, sent, f"pass {pno} produce_many")
        if pno > 0:
            produce_s += time.perf_counter() - t0
        cpu["produce"] += proc_cpu_s(server.pid) - c0
        produced += len(events)

        # 2. full consume of the whole log
        c0 = proc_cpu_s(server.pid)
        t0 = time.perf_counter()
        got = consume({p: 0 for p in PARTITIONS}, "/**/*")
        if pno > 0:
            consume_s += time.perf_counter() - t0
            consumed += len(got)
        cpu["consume"] += proc_cpu_s(server.pid) - c0
        all_sent.update(sent)
        res.problems.extend(check_delivery(all_sent, got, f"pass {pno} full consume"))

        # 3. selective glob
        c0 = proc_cpu_s(server.pid)
        got = consume(start_vv, GLOB)
        cpu["glob_consume"] += proc_cpu_s(server.pid) - c0
        want = {k: v for k, v in sent.items() if glob_match(GLOB, v[0])}
        res.check(len(want) > 0, f"pass {pno}: glob {GLOB} selects nothing")
        res.problems.extend(check_delivery(want, got, f"pass {pno} glob consume"))

        # 4. closed-loop tail rounds (their events join the log)
        for _ in range(TAIL_ROUNDS_PER_PASS):
            vv = dict(heads)
            c0 = proc_cpu_s(server.pid)
            t0 = time.perf_counter()
            tail_sent: dict = {}
            for _ in range(TAIL_EVENTS):
                ev = make_event(rng, ns_list)
                ts = time.perf_counter()
                with tr.span("protocol", "produce", op):
                    eid = client.produce(*ev)
                sync_us.append((time.perf_counter() - ts) * 1e6)
                res.op()
                acked([eid], [ev], tail_sent, f"pass {pno} tail produce")
            got = consume(vv, "/**/*")
            wall = time.perf_counter() - t0
            used = proc_cpu_s(server.pid) - c0
            cpu["tail"] += used
            produced += TAIL_EVENTS
            res.problems.extend(check_delivery(tail_sent, got, f"pass {pno} tail round"))
            all_sent.update(tail_sent)
            if pno > 0:
                round_ms.append(wall * 1e3)
                idle_ms.append((wall - used) * 1e3)
        pass_s.append(time.perf_counter() - t_pass)

    ctx.state["produced"] = produced
    res.e2e["cold_pass_s"] = (pass_s[0], "s")
    res.e2e["warm_pass_s"] = (median(pass_s[1:]), "s")
    # the mean, not the median: round times rise with the log from pass
    # to pass, and a median of that mixture jumps between the levels
    res.e2e["op_ms"] = (fmean(round_ms), "ms")
    L = res.layer
    res.e2e["write_eps"] = ((n_passes - 1) * EVENTS_PER_PASS / produce_s, "events/s")
    L["consume_eps"] = (consumed / consume_s, "events/s")
    L["protocol.client.produce_many_ms"] = (median(window_ms), "ms")
    L["protocol.client.produce_us.p50"] = (median(sync_us), "us")
    L["protocol.client.produce_us.p99"] = (percentile(sync_us, 99), "us")
    L["protocol.client.first_event_ms"] = (median(first_ms), "ms")
    for phase, v in cpu.items():
        L[f"protocol.server.cpu_s.{phase}"] = (v, "s")
    L["protocol.server.idle_in_round_ms"] = (median(idle_ms), "ms")
