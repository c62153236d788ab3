"""Spark session lifetime and the traced run's Spark-side counters:
jobs per job group (``statusTracker``) and micro-batch phase durations
(a ``StreamingQueryListener``)."""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager, nullcontext

from harness import proc_peak_rss_mb


def start(ctx):
    """Start the program's session (``flo_spark.session.get_spark``)
    and register ``format("flo")``; returns (spark, JVM pid)."""
    from pyspark import SparkContext

    from flo_spark.session import get_spark
    from flo_spark.sources.flo_datasource import register

    t0 = time.perf_counter()
    with ctx.tracer.span("session", "get_spark"):
        spark = get_spark("perfbench")
        register(spark)
    ctx.result.layer["session.start_s"] = (time.perf_counter() - t0, "s")
    ctx.spark_parallelism = spark.sparkContext.defaultParallelism
    return spark, SparkContext._gateway.proc.pid


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def stop(spark, jvm_pid: int) -> float:
    """Stop the session, end the JVM and wait until it and the Python
    workers it started have exited.  Returns the JVM's peak RSS (MB)."""
    from pyspark import SparkContext

    peak = proc_peak_rss_mb(jvm_pid)
    workers = _descendants(jvm_pid)
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        if workers:
            time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, 9)
        except ProcessLookupError:
            pass
    return peak


class JobCounter:
    """Counts the Spark jobs and stages launched inside a block, by
    running it under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        box = {"jobs": 0, "stages": 0}
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            ids = st.getJobIdsForGroup(gid)
            box["jobs"] = len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                box["stages"] += len(info.stageIds) if info else 0


def group(jobs: JobCounter | None):
    """``jobs.group()``, or a block that counts nothing when the run
    is not traced."""
    return jobs.group() if jobs is not None else nullcontext({})


def progress_listener(spark):
    """Register a listener that keeps (query name, durationMs) of every
    micro-batch progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.reports: list[tuple[str, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.reports.append((p.name or "", dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def phase_sums(reports, prefix: str, phases) -> dict[str, float]:
    """Sum each durationMs phase over the reports of queries whose name
    starts with ``prefix``."""
    out = {p: 0.0 for p in phases}
    for name, dur in reports:
        if name.startswith(prefix):
            for p in phases:
                out[p] += float(dur.get(p, 0))
    return out
