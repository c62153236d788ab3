"""Workload ``spark``: the catalog and the event log in one Spark
session, started fresh by the run (``flo_spark.session.get_spark``).

A pass runs the 16 headline catalog queries (``catalog.py``), then one
round of the event log (``event_log.py``).  The first pass in the fresh
session is the cold pass; its query results are checked against DuckDB.
An untimed warm-up pass follows it, then the timed warm passes: on 4
cores the catalog half took 30, 12, 9.0 and 9.4 s in four passes of one
session, so the second pass still holds warm-up.  After the passes the
event log is drained once.  Both halves share
one session because each fresh session costs about 10 s to start and
30 s of first-use compilation."""

from __future__ import annotations

import os
import random
import time

import catalog
import spark_util
from catalog_data import write_tables
from event_log import EventLog
from harness import median
from metrics import QUERY_NAMES


#: untimed passes between the cold pass and the timed warm passes
WARMUP_PASSES = 1


def passes_for(seconds: float) -> int:
    """1 cold pass + warm-up + timed warm passes; a warm pass takes
    about 20 s on 4 cores."""
    return 1 + WARMUP_PASSES + max(1, round(seconds / 20))


def run(ctx) -> None:
    from flo_spark.queries import queries

    tr, res = ctx.tracer, ctx.result
    data = os.path.join(ctx.work, "tables")
    write_tables(data, ctx.seed)
    spark, jvm_pid = spark_util.start(ctx)
    try:
        full_catalog = queries()
        qmap = {n: full_catalog[n] for n in QUERY_NAMES}
        jobs = spark_util.JobCounter(spark) if tr.enabled else None
        listener = spark_util.progress_listener(spark) if tr.enabled else None
        log = EventLog(ctx, spark, random.Random(ctx.seed), jobs)
        ctx.setup_done()

        pass_s, cat_passes, warm_from = [], [], 0
        for pno in range(passes_for(ctx.seconds)):
            t0 = time.perf_counter()
            cat_passes.append(catalog.run_pass(ctx, spark, qmap, data, jobs, collect=pno == 0))
            log.run_pass(pno, warm=pno > WARMUP_PASSES)
            pass_s.append(time.perf_counter() - t0)
            if pno == WARMUP_PASSES and listener:
                warm_from = len(listener.reports)
        log.drain()
        reports = []
        if listener:
            log.planned_files()
            time.sleep(0.5)  # the listener bus is asynchronous
            reports = listener.reports[warm_from:]
    finally:
        res.layer["jvm_peak_rss_mb"] = (spark_util.stop(spark, jvm_pid), "MB")

    catalog.check(ctx, data, cat_passes[0])
    timed = slice(1 + WARMUP_PASSES, None)
    catalog.layer_metrics(ctx, cat_passes[0], cat_passes[timed], reports)
    log.finish(reports)
    res.e2e["cold_pass_s"] = (pass_s[0], "s")
    res.e2e["warm_pass_s"] = (median(pass_s[timed]), "s")
    res.e2e.update(log.end_to_end())
