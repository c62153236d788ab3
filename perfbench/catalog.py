"""The catalog half of the ``spark`` workload: the 16 headline queries
of ``flo_spark.queries.queries()`` over tables generated from the seed
(``catalog_data.py``).

Read-only: its time goes to the catalog builders and to Spark running
the plans; it never touches the segment codec or the server.  The cold
pass collects every result, checked afterwards against DuckDB running
``ref_sql/<query>.sql``; warm passes execute each plan in full through
the ``noop`` sink."""

from __future__ import annotations

import os
import time

import spark_util
from checks import compare_tables
from harness import median
from metrics import QUERY_NAMES, STREAM_PHASES

HERE = os.path.dirname(os.path.abspath(__file__))


def run_pass(ctx, spark, qmap, data: str, jobs, collect: bool) -> dict:
    """One pass over the 16 queries.  Returns per query
    ``(build_s, execute_s, job counts)`` under ``"time"`` and, when
    ``collect``, ``(columns, rows)`` under ``"rows"``."""
    tr, res = ctx.tracer, ctx.result
    out = {"time": {}, "rows": {}}
    for name, fn in qmap.items():
        op = tr.new_op()
        t0 = time.perf_counter()
        with spark_util.group(jobs) as b, tr.span("queries", f"{name}.build", op):
            df = fn(spark, data)
        t1 = time.perf_counter()
        with spark_util.group(jobs) as e, tr.span("queries", f"{name}.execute", op):
            if collect:
                out["rows"][name] = (list(df.columns), [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        res.op()
        counts = {
            "build_jobs": b.get("jobs", 0),
            "exec_jobs": e.get("jobs", 0),
            "exec_stages": e.get("stages", 0),
        }
        out["time"][name] = (t1 - t0, t2 - t1, counts)
    return out


def pass_s(p: dict) -> float:
    return sum(b + e for b, e, _c in p["time"].values())


def check(ctx, data: str, cold: dict) -> None:
    """Each query's collected result against DuckDB on the same files."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data)):
            table = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data, f)}'")
        for name in QUERY_NAMES:
            with open(os.path.join(HERE, "ref_sql", f"{name}.sql")) as fh:
                cur = con.execute(fh.read())
            ref_cols = [d[0] for d in cur.description]
            ref_rows = cur.fetchall()
            cols, rows = cold["rows"][name]
            ctx.result.problems.extend(compare_tables(name, cols, rows, ref_cols, ref_rows))
    finally:
        con.close()


def layer_metrics(ctx, cold: dict, warm: list[dict], reports) -> None:
    L = ctx.result.layer
    L["catalog_cold_s"] = (pass_s(cold), "s")
    L["catalog_warm_s"] = (median(pass_s(p) for p in warm), "s")
    for q in QUERY_NAMES:
        L[f"queries.{q}.build_s"] = (median(p["time"][q][0] for p in warm), "s")
        L[f"queries.{q}.execute_s"] = (median(p["time"][q][1] for p in warm), "s")
    L["queries.build_s"] = (sum(L[f"queries.{q}.build_s"][0] for q in QUERY_NAMES), "s")
    L["queries.execute_s"] = (sum(L[f"queries.{q}.execute_s"][0] for q in QUERY_NAMES), "s")
    last = warm[-1]["time"].values()
    L["queries.build_jobs"] = (sum(c["build_jobs"] for _b, _e, c in last), "count")
    L["queries.execute_jobs"] = (sum(c["exec_jobs"] for _b, _e, c in last), "count")
    L["queries.execute_stages"] = (sum(c["exec_stages"] for _b, _e, c in last), "count")
    # run_to_memory names its drain queries flo_mem_<id>
    phases = spark_util.phase_sums(reports, "flo_mem_", STREAM_PHASES)
    for p, v in phases.items():
        L[f"streaming.stream_tumbling_counts.{p}_ms"] = (v / len(warm), "ms")
