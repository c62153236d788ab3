"""Benchmark entry point.

    python3 perfbench/run.py --workload tcp_log|spark \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``).  The line before it is the
host context (nproc, Spark parallelism, load average and CPU steal at
the start and end).  Everything the run writes stays under the
checkout: scratch data in ``.perfbench_work/`` (removed at exit),
traces and result copies in ``.perfbench_out/``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Result,
    Tracer,
    host_sample,
    seconds_since_process_start,
)
from metrics import END_TO_END, LAYERS, PER_LAYER  # noqa: E402

BOOT_S = seconds_since_process_start()  # interpreter start up to T0
WORKLOADS = ("tcp_log", "spark")
DRIVER_MEM = "2g"


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.root = ROOT
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.result = Result()
        self.state: dict = {}
        self.spark_parallelism = None

    def setup_done(self) -> None:
        """Marks the end of set-up: from process start until timed work
        can begin."""
        self.result.e2e["setup_s"] = (BOOT_S + time.perf_counter() - T0, "s")


def _environment(work: str) -> None:
    """Keep every file the program or Spark writes inside the checkout,
    and pin Spark's parallelism to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "flo_spark", "__init__.py")):
        print(f"perfbench: no flo_spark package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    host = {"nproc": len(os.sched_getaffinity(0)), "start": host_sample()}
    try:
        _environment(work)
        host["spark_cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])
        host["spark_driver_mem"] = DRIVER_MEM
        ctx = Context(args, work)
        os.chdir(work)
        if args.workload == "tcp_log":
            import tcp_log as wl
        else:
            import spark_workload as wl
        wl.run(ctx)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    host["end"] = host_sample()
    host["spark_default_parallelism"] = ctx.spark_parallelism

    res, tr = ctx.result, ctx.tracer
    missing = [m for m in END_TO_END if m not in res.e2e]
    if missing:
        raise RuntimeError(f"workload {args.workload} did not measure {missing}")
    if tr.enabled:
        selfs = tr.self_time()
        for layer in LAYERS:
            res.layer[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")
        res.layer["trace.spans"] = (len(tr.spans), "count")
        res.layer["trace.warm_pass_s"] = res.e2e["warm_pass_s"]
        unknown = set(res.layer) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
        metrics = {
            name: {"value": float(res.layer.get(name, (0.0, unit))[0]), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        tr.dump(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {
            name: {"value": float(res.e2e[name][0]), "unit": unit}
            for name, unit in END_TO_END.items()
        }
    for p in res.problems[:20]:
        print(f"perfbench: INCORRECT: {p}", file=sys.stderr)
    line = {
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"result-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"host": host, "result": line, "problems": res.problems}, f, indent=1)
    print(json.dumps({"host": host}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
