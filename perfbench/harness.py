"""Shared plumbing for the workloads: the span tracer, host context,
/proc readers, small statistics helpers and the result line.

Nothing here imports ``flo_spark`` or ``pyspark``: ``run.py`` sets the
environment (work dir, temp dirs, Spark parallelism) before either is
imported."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc (read only) ------------------------------------------------
def proc_cpu_s(pid: int) -> float:
    """user+sys CPU seconds of one process (utime+stime of
    /proc/<pid>/stat, in clock ticks)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd, from its start tick in
    /proc/self/stat (resolution 1/CLK_TCK)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def host_sample() -> dict:
    """1-minute load average and the machine's cumulative CPU steal
    ticks (the 8th value of the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"load1": os.getloadavg()[0], "steal_ticks": int(cpu[8])}


# -- statistics --------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


# -- tracing -----------------------------------------------------------
class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records name, layer, start, end, parent span and the id of
    the operation it belongs to.  Spans are kept in memory and written
    out by :meth:`dump` when the run ends.  With ``enabled=False``
    :meth:`span` records nothing, so the untraced run pays one branch
    per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, layer: str, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None else self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans
        (children of one span never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# -- result ------------------------------------------------------------
class Result:
    """Collects metrics and operation counts for the result line."""

    def __init__(self):
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def op(self, n: int = 1) -> None:
        self.attempted += n
