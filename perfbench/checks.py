"""Correctness checks, computed apart from the program under test.

Every function returns a list of problems (empty when the output is
correct), so a workload can count them and a test can show that each
check rejects a corrupted output (``test_checks.py``).  Nothing here
imports ``flo_spark``: the glob matcher is the benchmark's own."""

from __future__ import annotations

import datetime as _dt
import fnmatch
import math
import zlib
from collections import Counter
from decimal import Decimal


# -- namespace globs -----------------------------------------------------
def glob_match(pattern: str, namespace: str) -> bool:
    """flo's namespace glob, matched component by component: ``*``,
    ``?`` and ``[...]`` never cross ``/``; a ``**`` component matches
    zero or more whole components; ``/**/*``, ``/**`` and ``**`` match
    everything.  Written apart from ``flo_spark.functions.glob``."""
    if pattern in ("", "**", "/**", "/**/*"):
        return True
    pat = pattern.split("/")
    ns = namespace.split("/")

    def rec(i: int, j: int) -> bool:
        if i == len(pat):
            return j == len(ns)
        if pat[i] == "**":
            return any(rec(i + 1, k) for k in range(j, len(ns) + 1))
        if j == len(ns):
            return False
        return fnmatch.fnmatchcase(ns[j], pat[i]) and rec(i + 1, j + 1)

    return rec(0, 0)


# -- event logs ----------------------------------------------------------
def event_checksum(namespace: str, body: bytes) -> int:
    """Per-event checksum over what the producer chose (not the ids
    the program assigns)."""
    return zlib.crc32(body, zlib.crc32(namespace.encode("utf-8")))


def check_contiguous(first_expected: int, counters: list[int], what: str) -> list[str]:
    """``counters`` (in the order they were acknowledged) must run
    first_expected, first_expected+1, ... without gap or repeat."""
    want = list(range(first_expected, first_expected + len(counters)))
    if counters != want:
        return [f"{what}: acked counters {counters[:8]}... are not {want[:8]}..."]
    return []


def check_delivery(
    expected: dict[tuple[int, int], tuple[str, bytes]],
    delivered: list[tuple[int, int, str, bytes]],
    what: str,
) -> list[str]:
    """``delivered`` ((counter, actor, namespace, body), in delivery
    order) must hold exactly the ``expected`` ids, once each, with the
    namespace and body byte for byte, in strictly increasing
    (counter, actor) order."""
    problems = []
    ids = [(c, a) for c, a, _ns, _b in delivered]
    dup = [i for i, n in Counter(ids).items() if n > 1]
    if dup:
        problems.append(f"{what}: {len(dup)} ids delivered twice, e.g. {dup[0]}")
    missing = set(expected) - set(ids)
    if missing:
        problems.append(f"{what}: {len(missing)} events missing, e.g. {min(missing)}")
    extra = set(ids) - set(expected)
    if extra:
        problems.append(f"{what}: {len(extra)} unexpected events, e.g. {min(extra)}")
    for c, a, ns, body in delivered:
        want = expected.get((c, a))
        if want is not None and want != (ns, body):
            problems.append(f"{what}: event {(c, a)} differs from what was sent")
            break
    if any(ids[i] >= ids[i + 1] for i in range(len(ids) - 1)):
        problems.append(f"{what}: delivery is not in strictly increasing (counter, actor) order")
    return problems


def check_ids_once(expected: set, delivered: list, what: str) -> list[str]:
    """Every expected id delivered exactly once, nothing else."""
    problems = []
    counts = Counter(delivered)
    dup = [i for i, n in counts.items() if n > 1]
    if dup:
        problems.append(f"{what}: {len(dup)} ids delivered more than once")
    if set(counts) != expected:
        problems.append(
            f"{what}: {len(expected - set(counts))} ids missing, "
            f"{len(set(counts) - expected)} unexpected"
        )
    return problems


# -- relational results --------------------------------------------------
#: catalog floats are rounded to at most 4 decimals on both engines
FLOAT_DECIMALS = 4


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        r = round(v, FLOAT_DECIMALS)
        return str(int(r)) if r == int(r) else format(r, f".{FLOAT_DECIMALS}f")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], rows) -> Counter:
    """Order-insensitive multiset of rows, columns in name order, floats
    at the catalog's rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def compare_tables(
    name: str,
    got_cols: list[str],
    got_rows: list,
    ref_cols: list[str],
    ref_rows: list,
) -> list[str]:
    """Row count, column names and row multiset must all agree, and the
    reference must not be empty (a 0-row result passes trivially)."""
    problems = []
    if not ref_rows:
        problems.append(f"{name}: the reference returned 0 rows")
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in ref_cols):
        problems.append(f"{name}: columns {sorted(got_cols)} != {sorted(ref_cols)}")
        return problems
    if len(got_rows) != len(ref_rows):
        problems.append(f"{name}: {len(got_rows)} rows, reference has {len(ref_rows)}")
    got, ref = canon_rows(got_cols, got_rows), canon_rows(ref_cols, ref_rows)
    if got != ref:
        diff = (got - ref) + (ref - got)
        problems.append(f"{name}: {sum(diff.values())} rows differ, e.g. {next(iter(diff))}")
    return problems
