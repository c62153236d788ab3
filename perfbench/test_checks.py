"""The benchmark's correctness checks must reject corrupted outputs.

    python3 -m pytest perfbench/test_checks.py -q

Needs neither Spark nor the program: each check is fed a correct output
and then a corrupted copy of it."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import (  # noqa: E402
    check_contiguous,
    check_delivery,
    check_ids_once,
    compare_tables,
    glob_match,
)
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _log(n=6):
    sent = {(c, 1 + c % 2): (f"/a/b{c % 3}", bytes([c, 0xAB, c])) for c in range(1, n + 1)}
    delivered = [(c, a, ns, body) for (c, a), (ns, body) in sorted(sent.items())]
    return sent, delivered


def test_delivery_accepts_the_exact_log():
    sent, delivered = _log()
    assert check_delivery(sent, delivered, "t") == []


def test_delivery_rejects_a_dropped_event():
    sent, delivered = _log()
    assert check_delivery(sent, delivered[:2] + delivered[3:], "t")


def test_delivery_rejects_a_duplicated_event():
    sent, delivered = _log()
    assert check_delivery(sent, delivered[:3] + delivered[2:], "t")


def test_delivery_rejects_one_flipped_body_byte():
    sent, delivered = _log()
    c, a, ns, body = delivered[4]
    delivered[4] = (c, a, ns, body[:1] + bytes([body[1] ^ 0x01]) + body[2:])
    assert check_delivery(sent, delivered, "t")


def test_delivery_rejects_out_of_order_events():
    sent, delivered = _log()
    delivered[1], delivered[2] = delivered[2], delivered[1]
    assert check_delivery(sent, delivered, "t")


def test_ids_once_rejects_drop_and_duplicate():
    ids = [1, 2, 3, 4]
    assert check_ids_once(set(ids), ids, "t") == []
    assert check_ids_once(set(ids), ids[:-1], "t")
    assert check_ids_once(set(ids), ids + [2], "t")


def test_contiguous_rejects_gap_and_repeat():
    assert check_contiguous(5, [5, 6, 7], "t") == []
    assert check_contiguous(5, [5, 7, 8], "t")
    assert check_contiguous(5, [5, 6, 6], "t")
    assert check_contiguous(4, [5, 6, 7], "t")


@pytest.mark.parametrize(
    "pattern, namespace, want",
    [
        ("/**/*", "/any/thing", True),
        ("/*/db/h[0-2]", "/eu/db/h1", True),
        ("/*/db/h[0-2]", "/eu/db/h3", False),
        ("/*/db/h[0-2]", "/eu/api/h1", False),
        ("/*/db/h[0-2]", "/eu/x/db/h1", False),  # '*' never crosses '/'
        ("/*/eu/*", "/orders/eu/created", True),
        ("/*/eu/*", "/orders/us/created", False),
        ("/top/**/*suffix", "/top/baz-suffix", True),  # '**' matches zero components
        ("/top/**/*suffix", "/top/a/b/baz-suffix", True),
        ("/top/**/*suffix", "/other/baz-suffix", False),
        ("/foo/?ar", "/foo/bar", True),
        ("/foo/?ar", "/foo/baar", False),
        ("/foo/[!b]ar", "/foo/car", True),
        ("/foo/[!b]ar", "/foo/bar", False),
        ("/exact", "/exact", True),
        ("/exact", "/exact/more", False),
    ],
)
def test_glob_matcher(pattern, namespace, want):
    assert glob_match(pattern, namespace) is want


def test_glob_delivery_rejects_a_wrong_match():
    sent, delivered = _log()
    want = {k: v for k, v in sent.items() if glob_match("/a/b1", v[0])}
    good = [d for d in delivered if glob_match("/a/b1", d[2])]
    assert check_delivery(want, good, "t") == []
    wrong = sorted(good + [d for d in delivered if not glob_match("/a/b1", d[2])][:1])
    assert check_delivery(want, wrong, "t")
    assert check_delivery(want, good[1:], "t")


COLS = ["k", "revenue", "day"]
ROWS = [
    (1, 1234.56, dt.datetime(2024, 1, 1)),
    (2, 0.1234, dt.datetime(2024, 1, 2)),
    (2, 0.1234, dt.datetime(2024, 1, 2)),
]


def test_tables_accept_equal_results_in_any_order_and_column_order():
    ref_cols = ["day", "k", "revenue"]
    ref = [(d, k, r) for k, r, d in reversed(ROWS)]
    assert compare_tables("q", COLS, ROWS, ref_cols, ref) == []


def test_tables_accept_a_change_within_the_rounding():
    rows = [(1, 1234.56 + 1e-9, ROWS[0][2])] + ROWS[1:]
    assert compare_tables("q", COLS, rows, COLS, ROWS) == []


def test_tables_reject_an_added_row():
    assert compare_tables("q", COLS, ROWS + [ROWS[0]], COLS, ROWS)


def test_tables_reject_a_removed_row():
    assert compare_tables("q", COLS, ROWS[:2], COLS, ROWS)


def test_tables_reject_a_value_changed_beyond_the_rounding():
    rows = [(1, 1234.57, ROWS[0][2])] + ROWS[1:]
    assert compare_tables("q", COLS, rows, COLS, ROWS)
    rows = ROWS[:2] + [(2, 0.1235, ROWS[2][2])]
    assert compare_tables("q", COLS, rows, COLS, ROWS)


def test_tables_reject_renamed_columns_and_empty_references():
    assert compare_tables("q", ["k", "rev", "day"], ROWS, COLS, ROWS)
    assert compare_tables("q", COLS, [], COLS, [])


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
