"""Seeded generator of the catalog's input tables.

Same table names, column names and parquet types as the repository's
synthetic test data (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), at the row counts below (the
0.01 scale).  Value domains follow that data so every headline query
returns rows: five regions including ASIA, the BUILDING segment,
STANDARD parts, shipdates around 1996-1998, purchases and clicks by the
same users, and about 5% near-duplicate documents."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
NOUN = ["widget", "bolt", "gear", "ring", "plate", "rod", "nut", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = ROWS["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n), _pick(rng, NOUN, n))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n_orders = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = ROWS["events"]
    # 30 days of events in time order, microsecond timestamps
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    emb = rng.normal(0.0, 0.1, (n, EMBED_DIM)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; about 5% repeat an earlier document with
    one or two ``dup`` words appended (near duplicates, Jaccard well
    above 0.5 on word 3-shingles)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(path: str, seed: int) -> dict[str, int]:
    """Write ``<path>/<table>.parquet`` for every table; returns row
    counts."""
    os.makedirs(path, exist_ok=True)
    counts = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
