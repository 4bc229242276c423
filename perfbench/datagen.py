"""Seeded generator for the engine's input tables.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``), one parquet file each, in the same schema and with the
same value distributions as the repository's TPC-H-style test tables:
row counts scale with ``sf`` (sf=0.1 gives 600k lineitem rows and 100k
events over 30 days).  The same ``seed`` and ``sf`` always give byte-identical
column values.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PADJ = ["large", "hot", "small", "cold", "red", "blue", "shiny", "old"]
PNOUN = ["ring", "bolt", "nut", "gear", "pipe", "wheel", "widget", "plate"]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENTS_START = datetime(2024, 1, 1)
US = 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days_us(rng, n, start: datetime, end: datetime) -> np.ndarray:
    lo = int(start.timestamp()) // 86400
    hi = int(end.timestamp()) // 86400
    return rng.integers(lo, hi + 1, n).astype("int64") * 86400 * US


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _region(rng, n, days) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(rng, n, days) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n, days) -> pa.Table:
    k = n["customer"]
    return pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype("int32"),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, k)],
    })


def _supplier(rng, n, days) -> pa.Table:
    k = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype("int32"),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })


def _part(rng, n, days) -> pa.Table:
    k = n["part"]
    names = np.array([f"{a} {b}" for a in PADJ for b in PNOUN])
    pk = np.arange(k, dtype="int64")
    return pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), k)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, k)],
        "p_type": PTYPES[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })


def _orders(rng, n, days) -> pa.Table:
    k = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], k).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _ts(_days_us(rng, k, datetime(1995, 1, 1), datetime(2001, 8, 1))),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, k)],
    })


def _lineitem(rng, n, days) -> pa.Table:
    k = n["lineitem"]
    flags = np.array([("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F")])
    fl = flags[rng.integers(0, 6, k)]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], k).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
        "l_linenumber": rng.integers(1, 8, k).astype("int32"),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts(_days_us(rng, k, datetime(1995, 1, 2), datetime(2001, 11, 4))),
    })


def _events(rng, n, days) -> pa.Table:
    k = n["events"]
    span_us = days * 86400 * US
    ts = np.sort(rng.integers(0, span_us, k)) + int(EVENTS_START.timestamp()) * US
    return pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n["users"], k).astype("int64"),
        "event_type": EVENT_TYPES[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def _documents(rng, n, days) -> pa.Table:
    k = n["documents"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(k):
        if i and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(w), int(rng.integers(1, 4))):
                w[j] = str(words[rng.integers(0, len(words))])
        else:
            w = list(words[rng.integers(0, len(words), int(rng.integers(8, 97)))])
        if rng.random() < 0.05:
            w += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n, days) -> pa.Table:
    k = n["embeddings"]
    v = rng.standard_normal((k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype("int32"),
    })


def tables(
    seed: int, sf: float, days: int = 30, only: tuple[str, ...] = TABLES
) -> dict[str, pa.Table]:
    """The tables named in ``only``.  Each table draws from its own
    random stream, so a subset equals the same tables of the full set."""
    n = _sizes(sf)
    return {
        name: globals()[f"_{name}"](np.random.default_rng([seed, i]), n, days)
        for i, name in enumerate(TABLES)
        if name in only
    }


def write_tables(
    out_dir: str, seed: int, sf: float, days: int = 30, only: tuple[str, ...] = TABLES
) -> dict[str, int]:
    """Write each table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf, days, only).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
