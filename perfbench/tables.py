"""Seeded generator of the tables the headline specs read.

Writes ``{dir}/{name}.parquet`` for the ten tables of the package's
table loader (``region nation customer supplier part orders lineitem
events documents embeddings``) with the same column names, types and
value domains as the package's synthetic fixtures: TPC-H-ish keys and
2-decimal prices, a month of time-ordered events, word-vocabulary
documents with exact and near (``... dup``) duplicates, and unit-norm
64-dimensional embeddings clustered by label. The same seed writes the
same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "es", "zh", "de", "fr")    # en twice as common
DIM = 64

# rows per table; "full" is about the package's sf0.01 fixture
SIZES = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "users": 150, "documents": 500, "embeddings": 500},
    "tiny": {"customer": 60, "supplier": 10, "part": 80, "orders": 300,
             "lineitem": 1200, "events": 400, "users": 20,
             "documents": 80, "embeddings": 80},
}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _pick(rng, values, n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i and r < 0.07:    # exact duplicate
            texts.append(texts[int(rng.integers(i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, DIM))
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build(seed: int, size: dict) -> dict[str, pa.Table]:
    """Every table, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    nc, ns, np_, no, nl = (size[k] for k in ("customer", "supplier", "part",
                                             "orders", "lineitem"))
    ne = size["events"]
    i32 = pa.int32()
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": list(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                    i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, np_),
                                                  _pick(rng, PART_NOUN, np_))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                                 no),
            "o_orderpriority": _pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                                nl)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, ne)).astype(
                    "timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, size["users"], ne),
                                pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        "documents": _documents(rng, size["documents"]),
        "embeddings": _embeddings(rng, size["embeddings"]),
    }
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
