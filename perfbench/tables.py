"""Seeded parquet tables for the analytics query catalog.

The query catalog reads the star-schema, events, documents and
embeddings tables through ``catalog.table(spark, sf_dir, name)``. The
benchmark may read nothing outside its checkout, so it writes its own
copies of the tables the timed queries read, with the column types and
value domains of the repository's test tables and about their sf0.001
row counts (events at sf0.01, so the event queries do some work). The
same seed writes the same bytes.

Money, discounts and taxes are multiples of 1/4, 1/64 and 1/128, so
every product and sum of them is exact in binary floating point. Several
catalog queries round a SUM of doubles to 2 dp, and an inexact sum can
round differently in Spark and in the DuckDB oracle, whose addition
orders differ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 10_000
N_USERS = 150
N_ORDERS = 1_500
N_CUSTOMERS = 150
N_SUPPLIERS = 10
N_PARTS = 200
N_DOCS = 500
N_VECS = 500
DIM = 64

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()

TABLE_NAMES = (
    "events", "region", "nation", "customer", "supplier", "orders", "lineitem",
    "documents", "embeddings",
)

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us.astype(np.int64), type=pa.timestamp("us"))


def _quarters(x: np.ndarray) -> np.ndarray:
    return np.round(x * 4) / 4


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return _quarters(rng.uniform(lo, hi, n))


def _events(rng):
    n = N_EVENTS
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(_quarters(rng.exponential(50.0, n)), 0.25)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _star(rng) -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMERS)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIERS)),
    })
    order_us = rng.integers(0, 2400, N_ORDERS) * _DAY_US
    lines = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), lines)
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(float)
    unit = _money(rng, 900.0, 2100.0, n_lines)
    ship_us = np.repeat(order_us, lines) + rng.integers(1, 122, n_lines) * _DAY_US
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_lines), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * unit),
        "l_discount": pa.array(rng.integers(0, 7, n_lines) / 64.0),
        "l_tax": pa.array(rng.integers(0, 11, n_lines) / 128.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": _ts("1995-01-01", ship_us),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts("1995-01-01", order_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def _documents(rng):
    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng):
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table of TABLE_NAMES as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = {"events": _events(rng), **_star(rng)}
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
