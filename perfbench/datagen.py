"""Seeded generator for the engine's star schema (10 parquet tables).

The benchmark must not read anything outside its checkout, so it builds
its own copy of the repository's testdata: the same table names, column
names and physical types (`FIXTURES.md` section B), the same row counts
as the sf0.01 set, and the same value shapes (a 30-word corpus with 5%
near-duplicate documents, unit-norm 64-d embeddings, exponential event
gaps).  The tables depend only on ``TABLE_SEED``: they are inputs every
workload shares, so they stay fixed while ``--seed`` varies the SOM
points and the op order.

The files are written once per checkout under ``<root>/.perfbench/data``
and reused; a ``_DONE`` marker makes a half-written set invisible.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# basename doubles as the program's scratch key (`.scratch/<basename>`),
# so it must differ from the repository testdata's `sf0.1` / `sf0.01` dirs
DATA_NAME = "perfbench_sf0.01"
VERSION = "1"

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.14, 0.15]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))) for _ in range(N_DOCS)
    ]
    # 5% near-duplicates (another document plus a trailing marker word)
    # and a few exact copies, so the dedup operators have work to find
    ids = rng.permutation(N_DOCS)
    for i in ids[: N_DOCS // 20]:
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    for i in ids[N_DOCS // 20 : N_DOCS // 20 + 4]:
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 0.1, (10, EMB_DIM))
    x = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    gaps_us = (rng.exponential(259.0, N_EVENTS) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; identical for identical seeds."""
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": _pick(rng, PTYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", 2405, N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, "1995-01-02", 2499, N_LINEITEM),
        }
    )
    t["events"] = _events(rng)
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_tables(base: str) -> str:
    """Write the tables under ``base`` unless a complete set is there;
    returns the table directory (the ``sf_dir`` the operators take)."""
    out = os.path.join(base, DATA_NAME)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == VERSION:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(VERSION)
    return out
