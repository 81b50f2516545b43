"""Seeded input tables for the registry workload.

Writes the ten tables the registry reads (``<name>.parquet`` each)
with the schemas of the driver's synthetic test data, at about the
sf0.001 row counts. The same seed gives byte-identical inputs. A fixed
number of documents and vectors are planted near-duplicates of others,
so the dedup and similarity entries have a known amount of work to find.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the stream query row fast small spark group customer line sort hash batch dup data filter "
    "value big key order table scan merge part window join slow agg column a vector"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["ECONOMY", "MEDIUM", "LARGE", "STANDARD", "PROMO", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

N_DOCS = 500
N_VECS = 500
#: near-duplicates planted among the documents and among the vectors
N_DUP_DOCS = 60
N_DUP_VECS = 25
DIM = 64
N_EVENTS = 1000
N_CUSTOMERS = 150
N_SUPPLIERS = 10
N_PARTS = 200
N_ORDERS = 1500
N_LINES = 6000


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> list[dt.datetime]:
    span = (hi - lo).days
    base = dt.datetime(lo.year, lo.month, lo.day)
    return [base + dt.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)]


def _planted(rng: np.random.Generator, n: int, k: int) -> dict[int, int]:
    """k copies among n rows: copy row -> an earlier row that is itself
    no copy, so copies of copies never chain into long clusters."""
    copies = sorted(int(i) for i in rng.choice(np.arange(20, n), size=k, replace=False))
    originals = np.setdiff1d(np.arange(n), copies)
    return {i: int(rng.choice(originals[originals < i])) for i in copies}


def _documents(rng: np.random.Generator) -> pa.Table:
    planted = _planted(rng, N_DOCS, N_DUP_DOCS)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i in planted:
            words = texts[planted[i]].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centroids = rng.normal(0.0, 0.12, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centroids[labels] + rng.normal(0.0, 0.06, (N_VECS, DIM))
    for i, src in _planted(rng, N_VECS, N_DUP_VECS).items():
        vecs[i] = vecs[src] + rng.normal(0.0, 0.002, DIM)
        labels[i] = labels[src]
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array([start + dt.timedelta(microseconds=int(o)) for o in offsets], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
            "value": np.round(rng.uniform(0.01, 330.0, N_EVENTS), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def _relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    i32, i64, ms = pa.int32(), pa.int64(), pa.timestamp("ms")
    region = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMERS), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), i32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, N_CUSTOMERS), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, N_CUSTOMERS)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIERS), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), i32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, N_SUPPLIERS), 2),
        }
    )
    adjectives = ["cold", "small", "big", "red", "fast", "slow", "green", "hot"]
    nouns = ["widget", "gadget", "bolt", "gear", "panel", "valve", "spring", "lever"]
    part = pa.table(
        {
            "p_partkey": pa.array(range(N_PARTS), i64),
            "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (N_PARTS, 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, N_PARTS)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, len(PART_TYPES), N_PARTS)],
            "p_size": pa.array(rng.integers(1, 51, N_PARTS), i32),
            "p_retailprice": np.round(900.0 + np.arange(N_PARTS) * 0.1, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), i64),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS), ms),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, N_ORDERS)],
        }
    )
    quantity = rng.integers(1, 51, N_LINES).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), i64),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINES), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINES), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), i32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, N_LINES), 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINES) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINES) / 100.0, 2),
            "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, N_LINES)],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, N_LINES)],
            "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINES), ms),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write every registry input table under ``out_dir``."""
    rng = np.random.default_rng(seed)
    tables = _relational(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
