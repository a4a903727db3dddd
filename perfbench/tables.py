"""Generator for the tables the probed query lanes read.

The lanes read a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``, one parquet file per table, from a directory given as
``sf_dir``. This writes that directory at the scale and in the shape of a
0.01 scale factor (60k ``lineitem`` rows): uniform keys and values,
5% near-duplicate documents, and unit-length embeddings around ten class
centres.

The data comes from one fixed seed (``DATA_SEED``), not the run's seed, so
each lane's result is the same in every run and can be checked against
the oracle hashes recorded in ``oracle_hashes.json``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
WORDS = (
    "a the data table row column key value join hash merge sort scan filter"
    " group agg window order line part customer query stream batch vector"
    " spark big small fast slow"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.13, 0.15, 0.14)

EPOCH = dt.datetime(1995, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    day_us = 86_400 * 1_000_000
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
        }
    )
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [
                f"{a} {n}"
                for a, n in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": retail,
        }
    )

    order_day = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts(EPOCH, order_day * day_us),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
        }
    )

    lines = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines.sum())
    orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    linenumber = np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = rng.integers(0, N_PART, n_lines)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    # A few full orders of maximal lines, so the large-volume query
    # (total quantity above 300) has customers to return.
    quantity[(np.repeat(lines, lines) == 7) & (orderkey % 500 == 0)] = 50.0
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_lines)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_lines),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * retail[partkey], 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_lines).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_lines).tolist(),
            "l_shipdate": _ts(EPOCH, ship_day * day_us),
        }
    )

    gaps = rng.exponential(30 * day_us / N_EVENTS, N_EVENTS)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts(EVENTS_START, np.cumsum(gaps)),
            "user_id": rng.integers(0, 150, N_EVENTS),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
            "value": np.round(rng.exponential(20.0, N_EVENTS) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )

    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = "dup"
            else:
                words.append("dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = 0.15 * centres[labels] / np.sqrt(EMBED_DIM) + rng.normal(
        0.0, 1.0 / np.sqrt(EMBED_DIM), (N_EMBEDDINGS, EMBED_DIM)
    )
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return tables


def write_tables(sf_dir: str, seed: int = DATA_SEED) -> dict[str, int]:
    """Write every table to ``sf_dir/<name>.parquet``; returns the row
    count of each."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
