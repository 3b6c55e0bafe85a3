"""Deterministic generator for the bpaotu_spark input tables.

Writes the ten parquet tables that ``bpaotu_spark.catalog`` reads
(TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the same column names, parquet types and value
domains as the project's test data, one file and one row group per
table. The dataset is a fixture of the benchmark: it is generated from
a fixed seed, so every run and every commit reads identical rows; the
workload seed only chooses requests.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts relative to the project's sf0.01 tables; documents and
# embeddings do not scale with sf in the test data either.
CUSTOMERS = 750
ORDERS_PER_CUSTOMER = 10
LINES_PER_ORDER = 4
PARTS = 1000
SUPPLIERS = 50
EVENTS = 5000
DOCUMENTS = 500
EMBEDDINGS = 500
EMBEDDING_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = int(datetime.fromisoformat(start).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every table in memory; the same seed gives the same rows."""
    rng = np.random.default_rng(seed)
    n_o = CUSTOMERS * ORDERS_PER_CUSTOMER
    n_l = n_o * LINES_PER_ORDER
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": rng.choice(SEGMENTS, CUSTOMERS).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, SUPPLIERS),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(PARTS), pa.int64()),
        "p_name": rng.choice(names, PARTS).tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(PART_TYPES, PARTS).tolist(),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(PARTS) % 1000) / 10.0, 2),
    })
    order_days = rng.integers(0, 2400, n_o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n_o), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_o).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts("1995-01-01", order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_o).tolist(),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_l), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_l), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_l).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_l).tolist(),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_l) * _US_PER_DAY),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(range(EVENTS), pa.int64()),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, CUSTOMERS // 10, EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, EVENTS).tolist(),
        "value": _money(rng, 0.01, 500.0, EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document, so dedup finds pairs
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = str(rng.choice(WORDS))
            words.append("dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=(0.4, 0.15, 0.15, 0.15, 0.15)).tolist(),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(EMBEDDINGS, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(
            vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
    })
    return out


def write(sf_dir: str, seed: int = DATA_SEED) -> int:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, tbl in tables(seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
