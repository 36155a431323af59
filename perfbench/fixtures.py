"""Seeded TPC-H-ish fixture tables for the ``query_mix`` workload.

The registry queries read ten tables (``tables.TABLE_NAMES``) from a
directory of parquet files.  This module writes those tables from a seed,
with the schemas ``tables.EXPECTED_SCHEMAS`` validates and the value
shapes the queries were written against: 25 nations in 5 regions, 25
brands, five event types over one month, a small word vocabulary for the
documents and 64-dimensional float embeddings.  Row counts follow the
scale factor ``sf`` as in the engine's test data (orders = 1.5M x sf).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "new", "large", "green"]
NOUNS = ["ring", "widget", "bolt", "gizmo", "rod", "anvil", "plate", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_items = int(6_000_000 * sf)
    n_parts = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100.0),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
        "p_name": pa.array([
            f"{a} {n}" for a, n in zip(rng.choice(ADJECTIVES, n_parts), rng.choice(NOUNS, n_parts))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_parts)),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_parts) * 0.1, 2)),
    })
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0),
        "o_orderdate": _ts(EPOCH_1995_US + order_days * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    item_order = rng.integers(0, n_orders, n_items)
    qty = rng.integers(1, 51, n_items).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(item_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_items) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_items)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_items)),
        "l_shipdate": _ts(EPOCH_1995_US + (order_days[item_order] + rng.integers(1, 95, n_items)) * DAY_US),
    })
    # events: one month, in id order, microsecond timestamps
    gaps = rng.exponential(30 * DAY_US / n_events, n_events).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps) % (30 * DAY_US)),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(rng.integers(1, 49_003, n_events) / 100.0),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]),
    })
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(8, 90))))
        for _ in range(n_docs)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write(tables: dict[str, pa.Table], sf_dir: str) -> int:
    """Write one ``<name>.parquet`` per table; returns bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
