"""Seeded inputs for the query mix: the ten catalog tables
(``stateflow_spark.catalog.TABLES``) at about TPC-H sf0.001 size, with the
value domains, key relationships and column types of the engine's test
data, drawn from ``numpy.random.default_rng(seed)``. The same seed writes
the same files."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_EVENTS = 1000
N_USERS = 15
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10

SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "tiny", "big"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "gear", "spring", "valve", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.choice(25, N_SUPPLIER, replace=False), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 9999.99, N_SUPPLIER), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(N_PART), 2),
    })

    odate = EPOCH_1995 + DAY_US * rng.integers(0, 2404, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })

    lines_per = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), lines_per)
    l_num = np.concatenate([np.arange(1, n + 1) for n in lines_per])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[l_order] + DAY_US * rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["N", "A", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })

    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(100.0, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
