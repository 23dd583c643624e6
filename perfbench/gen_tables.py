"""Seeded tables for the query-registry part of ``corpus_dedup``.

The schemas and value domains of the repository's test tables (TPC-H-ish
``region nation customer supplier part orders lineitem``, plus
``events``, ``documents`` and ``embeddings``), at the row counts of its
sf0.01 set. Documents come from ``gen_docs``; embeddings are unit
vectors around one mean per label.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_docs

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
LINES_PER_ORDER = (1, 7)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "hot", "old", "red", "small", "big", "green", "tiny"],
              ["anvil", "bolt", "gear", "gizmo", "ring", "widget", "nut", "spring"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64
LABELS = 10
EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.int64(base.timestamp()) * 1_000_000 + (seconds * 1_000_000).astype(np.int64))
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7AB])
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                       for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }),
    }
    no = n["orders"]
    order_s = rng.integers(0, 2400, no) * 86400.0
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(EPOCH_1995, order_s),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    lines = rng.integers(*LINES_PER_ORDER, no, endpoint=True)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995, np.repeat(order_s, lines) + rng.integers(1, 122, nl) * 86400.0),
    })
    ne = n["events"]
    ev_s = np.sort(rng.uniform(0, 30 * 86400, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(EPOCH_2024, ev_s),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = gen_docs.documents(n["documents"], seed)
    means = rng.normal(size=(LABELS, EMBED_DIM))
    labels = rng.integers(0, LABELS, n["embeddings"])
    vecs = means[labels] + 0.5 * rng.normal(size=(n["embeddings"], EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir: Path, seed: int) -> Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
