"""Seeded battery tables in the layout ``driver_queries.QUERIES`` reads.

One ``<dir>/<table>.parquet`` file per table: the TPC-H-style star schema
(region, nation, customer, supplier, part, orders, lineitem) plus the
``events``, ``documents`` and ``embeddings`` tables.  Row counts, key
ranges, value distributions and column types follow the sf0.01 test data
(5% near-duplicate documents, 64-dim unit embeddings in 10 weak clusters,
30 days of events from 150 users), so the queries do the same kind of
work on every seed; the seed changes only the drawn values.

Generated with NumPy and written with pyarrow: no Spark job, so input
generation does not warm the engine it is about to measure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per table at the sf0.01 size
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "hot", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_FRAC = 0.05
EMB_DIM = 64
N_USERS = 150


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform midnight timestamps in [lo, hi]."""
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a).astype(int)) + 1
    return (a + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_FRAC:
            # near-duplicate: an earlier document with one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.15 * centroids[labels] + rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    nat = np.arange(25, dtype=np.int32)
    part_price = 900.0 + (np.arange(n["part"]) % 1000) / 10.0
    l_part = rng.integers(0, n["part"], n["lineitem"])
    l_qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"]))
    cols = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(nat),
            "n_name": pa.array([f"NATION_{i}" for i in nat]),
            "n_regionkey": pa.array(nat % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(part_price),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n["orders"])),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"])),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
            "l_quantity": pa.array(l_qty),
            "l_extendedprice": pa.array(np.round(l_qty * part_price[l_part], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"])),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"])),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n["lineitem"])),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": pa.array(ts0 + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, n["events"])),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"])),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return {name: pa.table(cols[name]) for name in TABLES}


def write_tables(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
