"""Deterministic synthetic input tables for the benchmark.

Writes the ten engine tables (``espkinesis_spark.tables.TABLE_NAMES``) as
parquet into one directory, shaped like the engine's sf0.1 test data: a
TPC-H-ish star schema, a 100k-row ``events`` stream table, a 5000-document
corpus with exact and near duplicates, and 2000 clustered unit embeddings.
The same ``seed`` always gives byte-identical tables; different seeds give
different values with the same row counts and distributions, so timings
stay comparable across seeds.

Run standalone: ``python3 perfbench/datagen.py OUT_DIR SEED``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.01.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
USERS = 150
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_CLUSTERS = 10
NEAR_DUPS = 25  # documents that copy another document and append " dup"
EXACT_DUPS = 2  # documents that copy another document verbatim

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight-aligned timestamps, uniform over [lo, hi]."""
    a, b = _epoch_us(*lo) // _DAY_US, _epoch_us(*hi) // _DAY_US
    us = rng.integers(a, b + 1, n) * _DAY_US
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    lengths = rng.integers(8, 100, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    copies = rng.choice(n, NEAR_DUPS + EXACT_DUPS, replace=False)
    for j, i in enumerate(copies):
        src = int(rng.integers(0, n))
        while src in copies:
            src = int(rng.integers(0, n))
        texts[i] = texts[src] + (" dup" if j < NEAR_DUPS else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = ROWS["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.9, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    cust = n["customer"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(cust), pa.int64()),
            "c_name": _keyed("Customer", cust),
            "c_nationkey": pa.array(rng.integers(0, 25, cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, cust)],
        }
    )
    sup = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(sup), pa.int64()),
            "s_name": _keyed("Supplier", sup),
            "s_nationkey": pa.array(rng.integers(0, 25, sup), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, sup),
        }
    )
    parts = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(parts), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (parts, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, parts)],
            "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) / 10.0, 1),
        }
    )
    orders = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, cust, orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
            "o_orderdate": _days(rng, orders, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)],
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, orders, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, parts, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, sup, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, li, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    ev = n["events"]
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.choice(30 * _DAY_US, ev, replace=False)) + start
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ev)],
            "value": np.round(rng.exponential(50.0, ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table as ``OUT_DIR/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]))
