"""Seeded synthetic corpus for the ``queries`` workload.

Writes the ten catalog tables (``schemas.CORPUS_TABLES``) as one parquet
file each, with the same column names, physical types and value ranges
as the sf0.01 corpus the catalog is gated on: a TPC-H-shaped star
schema, an ``events`` click stream, a ``documents`` table drawn from a
30-word vocabulary with appended near-duplicates, and unit-length
64-dimensional ``embeddings`` clustered around ten labels.

The same seed always gives byte-identical values, so a query's result
is reproducible across runs and checkable against its DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the sf0.01 corpus
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables for ``seed``."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = ROWS["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n),
        }
    )
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": _money(rng, 0.01, 490.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rng, ROWS["documents"])
    out["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences; every twentieth document is a copy of a
    random earlier one with `` dup`` appended, so the near-duplicate
    detectors have the same number of true pairs to find on every seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.3 * centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(out_dir: str, seed: int) -> str:
    """Write the corpus for ``seed`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
