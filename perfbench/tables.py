"""Seeded generator for the query-mix workload's input tables.

Writes the ten tables the query registry reads (``catalog.TESTDATA_TABLES``)
with the column names, parquet types and value domains of the shared
testdata at sf0.01 (TESTDATA.md), drawn from ``--seed``, so the workload
reads nothing outside its own checkout. Documents and embeddings keep
the testdata's 500 rows; about 5% of documents are near-duplicates of an
earlier one (the original text plus a trailing ``dup``), which the
dedup faces look for.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
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
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
_US = 1_000_000


def _ts_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * _US


def _days(rng: np.random.Generator, n: int, start: datetime, end: datetime) -> pa.Array:
    lo, hi = _ts_us(start) // (86400 * _US), _ts_us(end) // (86400 * _US)
    return pa.array(rng.integers(lo, hi + 1, n) * 86400 * _US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": _days(rng, n["orders"], datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900, 105000),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, nl, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    ne = n["events"]
    t0 = _ts_us(datetime(2024, 1, 1))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), i64),
            "ts": pa.array(np.sort(rng.integers(t0, t0 + 30 * 86400 * _US, ne)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), i64),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    texts: list[str] = []
    for _ in range(n["documents"]):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), i64),
            "text": texts,
            "lang": rng.choice(LANGS, len(texts)).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, len(texts))],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0, 0.8, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), i64),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}
