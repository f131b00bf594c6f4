"""Deterministic generator of the engine's TPC-H-ish fixture tables.

Writes the ten tables the query builders read (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, with the column names, types and value domains of
the engine's fixture set at scale factor 0.01 (lineitem 60,000 rows).
The benchmark regenerates them in its own work directory on every run,
so it needs no data from outside its checkout.

The tables are fixed: they do not depend on the benchmark's ``--seed``
(which permutes op order and generates the E1 inputs instead), so the
DuckDB oracle outcome of every query is the same on every run.

Run ``python3 perfbench/fixtures.py OUT_DIR`` to write them by hand.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

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
EVENT_USERS = 150
EMBED_DIM = 64
EMBED_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

def _days(start: dt.date, n: np.ndarray) -> pa.Array:
    """Midnight timestamps ``start + n`` days, microsecond precision."""
    base = np.datetime64(start, "us")
    return pa.array(base + n.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )

    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )

    n = ROWS["part"]
    adj = rng.choice(PART_ADJ, n)
    noun = rng.choice(PART_NOUN, n)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), i64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )

    n = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2405, n)),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )

    n = ROWS["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2499, n)),
        }
    )

    n = ROWS["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), i64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )

    n = ROWS["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    # Unit vectors drawn around one centre per label, so nearest
    # neighbours exist in the way a real embedding corpus has them.
    n = ROWS["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, n)
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    vecs = centres[labels] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write_fixtures(out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


if __name__ == "__main__":
    print(write_fixtures(sys.argv[1]))
