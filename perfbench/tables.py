"""Seeded generator for the registry's ten parquet tables.

The registry queries read `region nation customer supplier part orders
lineitem events documents embeddings` from one directory. This module writes
tables with the same schemas and value domains as the repository's test
fixtures (FIXTURES.md section c): a TPC-H-like star schema with independent
uniform columns, an `events` stream, and the fixed-size `documents` and
`embeddings` tables. Row counts scale with SF like the fixtures do.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
N_DOCS = 500
EMBED_DIM = 64
#: scale factor: small enough that the driver-side build, not execution,
#: takes most of a driver-heavy query's time
SF = 0.002

_DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int)) + 1


def _random_dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, span = _days(start, end)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write the ten tables under out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, int(150_000 * SF))
    n_supp = max(1, int(10_000 * SF))
    n_part = max(1, int(200_000 * SF))
    n_ord = max(1, int(1_500_000 * SF))
    n_line = max(1, int(6_000_000 * SF))
    n_evt = max(1, int(1_000_000 * SF))
    n_users = max(1, int(15_000 * SF))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _random_dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _random_dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(N_DOCS):
        words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, N_DOCS)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centroids[labels] + rng.normal(0.0, 1.0, (N_DOCS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_DOCS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
