"""Seeded synthetic fixtures for the benchmark.

Writes the ten tables the engine reads (``io.TABLES``) as one parquet
file each, with the schemas of the repository's test fixtures
(FIXTURES.md): a TPC-H-shaped star schema, an ``events`` stream table,
and the ``documents`` / ``embeddings`` tables of the LLM-pipeline
queries. The same ``(seed, sf)`` always gives the same files.

Row counts and value shapes follow statistics measured on the fixture
files themselves at sf0.001, sf0.01 and sf0.1 (perfbench/README.md,
"Input data"), where they differ from the prose of FIXTURES.md:
``user_id`` has 15,000 x sf distinct keys, ``ts`` rises strictly with
``event_id``, ``n_chars`` equals the length of ``text``, and every
embedding has unit length.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.15, 0.14, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05  # share of documents that are near copies of another

_EPOCH = datetime.datetime(1970, 1, 1)


def _us(d: datetime.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days(rng, n: int, lo: datetime.datetime, hi: datetime.datetime) -> np.ndarray:
    """n whole-day timestamps (ms) uniform in [lo, hi]."""
    day_ms = 86_400_000
    d0, d1 = _us(lo) // 1000 // day_ms, _us(hi) // 1000 // day_ms
    return rng.integers(d0, d1 + 1, n) * day_ms


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for scale factor ``sf`` into ``out_dir`` and
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_ms = pa.timestamp("ms")

    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
    })
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": pa.array(
            _days(rng, n_ord, datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1)), ts_ms
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
        "l_shipdate": pa.array(
            _days(rng, n_line, datetime.datetime(1995, 1, 2), datetime.datetime(2001, 11, 4)), ts_ms
        ),
    })

    # events: unique µs timestamps ascending with event_id over 30 days
    t0, span = _us(datetime.datetime(2024, 1, 1)), 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + t0
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_docs, "embeddings": n_emb,
    }
