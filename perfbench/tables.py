"""Seeded generator for the star-schema tables the registered queries read.

The queries expect ten parquet tables under one directory (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``,
``events``, ``documents``, ``embeddings``). This module writes them with the
schema, row counts and value distributions of the sf0.1 test corpus, drawn
from ``numpy.random.default_rng(seed)``, so the benchmark carries its own
inputs and the same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale factor 1.0; the benchmark uses sf=0.1
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # planted near-duplicates (5%): an earlier document's text plus a marker
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), _EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS.items()}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c), s),
    })
    m = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(m), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(m)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, m), i32),
        "s_acctbal": pa.array(_money(rng, m, -999.99, 9999.99), f64),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": pa.array(rng.choice(names, p), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], s),
        "p_type": pa.array(rng.choice(_PTYPES, p), s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 1), f64),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), s),
        "o_totalprice": pa.array(_money(rng, o, 1000, 500_000), f64),
        "o_orderdate": pa.array(_days(rng, o, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o), s),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, m, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, li, 900, 105_000), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, li), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, li), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), s),
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86_400e6 / e, e).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array((start + np.cumsum(gaps)).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, e // 67), e), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, e), s),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], s),
    })
    t["documents"] = build_documents(seed, sf)
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def build_documents(seed: int, sf: float = 0.1) -> pa.Table:
    """The ``documents`` table alone, from its own random stream, so the
    HTML corpus can be built without generating the other tables."""
    return _documents(np.random.default_rng([seed, 1]), max(1, int(_ROWS["documents"] * sf)))


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
