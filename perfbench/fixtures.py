"""Seeded generator for the ten fixture tables the registered queries read.

The tables follow the schemas and value distributions of the repository's
test fixtures (FIXTURES.md): a TPC-H-like star schema, an event stream,
word-salad documents with appended-suffix near-duplicates, and unit-norm
64-d embeddings. Each table is one parquet file with one row group, which
is how the test fixtures are laid out. The same (seed, sf) always writes
the same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build(name: str, sf: float, seed: int) -> pa.Table:
    """One fixture table at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n_supp, n_cust, n_part = (int(round(sf * k)) for k in (10_000, 150_000, 200_000))
    n_orders, n_line = int(round(sf * 1_500_000)), int(round(sf * 6_000_000))
    i32, i64 = pa.int32(), pa.int64()
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
        })
    if name == "part":
        keys = np.arange(n_part)
        return pa.table({
            "p_partkey": pa.array(keys, i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(_PTYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders).tolist()),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders).tolist()),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        })
    if name == "events":
        n = int(round(sf * 1_000_000))
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), i64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(int(sf * 15_000), 1), n), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n).tolist()),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        return _documents(rng, 5000 if sf >= 0.1 else 500)
    if name == "embeddings":
        return _embeddings(rng, 2000 if sf >= 0.1 else 500)
    raise ValueError(f"unknown fixture table {name!r}")


def write(out_dir: str, sf: float, seed: int, names=TABLES) -> str:
    """Write ``names`` as ``<out_dir>/<name>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        t = build(name, sf, seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(t.num_rows, 1), compression="snappy")
    return out_dir
