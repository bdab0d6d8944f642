"""Seeded generator for the ten query tables the registered keys read.

Writes ``<out_dir>/<table>.parquet`` (one file, one row group each) with
the same column names, Arrow types and value domains as the repository's
synthetic test data: a TPC-H-like star (region … lineitem), an ``events``
stream table, ``documents`` with 5% planted near-duplicates, and unit-norm
64-d ``embeddings``. ``scale`` multiplies the row counts; 0.1 gives
600,000 lineitem rows. The same ``(seed, scale)`` always writes the same
bytes, so a run's inputs follow from its seed alone.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DUP_SHARE = 0.05
_EMBED_DIM = 64
_DAY_US = 86_400 * 1_000_000


def _micros(day: str) -> int:
    return int((datetime.fromisoformat(day) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    first, last = _micros(lo), _micros(hi)
    days = rng.integers(0, (last - first) // _DAY_US + 1, n)
    return pa.array(first + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def _build(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = int(50_000 * scale)
    n_vec = int(20_000 * scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(_pick(rng, _ADJ, n_part), " "), _pick(rng, _NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    start = _micros("2024-01-01")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < _DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_vec, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _build(np.random.default_rng(seed), scale)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy", row_group_size=max(table.num_rows, 1),
        )
    return {name: table.num_rows for name, table in tables.items()}
