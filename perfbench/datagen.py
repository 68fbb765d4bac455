"""Deterministic synthetic tables for the ``batch`` workload.

The registry queries read ten parquet tables (``session.TABLES``): a
TPC-H-like star schema, an ``events`` stream table, ``documents`` text and
``embeddings`` vectors. The benchmark cannot rely on any data outside its
checkout, so it renders the same schemas here from a fixed seed: the
column names, types and value domains follow the repository's test
tables (TESTDATA.md), and every file is one row group, as there.

Row counts scale with ``sf`` (sf 0.1: 600 k lineitem rows, 5 k documents).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the rendered data changes, so cached copies are rebuilt
VERSION = 1

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["blue", "red", "green", "hot", "cold", "new", "old", "small",
               "large", "bright", "dark", "light", "heavy"]
_NOUNS = ["anvil", "widget", "bolt", "ring", "rod", "plate", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = ("a the batch row sort query filter hash key group agg join scan "
          "order value window fast slow vector table stream data part "
          "column merge spark small big line customer").split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01 00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; a tenth are near-duplicates of an earlier
    document (one or two words changed) and a few are exact copies, so
    the dedup and similarity queries find real clusters."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.102:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(8, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Render every table at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 40)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(_ADJECTIVES), n_part)
    noun = rng.integers(0, 5, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJECTIVES[a]} {_NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, max(int(50_000 * sf), 50))
    out["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 50))
    return out


def write(sf_dir: str, sf: float) -> None:
    """Write every table to ``sf_dir/<name>.parquet``, one row group each."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=len(table) or 1)
