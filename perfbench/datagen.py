"""Deterministic synthetic tables for the benchmark.

The tables follow the schemas and value ranges of the engine's
catalog tables (TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``; see FIXTURES.md, part B), generated here from a
fixed seed so every benchmark run sees the same rows. The benchmark's
``--seed`` never reaches this module: it only permutes how rows are
split into objects and the order work is issued in, so the expected
outputs do not depend on it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def lineitem(n: int, n_orders: int, n_parts: int, n_supp: int,
             rng: np.random.Generator, null_share: float = 0.0) -> pa.Table:
    """``n`` lineitem rows; ``null_share`` of the discount, tax and
    returnflag values are NULL (the copy sink's NULL path)."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    cols = {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }
    if null_share:
        for name in ("l_discount", "l_tax", "l_returnflag"):
            mask = rng.random(n) < null_share
            cols[name] = pa.array(cols[name].to_pylist(), mask=mask,
                                  type=cols[name].type)
    return pa.table(cols)


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup families)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def catalog_tables(sf: float) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    s = sizes(sf)
    nc, ns, np_, no = s["customer"], s["supplier"], s["part"], s["orders"]
    ne = s["events"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(list(_REGIONS)),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (np_, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, _TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }),
        "lineitem": lineitem(s["lineitem"], no, np_, ns, rng),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne)),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50, ne) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }),
        "documents": _documents(s["documents"], rng),
        "embeddings": _embeddings(s["embeddings"], rng),
    }
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def etl_source(rows: int) -> pa.Table:
    """The ETL workload's lineitem rows (fixed, seed-independent),
    with a small share of NULLs."""
    rng = np.random.default_rng(DATA_SEED + 1)
    return lineitem(rows, max(150, rows // 4), max(20, rows // 30),
                    max(10, rows // 600), rng, null_share=0.01)
