"""Seeded inputs for the benchmark: the fixture tables the registry
queries read, and the stub-universe prediction the ingest checks use.

The tables follow the schemas in FIXTURES.md (TPC-H-like star schema
plus events, documents and embeddings). Row counts are fixed by the
scale and the values by the seed, so every seed costs about the same.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the data spark query table row column key value hash join merge sort "
    "filter group agg window batch stream scan part line order customer "
    "vector small big fast slow"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # Near-duplicate of an earlier document: one word replaced,
            # so the dedup operators have pairs to find.
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    labels = rng.integers(0, k, n)
    centers = rng.normal(0, 1, (k, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    dup = rng.random(n) < 0.05
    dup[0] = False
    src = rng.integers(0, np.arange(n).clip(1))
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * dim, pa.int32()), flat),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ~ TPC-H sf1 row counts for the
    star schema; events, documents and embeddings scale alongside)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_events = max(int(1_000_000 * scale), 500)
    n_users = max(int(15_000 * scale), 20)
    n_docs = max(int(50_000 * scale), 100)
    n_vecs = max(int(50_000 * scale), 100)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        }
    )
    orderdate = _days(rng, datetime(1995, 1, 1), 2404, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": pa.array(orderdate, pa.timestamp("ms")),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_line = len(l_order)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    shipdate = orderdate[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(l_lineno),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(shipdate, pa.timestamp("ms")),
        }
    )
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(40, n_events) + 0.01, 2)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    return tables


def write_fixtures(out_dir: str, seed: int, scale: float) -> str:
    """Write every table as ``{out_dir}/{name}.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def stub_batch_expectation(start: int, end: int) -> dict:
    """What ``StubTransport``'s id rules predict for listed ids
    ``start+1 .. end``: 404 lookups (id % 19), invalid rows (null
    description id % 13 or null language id % 17) and the valid ids."""
    ids = np.arange(start + 1, end + 1)
    found = ids[ids % 19 != 0]
    invalid = (found % 13 == 0) | (found % 17 == 0)
    return {
        "listed": len(ids),
        "found": len(found),
        "first_found": int(found.min()),
        "last_found": int(found.max()),
        "skipped": int(len(ids) - len(found)),
        "invalid": int(invalid.sum()),
        "valid_ids": found[~invalid],
        "watermark": int(end),
    }

