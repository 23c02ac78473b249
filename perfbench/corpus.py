"""Deterministic synthetic warehouse corpus for the benchmark.

The engine reads ten parquet tables (``catalog.TABLES``): a TPC-H-like star
schema, an ``events`` stream table, a ``documents`` text table and an
``embeddings`` vector table. The benchmark cannot rely on a corpus outside
its own checkout, so it writes one here with the same schemas, key ranges
and value distributions as the engine's reference test corpus (uniform
categorical columns, 2-decimal money, midnight dates, a 30-word text
vocabulary with planted exact and near duplicates, label-clustered unit
vectors).

The corpus is a fixed base table set — it depends only on ``scale`` and
``CORPUS_SEED`` — so it is built once per checkout and its DuckDB oracle
digests are cached beside it. Everything a run varies by ``--seed`` (query
order, feed churn, dirty partitions, replay order) is generated per run by
the workload modules.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]  # en ~40%, like the reference corpus
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (1.0 = 6M lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1500, int(1_500_000 * scale)),
        "lineitem": max(6000, int(6_000_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.002:
            # Exact duplicate of an earlier document.
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and r < 0.05:
            # Near duplicate: an earlier document with one word replaced.
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    dim = 64
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(scale: float, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """Every corpus table as an Arrow table; same (scale, seed) -> same data."""
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    pick = lambda vocab, k: pa.array([vocab[j] for j in rng.integers(0, len(vocab), k)], pa.string())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pick(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }
    )
    np_ = n["part"]
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, np_)], pa.string()),
            "p_type": pick(PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1), pa.float64()),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pick(STATUSES, no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, no),
            "o_orderpriority": pick(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, nl),
        }
    )
    ne = n["events"]
    span_us = int(timedelta(days=30).total_seconds() * 1e6)
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, int(ne * 0.015)), ne), pa.int64()),
            "event_type": pick(EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2), pa.float64()),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_corpus(out_dir: str, scale: float, seed: int = CORPUS_SEED) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts.

    Files are written to a sibling temp dir and renamed into place, so a
    half-written corpus is never mistaken for a finished one."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    tables = build_tables(scale, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)
    return {name: table.num_rows for name, table in tables.items()}
