"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's queries read (the TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names and parquet types of the engine's test
data.  The same seed and scale give byte-identical tables.

A ``bar`` table holds rows of the reference template's ``Bar`` model.
Row counts follow the scale factor ``sf`` the way the test data does:
lineitem ~6,000,000 x sf, orders 1,500,000 x sf, customer 150,000 x sf,
events 1,000,000 x sf.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
EMBED_DIM = 64


def _ts(epoch: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros.astype(np.int64) + base, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, n: int) -> dict:
    """The ``events`` stream table: ids in arrival order, timestamps sorted
    over 30 days, 1,500 users, five event types and a small JSON payload."""
    micros = np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 1_000_000, n))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EVENT_EPOCH, micros),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near duplicate: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def _bar(rng: np.random.Generator, n: int) -> dict:
    """Rows of the reference template's ``Bar`` model, over January 2024."""
    has_text = rng.random(n) < 0.67
    return {
        "primary_key": pa.array([f"k{i}" for i in range(n)]),
        "utc_timestamp": _ts(EVENT_EPOCH, rng.integers(0, 31 * 86_400, n) * 1_000_000),
        "baz": pa.array(np.array(["QUX", "QUUX"])[rng.integers(0, 2, n)]),
        "has_text": pa.array(has_text),
        "text_length": pa.array(np.where(has_text, rng.integers(1, 100, n), 0), pa.int64()),
    }


def generate(out_dir: str, seed: int, sf: float, tables: set[str]) -> dict[str, int]:
    """Write the named tables under ``out_dir``; return their row counts.

    Every table draws from its own child generator of ``seed``, so the
    tables a workload skips do not shift the ones it writes."""
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(
        zip(
            ["customer", "supplier", "part", "orders", "events", "documents", "embeddings", "bar"],
            np.random.SeedSequence(seed).spawn(8),
        )
    )
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    counts: dict[str, int] = {}

    if "region" in tables:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        })
        counts["region"] = 5
    if "nation" in tables:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
        counts["nation"] = 25
    if "customer" in tables:
        rng = np.random.default_rng(streams["customer"])
        _write(out_dir, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        })
        counts["customer"] = n_cust
    if "supplier" in tables:
        rng = np.random.default_rng(streams["supplier"])
        _write(out_dir, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        })
        counts["supplier"] = n_supp
    if "part" in tables:
        rng = np.random.default_rng(streams["part"])
        adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
        _write(out_dir, "part", {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, n_part), 1)),
        })
        counts["part"] = n_part
    if "orders" in tables or "lineitem" in tables:
        rng = np.random.default_rng(streams["orders"])
        order_day = rng.integers(0, ORDER_DAYS, n_ord)
        orders = {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(ORDER_EPOCH, order_day * 86_400_000_000),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
        if "orders" in tables:
            _write(out_dir, "orders", orders)
            counts["orders"] = n_ord
        lines = rng.integers(1, 8, n_ord)
        n_li = int(lines.sum())
        l_order = np.repeat(np.arange(n_ord), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        if "lineitem" in tables:
            ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
            _write(out_dir, "lineitem", {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts(ORDER_EPOCH, ship_day * 86_400_000_000),
            })
            counts["lineitem"] = n_li
    if "events" in tables:
        n = max(1_000, int(1_000_000 * sf))
        _write(out_dir, "events", _events(np.random.default_rng(streams["events"]), n))
        counts["events"] = n
    if "documents" in tables:
        n = max(500, int(50_000 * sf))
        _write(out_dir, "documents", _documents(np.random.default_rng(streams["documents"]), n))
        counts["documents"] = n
    if "embeddings" in tables:
        n = max(500, int(20_000 * sf))
        _write(out_dir, "embeddings", _embeddings(np.random.default_rng(streams["embeddings"]), n))
        counts["embeddings"] = n
    if "bar" in tables:
        n = max(1_000, int(20_000 * sf))
        _write(out_dir, "bar", _bar(np.random.default_rng(streams["bar"]), n))
        counts["bar"] = n
    return counts
