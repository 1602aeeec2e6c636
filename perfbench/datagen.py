"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the registry queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names, types and
value domains of the repository's test data: a TPC-H-like star schema,
an events stream with JSON props, a small text corpus with planted
duplicates, and 64-dimensional unit embeddings clustered by label.

The tables depend only on the scale factor (their own seed is fixed), so
every benchmark run of a workload scans the same bytes; the run's seed
picks literals and request order instead. Output goes to a temporary
directory that is renamed into place, so an interrupted build never
leaves a half-written table set behind.

Usage: python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import os
import shutil
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes, so cached table sets rebuild.
VERSION = "1"
TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data filter fast group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(datetime.fromisoformat(start), "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]) for _ in range(n)]
    # planted duplicates: a few exact copies and ~2% near-copies (" dup" suffix)
    for i in rng.choice(np.arange(n // 2, n), max(2, n // 50), replace=False):
        src = texts[rng.integers(0, n // 2)]
        texts[i] = src if rng.random() < 0.2 else src + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts("2024-01-01", ts_us),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    out["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return out


def build(out_dir: str, sf: float) -> str:
    """Write the table set for `sf` under `out_dir` unless a complete one
    of this VERSION is already there; returns the table directory."""
    final = os.path.join(out_dir, f"sf{sf:g}")
    stamp = os.path.join(final, "VERSION")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == VERSION:
                return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "VERSION"), "w") as f:
        f.write(VERSION)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


if __name__ == "__main__":
    print(build(sys.argv[1], float(sys.argv[2])))
