"""Seeded synthetic catalog tables for the batch_headline workload.

Writes the ten tables `moc_indexer_spark.tables.TABLE_NAMES` reads
(`<dir>/<name>.parquet`, one file each) with the same schema and value
domains as the synthetic sf tables `bench.py` reads: a TPC-H-ish star schema
(region .. lineitem), a January-2024 `events` stream, a 30-word-vocabulary
`documents` corpus with injected exact and near duplicates, and unit-norm
64-d `embeddings` with a weak per-label mean. Row counts scale with `sf`
as in the fixtures (lineitem = 6M x sf, events = 1M x sf, ...).

Same `(seed, sf)` -> byte-identical tables.
"""
from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
N_LABELS = 10


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _days(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype(np.int64) * 86_400_000_000)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in lengths]
    # ~1% near duplicates (one word swapped for "dup") and ~0.2% exact
    # copies, so the dedup operators have pairs to find
    for j in range(1, n):
        u = rng.random()
        if u < 0.01:
            toks = texts[int(rng.integers(0, j))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[j] = " ".join(toks)
        elif u < 0.012:
            texts[j] = texts[int(rng.integers(0, j))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    means = rng.normal(0.0, 0.01, (N_LABELS, EMB_DIM))
    x = rng.normal(0.0, 1.0, (n, EMB_DIM)) * 0.125 + means[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels,
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all tables under out_dir; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(10, int(50_000 * sf))
    n_emb = min(n_docs, 2_000)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": nk % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.datetime(1995, 1, 1),
                             rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.datetime(1995, 1, 2),
                            rng.integers(0, 2498, n_line)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(40.0, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_docs, "embeddings": n_emb,
    }
