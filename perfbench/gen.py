"""Seeded input generators for the benchmark.

``star(out_dir, sf, seed)`` writes the ten fixture tables (TPC-H-ish
star schema, ``events``, ``documents``, ``embeddings``) with the schemas
and value domains the registry's queries and oracles are written
against (see FIXTURES.md), one parquet file per table.
``corpus(out_dir, n_docs, n_vecs, seed)`` writes a dedup corpus with a
known set of planted near-duplicate documents and vectors.

The same ``(sf, seed)`` always produces byte-identical values; only
numpy and pyarrow are used, so the generators run without Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _days(lo: str, hi: str) -> tuple[int, int]:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return int(a), int(b)


def _ts_days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    d = rng.integers(a, b + 1, n).astype(np.int64) * _DAY_US
    return pa.array(d, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _documents(rng: np.random.Generator, n: int, dup_share: float):
    """Word-salad documents; ``dup_share`` of them are an earlier
    document with one word appended (a planted near-duplicate).
    Returns (texts, planted pairs as (original, copy) ids)."""
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    n_dup = int(round(n * dup_share))
    dup_ids = set(rng.choice(np.arange(1, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_ids:
            src = int(rng.integers(0, i))
            while src in dup_ids:
                src = int(rng.integers(0, i))
            texts.append(texts[src] + " dup")
            planted.append((src, i))
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    return texts, planted


def _doc_table(rng: np.random.Generator, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dup_share: float):
    """Unit-norm float32 vectors around ``N_LABELS`` weak cluster
    centres; ``dup_share`` of them are a small perturbation of an
    earlier vector (cosine > 0.99). Returns (matrix, labels, planted)."""
    centres = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = rng.normal(0, 1, (n, EMB_DIM)) + 1.1 * centres[labels]
    planted: list[tuple[int, int]] = []
    n_dup = int(round(n * dup_share))
    dup_ids = sorted(rng.choice(np.arange(1, n), n_dup, replace=False).tolist())
    dup_set = set(dup_ids)
    for i in dup_ids:
        src = int(rng.integers(0, i))
        while src in dup_set:
            src = int(rng.integers(0, i))
        x[i] = x[src] + rng.normal(0, 0.02, EMB_DIM)
        labels[i] = labels[src]
        planted.append((src, i))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels, planted


def _emb_table(x: np.ndarray, labels: np.ndarray) -> dict:
    n = len(x)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    }


def star(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten fixture tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n_part).tolist()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _ts_days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * _DAY_US
    ts = t0 + np.sort(rng.integers(0, span, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts, _ = _documents(rng, n_docs, 0.05)
    _write(out_dir, "documents", _doc_table(rng, texts))
    x, labels, _ = _embeddings(rng, n_vecs, 0.0)
    _write(out_dir, "embeddings", _emb_table(x, labels))
    return out_dir


def corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int,
           dup_share: float = 0.05) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for the
    dedup workload and return the planted pairs and the raw inputs the
    output checks recompute from."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    texts, doc_pairs = _documents(rng, n_docs, dup_share)
    _write(out_dir, "documents", _doc_table(rng, texts))
    x, labels, vec_pairs = _embeddings(rng, n_vecs, dup_share)
    _write(out_dir, "embeddings", _emb_table(x, labels))
    return {
        "texts": texts,
        "doc_pairs": doc_pairs,
        "vectors": x,
        "vec_pairs": vec_pairs,
    }
