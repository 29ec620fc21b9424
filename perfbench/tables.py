"""Seeded generator for the ``queries_mix`` tables.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``), one parquet file each, with the column names and types
the engine's ``sources.batch.load_table`` expects.  Row counts scale with
``sf`` like the TPC-H-style corpus the queries were written against
(sf 0.01: 60k lineitem rows, 10k events, 500 documents, near-duplicate
and exact-duplicate documents planted).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "key agg row scan slow fast table value part hash a batch window spark order data "
    "column join small line customer query filter the big merge stream group sort vector"
).split()
EMBED_DIM = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (np.int64((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
              + (seconds * 1_000_000).astype(np.int64))
    return pa.array(micros, type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Word-salad texts of 10-100 tokens with planted duplicates, as in the
    corpus the near-dup queries were written against: 5% near-duplicates
    (one token of a distinct base text replaced) and 2% exact copies.
    Near-duplicates are made only from texts of at least 80 tokens, so each
    planted pair has 3-shingle Jaccard >= 0.92, far above the queries' 0.6
    threshold, where banded LSH misses a pair with probability < 1e-5."""
    n_near, n_exact = n_docs // 20, n_docs // 50
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(n_docs - n_near - n_exact)]
    long = [i for i, t in enumerate(texts) if t.count(" ") >= 79]
    bases = rng.choice(long, min(len(long), n_near + n_exact), replace=False)
    for b in bases[:n_near]:
        toks = texts[b].split()
        i = int(rng.integers(len(toks)))
        toks[i] = WORDS[(WORDS.index(toks[i]) + int(rng.integers(1, len(WORDS)))) % len(WORDS)]
        texts.append(" ".join(toks))
    texts += [texts[b] for b in bases[n_near:]]
    # at a tiny sf there may be too few long texts to plant them all
    texts += [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), 50)) for _ in range(n_docs - len(texts))]
    return [texts[i] for i in rng.permutation(len(texts))]


def make_tables(seed: int, sf: float, out: str) -> dict[str, int]:
    """Write every table under ``out``; return the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_events, n_docs = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_emb = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": price,
    })

    day = 86_400
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_line = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per]) if n_ord else np.zeros(0, int)
    l_part = rng.integers(0, n_part, n_line)
    l_qty = rng.integers(1, 51, n_line).astype(float)
    l_ext = np.round(l_qty * price[l_part], 2)
    order_total = np.bincount(l_order, weights=l_ext, minlength=n_ord)
    o_days = rng.integers(0, 2404, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(order_total * rng.uniform(0.9, 1.1, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), o_days * day),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": l_qty,
        "l_extendedprice": l_ext,
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), (o_days[l_order] + rng.integers(0, 120, n_line)) * day),
    })

    n_users = max(10, int(15_000 * sf))
    ev_sec = np.sort(rng.uniform(0, 30 * day, n_events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_sec),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [LANGS[x] for x in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array([v.astype(np.float32) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line, "events": n_events,
            "documents": n_docs, "embeddings": n_emb, "part": n_part, "supplier": n_supp}
