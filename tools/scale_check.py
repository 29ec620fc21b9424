#!/usr/bin/env python3
"""Scale checks above the bench SF, one artifact per ``--set``:

- ``neardup``: the near-dup and ANN families on a 10x-sf0.1 corpus
  (50k documents, 20k embeddings), each against an independent oracle
  -> SF1CHECK.json.
- ``sketch``: the GK quantile, HLL++ and approx_top_k contracts at 1M
  rows (10x the bench SF) -> SF1SKETCH.json.
- ``timing``: sf0.1 -> sf1 time of the documents/embeddings heavies on
  the neardup corpus -> SF1TIMING.json.
- ``extended``: sf0.1 -> sf1 time of the families that read
  events/orders/lineitem, on a seeded 10x relational twin plus the
  neardup corpus -> SF1NEW.json.
- ``sf10``: sf1 -> sf10 time of the documents/embeddings heavies (the
  second decade of the ladder) -> SF10CHECK.json.
- ``sf10-relational``: sf1 -> sf10 time of the heaviest relational
  plans -> the "relational" section of SF10CHECK.json.

The timed sets use bench.py's session and ``run_query``; ``--queries``
replaces a timed set's query list (extended's default is NEW_QUERIES).

Corpus shape: the documents twin mirrors the bench corpus' generator
(word-salad docs of 10-100 tokens, 5 langs, 20 sources; planted
near-dups plus exact dups; unit-Gaussian embeddings with planted
high-cosine perturbations) with ONE deliberate change: a 310-word
vocabulary instead of 31.  At 50k docs the 31-word vocab makes every
3-shingle collide across ~90 unrelated docs and the EXACT oracles
themselves go quadratic; the wider vocab keeps the planted-pair
structure while background collisions stay rare, the realistic regime
for a real corpus.  The relational twin models the bench corpus'
distributions (30-day event span, uniform keys, 25 brands, 5
segments/priorities/event types).  Distributions are approximate, so
timing ratios certify the SCALING SHAPE: a quadratic plan shows far
above 10x per decade, while the ~2 s fixed job overhead pulls honest
linear ratios below 10.  Every generator is seeded; a twin already on
disk ($SF1_DIR, $SF1X_DIR, $SF10_DIR, $SF10_REL_DIR) is reused.

    python tools/scale_check.py --set neardup
    python tools/scale_check.py --set extended --queries events_value_ewma
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SCALE_SMALL_DIR, bench_session, run_query  # noqa: E402
from selfcheck import normalize  # noqa: E402

SF01_DIR = os.path.join(os.path.dirname(SCALE_SMALL_DIR), "sf0.1")
SF1_DIR = os.environ.get("SF1_DIR", "/tmp/sf1_neardup")
SF1X_DIR = os.environ.get("SF1X_DIR", "/tmp/sf1_extended")
SF10_DIR = os.environ.get("SF10_DIR", "/tmp/sf10_scale")
SF10_REL_DIR = os.environ.get("SF10_REL_DIR", "/tmp/sf10_scale_rel")

N_BASE, N_NEAR, N_EXACT = 46_500, 2_500, 1_000
N_VEC, DIM, N_VEC_NEAR = 19_800, 64, 200
#: x10 the sf1 twin's counts (which are x10 the sf0.1 corpus)
SF10_N_BASE, SF10_N_NEAR, SF10_N_EXACT = 465_000, 25_000, 10_000
SF10_N_VEC, SF10_N_VEC_NEAR = 198_000, 2_000

BASE_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the a of"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["view", "click", "purchase", "signup", "error"]

#: timing: the most expensive headline queries whose tables exist in the
#: neardup corpus (documents + embeddings only).
TIMING_QUERIES = [
    "docs_bpe_vocab",
    "docs_dedup_clusters",
    "docs_leakage_free_split",
    "embedding_rrf_topk",
    "docs_minhash_lsh",
    "embedding_ivfpq_topk",
    "docs_winnow_fingerprints",
    "docs_repeated_span_removal",
    "docs_cdc_chunks",
    "docs_global_span_dedup",
]

#: extended: the late-round-5 registrations (feature engineering,
#: experimentation, evaluation, product metrics, governance, mining).
NEW_QUERIES = [
    "events_value_ewma",
    "customer_priority_scd2",
    "brand_winsorized_stats",
    "customer_kfold_balance",
    "docs_readability",
    "docs_posting_lists",
    "embedding_mmr_topk",
    "events_walkforward_folds",
    "events_value_bootstrap_ci",
    "events_cuped_adjustment",
    "embedding_hard_negatives",
    "docs_langid_confusion",
    "docs_shard_manifest",
    "events_entropy_rate",
    "events_power_analysis",
    "events_session_bounce",
    "star_schema_integrity",
    "events_wau_mau_stickiness",
    "orders_repeat_intervals",
    "events_theilsen_trend",
    "brand_item_cf_similarity",
]

#: sf10: documents/embeddings-only heavies: the near-dup family (the
#: banding/cap claims), the span/chunking family (linear-in-bytes
#: claims), and the composed ANN retrievers (cell-pruning claims).
#: embedding_semantic_dedup is timed separately at the SCALE-MATCHED
#: cell count — its registered query pins n_clusters=16 for oracle
#: replicability at gate SFs, and a FIXED k is quadratic in corpus size
#: (within-cell pairs ~ (n/k)^2 * k; measured: 16 cells at 200k vectors
#: ran >100 min before being aborted).  SemDeDup's own design scales k
#: with n; the separate timing holds n/k constant across the decades.
SF10_QUERIES = [
    "docs_minhash_lsh",
    "docs_dedup_clusters",
    "docs_leakage_free_split",
    "docs_curation_waterfall",
    "docs_winnow_fingerprints",
    "docs_cdc_chunks",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "embedding_rrf_topk",
]

#: vectors-per-cell held constant across decades (SemDeDup regime):
#: ~200/cell -> k=100 at the sf1 twin's 20k vectors, k=1000 at 200k.
SEMDEDUP_ROWS_PER_CELL = 200

#: sf10-relational: the heaviest events/orders/lineitem plans by
#: BENCH_DETAIL_r10, one per family — resampling statistics, graph
#: (communities, pagerank, triangles), HLL sketch union, item-item CF,
#: governance audit, point-in-time join.  15M orders / 60M lineitem /
#: 10M events at the sf10 twin (generate_relational scale=10).
SF10_REL_QUERIES = [
    "events_value_bootstrap_ci",
    "brand_copurchase_communities",
    "purchase_graph_pagerank",
    "user_erasure_audit",
    "events_audience_overlap_hll",
    "brand_item_cf_similarity",
    "supplier_triangles",
    "lineitem_pit_priority_mix",
]

#: the method string every timed artifact records
METHOD = (
    "bench.bench_session + bench.run_query: warmed session, per-query "
    "warm-up at sf0.001, noop-sink write timed with perf_counter, a "
    "second run (min kept) only when the first exceeds 3 s, cache "
    "cleared after each run"
)

# sketch-set parameters
N_ROWS = 1_000_000
N_GROUPS = 5
QUANTILE_ACC = 100
PS = [0.25, 0.5, 0.75, 0.9, 0.99]
HLL_RSD = 0.04
TOPK_M = 256


def _write_docs(out_dir: str, texts: list[str], rng, row_group_size: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": [rng.choice(LANGS) for _ in texts],
                "source": [f"src{rng.randrange(20)}" for _ in texts],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
        # small row groups make the single file SPLITTABLE: Spark assigns
        # row groups to byte-range splits, so a compute-heavy narrow map
        # can use every core once maxPartitionBytes is sized below the
        # file size (the timed sets' sessions do this).  A one-row-group
        # 15 MB file reads as ~2 splits and serializes 32 cores down to
        # 2 — the measured 5x slowdown in SCALE.md's sf1 section.
        row_group_size=row_group_size,
    )


def _write_embeddings(out_dir: str, nrng, n_vec: int, n_near: int, row_group_size: int) -> None:
    """Unit-Gaussian vectors plus ``n_near`` planted high-cosine
    (~0.995) perturbations of random ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    V = nrng.standard_normal((n_vec, DIM))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    idx = nrng.choice(n_vec, n_near, replace=False)
    P = V[idx] + 0.05 * nrng.standard_normal((n_near, DIM))
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    allv = np.vstack([V, P]).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(allv)), pa.int64()),
                "embedding": pa.array(list(allv), pa.list_(pa.float32())),
                "label": pa.array(
                    [int(x) for x in nrng.integers(0, 10, len(allv))],
                    pa.int32(),
                ),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
        row_group_size=row_group_size,
    )


def generate_docs(out_dir: str) -> None:
    """Seeded 10x-sf0.1 documents + embeddings twin (the neardup set's
    corpus; see the module docstring for its vocabulary)."""
    rng = random.Random(420)
    vocab = [f"{w}{d}" for w in BASE_WORDS for d in range(10)]

    texts: list[str] = []
    for _ in range(N_BASE):
        n = rng.randint(10, 100)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    for _ in range(N_NEAR):  # planted near-dups, two regimes:
        base = rng.choice(texts[:N_BASE]).split()
        # 80%: the bench corpus' regime (~0.9 Jaccard, 1-2% edits) —
        # the population SCALE.md's "expected misses << 1 at sf1" claim
        # is about; 20%: near-threshold pairs (J ~0.6-0.85) where the
        # banding curve P(detect) = 1-(1-J^8)^16 is well below 1 — these
        # exercise the miss-band analysis, not the exact-match gate
        frac = rng.uniform(0.005, 0.02) if rng.random() < 0.8 else rng.uniform(
            0.03, 0.08
        )
        k = max(1, round(len(base) * frac))
        for i in rng.sample(range(len(base)), k):
            base[i] = rng.choice(vocab)
        texts.append(" ".join(base))
    for _ in range(N_EXACT):  # exact dups
        texts.append(rng.choice(texts[:N_BASE]))
    rng.shuffle(texts)
    _write_docs(out_dir, texts, rng, 2000)
    _write_embeddings(out_dir, np.random.default_rng(420), N_VEC, N_VEC_NEAR, 1000)


def generate_relational(out_dir: str, scale: int = 1) -> None:
    """10x-sf0.1 synthetic relational twin (seeded, numpy-vectorized).

    ``scale`` multiplies every fact/dimension row count (1 = the sf1
    twin; 10 = the sf10 twin of the sf10-relational set).  The
    event span and per-customer order density stay fixed so per-key
    work scales with the data, not with the recipe.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(77)
    os.makedirs(out_dir, exist_ok=True)

    n_cust, n_supp, n_part = 150_000 * scale, 10_000 * scale, 200_000 * scale
    n_orders, n_li_per = 1_500_000 * scale, 4
    n_events, n_users, span_days = 1_000_000 * scale, 15_000 * scale, 30

    def w(name, table):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION{i}" for i in range(5)],
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part name {i}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{(i % 25) + 11}" for i in
                             rng.integers(0, 25, n_part)]),
        "p_type": pa.array([f"TYPE {i}" for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }))

    base = np.datetime64("1995-01-01", "us")
    odate = base + (
        rng.integers(0, 2400, n_orders) * np.int64(86_400_000_000)
    ).astype("timedelta64[us]")
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)]),
    }))

    n_li = n_orders * n_li_per
    li_ok = np.repeat(np.arange(n_orders), n_li_per)
    shipd = odate[li_ok] + (
        rng.integers(1, 121, n_li) * np.int64(86_400_000_000)
    ).astype("timedelta64[us]")
    w("lineitem", pa.table({
        "l_orderkey": pa.array(li_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, n_li_per + 1), n_orders),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(shipd, pa.timestamp("us")),
    }))

    ebase = np.datetime64("2024-01-01", "us")
    ets = ebase + rng.integers(
        0, span_days * 86_400_000_000, n_events
    ).astype("timedelta64[us]")
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(np.abs(rng.normal(40, 35, n_events)), 2),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in
                           rng.integers(0, 100, n_events)]),
    }))


def generate_docs_sf10(out_dir: str) -> None:
    """Seeded x100-sf0.1 documents + embeddings twin (vectorized)."""
    rng = random.Random(4200)
    nrng = np.random.default_rng(4200)
    vocab = np.array([f"{w}{d}" for w in BASE_WORDS for d in range(10)])

    # base texts: one flat draw of token indices, sliced by per-doc
    # lengths (pure-Python rng.choice at 25M draws costs minutes;
    # this is seconds)
    lengths = nrng.integers(10, 101, SF10_N_BASE)
    flat = vocab[nrng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts: list[str] = [
        " ".join(flat[bounds[i] : bounds[i + 1]]) for i in range(SF10_N_BASE)
    ]
    for _ in range(SF10_N_NEAR):  # the sf1 twin's two planted regimes
        base = texts[rng.randrange(SF10_N_BASE)].split()
        frac = (
            rng.uniform(0.005, 0.02)
            if rng.random() < 0.8
            else rng.uniform(0.03, 0.08)
        )
        k = max(1, round(len(base) * frac))
        for i in rng.sample(range(len(base)), k):
            base[i] = str(vocab[rng.randrange(len(vocab))])
        texts.append(" ".join(base))
    for _ in range(SF10_N_EXACT):
        texts.append(texts[rng.randrange(SF10_N_BASE)])
    rng.shuffle(texts)
    _write_docs(out_dir, texts, rng, 8000)  # ~60 row groups
    _write_embeddings(out_dir, nrng, SF10_N_VEC, SF10_N_VEC_NEAR, 8000)


SIMHASH_BANDED_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
  FROM toks
),
votes AS (
  SELECT doc_id, u.j AS j,
         SUM(CASE WHEN ((CASE WHEN u.j < 32 THEN h1 ELSE h2 END) >> (u.j % 32)) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed, unnest(range(0, 64)) AS u(j)
  GROUP BY 1, 2
),
chunks AS (
  SELECT doc_id, CAST(j // 16 AS INTEGER) AS band,
         CAST(SUM(CASE WHEN v > 0 THEN 1 << (j % 16) ELSE 0 END) AS BIGINT) AS chunk
  FROM votes GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         MAX(CASE WHEN band = 0 THEN chunk END) AS c0,
         MAX(CASE WHEN band = 1 THEN chunk END) AS c1,
         MAX(CASE WHEN band = 2 THEN chunk END) AS c2,
         MAX(CASE WHEN band = 3 THEN chunk END) AS c3
  FROM chunks GROUP BY 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa.c0, fb.c0)) + bit_count(xor(fa.c1, fb.c1)) +
            bit_count(xor(fa.c2, fb.c2)) + bit_count(xor(fa.c3, fb.c3))
            AS INTEGER) AS hamming
FROM cands JOIN fp fa ON fa.doc_id = doc_a JOIN fp fb ON fb.doc_id = doc_b
WHERE bit_count(xor(fa.c0, fb.c0)) + bit_count(xor(fa.c1, fb.c1)) +
      bit_count(xor(fa.c2, fb.c2)) + bit_count(xor(fa.c3, fb.c3)) <= 3
"""


def check_neardup(spark, gen_sec: float) -> dict:
    """The near-dup and ANN families at sf1, each against an oracle:

    - ``docs_minhash_lsh`` / ``docs_ngram_jaccard`` / ``docs_dedup_clusters``:
      the registered DuckDB oracles VERBATIM (views re-pointed at the sf1
      parquet).
    - ``docs_simhash_neardup``: the registered all-pairs oracle is
      O(n^2 * 64) — infeasible at 50k docs — so the oracle here
      replicates the same md5 bit-vote fingerprints and applies
      16-bit-band candidate generation (pigeonhole-exact for Hamming
      <= 3) before the Hamming check: same result set, bounded cost.
    - ``embedding_semantic_dedup`` / ``embedding_lsh_topk``: numpy
      brute-force replications (exact cosine; the k-means quantizer is
      the repo's own deterministic trainer, shared by both sides).
    """
    import duckdb

    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()

    duck = duckdb.connect()
    for t in ("documents", "embeddings"):
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF1_DIR}/{t}.parquet')"
        )

    report: dict = {"generator_sec": gen_sec, "dir": SF1_DIR, "checks": {}}

    def spark_run(name: str):
        t = time.perf_counter()
        sdf = queries[name](spark, SF1_DIR)
        cols = sdf.columns
        rows = [tuple(r) for r in sdf.collect()]
        sec = round(time.perf_counter() - t, 2)
        spark.catalog.clearCache()
        return cols, rows, sec

    def record(name: str, cols, rows, sec, ocols, orows, osec):
        ok = (
            sorted(cols) == sorted(ocols)
            and len(rows) == len(orows)
            and normalize(rows, cols) == normalize(orows, ocols)
        )
        report["checks"][name] = {
            "match": ok,
            "spark_rows": len(rows),
            "oracle_rows": len(orows),
            "spark_sec": sec,
            "oracle_sec": osec,
        }
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"({len(rows)} vs {len(orows)} rows, spark {sec}s, oracle {osec}s)",
              flush=True)

    # 1: exact n-gram Jaccard — registered oracle verbatim, strict gate
    cols, rows, sec = spark_run("docs_ngram_jaccard")
    t = time.perf_counter()
    res = duck.execute(oracles["docs_ngram_jaccard"])
    record("docs_ngram_jaccard", cols, rows, sec,
           [d[0] for d in res.description], res.fetchall(),
           round(time.perf_counter() - t, 2))

    # 2: MinHash-LSH — banding-aware gate.  LSH-vs-exact equality only
    # holds when every true pair's detection probability
    # p(J) = 1-(1-J^8)^16 is ~1; this corpus deliberately plants a
    # near-threshold population where p(J) < 1, so the correct contract
    # is: (a) found SUBSET-OF exact with matching jaccards (exact
    # verification removes every false positive), (b) zero misses in
    # the high-J regime SCALE.md's claim covers (J >= 0.9), (c) total
    # misses consistent with the banding expectation.
    cols, rows, sec = spark_run("docs_minhash_lsh")
    t = time.perf_counter()
    # docs_minhash_lsh's own oracle: the exact-Jaccard fixture's SQL
    # without its doc_id < NGRAM_FIXTURE_MAX_DOC_ID cap, so it covers the
    # whole corpus, as the LSH query does; it yields (a, b, jaccard)
    exact = {
        (r[0], r[1]): r[2]
        for r in duck.execute(oracles["docs_minhash_lsh"]).fetchall()
    }
    found = {(r[cols.index("doc_a")], r[cols.index("doc_b")]):
             r[cols.index("jaccard")] for r in rows}
    false_pos = {k: v for k, v in found.items() if k not in exact}
    value_diffs = {
        k: (found[k], exact[k])
        for k in found
        if k in exact and abs(found[k] - exact[k]) > 1e-9
    }
    missed = {k: exact[k] for k in exact if k not in found}
    p = lambda j: 1.0 - (1.0 - j**8) ** 16  # noqa: E731
    expected_misses = sum(1.0 - p(j) for j in exact.values())
    high_j_misses = {k: j for k, j in missed.items() if j >= 0.9}
    ok = (
        not false_pos
        and not value_diffs
        and not high_j_misses
        and len(missed) <= expected_misses + 5 * max(expected_misses, 1) ** 0.5
    )
    report["checks"]["docs_minhash_lsh"] = {
        "match": ok,
        "mode": "banding-aware",
        "spark_rows": len(found),
        "oracle_rows": len(exact),
        "false_positives": len(false_pos),
        "jaccard_value_diffs": len(value_diffs),
        "missed_pairs": len(missed),
        "expected_misses_from_banding": round(expected_misses, 1),
        "missed_with_jaccard_ge_090": len(high_j_misses),
        "min_missed_jaccard": round(min(missed.values()), 4) if missed else None,
        "max_missed_jaccard": round(max(missed.values()), 4) if missed else None,
        "spark_sec": sec,
        "oracle_sec": round(time.perf_counter() - t, 2),
    }
    print(f"docs_minhash_lsh: {'OK' if ok else 'MISMATCH'} "
          f"({len(found)}/{len(exact)} pairs, {len(missed)} missed "
          f"[expected ~{expected_misses:.0f} from banding], "
          f"{len(high_j_misses)} missed at J>=0.9, {len(false_pos)} false pos, "
          f"spark {sec}s)", flush=True)

    # 3: connected components — gate the DISTRIBUTED CC algorithm
    # exactly by feeding Spark's own LSH pair set into the DuckDB
    # recursive closure (decouples CC correctness from LSH recall)
    cols, rows, sec = spark_run("docs_dedup_clusters")
    t = time.perf_counter()
    duck.execute("CREATE OR REPLACE TABLE spark_pairs (doc_a BIGINT, doc_b BIGINT)")
    duck.executemany("INSERT INTO spark_pairs VALUES (?, ?)", list(found))
    res = duck.execute("""
        WITH RECURSIVE edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM spark_pairs
          UNION SELECT doc_b, doc_a FROM spark_pairs
        ),
        walk(node, comp) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          UNION
          SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
        ),
        labels AS (SELECT node AS doc_id, MIN(comp) AS cluster_id
                   FROM walk GROUP BY node),
        csize AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM labels GROUP BY cluster_id)
        SELECT l.doc_id, l.cluster_id, c.cluster_size,
               l.doc_id = l.cluster_id AS is_canonical
        FROM labels l JOIN csize c USING (cluster_id)
    """)
    record("docs_dedup_clusters(spark-edge closure)", cols, rows, sec,
           [d[0] for d in res.description], res.fetchall(),
           round(time.perf_counter() - t, 2))

    # 4: simhash with the banded (pigeonhole-exact) oracle
    cols, rows, sec = spark_run("docs_simhash_neardup")
    t = time.perf_counter()
    res = duck.execute(SIMHASH_BANDED_ORACLE)
    record("docs_simhash_neardup", cols, rows, sec,
           [d[0] for d in res.description], res.fetchall(),
           round(time.perf_counter() - t, 2))

    # 5: semantic dedup vs numpy replication (same deterministic trainer)
    from bigdata_covid19_real_time_spark.operators.ivf import train_centroids
    from bigdata_covid19_real_time_spark.sources.batch import load_table

    cols, rows, sec = spark_run("embedding_semantic_dedup")
    t = time.perf_counter()
    emb = load_table(spark, SF1_DIR, "embeddings")
    C = np.array(train_centroids(emb, n_clusters=16, n_iters=3))
    ids, V = zip(*sorted(
        (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    ))
    V = np.vstack(V)
    # assignment replicates _cluster_expr: argmax of dot(v,c) - |c|^2/2,
    # ties toward the lower centroid id (np.argmax returns the first max)
    s = V @ C.T - 0.5 * (C * C).sum(axis=1)[None, :]
    cell = s.argmax(axis=1)
    norms = np.linalg.norm(V, axis=1)
    keep = np.ones(len(ids), dtype=bool)
    for c in range(C.shape[0]):
        members = np.where(cell == c)[0]
        Vc, nc = V[members], norms[members]
        S = Vc @ Vc.T
        denom = np.outer(nc, nc)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(denom > 0, S / denom, 0.0)
        S = np.round(S + 1e-9, 6)  # the engines' shared threshold rounding
        for j in range(1, len(members)):
            if (S[:j, j] >= 0.28).any():
                keep[members[j]] = False  # lower-id near neighbor exists
    orows = [(int(ids[i]), int(cell[i]), bool(keep[i])) for i in range(len(ids))]
    record("embedding_semantic_dedup", cols, rows, sec,
           ["vec_id", "cluster", "keep"], orows,
           round(time.perf_counter() - t, 2))

    # 6: LSH ANN vs numpy exact brute force
    cols, rows, sec = spark_run("embedding_lsh_topk")
    t = time.perf_counter()
    Q = V[:10]
    S = (Q @ V.T) / np.outer(norms[:10], norms)
    orows = []
    for qi in range(10):
        s = S[qi].copy()
        s[qi] = -np.inf  # exclude self
        order = sorted(range(len(s)), key=lambda j: (-s[j], j))[:5]
        orows += [
            (int(ids[qi]), int(ids[j]), r + 1, float(np.round(s[j] + 1e-9, 6)))
            for r, j in enumerate(order)
        ]
    record("embedding_lsh_topk", cols, rows, sec,
           ["query_id", "neighbor_id", "rank", "cosine"], orows,
           round(time.perf_counter() - t, 2))

    # 7-9: ANN retrieval family recall@5 at sf1 vs numpy brute force
    # (round-3 verdict task 4).  Gates are each operator's DOCUMENTED
    # contract: IVF >= 0.6 (test_ivf_recall_against_exact's bound for
    # probing a minority of lists; here nprobe=6/16), SQ8 >= 0.8
    # (test_small_rerank_high_recall's bound for rerank_factor=4), PQ
    # report-only (test_pq_recovers_planted_clusters documents that
    # 4x16 codes on an UNSTRUCTURED gaussian corpus — exactly this one
    # — are legitimately near-chance; PQ's correctness contract is the
    # full replication oracle, green at sf0.01/sf0.1, plus the
    # clustered-data recall test).  Returned cosines are additionally
    # value-checked against numpy for IVF/SQ8 (exact-scoring paths).
    S_all = (V[:10] @ V.T) / np.outer(norms[:10], norms)

    def exact_top5(qi: int, exclude_self: bool) -> list[int]:
        s = S_all[qi].copy()
        if exclude_self:
            s[qi] = -np.inf
        return [int(ids[j]) for j in sorted(range(len(s)), key=lambda j: (-s[j], j))[:5]]

    def ann_recall(name: str, gate: float | None, check_cosine: bool) -> None:
        cols, rows, sec = spark_run(name)
        qcol, ncol = cols.index("query_id"), cols.index("neighbor_id")
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r[qcol], []).append(r)
        includes_self = any(r[ncol] == q for q, rs in by_q.items() for r in rs)
        hits = total = 0
        cosine_diffs = 0
        for q, rs in by_q.items():
            truth = set(exact_top5(int(q), exclude_self=not includes_self))
            got = {int(r[ncol]) for r in rs}
            hits += len(got & truth)
            total += len(truth)
            if check_cosine:
                ccol = cols.index("cosine")
                for r in rs:
                    true_cos = float(
                        np.round(S_all[int(q), int(r[ncol])] + 1e-9, 6)
                    )
                    if abs(float(r[ccol]) - true_cos) > 1e-6:
                        cosine_diffs += 1
        recall = round(hits / total, 3) if total else None
        ok = (gate is None or (recall is not None and recall >= gate)) and (
            cosine_diffs == 0
        )
        report["checks"][name] = {
            "match": ok,
            "mode": "recall@5 vs numpy brute force",
            "recall_at_5": recall,
            "gate": gate,
            "gate_basis": {
                "embedding_ivf_topk": "test_ivf_recall_against_exact (minority-of-lists bound)",
                "embedding_sq8_topk": "test_small_rerank_high_recall (rerank_factor=4 bound)",
                "embedding_pq_topk": "report-only: 4x16 codes on an unstructured gaussian corpus are documented near-chance (test_pq_recovers_planted_clusters); correctness gated by the replication oracle",
            }[name],
            "n_queries": len(by_q),
            "spark_rows": len(rows),
            "cosine_value_diffs": cosine_diffs if check_cosine else None,
            "spark_sec": sec,
        }
        print(
            f"{name}: {'OK' if ok else 'MISMATCH'} (recall@5 {recall}, "
            f"gate {gate}, cosine diffs {cosine_diffs if check_cosine else 'n/a'}, "
            f"spark {sec}s)",
            flush=True,
        )

    ann_recall("embedding_ivf_topk", gate=0.6, check_cosine=True)
    ann_recall("embedding_sq8_topk", gate=0.8, check_cosine=True)
    ann_recall("embedding_pq_topk", gate=None, check_cosine=False)

    # 10: PQ recall ON ITS CONTRACT REGIME at sf1 scale — a 20k-vector
    # CLUSTERED corpus (the data PQ exists for; the gaussian corpus
    # above is its documented near-chance regime).  64 prototypes with
    # small perturbations, queries drawn from distinct prototypes; the
    # gate mirrors test_pq_recovers_planted_clusters (recall >= 0.8)
    # at 300x that test's corpus size.  IVF-PQ (the composed operator)
    # is checked on the same corpus with the same gate.
    t = time.perf_counter()
    from pyspark.sql import Row

    from bigdata_covid19_real_time_spark.operators.ivf import train_centroids as _tc
    from bigdata_covid19_real_time_spark.operators.ivfpq import ivfpq_topk
    from bigdata_covid19_real_time_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    dim, n_proto, n_cl = 64, 64, 20_000
    crng = np.random.default_rng(77)
    protos = crng.standard_normal((n_proto, dim))
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    assign_p = crng.integers(0, n_proto, n_cl)
    CV = protos[assign_p] + 0.05 * crng.standard_normal((n_cl, dim))
    CV /= np.linalg.norm(CV, axis=1, keepdims=True)
    cemb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in CV[i]]) for i in range(n_cl)]
    ).repartition(32).persist()
    books = train_pq_codebooks(cemb, m=4, k=16, n_iters=2)
    codes = pq_encode(cemb, books)
    from pyspark.sql import functions as SF

    cqueries = cemb.filter(SF.col("vec_id") < 10)
    norms_c = np.linalg.norm(CV, axis=1)
    S_c = (CV[:10] @ CV.T) / np.outer(norms_c[:10], norms_c)

    # Metric note: on this corpus every cluster holds ~312 vectors whose
    # 4x16 PQ codes are IDENTICAL (the 0.05 perturbation is below the
    # quantizer's resolution), so ADC scores tie across the whole
    # cluster and identity-recall@5 is ill-posed — any 5 of ~312 tied
    # candidates is an equally correct ADC answer (chance level 5/312
    # ~= 0.016, which is exactly what identity recall measures here).
    # The standard ANN metric under ties is epsilon-quality-recall
    # (ann-benchmarks' distance-ratio variant): a returned neighbor
    # counts if its TRUE cosine is within eps of the query's 5th-best
    # true cosine.  eps=0.05 cleanly separates same-prototype neighbors
    # (cosine ~0.998) from cross-prototype ones (|cosine| <~ 0.4 for
    # random 64-dim prototypes).  Identity recall stays in the report.
    EPS = 0.05

    def clustered_recall(result_rows, cols) -> tuple[float, float]:
        qcol, ncol = cols.index("query_id"), cols.index("neighbor_id")
        by_q: dict[int, set] = {}
        for r in result_rows:
            by_q.setdefault(int(r[qcol]), set()).add(int(r[ncol]))
        id_hits = q_hits = total = 0
        for q, got in by_q.items():
            s = S_c[q].copy()
            s[q] = -np.inf
            order = sorted(range(n_cl), key=lambda j: (-s[j], j))
            truth = set(order[:5])
            kth_best = s[order[4]]
            id_hits += len(got & truth)
            q_hits += sum(1 for j in got if s[j] >= kth_best - EPS)
            total += 5
        if not total:
            return 0.0, 0.0
        return round(id_hits / total, 3), round(q_hits / total, 3)

    # PQ-ALONE ranks by ADC only and is REPORT-ONLY here: a numpy
    # replication of the deterministic trainer (validated — it
    # reproduces the Spark 4x16 figure exactly) sweeps k in {16, 64,
    # 256} and iters in {2..10}: quality@5 plateaus at 0.68-0.72 for
    # k<=64 and 0.92-0.94 at k=256 — the 4-subspace ADC resolution
    # bound, not a trainer or implementation defect.  This is the
    # architectural reason FAISS pairs IVFPQ with a rerank: the
    # composed operator below, with the SAME 4x16 codes, restores
    # quality@5 = 1.0 and carries the gate.
    pq_res = pq_topk(codes, cqueries, books, k_top=5)
    pq_id, pq_q = clustered_recall(
        [tuple(r) for r in pq_res.collect()], pq_res.columns
    )
    cents = _tc(cemb, n_clusters=16, n_iters=3)
    ivfpq_res = ivfpq_topk(cemb, cqueries, cents, books, k=5, nprobe=6, rerank_factor=4)
    ivfpq_id, ivfpq_q = clustered_recall(
        [tuple(r) for r in ivfpq_res.collect()], ivfpq_res.columns
    )
    spark.catalog.clearCache()
    sec = round(time.perf_counter() - t, 2)
    for name, id_rec, q_rec, gate, cfg in (
        ("pq_clustered_recall", pq_id, pq_q, None,
         "4x16 codebooks, ADC-only ranking — report-only: the validated "
         "numpy trainer replication sweeps k in {16,64,256} x iters "
         "{2..10} and quality@5 plateaus at 0.68-0.72 (k<=64) / "
         "0.92-0.94 (k=256), the 4-subspace ADC resolution bound; "
         "rerank-bearing retrievers (SQ8, IVF, IVF-PQ) carry the gates"),
        ("ivfpq_clustered_recall", ivfpq_id, ivfpq_q, 0.95,
         "4x16 codebooks + nprobe=6/16 cells + rerank_factor=4 "
         "full-precision rerank (the SAME codes PQ-alone degrades on; "
         "the rerank stage restores quality — the architectural claim)"),
    ):
        ok = True if gate is None else q_rec >= gate
        report["checks"][name] = {
            "match": ok,
            "mode": "eps-quality recall@5 vs numpy brute force, "
                    "20k-vector clustered corpus",
            "config": cfg,
            "quality_recall_at_5": q_rec,
            "identity_recall_at_5": id_rec,
            "eps": EPS,
            "gate": gate,
            "gate_basis": "returned neighbors within eps of the true 5th-best "
                          "cosine; identity recall is ill-posed under "
                          "whole-cluster ADC code ties (~312-way, chance 0.016)",
            "spark_sec": sec,
        }
        print(f"{name}: {'OK' if ok else 'MISMATCH'} (quality@5 {q_rec}, "
              f"identity@5 {id_rec}, gate {gate})", flush=True)
    return report


def check_sketch(spark) -> dict:
    """The three certified sketches at ~1M rows:

    - **GK quantiles** (``percentile_approx``, accuracy=100): documented
      floor/ceil rank contract per quantile, groups of ~200k values
      (2000x the summary size — deep in the compressing regime).
    - **HLL++ distinct** (``approx_count_distinct``, rsd=0.04): 3*rsd
      bound at ~180k distinct keys per group.
    - **approx_top_k frequent items** (M=256 tracked slots): published
      DataSketches epsilon ``3.5*N/M``, no false positives above the
      N/32 threshold, no false negatives among true heavies, at ~750k
      distinct keys (constant purging).

    Data is seeded and built IN Spark (never collected to Python).
    """
    from pyspark.sql import functions as F

    from bigdata_covid19_real_time_spark.plans.sketch_bounds import (
        gk_rank_contract_ok,
        hll_within_bound,
    )

    out: dict = {"n_rows": N_ROWS, "checks": {}}

    # Deterministic synthetic stream: group g = i % N_GROUPS; value is
    # heavy-tailed via an inverse-power transform of a hashed uniform;
    # key space: 25% of rows hit 4 hot keys, 75% are unique cold keys.
    base = (
        spark.range(N_ROWS)
        .withColumn("g", (F.col("id") % N_GROUPS).cast("int"))
        .withColumn(
            "u",
            (F.abs(F.xxhash64(F.col("id"))) % 1_000_003)
            / F.lit(1_000_003.0),
        )
        .withColumn("value", F.pow(F.col("u") + 1e-6, F.lit(-0.5)))
        .withColumn(
            "k",
            F.when(
                F.col("id") % 4 == 0,
                F.concat(
                    F.lit("hot_"),
                    ((F.col("id") / 4).cast("long") % 4).cast("string"),
                ),
            ).otherwise(F.concat(F.lit("cold_"), F.col("id").cast("string"))),
        )
        .persist()
    )
    base.count()

    # --- GK quantiles -------------------------------------------------
    t0 = time.perf_counter()
    eps = 1.0 / QUANTILE_ACC
    ps_arr = F.array(*[F.lit(p) for p in PS])
    sk = (
        base.groupBy("g")
        .agg(F.percentile_approx("value", PS, QUANTILE_ACC).alias("qs"))
        .select("g", F.posexplode("qs").alias("pos", "q"))
        .withColumn("p", F.element_at(ps_arr, F.col("pos") + 1))
    )
    stats = (
        base.join(F.broadcast(sk), "g")
        .groupBy("g", "p", "q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("q")).cast("long")).alias("lt"),
            F.sum((F.col("value") <= F.col("q")).cast("long")).alias("le"),
        )
        .select(
            "g", "p", "n",
            # the SAME contract predicate the gate query emits
            gk_rank_contract_ok(
                F.col("p"), F.col("n"), F.col("lt"), F.col("le"), eps
            ).alias("ok"),
            # observed rank error (for the record, beyond the boolean)
            F.greatest(
                F.col("lt") / F.col("n") - F.col("p"),
                F.col("p") - F.col("le") / F.col("n"),
                F.lit(0.0),
            ).alias("rank_err"),
        )
        .collect()
    )
    worst = max(r["rank_err"] for r in stats)
    out["checks"]["gk_quantiles"] = {
        "n_contract_rows": len(stats),
        "all_within_bound": all(r["ok"] for r in stats),
        "worst_rank_err": round(worst, 6),
        "eps_bound": eps,
        "group_n": stats[0]["n"],
        "sec": round(time.perf_counter() - t0, 2),
    }

    # --- HLL++ distinct ----------------------------------------------
    t0 = time.perf_counter()
    hll = (
        base.withColumn("ud", F.concat_ws(":", "g", (F.col("id") % 900_001)))
        .groupBy("g")
        .agg(
            F.approx_count_distinct("ud", HLL_RSD).alias("a"),
            F.countDistinct("ud").alias("e"),
        )
        # the SAME bound predicate the gate query emits
        .withColumn("ok", hll_within_bound(F.col("a"), F.col("e"), HLL_RSD))
        .collect()
    )
    worst_rel = max(abs(r["a"] - r["e"]) / r["e"] for r in hll)
    out["checks"]["hll_distinct"] = {
        "groups": len(hll),
        "min_exact_cardinality": min(r["e"] for r in hll),
        "all_within_3rsd": all(r["ok"] for r in hll),
        "worst_rel_err": round(worst_rel, 6),
        "bound_3rsd": 3 * HLL_RSD,
        "sec": round(time.perf_counter() - t0, 2),
    }

    # --- approx_top_k purging regime ---------------------------------
    t0 = time.perf_counter()
    hh = (
        base.agg(F.expr(f"approx_top_k(k, 10, {TOPK_M})").alias("hh"))
        .select(F.explode("hh").alias("e"))
        .select(F.col("e.item").alias("k"), F.col("e.count").alias("est"))
    )
    exact = base.groupBy("k").agg(F.count(F.lit(1)).alias("ex"))
    tot = base.count()
    eps_n = math.ceil(3.5 * tot / TOPK_M)
    joined = (
        hh.join(exact, "k")
        .select("k", "est", "ex")
        .collect()
    )
    heavies = [r for r in joined if r["est"] * 32 >= tot]
    n_distinct = base.select("k").distinct().count()
    out["checks"]["approx_top_k"] = {
        "distinct_keys": n_distinct,
        "tracked_slots": TOPK_M,
        "returned": len(joined),
        "above_threshold_returned": len(heavies),
        "no_false_positives": all(r["k"].startswith("hot_") for r in heavies),
        "no_false_negatives": len(heavies) == 4,
        "all_within_eps": all(
            abs(r["est"] - r["ex"]) <= eps_n for r in joined
        ),
        "worst_abs_err": max(abs(r["est"] - r["ex"]) for r in joined),
        "eps_bound": eps_n,
        "sec": round(time.perf_counter() - t0, 2),
    }

    base.unpersist()
    ok = all(
        c.get("all_within_bound", True)
        and c.get("all_within_3rsd", True)
        and c.get("no_false_positives", True)
        and c.get("no_false_negatives", True)
        and c.get("all_within_eps", True)
        for c in out["checks"].values()
    )
    out["all_green"] = ok
    return out


def ladder(spark, names, small_dir, large_dir, keys, rows: dict, flush=None):
    """Time each query at both dirs into ``rows``; ``keys`` names the
    small, large and ratio fields of a row.  ``flush`` runs after every
    row so a long tail query cannot lose earlier rows."""
    small_key, large_key, ratio_key = keys
    for name in names:
        small = run_query(spark, name, small_dir)
        large = run_query(spark, name, large_dir)
        rows[name] = {
            small_key: small,
            large_key: large,
            ratio_key: round(large / small, 2) if small > 0 else None,
        }
        print(f"{name}: {small}s -> {large}s (x{rows[name][ratio_key]})", flush=True)
        if flush:
            flush()


def write_json(name: str, payload: dict) -> str:
    path = os.path.join(REPO, name)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    return path


def semdedup_scale_matched(spark) -> dict:
    """SemDeDup timed at its own regime (k grows with n) on both twins."""
    from pyspark.sql import functions as F  # noqa: N812

    from bigdata_covid19_real_time_spark.operators.ivf import train_centroids
    from bigdata_covid19_real_time_spark.operators.semdedup import (
        semantic_dedup_flags,
    )
    from bigdata_covid19_real_time_spark.sources.batch import load_table

    def timed(sf_dir: str) -> tuple[float, int]:
        emb = load_table(spark, sf_dir, "embeddings")
        k = max(16, emb.count() // SEMDEDUP_ROWS_PER_CELL)
        best = math.inf
        for _ in range(2):
            t0 = time.perf_counter()
            cents = train_centroids(emb, n_clusters=k, n_iters=3)
            semantic_dedup_flags(emb, cents, threshold=0.28).agg(
                F.sum(F.col("keep").cast("int"))
            ).collect()
            best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
        return round(best, 3), k

    s1, k1 = timed(SF1X_DIR)
    s10, k10 = timed(SF10_DIR)
    print(f"semdedup scale-matched: sf1 {s1}s (k={k1}) -> "
          f"sf10 {s10}s (k={k10})", flush=True)
    return {
        "rows_per_cell": SEMDEDUP_ROWS_PER_CELL,
        "sf1_sec": s1,
        "sf1_k": k1,
        "sf10_sec": s10,
        "sf10_k": k10,
        "ratio": round(s10 / s1, 2) if s1 > 0 else None,
        "note": (
            "operator timed at SemDeDup's own regime (k grows with n, "
            "rows/cell constant) including k-means training, min of 2 "
            "perf_counter runs; the registered query's fixed "
            "n_clusters=16 is an oracle-replicability configuration for "
            "gate SFs and is QUADRATIC at corpus scale — measured >100 "
            "min at 200k vectors before abort. Fixed k does not scale; "
            "scale k with n."
        ),
    }


def ensure(path: str, make) -> float:
    """Generate a twin unless ``path`` exists; the seconds it took."""
    if os.path.exists(path):
        return 0.0
    t0 = time.perf_counter()
    make()
    return time.perf_counter() - t0


REUSED = (
    "generator_sec 0.0 means the seeded twin was REUSED from an earlier "
    "run (the data is identical), not regenerated for free"
)


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "--set",
        required=True,
        choices=["neardup", "sketch", "timing", "extended", "sf10", "sf10-relational"],
    )
    ap.add_argument("--queries", nargs="+", help="a timed set's queries")
    args = ap.parse_args()
    if args.queries and args.set in ("neardup", "sketch"):
        ap.error(f"--set {args.set} times no registered queries")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    if args.set == "neardup":
        gen_sec = round(ensure(f"{SF1_DIR}/documents.parquet",
                               lambda: generate_docs(SF1_DIR)), 1)
        spark = bench_session("sf1check", SF01_DIR)
        report = check_neardup(spark, gen_sec)
        out = write_json("SF1CHECK.json", report)
        fails = sum(not c["match"] for c in report["checks"].values())
        print(f"wrote {out}: {fails} mismatches / {len(report['checks'])} checks")
        spark.stop()
        return 1 if fails else 0

    if args.set == "sketch":
        spark = bench_session("sf1-sketch-check", SF01_DIR)
        out = check_sketch(spark)
        path = write_json("SF1SKETCH.json", out)
        print(f"wrote {path}: all_green={out['all_green']}")
        spark.stop()
        return 0 if out["all_green"] else 1

    if args.set == "timing":
        ensure(f"{SF1_DIR}/documents.parquet", lambda: generate_docs(SF1_DIR))
        # the sf1 corpus is ONE ~15 MB parquet file: at the default
        # 128 MB maxPartitionBytes it reads as 2 splits and every
        # compute-heavy narrow map serializes 32 cores down to 2
        # (measured: winnow 33.6 s on 2 splits vs 6.9 s on 32); 1 MB
        # splits + the generator's 2k-row row groups restore scan
        # parallelism — the files.maxPartitionBytes sizing lesson
        # SCALE.md documents for real deployments.
        spark = bench_session(
            "sf1-timing", SF01_DIR, {"spark.sql.files.maxPartitionBytes": "1m"}
        )
        rows: dict = {}
        ladder(spark, args.queries or TIMING_QUERIES, SF01_DIR, SF1_DIR,
               ("sf0.1_sec", "sf1_sec", "ratio_at_10x_rows"), rows)
        write_json("SF1TIMING.json", {
            "what": "sf0.1 -> sf1 wall-clock for the most expensive "
                    "documents/embeddings headline queries",
            "methodology": f"{METHOD}; local[{cpus}], {mem} heap",
            "sf1_corpus": "tools/scale_check.py --set neardup generator "
                          "(50k docs / 20k embeddings, 310-word vocab — "
                          "see module docstring caveat)",
            "rows_factor": 10,
            "queries": rows,
        })
        print(json.dumps({"sf1_timing": {n: v["ratio_at_10x_rows"]
                                         for n, v in rows.items()}}))
        spark.stop()
        return 0

    # the remaining sets read single-file twins: 4 MB splits keep the
    # scans parallel (see the timing set)
    split_conf = {"spark.sql.files.maxPartitionBytes": "4m"}
    if args.set == "extended":
        gen_sec = ensure(f"{SF1X_DIR}/events.parquet",
                         lambda: generate_relational(SF1X_DIR))
        gen_sec += ensure(f"{SF1X_DIR}/documents.parquet",
                          lambda: generate_docs(SF1X_DIR))
        spark = bench_session("sf1-extended", SF01_DIR, split_conf)
        report = {
            "dir": SF1X_DIR,
            "generator_sec": round(gen_sec, 1),
            "method": METHOD,
            "caveat": (
                "sf1 relational tables are a seeded synthetic 10x twin "
                "(distributions approximate; 310-word doc vocab) — ratios "
                "certify scaling shape, and the ~2s fixed job overhead "
                "pulls honest linear ratios below 10. " + REUSED
            ),
            "queries": {},
        }
        ladder(spark, args.queries or NEW_QUERIES, SF01_DIR, SF1X_DIR,
               ("sf0.1_sec", "sf1_sec", "ratio"), report["queries"])
        print(f"wrote {write_json('SF1NEW.json', report)}")
        spark.stop()
        return 0

    if args.set == "sf10-relational":
        if not os.path.exists(f"{SF1X_DIR}/events.parquet"):
            raise SystemExit(f"sf1 twin missing at {SF1X_DIR} — run --set extended")
        gen_sec = ensure(f"{SF10_REL_DIR}/events.parquet",
                         lambda: generate_relational(SF10_REL_DIR, scale=10))
        spark = bench_session("sf10-scale", SF01_DIR, split_conf)
        path = os.path.join(REPO, "SF10CHECK.json")
        report = json.load(open(path)) if os.path.exists(path) else {}
        rel = report["relational"] = {
            "dir": SF10_REL_DIR,
            "generator_sec": round(gen_sec, 1),
            "rows": {"orders": 15_000_000, "lineitem": 60_000_000,
                     "events": 10_000_000},
            "method": METHOD,
            "queries": {},
        }
        ladder(spark, args.queries or SF10_REL_QUERIES, SF1X_DIR, SF10_REL_DIR,
               ("sf1_sec", "sf10_sec", "ratio"), rel["queries"],
               flush=lambda: write_json("SF10CHECK.json", report))
        print(f"wrote {write_json('SF10CHECK.json', report)} (relational section)")
        spark.stop()
        return 0

    # sf10
    if not os.path.exists(f"{SF1X_DIR}/documents.parquet"):
        raise SystemExit(f"sf1 twin missing at {SF1X_DIR} — run --set extended")
    gen_sec = ensure(f"{SF10_DIR}/documents.parquet",
                     lambda: generate_docs_sf10(SF10_DIR))
    spark = bench_session("sf10-scale", SF01_DIR, split_conf)
    report = {
        "dir": SF10_DIR,
        "generator_sec": round(gen_sec, 1),
        "rows": {"documents": SF10_N_BASE + SF10_N_NEAR + SF10_N_EXACT,
                 "embeddings": SF10_N_VEC + SF10_N_VEC_NEAR},
        "method": (
            f"{METHOD}; sf1 twin (10x sf0.1) vs sf10 twin (100x sf0.1) — "
            "the second decade of the scaling ladder"
        ),
        "caveat": (
            REUSED + ". Ratios certify SCALING SHAPE at 10x rows per "
            "decade: a hidden quadratic term costs ~100x across this "
            "step; honest linear work reads ~10 once fixed overhead "
            "stops dominating"
        ),
        "queries": {},
    }
    ladder(spark, args.queries or SF10_QUERIES, SF1X_DIR, SF10_DIR,
           ("sf1_sec", "sf10_sec", "ratio"), report["queries"],
           flush=lambda: write_json("SF10CHECK.json", report))
    report["semdedup_scale_matched"] = semdedup_scale_matched(spark)
    print(f"wrote {write_json('SF10CHECK.json', report)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
