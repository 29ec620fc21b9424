"""MinHash + banded-LSH near-duplicate detection.

The 100 TB-scale path for near-dup dedup: ``jaccard_pairs``
(operators/text.py) self-joins on raw shingles — correct, but a hot
shingle fans the join out quadratically.  MinHash-LSH bounds the work:

    shingle -> 64-bit hash -> K permutation-min signature
    -> B bands of R rows -> band-hash bucket join -> candidate pairs
    -> exact-Jaccard verification of candidates only

Two docs with Jaccard ``s`` share a band with probability ``s^R``; with
``B`` bands the pair is a candidate with ``1 - (1-s^R)^B`` — a sharp
S-curve around ``(1/B)^(1/R)``.  Defaults (B=16, R=8 => K=128) put the
knee at ~0.71 and catch Jaccard-0.9 pairs with P ~= 1 - 1.2e-4.

Everything is built-in Spark SQL expressions (higher-order functions on
the shingle-hash array) — no UDFs, no driver loops.  Signatures are
O(K) longs per doc; the shuffle key is an 8-byte band hash.  Skewed
buckets (boilerplate docs) can be salted or capped by bucket size
upstream; candidate verification touches only bucket-mates.

Cache lifecycle: these operators ``persist()`` intermediate tables the
plan reads more than once (shingle/bucket tables); the cache lives until
the caller materializes the returned frame, so unpersisting here would
force recomputation.  Callers looping many operator invocations in one
session should ``spark.catalog.clearCache()`` between them (bench.py
does) or the cached blocks accumulate until LRU eviction.

The hash family is per-permutation-salted ``xxhash64(salt_i, shingle
hash)`` with seeded salts — deterministic across runs, and genuinely
independent between permutations.  (A linear ``(a*x+b) mod p`` family
constrained to ANSI-safe 64-bit operand ranges is *near-monotone* —
``a*x`` wraps the prime at most once for 31-bit inputs — so mins
correlate across permutations and signature agreement collapses far
below the true Jaccard; measured 8/32 agreement on a 0.77-Jaccard pair.)
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.bucketing import cap_bucket_size
from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan
from bigdata_covid19_real_time_spark.operators.text import tokens, word_ngrams


def _permutation_salts(num_perm: int, seed: int) -> list[int]:
    rng = random.Random(seed)
    return [rng.randrange(-(1 << 31), 1 << 31) for _ in range(num_perm)]


def _salted_min_struct(salts: list[int], with_count: bool) -> str:
    """The signature aggregate as ONE SQL struct expression.

    Column-object construction of 128 ``min(xxhash64(lit, col))`` aggs
    costs ~1 s of py4j round-trips PER QUERY BUILD (measured round 14);
    a single parsed string builds the identical expression tree in one
    JVM call.  ``CAST(.. AS INT)`` pins each salt literal to the
    IntegerType that ``F.lit(salt)`` produced — xxhash64 hashes INT and
    BIGINT inputs differently, so the cast is what keeps signatures
    bit-identical with the historical implementation.
    """
    fields = ["count(1) AS __n"] if with_count else []
    fields += [
        f"min(xxhash64(CAST({s} AS INT), __h)) AS __m{i}"
        for i, s in enumerate(salts)
    ]
    return "struct(" + ", ".join(fields) + ")"


def _band_hash_array(bands: int, rows_per_band: int) -> str:
    """The per-band signature hashes as ONE SQL array expression (same
    py4j-chatter rationale as ``_salted_min_struct``; CAST pins the
    band-id literal to F.lit's IntegerType)."""
    return "array(" + ", ".join(
        "xxhash64(CAST({b} AS INT), array({cols}))".format(
            b=b,
            cols=", ".join(
                f"__m{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    ) + ")"


def _exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, fan_out: bool = False
) -> DataFrame:
    """(id, shingle-hash) rows: distinct word n-grams as 64-bit hashes.

    Staged projections (tokens -> grams -> explode as separate selects)
    and explode_outer + isNotNull are load-bearing: the inlining trap
    stated on ``text.word_ngrams``, measured ~5x here.
    """
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") >= n
    )
    if fan_out:
        # scale-adaptive: a no-op whenever the scan is already at least
        # session-parallel (any real corpus); on under-split local
        # inputs it distributes the shingle/hash map, and keying by the
        # doc id lets the signature groupBy reuse this exchange
        toks_df = fan_out_scan(toks_df, key=id_col)
    grams = F.array_distinct(word_ngrams(F.col("__toks"), n))
    grams_df = toks_df.select(F.col(id_col), grams.alias("__grams"))
    return grams_df.select(
        F.col(id_col),
        F.explode_outer(F.transform("__grams", lambda g: F.xxhash64(g))).alias("__h"),
    ).filter(F.col("__h").isNotNull())


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, signature array<long>[num_perm]) per document.

    Docs with fewer than ``shingle_n`` tokens are dropped (no shingles,
    no signature — same contract as ``shingle_sets``).
    """
    salts = _permutation_salts(num_perm, seed)
    exploded = _exploded_shingle_hashes(df, id_col, text_col, shingle_n)
    # min-aggregate per permutation over exploded rows: partial (map-side)
    # aggregation collapses each partition to one row per doc before the
    # single shuffle on the id; the num_perm hash+min columns evaluate in
    # one codegen'd pass per row.  Built as ONE parsed struct expression
    # (the optimizer unwraps struct-of-aggregates into plain aggregate
    # functions, so the physical plan is unchanged).
    mins = exploded.groupBy(id_col).agg(
        F.expr(_salted_min_struct(salts, with_count=False)).alias("__s")
    ).select(id_col, "__s.*")
    sig = F.expr(
        "array(" + ", ".join(f"__m{i}" for i in range(num_perm)) + ")"
    )
    return mins.select(F.col(id_col), sig.alias("signature"))


def band_hash_rows(
    df: DataFrame,
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, band_hash) rows — the document's LSH index entries.

    This IS the persistable near-dup index: store these rows per epoch
    and an incoming batch's bands equi-join against them to find its
    corpus-side candidates (streaming/corpus.py uses exactly that).
    ``bands`` rows per document, 16 bytes each — never text.
    """
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, num_perm, shingle_n, seed, id_col, text_col)
    band_hashes = F.expr(
        "array(" + ", ".join(
            f"xxhash64(CAST({b} AS INT), "
            f"slice(signature, {b * rows_per_band + 1}, {rows_per_band}))"
            for b in range(bands)
        ) + ")"
    )
    return sigs.select(F.col(id_col), F.explode(band_hashes).alias("band_hash"))


def minhash_lsh_candidates(
    df: DataFrame,
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) via banded LSH.

    Plan: signature -> explode B band hashes -> groupBy band bucket ->
    pairs within bucket -> distinct.  The shuffle carries (band_hash,
    id) — 16 bytes/row/band — never document content.  Buckets over
    ``max_bucket_size`` members are dropped lazily in-job, auditable via
    ``bucketing.report_bucket_caps()`` — the quadratic-bucket guard.
    """
    # cap_bucket_size persists the flagged bucket table (both sides of
    # the self-join read it) and leaves it hash-partitioned on band_hash,
    # so the join below needs no further exchange
    buckets = band_hash_rows(
        df, num_perm, bands, shingle_n, seed, id_col, text_col
    )
    buckets = cap_bucket_size(
        buckets, ["band_hash"], max_bucket_size, "minhash_lsh_candidates"
    )
    a = buckets.select(F.col(id_col).alias("doc_a"), "band_hash")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band_hash")
    return (
        a.join(b, "band_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
    fan_out: bool = True,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact shingle Jaccard.

    Output matches ``jaccard_pairs(df, threshold)`` minus LSH false
    negatives (P(miss) ~= (1 - s^R)^B per pair — 1.2e-4 at s=0.9 with
    the defaults).  The verification join touches only candidates, so
    the exact-Jaccard machinery runs on |candidates| docs, not |corpus|.
    Band buckets over ``max_bucket_size`` members are dropped with a
    post-hoc auditable count (``bucketing.report_bucket_caps()``) — the
    quadratic-bucket guard.
    """
    salts = _permutation_salts(num_perm, seed)
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    rows_per_band = num_perm // bands

    # ONE exploded (id, shingle-hash) table feeds everything: signatures,
    # set sizes, and exact-Jaccard verification of candidates.  This
    # halves the job count vs composing minhash_lsh_candidates +
    # jaccard_pairs (which would tokenize and shingle the corpus twice).
    # ``fan_out`` (scale-adaptive, no-op on session-parallel scans)
    # keys the fan-out by the doc id so this groupBy reuses it.
    exploded = _exploded_shingle_hashes(
        df, id_col, text_col, shingle_n, fan_out=fan_out
    ).persist()

    # ONE parsed struct expression (py4j-chatter fix, see
    # _salted_min_struct — the optimizer unwraps it into the identical
    # plain aggregate list)
    stats = exploded.groupBy(id_col).agg(
        F.expr(_salted_min_struct(salts, with_count=True)).alias("__s")
    ).select(id_col, "__s.*")
    band_hashes = F.expr(_band_hash_array(bands, rows_per_band))
    # cap_bucket_size persists the flagged bucket table, partitioned on
    # band_hash — the candidate self-join reuses that partitioning
    buckets = stats.select(
        F.col(id_col), F.col("__n"), F.explode(band_hashes).alias("band_hash")
    )
    buckets = cap_bucket_size(
        buckets, ["band_hash"], max_bucket_size, "minhash_lsh_pairs"
    )
    a_b = buckets.select(
        F.col(id_col).alias("doc_a"), F.col("__n").alias("n_a"), "band_hash"
    )
    b_b = buckets.select(
        F.col(id_col).alias("doc_b"), F.col("__n").alias("n_b"), "band_hash"
    )
    cands = (
        a_b.join(b_b, "band_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    # exact verification: intersect candidate docs' shingle sets
    a_sh = exploded.select(F.col(id_col).alias("doc_a"), "__h")
    b_sh = exploded.select(F.col(id_col).alias("doc_b"), "__h")
    inter = (
        cands.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "__h"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = F.col("intersection") / (F.col("n_a") + F.col("n_b") - F.col("intersection"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "n_a", "n_b", "jaccard")
    )
