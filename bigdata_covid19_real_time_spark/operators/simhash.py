"""SimHash near-duplicate fingerprinting.

Complement to MinHash (operators/minhash.py): one 64-bit fingerprint
per document whose Hamming distance tracks cosine similarity of the
token multiset.  Cheaper than MinHash (no K-permutation signature; one
pass over tokens) with coarser resolution — the standard pick for
boilerplate-level dedup of web corpora.

    token -> md5-derived 64 bits -> per-bit +/-1 votes -> sign -> packed 64-bit

The token hash is the first 64 bits of md5 (two 32-bit halves parsed
from the hex digest) rather than ``xxhash64``: md5 is bit-identical
across engines (DuckDB: ``('0x' || substr(md5(t), ...))::BIGINT``), so
the whole fingerprint pipeline — and therefore the near-dup pair set —
is reproducible by the correctness gate's SQL oracle.  md5 costs more
per token than xxhash64, but the hash runs once per token occurrence
inside a narrow map; the shuffle/join dominates at scale.

All built-in expressions, JVM-side, no UDFs.  Candidate
pairing buckets on 16-bit bands of the fingerprint (a Hamming-k pair
must agree exactly on >=1 of the 4 bands for k <= 3 by pigeonhole),
then verifies with ``bit_count(a ^ b)`` — so the join key is 8 bytes
and the verification is two instructions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.bucketing import cap_bucket_size
from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan
from bigdata_covid19_real_time_spark.operators.text import hex_long, tokens

_BITS = 64
_BANDS = 4  # 16-bit bands: exact-match candidate buckets for Hamming <= 3


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash long) per document.

    Shape: explode the token multiset to (id, token-hash) rows, then 64
    conditional-sum aggregates (one per bit) and a packing projection —
    all codegen'd straight-line long arithmetic.  (The
    aggregate/zip_with higher-order form computes the same votes ~5x
    slower: array allocation per token per row, interpreted lambdas.)
    Partial aggregation collapses votes map-side, so the shuffle carries
    64 longs per doc per partition.  Docs with zero tokens after split
    produce no rows and are dropped (no text, no fingerprint).

    Bit positions are unrolled as SQL text: the vote aggregate and the
    64-term packing projection are each built as ONE parsed expression
    string — the Column-object loops they replace cost a measured
    ~2.5 s of py4j round-trips per query build (round 14); the parsed
    tree (and therefore every fingerprint) is identical.  shiftright
    takes a literal shift; bit 63 wraps to the long sign bit via
    shiftleft — fine for an opaque fingerprint.
    """
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    # scale-adaptive fan-out (no-op on session-parallel scans), keyed by
    # the doc id so the vote groupBy below reuses the exchange
    toks_df = fan_out_scan(toks_df, key=id_col)
    ex = toks_df.select(
        F.col(id_col), F.explode_outer("__toks").alias("__t")
    ).filter(F.col("__t").isNotNull())
    # stage the digest, then the halves, in SEPARATE projections: the 64
    # bit-tests below each read the halves, and the two conv() calls
    # each read the digest — inlining would recompute md5 per half and
    # conv per bit.  Two 32-bit halves (hex chars 1-8 and 9-16) instead
    # of one 64-bit parse: conv() yields an unsigned decimal string, and
    # a 16-hex-char value above 2^63-1 would overflow the ANSI long cast.
    digest = ex.select(F.col(id_col), F.md5(F.col("__t")).alias("__md5"))
    hashed = digest.select(
        F.col(id_col),
        hex_long("__md5", 1, 8).alias("__h1"),
        hex_long("__md5", 9, 8).alias("__h2"),
    )

    def bit_sql(j: int) -> str:
        half = "__h1" if j < 32 else "__h2"
        return f"(shiftright({half}, {j % 32}) & 1)"

    # Pack TWO per-bit counters into each aggregated long (31-bit
    # fields): sum(b_lo + (b_hi << 31)) = s_lo + (s_hi << 31) with no
    # carry while a document stays under 2^31 token occurrences (any
    # real document does).  Halves the aggregate count (32 sums + 1
    # count vs 64 conditional sums) — less generated code to compile
    # and 33 longs per doc per partition on the shuffle instead of 64.
    # The +/-1 vote sign is recovered as 2*s_j > n.  One struct-of-
    # aggregates expression: the optimizer unwraps it into the same
    # plain aggregate list the Column-object loop produced.
    agg_fields = ["count(1) AS __n"] + [
        f"sum({bit_sql(2 * k)} + shiftleft({bit_sql(2 * k + 1)}, 31)) AS __p{k}"
        for k in range(_BITS // 2)
    ]
    votes = hashed.groupBy(id_col).agg(
        F.expr("struct(" + ", ".join(agg_fields) + ")").alias("__s")
    ).select(id_col, "__s.*")

    def ones_sql(j: int) -> str:
        pair = f"__p{j // 2}"
        # 2147483647 = (1 << 31) - 1, the low-field mask
        return f"({pair} & CAST(2147483647 AS BIGINT))" if j % 2 == 0 else f"shiftright({pair}, 31)"

    packed = F.expr(
        "CAST(0 AS BIGINT) | " + " | ".join(
            f"(CASE WHEN {ones_sql(j)} * 2 > __n"
            f" THEN shiftleft(CAST(1 AS BIGINT), {j})"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(_BITS)
        )
    )
    return votes.select(F.col(id_col), packed.alias("simhash"))


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming <= max_hamming).

    Pigeonhole banding: a pair within Hamming ``k`` over 64 bits must
    match exactly on at least one of ``k+1`` bands — with 4 bands this
    is exact (no false negatives) for ``k <= 3``; larger ``k`` turns the
    guarantee probabilistic.  The band join shuffles (band_id,
    16-bit-chunk, id) only; fingerprints travel with the row for the
    O(1) verification.

    A 16-bit band bucket holding B docs (boilerplate corpora put
    millions in one chunk value) makes the join quadratic in B;
    ``max_bucket_size`` drops over-cap buckets lazily in-job, auditable
    via ``bucketing.report_bucket_caps()``.  A dropped pair still
    surfaces if any of its other 3 bands stays under cap.
    """
    # no persist here: cap_bucket_size persists the banded table (which
    # carries the fingerprints), partitioned on the band-join keys
    fp = simhash_fingerprints(df, id_col, text_col)
    band_width = _BITS // _BANDS
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit((1 << band_width) - 1))
                .alias("chunk"),
            )
            for b in range(_BANDS)
        ]
    )
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("bc")
    ).select(id_col, "simhash", "bc.band", "bc.chunk")
    banded = cap_bucket_size(
        banded, ["band", "chunk"], max_bucket_size, "simhash_pairs"
    )
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "chunk"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "chunk"
    )
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming(F.col("sim_a"), F.col("sim_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
