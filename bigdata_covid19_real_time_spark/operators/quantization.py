"""Scalar quantization (SQ8) for embedding search: compress float
vectors to one byte per dimension, score candidates on the compressed
codes, rerank survivors exactly.

Not in the reference (its only data is scalar time-series); with
ivf.py (inverted lists) and pq.py (product quantization) this completes
the standard ANN compression ladder a training-data pipeline uses:

    float32 scan  ->  SQ8 (4x smaller, this module)  ->  PQ (16-64x)

SQ8 is the FAISS ``ScalarQuantizer``/Milvus ``SQ8`` scheme: per
DIMENSION, learn global [min, max] over the L2-normalized corpus, then
map each component to ``round((x - min) / (max - min) * 255)`` clamped
to [0, 255].  Unlike PQ there is no codebook join at query time —
candidates are ranked by the FAISS-style asymmetric (ADC) score, the
float query dotted with the decoded codes, which folds to a per-query
reweighted integer dot — a narrow codegen'd map over corpus partitions.

Design for 100 TB:
- the stats pass produces ONE row (two dim-length arrays) via a
  partial-aggregated posexplode -> groupBy(pos); it broadcasts to the
  quantize pass as a 2xdim-double literal frame — no driver collect;
- candidate scoring shuffles nothing: queries broadcast as per-query
  ADC weight arrays, each corpus row costs one multiply-add per dim
  over its byte codes, and only the per-query top
  ``k * rerank_factor`` rows (a few hundred) reach the exact rerank;
- the exact rerank re-scores candidates only, so full-precision floats
  are touched for |queries| * k * rerank_factor rows, not the corpus;
- at cluster scale the quantized corpus table is what you PERSIST:
  byte codes cut scan bandwidth 4x vs float32 (the reason SQ8 exists),
  and the same codes feed ivf.py's inverted lists for pruned probes.

Determinism: quantization arithmetic is fixed-shape IEEE double ops
(identical in Spark and the DuckDB oracle), candidate selection orders
by the ADC score with id tie-breaks, and the rerank emits
``stable_round``-ed cosine — the full pipeline is SQL-replicable with
no recall assumption (the oracle replays normalize + quantize + select
+ rerank; the only cross-engine exposure is float-sum accumulation
order at the candidate-cutoff boundary, the same class every query in
this family carries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    dot,
    l2_norm,
    safe_cosine,
    top_k_per_query,
    unit_vector,
)


def sq8_train(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension [min, max] over the corpus as ONE row of two
    dim-length arrays (``mins``, ``maxs``).

    posexplode -> groupBy(pos) partial-aggregates map-side (dim rows per
    partition reach the shuffle), then a single collect_list-of-struct
    sorted by position rebuilds the arrays — no driver round-trip.
    """
    per_dim = (
        corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    by_pos = F.array_sort(F.collect_list(F.struct("pos", "mn", "mx")))
    return per_dim.agg(
        F.transform(by_pos, lambda s: s["mn"]).alias("mins"),
        F.transform(by_pos, lambda s: s["mx"]).alias("maxs"),
    )


def _quantize(vec: Column, mins: Column, maxs: Column) -> Column:
    """array<double> -> array<long> of 0..255 codes (degenerate dims ->
    0).  Fixed-shape double arithmetic: both engines evaluate
    ``floor((x - mn) / (mx - mn) * 255 + 0.5)`` identically."""

    def code(x, i):
        mn = F.element_at(mins, i + 1)
        mx = F.element_at(maxs, i + 1)
        scaled = F.floor((x - mn) / (mx - mn) * 255 + F.lit(0.5))
        return F.when(
            mx > mn, F.least(F.lit(255), F.greatest(F.lit(0), scaled))
        ).otherwise(F.lit(0)).cast("long")

    return F.transform(vec, code)


def sq8_quantize(
    df: DataFrame,
    stats: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Attach the SQ8 code array; ``stats`` is the 1-row frame from
    :func:`sq8_train`, joined in as a broadcast (never collected)."""
    return df.crossJoin(F.broadcast(stats)).withColumn(
        out_col, _quantize(_as_double(F.col(vec_col)), F.col("mins"), F.col("maxs"))
    ).drop("mins", "maxs")


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors via SQ8: asymmetric (ADC) candidate
    generation (``k * rerank_factor`` per query), exact cosine rerank.

    Output: (query_id, neighbor_id, rank, cosine) — same contract as
    ``cosine_topk``.  Self-pairs excluded; all orderings id-tie-broken.
    """
    # L2-normalize BEFORE quantizing: the candidate metric is cosine,
    # and the quantized dot product approximates the dot product — of
    # unnormalized vectors that ranks by magnitude, not angle.  (The
    # FAISS convention for SQ + cosine is the same: normalize, then
    # quantize, then inner product.)
    c_base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
    ).withColumn("c_unit", unit_vector(F.col("c_vec")))
    stats = sq8_train(c_base, "c_unit")
    c = sq8_quantize(c_base, stats, "c_unit", "c_q").drop("c_unit")
    # Candidate scoring is ASYMMETRIC (FAISS ADC): the query stays in
    # float, the corpus is ranked by the query's dot with its DECODED
    # codes, decode(qc)_d = mn_d + qc_d * (mx_d - mn_d) / 255.  The
    # Σ q_d * mn_d term is constant per query (drops out of the
    # per-query ranking), so the score reduces to a dot between the
    # per-query weight array w_d = q_d * (mx_d - mn_d) / 255 and the
    # raw integer codes — one multiply-add per dim over byte codes.
    # (Ranking by the raw code-code dot is NOT cosine-faithful: it
    # ignores the affine offsets entirely — measured 20% recall.)
    deltas = F.zip_with(
        F.col("maxs"), F.col("mins"), lambda a, b: (a - b) / F.lit(255.0)
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("q_vec"),
        )
        .withColumn("q_unit", unit_vector(F.col("q_vec")))
        .crossJoin(F.broadcast(stats))
        .withColumn("q_w", F.zip_with(F.col("q_unit"), deltas, lambda x, d: x * d))
        .drop("mins", "maxs", "q_unit")
        .withColumn("q_norm", l2_norm(F.col("q_vec")))
    )
    qscore = dot(F.col("q_w"), F.col("c_q"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qscore", qscore)
    )
    cands = top_k_per_query(scored, "qscore", k * rerank_factor)
    cosine = safe_cosine(
        dot(F.col("q_vec"), F.col("c_vec")), F.col("q_norm"), F.col("c_norm")
    )
    reranked = cands.withColumn("c_norm", l2_norm(F.col("c_vec"))).withColumn(
        "cosine", cosine
    )
    return top_k_per_query(reranked, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )
