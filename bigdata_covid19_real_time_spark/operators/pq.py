"""Product quantization (PQ) for compressed-domain similarity search.

At 100 TB of float32 embeddings, even the *storage* of the corpus
dominates ANN cost.  PQ (Jégou et al. 2011, the FAISS workhorse) splits
each vector into ``m`` subvectors, k-means-quantizes each subspace to
``k`` codes, and stores ``m`` small ints per vector — a 16-32x
compression — then scores queries against the CODES with asymmetric
distance computation (ADC): the query stays full-precision, each
candidate's score is a sum of ``m`` codebook-table lookups.

Spark-first shape:
- codebook training is driver-side numpy over a bounded sample, per
  subspace — the same deliberate, bounded driver step as
  ``ivf.train_centroids``, running the same Lloyd routine
  (``ivf._lloyd``) once per subspace;
- ENCODING is a broadcast cross-join against the flat (m x k)-row
  codebook frame with one codegen-friendly score per row, collapsed by
  partial-aggregated argmax + pivot — no corpus shuffle (map-side
  partial aggregation collapses the k-way expansion before any
  exchange), value-independent generated code;
- ADC SCORING precomputes the classic per-query LOOKUP TABLE first —
  as ONE nested-array column per query (``__terms[s][code]``,
  ``|queries| x m x k`` doubles; all the higher-order-function work
  confined to the bounded query side) — then scores candidates with a
  SINGLE broadcast join + m plain ``element_at`` indexings and a sum.
  ``element_at`` into a joined array is a simple codegen expression;
  what must stay OFF the corpus-sized hot path is lambda-expression
  evaluation (an ``aggregate``-per-row formulation measured ~35 s at
  sf0.1 — higher-order functions don't codegen and re-copy the
  codebook per evaluation).  The single-join shape replaced m
  per-subspace broadcast hash joins whose broadcast sides each re-ran
  the LUT subplan (2.3x on ``pq_topk`` at sf0.1, bit-identical).  The
  only wide operation is the final per-query top-k.

The whole pipeline is a pure function of (corpus, m, k, iters), so the
correctness gate replicates training + encoding + ADC independently in
DuckDB SQL (plans/extensions.py::_pq_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.ivf import (
    _lloyd,
    centroid_struct_rows,
    collect_training_rows,
)
from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    dot,
    top_k_per_query,
    unit_vector,
)


def _books_frame(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """1-row broadcastable frame: ``__books`` =
    array (subspace) of array<struct<cid, cvec, chalf>> — the whole PQ
    codebook as data, keeping generated code value-independent (same
    rationale as ``ivf.centroid_array_frame``)."""
    return spark.createDataFrame(
        [([centroid_struct_rows(book) for book in codebooks],)],
        "__books array<array<struct<cid:int,cvec:array<double>,chalf:double>>>",
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 262_144,
    train_rows: list | None = None,
) -> list[list[list[float]]]:
    """Per-subspace deterministic k-means codebooks:
    ``codebooks[s][j]`` is code ``j``'s centroid in subspace ``s``.

    Same bounded-sample policy as ``ivf.train_centroids``, and the same
    Lloyd routine (``ivf._lloyd``) run once per subspace: init = the
    ``k`` lowest-id subvectors, ties to the lower code, empty codes keep
    their previous centroid — which is what makes the gate's SQL
    replication possible.  The vector dimension must divide by
    ``m``.  ``train_rows`` (from ``ivf.collect_training_rows``) lets a
    caller that also trains IVF centroids share ONE training fetch
    between the two trainers (round 15: the composed ivfpq/rrf queries
    ran the identical TakeOrdered+collect twice per query).
    """
    import numpy as np

    rows = (
        collect_training_rows(corpus, id_col, vec_col, max_train_rows)
        if train_rows is None
        else train_rows
    )
    X = np.array([r["__vec"] for r in rows], dtype=np.float64)
    # cosine metric: L2-normalize before quantizing, so the ADC inner
    # product approximates cosine (the FAISS METRIC_INNER_PRODUCT-on-
    # normalized-vectors recipe); zero vectors stay zero
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = np.divide(X, norms, out=X.copy(), where=norms > 0)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = (_lloyd(X[:, s * sub : (s + 1) * sub], k, n_iters) for s in range(m))
    return [[list(map(float, c)) for c in book] for book in books]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{m-1}): each vector's per-subspace code ids —
    the compressed representation; at scale, write THIS frame instead
    of the raw vectors.

    Shape: broadcast cross-join against the (m x k)-row codebook frame,
    one flat ``dot - chalf`` score per (vector, subspace, code) row,
    then argmax + pivot via two partial-aggregated groupBys.  A
    nested-``transform`` per-row argmax is 10x+ slower here — deeply
    nested higher-order functions stay interpreted and re-copy the
    codebook array per evaluation (measured 33 s vs 3 s at sf0.1).
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    book_rows = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [
                (s, *row)
                for s, book in enumerate(codebooks)
                for row in centroid_struct_rows(book)
            ],
            "__s int, __cid int, __cvec array<double>, __chalf double",
        )
    )
    # PQ quantizes and scores on the unit sphere, so the ADC inner
    # product approximates cosine
    prepped = corpus.select(
        F.col(id_col), unit_vector(_as_double(F.col(vec_col))).alias("__vec")
    )
    scored = prepped.crossJoin(book_rows).select(
        id_col,
        "__s",
        "__cid",
        (
            dot(
                F.slice(F.col("__vec"), F.col("__s") * sub + 1, F.lit(sub)),
                F.col("__cvec"),
            )
            - F.col("__chalf")
        ).alias("__sc"),
    )
    best = scored.groupBy(id_col, "__s").agg(
        F.max(F.struct(F.col("__sc").alias("s"), (-F.col("__cid")).alias("nc"))).alias(
            "__m"
        )
    )
    return best.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("__s") == s, (-F.col("__m.nc")).cast("int"))).alias(
                f"code_{s}"
            )
            for s in range(m)
        ]
    )


def _adc_terms_frame(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, __terms): the classic per-query ADC lookup table as
    ONE nested array column — ``__terms[s][code] = dot(q_sub_s,
    book_s[code])``, |q| rows of m*k doubles.

    All the higher-order-function work (the nested ``transform`` +
    ``aggregate`` dot products) happens here on the bounded query side;
    candidates then resolve their score terms with plain ``element_at``
    indexing into the broadcast row — simple codegen expressions, no
    lambda evaluation in the corpus-sized hot path.  One broadcast join
    replaces the previous m per-subspace broadcast hash joins, which
    each re-ran the whole LUT subplan to build their broadcast side
    (measured 2.3x on ``pq_topk`` at sf0.1, bit-identical output).
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        unit_vector(_as_double(vec_col)).alias("__q"),
    )
    return q.join(_books_frame(queries.sparkSession, codebooks)).select(
        "query_id",
        F.transform(
            F.col("__books"),
            lambda book, s: F.transform(
                book,
                lambda c: dot(
                    F.slice(F.col("__q"), s * sub + 1, F.lit(sub)), c["cvec"]
                ),
            ),
        ).alias("__terms"),
    )


def _adc_score(m: int) -> Column:
    """ADC inner product from a joined ``__terms`` row: sum over the m
    subspaces of the term the candidate's ``code_s`` selects (1-based
    ``element_at`` indexing; code ids are 0-based)."""
    terms = (
        F.element_at(F.element_at("__terms", s + 1), F.col(f"code_{s}") + 1)
        for s in range(m)
    )
    first = next(terms)
    return sum(terms, first)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: full-precision ``queries`` against the PQ ``codes``.

    Output: (query_id, neighbor_id, rank, adc_score) with the score an
    inner-product approximation ``sum_m dot(q_sub_m, book_m[code_m])``.
    Ranking uses the 6-decimal-rounded score (cross-engine-stable order,
    same discipline as tfidf ranking) with neighbor id as tie-break.

    The candidate side carries only (id, m codes) — the compressed
    corpus never rehydrates; the broadcast query side is the only
    full-precision operand.
    """
    m = len(codebooks)
    cand = codes.join(
        F.broadcast(_adc_terms_frame(queries, codebooks, id_col, vec_col)),
        codes[id_col] != F.col("query_id"),
    )
    score = _adc_score(m)
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(score + F.lit(1e-9), 6).alias("adc_score"),
    )
    return top_k_per_query(scored, "adc_score", k_top).select(
        "query_id", "neighbor_id", "rank", "adc_score"
    )
