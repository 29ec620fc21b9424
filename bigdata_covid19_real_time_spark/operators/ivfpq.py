"""IVF-PQ: the composed 100 TB ANN architecture — an inverted-file
coarse quantizer prunes the corpus to ``nprobe`` cells, ADC scoring on
product-quantization codes ranks ONLY in-cell candidates in the
compressed domain, and a short full-precision rerank fixes the final
order.  (FAISS's IndexIVFPQ, expressed relationally.)

Why the composition matters at scale: IVF alone (operators/ivf.py)
prunes the scan but still rehydrates full vectors for every in-cell
candidate; PQ alone (operators/pq.py) compresses 16x but scans every
code.  Composed, the scan touches ``nprobe/n_cells`` of the corpus AND
carries only m bytes per vector; full vectors load for just
``k * rerank_factor`` rows per query.

Determinism: both trainers are the repo's deterministic k-means
(lowest-id init, fixed iterations, explicit tie-breaks), ADC shortlist
and final rank order by 6-decimal-rounded scores with id tie-breaks —
the whole pipeline is a pure function of the corpus, which is what
makes it fully SQL-oracle-replicable (plans/ann_composed.py).

Plan shape: cell assignment and encoding are broadcast-codebook narrow
maps; the candidate join is index x broadcast(probes); ADC is ONE
broadcast hash join on query_id against the per-query term-array
lookup table + m ``element_at`` indexings and a sum (codegen; see
``pq._adc_terms_frame``); the rerank joins the exploded corpus ONLY
against the shortlist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.ivf import (
    _cluster_expr,
    _probes,
    centroid_array_frame,
)
from bigdata_covid19_real_time_spark.operators.pq import (
    _adc_score,
    _adc_terms_frame,
    pq_encode,
)
from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    l2_norm,
    safe_cosine,
    top_k_per_query,
)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k via IVF cell pruning + in-cell ADC + exact rerank.

    Output: (query_id, neighbor_id, rank, cosine) — the ANN-family
    contract.  ``rank``/order come from the exact rerank of the ADC
    shortlist (``k * rerank_factor`` per query), so scores are true
    cosines; recall is bounded by cell pruning and ADC shortlist quality.
    """
    m = len(codebooks)
    spark = corpus.sparkSession

    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__vec"),
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__vec"),
    )

    # compressed index: (neighbor_id, cluster, code_0..code_{m-1})
    assign = c_vecs.join(F.broadcast(centroid_array_frame(spark, centroids))).select(
        "neighbor_id",
        _cluster_expr(F.col("__vec"), F.col("__cent")).alias("cluster"),
    )
    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), *[f"code_{s}" for s in range(m)]
    )
    index = codes.join(assign, "neighbor_id")

    # probed cells per query (broadcast — |q| * nprobe rows)
    q_probes = F.broadcast(_probes(q_vecs, "query_id", centroids, nprobe))
    cand = (
        index.join(q_probes, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", *[f"code_{s}" for s in range(m)])
    )

    # per-query ADC term-array lookup table: one broadcast hash join
    # on query_id, then m element_at indexings + a sum (codegen)
    cand = cand.join(
        F.broadcast(_adc_terms_frame(queries, codebooks, id_col, vec_col)),
        "query_id",
    )
    adc = cand.select(
        "query_id",
        "neighbor_id",
        F.round(_adc_score(m) + F.lit(1e-9), 6).alias("adc_score"),
    )
    shortlist = top_k_per_query(adc, "adc_score", k * rerank_factor).select(
        "query_id", "neighbor_id"
    )

    # exact rerank of the shortlist only: cosine over full vectors,
    # rounded-score ordering (cross-engine-stable, same discipline as
    # the PQ ranking)
    cex = c_vecs.join(shortlist.select("neighbor_id").distinct(), "neighbor_id").select(
        "neighbor_id", F.posexplode("__vec").alias("__p", "__cv")
    )
    qex = F.broadcast(
        q_vecs.select("query_id", F.posexplode("__vec").alias("__p", "__qv"))
    )
    norms_c = c_vecs.select("neighbor_id", l2_norm(F.col("__vec")).alias("c_norm"))
    norms_q = F.broadcast(
        q_vecs.select("query_id", l2_norm(F.col("__vec")).alias("q_norm"))
    )
    dp = (
        shortlist.join(cex, "neighbor_id")
        .join(qex, ["query_id", "__p"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("__cv") * F.col("__qv")).alias("__dp"))
        .join(norms_c, "neighbor_id")
        .join(norms_q, "query_id")
    )
    cos = safe_cosine(F.col("__dp"), F.col("q_norm"), F.col("c_norm"))
    scored = dp.select(
        "query_id",
        "neighbor_id",
        F.round(cos + F.lit(1e-9), 6).alias("cosine"),
    )
    return top_k_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )
