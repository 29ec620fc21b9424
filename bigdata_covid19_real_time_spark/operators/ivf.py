"""IVF (inverted-file) approximate nearest neighbor search.

The coarse-quantizer ANN path, complementing the hyperplane-LSH variant
(operators/similarity.py): k-means centroids partition the corpus into
C inverted lists; a query scores only the lists of its ``nprobe``
nearest centroids.  Recall is tuned by ``nprobe`` (probe more lists ->
see more corpus); candidate count ~= nprobe/C of the corpus, vs
L/2^bits for LSH.

Spark-first shape:
- centroids live on the driver (C x dim floats — KBs).  Corpus
  ASSIGNMENT joins them on as a broadcast 1-ROW ARRAY COLUMN
  (``centroid_array_frame``) and computes a NARROW per-row argmax
  (``_cluster_expr``): zero shuffle — the broadcast-cross-join +
  groupBy alternative pushes C x N rows through an exchange, which is
  the difference between a map-only pass and a 16x-corpus shuffle at
  100 TB.  Centroids as DATA (not expression literals) keeps the
  generated code value-independent, so Janino compiles once ever —
  literal centroids forced a fresh multi-second compile per centroid
  set/SF (measured on the bench).  Query-side PROBING (``_probes``)
  keeps the C-row broadcast-DataFrame form: the query set is small,
  and top-nprobe needs the per-centroid rows anyway.
- training is deterministic: seeded centroid init from a fixed-id
  sample, fixed iteration count — rerunning reproduces the same index.

Cache lifecycle: ``ivf_topk`` persists the exploded corpus table; the
cache must outlive the returned lazy frame, so callers looping
invocations should ``spark.catalog.clearCache()`` between them
(bench.py does).

At 100 TB: train on a sample (kmeans quality saturates fast),
partition/bucket the corpus by ``cluster_id`` at write time so each
probe reads only its inverted lists (partition pruning does the "file"
part of inverted-file), and score with the same exploded-join used here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    dot,
    l2_norm,
    safe_cosine,
    top_k_per_query,
)


def _scored(vecs: DataFrame, id_name: str, centroids: list[list[float]]) -> DataFrame:
    """(id, cid, __s): every vector scored against every centroid with
    the argmin-equivalent score ``dot(v, c) - |c|^2/2``.  Broadcast
    cross-join of a C-row frame — C * |vecs| rows, no corpus shuffle."""
    cent = vecs.sparkSession.createDataFrame(
        centroid_struct_rows(centroids), "cid INT, cvec ARRAY<DOUBLE>, chalf DOUBLE"
    )
    return vecs.crossJoin(F.broadcast(cent)).select(
        id_name,
        "cid",
        (dot(F.col("__vec"), F.col("cvec")) - F.col("chalf")).alias("__s"),
    )


def _cluster_expr(vec: Column, cent_col: Column) -> Column:
    """Nearest-centroid id as a NARROW per-row expression over a
    centroid ARRAY COLUMN (see ``centroid_array_frame``): ``array_max``
    over (s, -cid) structs — same argmax + lower-id tie-break as the
    join formulation, but zero shuffles (no groupBy, no join back) AND
    value-independent generated code (literal centroids would force a
    fresh Janino compile per centroid set; a column keeps the code
    cached across queries/SFs)."""
    scored = F.transform(
        cent_col,
        lambda c: F.struct(
            (dot(vec, c["cvec"]) - c["chalf"]).alias("s"),
            (-c["cid"]).alias("nc"),
        ),
    )
    return (-F.array_max(scored)["nc"]).cast("int")


def centroid_struct_rows(
    centroids: list[list[float]],
) -> list[tuple[int, list[float], float]]:
    """(cid, cvec, chalf) rows — chalf = |c|^2 / 2 precomputed
    driver-side so the score expression ``dot(v, c) - chalf`` is a
    plain column op."""
    return [
        (i, [float(x) for x in c], float(sum(x * x for x in c)) / 2.0)
        for i, c in enumerate(centroids)
    ]


def centroid_array_frame(
    spark, centroids: list[list[float]], col_name: str = "__cent"
) -> DataFrame:
    """1-row broadcastable frame holding the whole centroid table as one
    array<struct<cid, cvec, chalf>> column — joins onto any frame as a
    broadcast with no shuffle, and keeps codegen value-independent."""
    return spark.createDataFrame(
        [(centroid_struct_rows(centroids),)],
        f"{col_name} array<struct<cid:int,cvec:array<double>,chalf:double>>",
    )


def _assign(vecs: DataFrame, id_name: str, centroids: list[list[float]]) -> DataFrame:
    """(id, cluster): nearest centroid per vector; exact score ties break
    toward the lower centroid id.  Narrow map (see ``_cluster_expr``)."""
    cent = F.broadcast(centroid_array_frame(vecs.sparkSession, centroids))
    return vecs.join(cent).select(
        id_name, _cluster_expr(F.col("__vec"), F.col("__cent")).alias("cluster")
    )


def _probes(
    vecs: DataFrame, id_name: str, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """(id, cluster): each vector's ``nprobe`` best-scoring centroids.
    Ties rank toward the HIGHER centroid id — matches the historical
    ``reverse(array_sort(...))`` probe order the SQL oracles replicate."""
    w = Window.partitionBy(id_name).orderBy(F.desc("__s"), F.desc("cid"))
    return (
        _scored(vecs, id_name, centroids)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(id_name, F.col("cid").alias("cluster"))
    )


def collect_training_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 262_144,
) -> list:
    """The bounded training fetch both trainers share: the
    ``max_train_rows`` lowest-id vectors via one distributed top-K
    (TakeOrdered — no global sort) collected as ``(__id, __vec)`` rows.

    Factored out in round 15 so composed queries that train BOTH the
    coarse quantizer and the PQ codebooks (``embedding_ivfpq_topk``,
    ``embedding_rrf_topk``) run this corpus-wide fetch ONCE and pass
    the rows to each trainer, instead of executing the identical
    TakeOrdered+collect job twice per query (guide §1.2: don't compute
    things you already have)."""
    return (
        corpus.select(
            F.col(id_col).alias("__id"),
            _as_double(vec_col).alias("__vec"),
        )
        .orderBy("__id")
        .limit(max_train_rows)
        .collect()
    )


def train_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 262_144,
    train_rows: list | None = None,
) -> list[list[float]]:
    """Deterministic k-means: init = the ``n_clusters`` lowest-id vectors,
    then ``n_iters`` Lloyd steps — computed driver-side in numpy over a
    BOUNDED training set.

    Coarse-quantizer training is the one deliberate driver-side step in
    the IVF pipeline, and it is bounded by design: k-means quality
    saturates on a sample long before corpus scale (FAISS trains IVF
    quantizers on <=256 * n_clusters sampled vectors), while running
    Lloyd as repeated Spark jobs costs seconds of scheduling per
    iteration to average kilobytes of numbers.  The training set here is
    the ``max_train_rows`` lowest-id vectors, fetched with one
    distributed top-K (no global sort); at the correctness-gate scale
    factors that cap exceeds the corpus, so training is exact full-corpus
    Lloyd — which is what the gate's SQL oracle replicates.  For an
    unbiased subsample at 100 TB (where low ids may correlate with one
    shard), pre-sample the corpus with
    ``operators.sampling.deterministic_sample`` and pass the result in.
    ``train_rows`` (from :func:`collect_training_rows`) lets a caller
    that also trains PQ codebooks share ONE training fetch between the
    two trainers instead of collecting the identical rows twice.

    Everything corpus-sized — assignment, probing, scoring, the
    inverted-file write — stays fully distributed (``_assign`` /
    ``ivf_topk`` / ``write_ivf_index``).

    Lloyd semantics (replicated by the SQL oracle,
    ``plans/extensions.py::kmeans_assign_ctes``) are :func:`_lloyd`'s.
    """
    import numpy as np

    rows = (
        collect_training_rows(corpus, id_col, vec_col, max_train_rows)
        if train_rows is None
        else train_rows
    )
    X = np.array([r["__vec"] for r in rows], dtype=np.float64)
    return [list(map(float, c)) for c in _lloyd(X, n_clusters, n_iters)]


def _lloyd(X, k: int, n_iters: int):
    """The engine's one k-means routine (numpy, driver-side): init = the
    first ``k`` rows of ``X`` (callers pass rows in id order, so the
    lowest-id vectors), then ``n_iters`` Lloyd steps.  Each row goes to
    ``argmax(X @ C.T - |c|^2/2)`` — the nearest centroid — and
    ``np.argmax`` breaks exact ties toward the lower centroid id,
    matching ``_cluster_expr``'s (s, -cid) struct max.  New centroid =
    per-position mean of its rows; an empty cluster keeps its previous
    centroid.  ``train_centroids`` runs it on whole vectors,
    ``pq.train_pq_codebooks`` once per subspace."""
    import numpy as np

    cent = X[:k].copy()
    for _ in range(n_iters):
        scores = X @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        assign = np.argmax(scores, axis=1)
        cent = np.vstack(
            [
                X[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                for c in range(k)
            ]
        )
    return cent


def assign_clusters(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus + a ``cluster`` column: nearest-centroid id per vector.

    A narrow map — the centroid table joins on as a broadcast 1-row
    array column (``centroid_array_frame``), so assignment adds NO
    shuffle at any corpus size and the generated code stays cached
    across centroid sets.
    """
    cent = F.broadcast(centroid_array_frame(corpus.sparkSession, centroids))
    return (
        corpus.join(cent)
        .withColumn(
            "cluster",
            _cluster_expr(_as_double(F.col(vec_col)), F.col("__cent")),
        )
        .drop("__cent")
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted FILE: corpus partitioned by cluster id.

    ``partitionBy("cluster")`` at write time is the "file" half of
    inverted-file: each cluster's vectors land in their own partition
    directory, so a probe that filters ``cluster IN (...)`` scans only
    those directories — partition pruning skips the rest without even
    opening footers.  This is the promised 100 TB read path: a query
    with ``nprobe=6`` of 1024 lists touches ~0.6% of the corpus bytes.
    """
    assign_clusters(corpus, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(path)


def _score_candidates(
    cands: DataFrame, cex: DataFrame, qex: DataFrame, k: int
) -> DataFrame:
    """Shared tail: exact cosine over (query, candidate) pairs from the
    exploded corpus/query tables, then per-query top-k with ties broken
    by neighbor id."""
    dp = (
        cands.join(cex, "neighbor_id")
        .join(qex, ["query_id", "__p"])
        .groupBy("query_id", "neighbor_id", "q_norm", "c_norm")
        .agg(F.sum(F.col("__cv") * F.col("__qv")).alias("__dp"))
    )
    scored = dp.withColumn(
        "cosine", safe_cosine(F.col("__dp"), F.col("q_norm"), F.col("c_norm"))
    )
    return top_k_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over a materialized ``write_ivf_index`` directory.

    Same output contract as ``ivf_topk``; the difference is WHERE the
    candidate restriction happens: the probed cluster ids are collected
    (a handful of ints — |queries| x nprobe upper bound) and pushed into
    the scan as a literal ``cluster IN (...)`` partition filter, so
    un-probed inverted lists are never read.  The driver-side collect is
    the probe list only, never vectors.
    """
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__vec"),
    )
    qex = F.broadcast(
        q_vecs.select("query_id", F.posexplode("__vec").alias("__p", "__qv"))
    )
    q_norms = q_vecs.select("query_id", l2_norm(F.col("__vec")).alias("q_norm"))
    q_probes = (
        _probes(q_vecs, "query_id", centroids, nprobe)
        .join(q_norms, "query_id")
        .persist()
    )

    probe_clusters = sorted(
        r["cluster"] for r in q_probes.select("cluster").distinct().collect()
    )
    # literal IN over the partition column -> PartitionFilters on the scan
    pruned = spark.read.parquet(index_path).filter(
        F.col("cluster").isin(probe_clusters)
    )
    c_base = pruned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cluster"),
        _as_double(vec_col).alias("__vec"),
    )
    cex = c_base.select(
        "neighbor_id", F.posexplode("__vec").alias("__p", "__cv")
    )
    c_stats = c_base.select(
        "neighbor_id", "cluster", l2_norm(F.col("__vec")).alias("c_norm")
    )
    cands = (
        c_stats.join(F.broadcast(q_probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_norm", "c_norm")
    )
    return _score_candidates(cands, cex, qex, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k restricted to the ``nprobe`` nearest inverted lists.

    Output: (query_id, neighbor_id, rank, cosine) — same contract as
    ``cosine_topk``/``lsh_bucketed_topk``.
    """
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__vec"),
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__vec"),
    )
    cex = c_vecs.select(
        "neighbor_id", F.posexplode("__vec").alias("__p", "__cv")
    ).persist()
    qex = F.broadcast(
        q_vecs.select("query_id", F.posexplode("__vec").alias("__p", "__qv"))
    )

    c_assign = c_vecs.join(
        F.broadcast(centroid_array_frame(c_vecs.sparkSession, centroids))
    ).select(
        "neighbor_id",
        _cluster_expr(F.col("__vec"), F.col("__cent")).alias("cluster"),
        l2_norm(F.col("__vec")).alias("c_norm"),
    )
    q_probes = _probes(q_vecs, "query_id", centroids, nprobe).join(
        q_vecs.select("query_id", l2_norm(F.col("__vec")).alias("q_norm")), "query_id"
    )

    cands = (
        c_assign.join(F.broadcast(q_probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_norm", "c_norm")
    )
    return _score_candidates(cands, cex, qex, k)
