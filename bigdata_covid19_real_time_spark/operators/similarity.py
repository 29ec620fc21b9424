"""Vector similarity search over embedding columns.

Not in the reference (its only data is scalar time-series); this is part
of the engine's training-data-pipeline extension surface (SURVEY.md §7.7).

Design for 100 TB:
- the *query set* is broadcast (it's small by construction); the corpus
  is never collected or shuffled — brute-force scoring is a narrow map
  over corpus partitions followed by a per-query top-k
  (TakeOrderedAndProject-style via window + filter on the tiny
  (query x k) result);
- dot products in scoring/verification run JVM-side with
  ``aggregate``/``zip_with`` higher-order functions; the one deliberate
  Python boundary is ``_signatures`` — an Arrow-batched numpy GEMM,
  because HOFs evaluate interpreted and a |corpus| x L x b x dim lambda
  storm measured 20 s where the matmul is milliseconds (see its
  docstring);
- ``lsh_bucketed_topk`` is the scale path: random-hyperplane signatures
  prune the corpus to matching buckets before exact scoring, turning the
  all-pairs cross join into a bucket-equi-join.

Cache lifecycle: ``lsh_bucketed_topk`` persists the exploded corpus and
stats tables (read by several downstream joins); the cache must outlive
the returned lazy frame, so callers looping invocations should
``spark.catalog.clearCache()`` between them (bench.py does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(vec: Column | str) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two numeric array columns (JVM-side,
    deterministic left-to-right fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    """L2 norm as a narrow array aggregate — no explode, no shuffle."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def unit_vector(vec: Column) -> Column:
    """L2-normalized copy of a double-array column; zero vectors pass
    through unchanged."""
    n = l2_norm(vec)
    return F.when(n > 0, F.transform(vec, lambda x: x / n)).otherwise(vec)


def safe_cosine(dp: Column, na: Column, nb: Column) -> Column:
    """Cosine from a dot product and the two norms, 0.0 when either
    norm is zero.  The guard is required, not cosmetic: Spark runs with
    ANSI mode on, so a double divided by zero raises DIVIDE_BY_ZERO
    (DuckDB returns NULL; the oracles spell the same guard as
    ``CASE WHEN na > 0 AND nb > 0 ... ELSE 0.0``)."""
    return F.when((na > 0) & (nb > 0), dp / (na * nb)).otherwise(F.lit(0.0))


def top_k_per_query(scored: DataFrame, score: str, k: int) -> DataFrame:
    """``scored`` + a ``rank`` column, cut to each query's ``k`` best
    rows: ``row_number() over (partition by query_id order by score
    desc, neighbor_id asc) <= k``.  Ties break toward the lower neighbor
    id, so the cut is deterministic.  An existing ``rank`` column is
    replaced."""
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    )
    return scored.withColumn("rank", rank).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors in ``corpus`` for every query vector.

    Output: (query_id, neighbor_id, rank, cosine).  Self-pairs (same id)
    are excluded.  Deterministic: rank ties broken by neighbor id.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("q_vec"),
        ).withColumn("q_norm", l2_norm(F.col("q_vec")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("c_vec"),
    ).withColumn("c_norm", l2_norm(F.col("c_vec")))

    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            safe_cosine(
                dot(F.col("q_vec"), F.col("c_vec")), F.col("q_norm"), F.col("c_norm")
            ),
        )
    )
    return top_k_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )


def _signatures(
    vecs: DataFrame, id_name: str, tables: list[list[list[float]]]
) -> DataFrame:
    """(id, table, sig) bucket rows: every table's hyperplane signature
    per vector.

    This is a **GEMM** — every vector against every plane — and runs as
    an Arrow-batched ``mapInPandas`` numpy kernel: one ``V @ P.T`` per
    partition batch, sign bits packed to per-table int64 signatures.

    Why Python here when the dedup docstrings promise JVM hot paths:
    Spark's higher-order functions (``zip_with``/``aggregate``) are
    *interpreted* expression evaluation, outside whole-stage codegen —
    the previous broadcast-plane-frame formulation evaluated
    |corpus| x L x b x dim per-element lambdas (82M at sf0.1 with
    L=40, b=16, dim=64: measured 20 s, the whole query's cost), where
    the batched matmul is milliseconds.  This is exactly the case the
    Pandas-UDF escape hatch exists for; the corpus still never
    shuffles (narrow map over partitions, planes shipped as a
    closure-captured (L*b x dim) array, ~300 KB).

    Bit packing matches the relational formulation exactly: bit b set
    iff ``dot(vec, plane) >= 0`` (zero vectors set every bit in every
    formulation), weights are powers of two summed into a long.  The
    only divergence surface is the sign of dots within ~1e-15 of zero
    (BLAS vs left-fold accumulation order), which moves a vector
    between buckets of ONE table — recall-neutral by the multi-table
    construction.
    """
    import numpy as np
    import pandas as pd

    num_tables = len(tables)
    bits = len(tables[0])
    planes = np.asarray(tables, dtype=np.float64).reshape(num_tables * bits, -1)
    weights = np.power(2.0, np.arange(bits))  # exact to 2^53
    table_ids = np.arange(num_tables, dtype=np.int32)
    id_type = vecs.schema[id_name].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_name].to_numpy()
            mat = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
            )
            signs = (mat @ planes.T >= 0).reshape(len(ids), num_tables, bits)
            sigs = (signs * weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    id_name: np.repeat(ids, num_tables),
                    "table": np.tile(table_ids, len(ids)),
                    "sig": sigs.reshape(-1),
                }
            )

    return vecs.select(id_name, F.col("__vec")).mapInPandas(
        gen, f"{id_name} {id_type}, table INT, sig LONG"
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    tables: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a < vec_b, cosine)
    with cosine >= threshold — the embedding leg of the dedup family
    (exact dedup / MinHash / SimHash / n-gram Jaccard / THIS).

    Same two-phase shape as ``minhash_lsh_pairs``: multi-table
    hyperplane-LSH buckets generate candidates (bucket equi-join — the
    shuffle key is (table, signature), never vectors), then candidates
    are verified by EXACT cosine over the exploded representation.  A
    pair at angle theta is missed only if every table splits it:
    P(miss) = (1 - (1 - theta/pi)^b)^L — tune L up for recall, b up for
    pruning.  Output equals the all-pairs exact result minus those
    misses, so with adequate L the exact result IS the oracle.
    """
    c_vecs = corpus.select(
        F.col(id_col).alias("__nid"), _as_double(F.col(vec_col)).alias("__vec")
    ).persist()
    buckets = _signatures(c_vecs, "__nid", tables)
    a = buckets.select(F.col("__nid").alias("vec_a"), "table", "sig")
    b = buckets.select(F.col("__nid").alias("vec_b"), "table", "sig")
    cands = (
        a.join(b, ["table", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
        .persist()
    )
    # Explode only vectors that made it into some candidate pair (see
    # lsh_bucketed_topk): verification cost tracks |candidates| * dim,
    # not |corpus| * dim.
    cand_ids = (
        cands.select(F.col("vec_a").alias("__nid"))
        .union(cands.select(F.col("vec_b").alias("__nid")))
        .distinct()
    )
    cand_vecs = c_vecs.join(cand_ids, "__nid", "left_semi").persist()
    cex = cand_vecs.select("__nid", F.posexplode("__vec").alias("__p", "__v"))
    dp = (
        cands.join(
            cex.select(
                F.col("__nid").alias("vec_a"), "__p", F.col("__v").alias("__av")
            ),
            "vec_a",
        )
        .join(
            cex.select(
                F.col("__nid").alias("vec_b"), "__p", F.col("__v").alias("__bv")
            ),
            ["vec_b", "__p"],
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.sum(F.col("__av") * F.col("__bv")).alias("__dp"))
    )
    norms = cand_vecs.select("__nid", l2_norm(F.col("__vec")).alias("norm"))
    scored = (
        dp.join(norms.select(F.col("__nid").alias("vec_a"), F.col("norm").alias("__na")), "vec_a")
        .join(norms.select(F.col("__nid").alias("vec_b"), F.col("norm").alias("__nb")), "vec_b")
        .withColumn(
            "cosine", safe_cosine(F.col("__dp"), F.col("__na"), F.col("__nb"))
        )
    )
    # threshold on the 6-decimal-rounded cosine: raw comparison lets
    # accumulation-order noise (~1e-16) flip pairs sitting exactly at
    # the threshold between engines/runs (observed: 2 of 23.5k pairs at
    # sf0.1); rounding first makes the cut deterministic everywhere
    return scored.filter(
        F.round(F.col("cosine") + F.lit(1e-9), 6) >= threshold
    ).select("vec_a", "vec_b", "cosine")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine scoring restricted to vectors that
    share a bucket with the query in >=1 of L hash tables.

    ``tables`` is L independent plane sets (standard multi-table LSH):
    a neighbor at angle theta collides per table with ``(1 - theta/pi)^b``
    and is a candidate with ``1 - (1 - p)^L`` — L tunes recall without
    shrinking buckets.  Scale path vs ``cosine_topk``: the cross join
    becomes an equi-join on (table, signature), so each query scores
    ~L * corpus / 2^b candidates instead of the whole corpus.  Plane
    width must equal the vector width (zip_with null-pads mismatches).
    """
    # Candidate generation runs on bucket rows from the ``_signatures``
    # GEMM kernel (see its docstring); candidate scoring stays a
    # codegen'd sum-aggregate over the exploded (id, position, value)
    # rows.
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__vec")
    ).persist()
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__vec")
    )
    qex = F.broadcast(
        q_vecs.select("query_id", F.posexplode("__vec").alias("__p", "__v"))
    )

    cands = (
        _signatures(c_vecs, "neighbor_id", tables)
        .join(
            F.broadcast(_signatures(q_vecs, "query_id", tables)),
            ["table", "sig"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .persist()
    )
    # Explode and L2-norm ONLY the candidate vectors: the semi-join
    # prunes the corpus to bucket-mates of some query before the dim-way
    # explode, so scoring cost is |candidates| * dim, not |corpus| * dim
    # — pruning is the whole point of the LSH index, and doing the
    # explode corpus-wide would silently throw it away.
    cand_vecs = c_vecs.join(
        cands.select("neighbor_id").distinct(), "neighbor_id", "left_semi"
    ).persist()
    cex = cand_vecs.select("neighbor_id", F.posexplode("__vec").alias("__p", "__v"))
    dp = (
        cands.join(cex.withColumnRenamed("__v", "__cv"), "neighbor_id")
        .join(qex.withColumnRenamed("__v", "__qv"), ["query_id", "__p"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("__cv") * F.col("__qv")).alias("__dp"))
    )
    scored = (
        dp.join(
            F.broadcast(
                q_vecs.select("query_id", l2_norm(F.col("__vec")).alias("q_norm"))
            ),
            "query_id",
        )
        .join(
            cand_vecs.select("neighbor_id", l2_norm(F.col("__vec")).alias("c_norm")),
            "neighbor_id",
        )
        .withColumn(
            "cosine", safe_cosine(F.col("__dp"), F.col("q_norm"), F.col("c_norm"))
        )
    )
    return top_k_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", "rank", "cosine"
    )


def label_centroid_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label centroid diagnostics: size, centroid norm, inertia.

    The cluster-quality readout for a labeled / clustered embedding
    table (e.g. after IVF assignment or an external classifier): per
    label the member count, the L2 norm of the element-wise mean vector,
    and the mean squared distance of members to that centroid (inertia).
    Tight labels -> low inertia; a label whose inertia rivals the global
    variance is mislabeled or incoherent.

    Plan: posexplode once -> groupBy (label, pos) for centroid
    components -> join the exploded table back on (label, pos) for the
    squared-distance sum.  Shuffle keys are (label, pos) pairs — never
    whole vectors — and the join is centroid-table-broadcastable (C*dim
    rows).  No driver-side collect, no UDF.

    Output: ``(label, n_vecs, centroid_norm, inertia)``.
    """
    exploded = df.select(
        F.col(id_col), F.col(label_col), F.posexplode(_as_double(F.col(vec_col)))
    ).toDF(id_col, label_col, "pos", "val").persist()
    cent = exploded.groupBy(label_col, "pos").agg(F.avg("val").alias("c"))
    norms = cent.groupBy(label_col).agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm")
    )
    sq = (
        exploded.join(F.broadcast(cent), [label_col, "pos"])
        .groupBy(label_col)
        .agg(
            (F.sum(F.pow(F.col("val") - F.col("c"), 2))
             / F.countDistinct(id_col)).alias("inertia"),
            F.countDistinct(id_col).alias("n_vecs"),
        )
    )
    return sq.join(norms, label_col).select(
        label_col, "n_vecs", "centroid_norm", "inertia"
    )


def reciprocal_rank_fusion(
    ranked_lists: list[DataFrame],
    k_top: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of (query_id, neighbor_id, rank) lists:
    ``score = sum_lists 1 / (rrf_k + rank)`` — the standard way to
    ensemble retrievers with incomparable score scales (here: the exact
    baseline, IVF, and PQ neighbor lists; in a corpus pipeline, lexical
    + dense retrieval).

    Deterministic: fused ranking orders by the 6-decimal-rounded score
    (the 1/(k+r) terms are tiny rationals; rounding absorbs cross-engine
    summation-order noise) with neighbor id as tie-break.

    Scale: a union of the (already tiny) per-query top-k lists, one
    groupBy on (query, neighbor), one per-query window over ≤ sum-of-k
    rows — the inputs were the expensive part.
    """
    from functools import reduce

    tagged = [
        df.select(
            "query_id",
            "neighbor_id",
            (F.lit(1.0) / (F.lit(rrf_k) + F.col("rank"))).alias("__w"),
        )
        for df in ranked_lists
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), tagged)
    fused = unioned.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("__w") + F.lit(1e-9), 6).alias("rrf_score")
    )
    return top_k_per_query(fused, "rrf_score", k_top).select(
        "query_id", "neighbor_id", "rank", "rrf_score"
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction over an embedding corpus.

    For each query vector: find its ``k`` nearest labeled corpus
    vectors by cosine (exact, via :func:`cosine_topk` — swap in the
    LSH/IVF candidate path at scale), then vote.  Ties break to the
    smallest label so the prediction is deterministic.

    Output: (query_id, predicted_label, votes).

    The caller is responsible for holding query ids out of ``corpus``
    when they overlap (cosine_topk only excludes identical ids).

    Scale: the vote is one groupBy over |queries| * k rows — all the
    heavy lifting is in the neighbor search, which is whichever search
    path produced the top-k.
    """
    neighbors = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__label")
    )
    votes = (
        neighbors.join(labels, "neighbor_id")
        .groupBy("query_id", "__label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("__label"))
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("query_id", F.col("__label").alias("predicted_label"), "votes")
    )
