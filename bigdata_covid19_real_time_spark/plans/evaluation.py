"""Evaluation and provenance batch: hard-negative mining for
contrastive training, a language-ID confusion matrix, and
content-addressed shard manifests.

Extends the retrieval/curation families (SURVEY.md §2 extension
brief) with the evaluation artifacts a training-data pipeline ships
alongside the data: hard negatives feed contrastive objectives, the
confusion matrix audits the language-ID heuristic against labels, and
the manifest makes every exported shard independently verifiable.

Scale shapes:

- ``embedding_hard_negatives``: the fixed query set broadcasts; the
  corpus scan is one pass with a per-query top-k window on the ROUNDED
  cosine (ties break by id, so the cut is cross-engine stable).  Like
  ``embedding_cosine_topk`` this is the documented brute-force
  baseline — the IVF/PQ paths are the 100 TB route; the label
  inequality filter composes with either.
- ``docs_langid_confusion``: the stopword language scorer is a narrow
  per-row map (no shuffle, no UDF); the confusion rollup shuffles
  |langs|^2 rows.  Argmax ties break to the lexicographically
  greatest language in BOTH engines (Spark ``array_max`` struct
  ordering == SQL CASE arms in descending language order).
- ``docs_shard_manifest``: one narrow map (shard key + content hash)
  and an 8-group rollup with map-side combine.  The checksum is a
  bit_xor of per-doc 60-bit md5 integers — order-insensitive and
  overflow-free, so the manifest is identical however partitions
  arrive, and any single-document corruption flips it.

Imported last by plans/__init__ (append-only registration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_covid19_real_time_spark.operators.sampling import seeded_key
from bigdata_covid19_real_time_spark.operators.similarity import (
    _as_double,
    dot,
    l2_norm,
    safe_cosine,
    top_k_per_query,
)
from bigdata_covid19_real_time_spark.operators.text import (
    STOPWORDS,
    language_scores,
    md5_60,
)
from bigdata_covid19_real_time_spark.plans.registry import query, stable_round
from bigdata_covid19_real_time_spark.sources.batch import load_table

#: Hard-negative mining: query set and negatives per query.
HARDNEG_QUERIES = 10
HARDNEG_K = 5

#: Shard manifest reuses the export assignment of ``docs_shuffle_shards``
#: (operators/sampling.py::shuffle_shard_assignment, seed 7, 8 shards).
MANIFEST_SHARDS = 8
MANIFEST_SEED = 7


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS qv
      FROM embeddings WHERE vec_id < {HARDNEG_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, label AS n_label, embedding AS cv
          FROM embeddings),
    flat AS (
      SELECT q.query_id, q.q_label, c.neighbor_id, c.n_label,
             SUM(CAST(qv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE)) AS dp,
             sqrt(SUM(CAST(qv[u.i] AS DOUBLE) * CAST(qv[u.i] AS DOUBLE))) AS qn,
             sqrt(SUM(CAST(cv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE))) AS cn
      FROM q, c, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE c.neighbor_id != q.query_id AND c.n_label != q.q_label
      GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT query_id, q_label, neighbor_id, n_label,
             ROUND(CASE WHEN qn > 0 AND cn > 0
                        THEN dp / (qn * cn) ELSE 0.0 END + 1e-9, 6) AS cosine
      FROM flat
    )
    SELECT query_id, CAST(q_label AS INTEGER) AS q_label,
           neighbor_id, CAST(n_label AS INTEGER) AS n_label,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank,
           cosine
    FROM scored
    QUALIFY rank <= {HARDNEG_K}
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-{HARDNEG_K} most-similar vectors whose LABEL
    differs — the near-miss impostors that make the strongest training
    negatives (random negatives are trivially separable).  Broadcast
    query set, one corpus scan, per-query top-k window on the ROUNDED
    cosine with id tie-break.  Brute-force baseline like
    ``embedding_cosine_topk``; compose the label filter with the
    IVF/PQ candidates for the 100 TB path."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        _as_double("embedding").alias("v"),
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < HARDNEG_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("v").alias("qv"),
            l2_norm(F.col("v")).alias("qn"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("n_label") != F.col("q_label"))
        )
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            stable_round(
                safe_cosine(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
                6,
            ).alias("cosine"),
        )
    )
    return (
        top_k_per_query(scored, "cosine", HARDNEG_K)
        .select(
            "query_id",
            F.col("q_label").cast("int").alias("q_label"),
            "neighbor_id",
            F.col("n_label").cast("int").alias("n_label"),
            F.col("rank").cast("long").alias("rank"),
            "cosine",
        )
    )


def _duck_lang_scores() -> str:
    """Per-language stopword-ratio columns (mirrors
    operators/text.py::language_scores)."""
    arms = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        arms.append(
            f"CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ({lst})))"
            f" AS DOUBLE) / len(t) ELSE 0.0 END AS s_{lang}"
        )
    return ",\n        ".join(arms)


def _duck_lang_guess() -> str:
    """Argmax with Spark's ``array_max`` struct tie rule: highest
    score, ties to the lexicographically GREATEST language."""
    langs = sorted(STOPWORDS, reverse=True)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in STOPWORDS) + ")"
    arms = "".join(
        f" WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"CASE WHEN {best} <= 0 THEN 'unknown'{arms} END"


@query(
    "docs_langid_confusion",
    oracle=f"""
    WITH toks AS (
      SELECT lang, string_split(trim(text), ' ') AS t
      FROM documents WHERE lang IS NOT NULL
    ),
    scored AS (
      SELECT lang,
        {_duck_lang_scores()}
      FROM toks
    ),
    guessed AS (
      SELECT lang, {_duck_lang_guess()} AS lang_guess FROM scored
    ),
    conf AS (
      SELECT lang, lang_guess, COUNT(*) AS n FROM guessed GROUP BY 1, 2
    )
    SELECT lang, lang_guess, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang) + 1e-9, 6)
             AS share_of_actual
    FROM conf
    """,
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID heuristic
    (operators/text.py::language_scores) against the labeled ``lang``
    column — the evaluation artifact that decides whether the cheap
    in-pipeline scorer is good enough to gate ingestion, and where it
    confuses which languages.  The scorer is a narrow per-row map; the
    rollup shuffles |langs|^2 rows.  Argmax ties resolve identically
    in both engines (array_max struct ordering == descending-language
    CASE arms)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    guessed = language_scores(docs).select("lang", "lang_guess")
    conf = guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    return conf.select(
        "lang",
        "lang_guess",
        F.col("n").cast("long").alias("n"),
        stable_round(
            F.col("n") * F.lit(1.0)
            / F.sum("n").over(Window.partitionBy("lang")),
            6,
        ).alias("share_of_actual"),
    )


@query(
    "docs_shard_manifest",
    oracle=f"""
    WITH keyed AS (
      SELECT n_chars,
             ('0x' || substr(md5('{MANIFEST_SEED}:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % {MANIFEST_SHARDS} AS shard,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS ch
      FROM documents
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(bit_xor(ch) AS BIGINT) AS content_xor
    FROM keyed GROUP BY 1
    """,
)
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed manifest for the training-data export: per
    shard (the SAME seed-{MANIFEST_SEED} assignment
    ``docs_shuffle_shards`` exports), the document count, byte total,
    and an order-insensitive content checksum — bit_xor of each
    document's 60-bit md5 integer.  A consumer re-derives the manifest
    from delivered shards and any single-document corruption, loss, or
    duplication flips a checksum.  One narrow map + an
    {MANIFEST_SHARDS}-group rollup with map-side combine; xor makes
    the result partition-order-independent by construction."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(seeded_key(F.col("doc_id"), MANIFEST_SEED), F.lit(MANIFEST_SHARDS))
    ch = md5_60("text")
    keyed = docs.select(
        shard.cast("int").alias("shard"), F.col("n_chars"), ch.alias("ch")
    )
    return keyed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr("bit_xor(ch)").cast("long").alias("content_xor"),
    )
