"""Training-data-pipeline extension queries: dedup, similarity, text.

Each wraps an operator from ``operators/text.py`` /
``operators/similarity.py`` / ``operators/dedup.py`` and carries a DuckDB
oracle so the correctness gate covers the extension surface too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_covid19_real_time_spark.operators.components import dedup_clusters
from bigdata_covid19_real_time_spark.operators.dedup import canonicalize_duplicates
from bigdata_covid19_real_time_spark.operators.minhash import minhash_lsh_pairs
from bigdata_covid19_real_time_spark.operators.multimodal import (
    attach_media_column,
    decode_image_meta,
    text_as_binary,
)
from bigdata_covid19_real_time_spark.operators.simhash import simhash_pairs
from bigdata_covid19_real_time_spark.operators.similarity import cosine_topk
from bigdata_covid19_real_time_spark.operators.text import (
    BM25_B,
    BM25_K1,
    BPE_SPLIT_REGEX,
    STOPWORDS,
    bm25_topk,
    bpe_token_count,
    jaccard_pairs,
    quality_stats,
    token_count,
    tokens,
    winnow_fingerprints,
)
from bigdata_covid19_real_time_spark.plans.registry import query, stable_round
from bigdata_covid19_real_time_spark.sources.batch import load_table


def _empty_embeddings(spark: SparkSession, sf_dir: str) -> bool:
    """True iff the embeddings table has zero rows.

    The ANN/dedup queries train quantizers/index structures driver-side
    before planning; on an EMPTY corpus that training is undefined
    (k-means over nothing, dim inference from a missing first row), but
    the QUERY contract stays SQL-like — empty input, typed empty output
    (round-7 empty-input sweep).  Callers short-circuit on this probe.

    Probed from the parquet FOOTER metadata (row count, microseconds,
    no Spark job — the ``_embedding_dim`` pattern) with a LIMIT-1 Spark
    fallback for non-file sources.
    """
    try:
        import pyarrow.dataset as ds

        return (
            ds.dataset(f"{sf_dir}/embeddings.parquet").count_rows() == 0
        )
    except Exception:
        return not load_table(spark, sf_dir, "embeddings").head(1)


def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Vector width of the embeddings table, WITHOUT a Spark job.

    Spark's ArrayType carries no length, so the width must come from
    data — but launching a job (``.first()``) at plan-build time puts a
    driver-side action inside a query body.  Instead read one value
    straight from the parquet file with pyarrow (footer + first data
    page of one column — microseconds, no cluster involvement).  Falls
    back to ``.first()`` for non-file sources.
    """
    try:
        import pyarrow.dataset as ds

        frag = next(iter(ds.dataset(f"{sf_dir}/embeddings.parquet").get_fragments()))
        batch = next(frag.to_batches(columns=["embedding"], batch_size=1))
        return len(batch.column(0)[0])
    except Exception:
        emb = load_table(spark, sf_dir, "embeddings")
        return len(emb.select("embedding").first()[0])


@query(
    "docs_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS copies
    FROM documents
    GROUP BY text
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: hash-groupBy on the text, min-id canonical
    representative.  (At 100 TB: group on ``fingerprint`` —
    operators/text.py — to shuffle 8-byte keys, not documents.)"""
    docs = load_table(spark, sf_dir, "documents")
    return canonicalize_duplicates(docs, ["text"], "doc_id").select(
        "canonical_id", "copies"
    )


@query(
    "docs_prefix_neardup",
    oracle="""
    SELECT array_to_string((string_split(text, ' '))[1:8], ' ') AS prefix,
           MIN(doc_id) AS canonical_id,
           COUNT(*)    AS copies
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def docs_prefix_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-key near-dup groups (cheap first-pass clustering: docs
    sharing their first 8 tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(tokens("text"), 1, 8))
    return (
        docs.groupBy(prefix.alias("prefix"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("copies"))
        .filter(F.col("copies") > 1)
    )


#: Input cap for the exact-Jaccard oracle fixture: covers every driver
#: gate/bench corpus unchanged (documents has 500 rows at sf0.001/0.01
#: and 5000 at sf0.1) while pinning the only quadratic query's cost at
#: sf1+ to sf0.1 scale — the fixture exists to oracle the LSH family,
#: not to run all-pairs on a large corpus (minhash_lsh_pairs is the
#: scale path).
NGRAM_FIXTURE_MAX_DOC_ID = 5_000


@query(
    "docs_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                  WHERE doc_id < {NGRAM_FIXTURE_MAX_DOC_ID}),
    sh AS (
      SELECT DISTINCT doc_id, t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS shingle
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(intersection AS BIGINT) AS intersection,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           ROUND(CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.6
    """,
)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle-set Jaccard near-dup pairs at threshold 0.6 (the
    corpus has injected near-dups at ~0.9; background pairs sit <0.1).
    This registered query IS the documented exact-baseline oracle
    fixture, so it uses the explicit ``max_docs=None`` escape hatch —
    user-facing calls to ``jaccard_pairs`` get the size guard (raises
    above 100k docs, pointing at minhash_lsh_pairs) by default.  The
    fixture's own input is capped at ``doc_id < NGRAM_FIXTURE_MAX_DOC_ID``
    (mirrored in the oracle): every driver corpus passes through
    unchanged, and the one quadratic query in the registry stays
    sf0.1-cost at any larger SF."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NGRAM_FIXTURE_MAX_DOC_ID
    )
    out = jaccard_pairs(docs, threshold=0.6, n=3, max_docs=None)
    return out.select(
        "doc_a",
        "doc_b",
        "intersection",
        "n_a",
        "n_b",
        stable_round("jaccard", 6).alias("jaccard"),
    )


# Exact brute-force cosine top-5 for the first 10 vectors as queries.
# Shared by embedding_cosine_topk AND the ANN variants
# (embedding_lsh_topk / embedding_ivf_topk): with the fixed seeds /
# deterministic training used below, both ANN paths have verified
# *exact equality* with the brute-force top-k on this corpus (candidate
# recall 1.0, and final scoring is exact within candidates), so the
# exact result IS their expected output, deterministically — the same
# gating pattern docs_minhash_lsh uses with the exact-Jaccard oracle.
_EXACT_COSINE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    flat AS (
      SELECT q.query_id, c.neighbor_id,
             SUM(CAST(qv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE)) AS dp,
             sqrt(SUM(CAST(qv[u.i] AS DOUBLE) * CAST(qv[u.i] AS DOUBLE))) AS qn,
             sqrt(SUM(CAST(cv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE))) AS cn
      FROM q, c, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE q.query_id != c.neighbor_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CASE WHEN qn > 0 AND cn > 0 THEN dp / (qn * cn) ELSE 0.0 END AS cos_raw
      FROM flat
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INTEGER) AS rank,
           ROUND(cos_raw + 1e-9, 6) AS cosine
    FROM scored
    QUALIFY rank <= 5
    """


@query("embedding_cosine_topk", oracle=_EXACT_COSINE_TOPK_ORACLE)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries.
    Exact baseline for ANN; the LSH-bucketed scale path shares scoring
    (operators/similarity.py:lsh_bucketed_topk, rows-only checked)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", stable_round("cosine", 6).alias("cosine")
    )


@query(
    "docs_quality_by_lang",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(string_split(trim(text), ' ')) AS token_count,
             length(text) AS char_count,
             CASE WHEN len(string_split(trim(text), ' ')) > 0
                  THEN CAST(len(list_filter(string_split(trim(text), ' '),
                       t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE)
                       / len(string_split(trim(text), ' '))
                  ELSE 0.0 END AS stopword_ratio_en
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS docs,
           ROUND(AVG(token_count) + 1e-9, 4)       AS avg_tokens,
           ROUND(AVG(char_count) + 1e-9, 4)        AS avg_chars,
           ROUND(AVG(stopword_ratio_en) + 1e-9, 6) AS avg_stopword_ratio_en
    FROM per_doc
    GROUP BY lang
    """,
)
def docs_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rollup of document quality stats (token counting,
    stopword ratio) — the cheap corpus-profiling pass."""
    docs = quality_stats(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        stable_round(F.avg("token_count"), 4).alias("avg_tokens"),
        stable_round(F.avg("char_count"), 4).alias("avg_chars"),
        stable_round(F.avg("stopword_ratio_en"), 6).alias("avg_stopword_ratio_en"),
    )


@query(
    "docs_minhash_lsh",
    # The oracle is the EXACT jaccard pair set: with the fixed seed the
    # banded-LSH candidate pass has verified 100% recall on this corpus
    # (25/25 pairs at sf0.01), and the exact-Jaccard verification step
    # removes all false positives, so LSH output == exact output,
    # deterministically (same seeds, same data, every run).
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS shingle
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.6
    """,
)
def docs_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128-perm) + banded LSH (16x8) near-dup pairs, candidates
    verified by exact shingle Jaccard — the bounded-shuffle 100 TB dedup
    path (operators/minhash.py)."""
    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, threshold=0.6)
    return out.select("doc_a", "doc_b", stable_round("jaccard", 6).alias("jaccard"))


@query(
    "docs_simhash_neardup",
    # Full independent SimHash replication in SQL: the fingerprint hash
    # is md5-derived (bit-identical across engines — see
    # operators/simhash.py), so the oracle recomputes every doc's 64
    # bit-votes from scratch and takes all-pairs Hamming <= 3.  The
    # Spark side reaches the same set through banded bucketing
    # (pigeonhole-exact for k <= 3), so this also certifies the banding
    # loses no pairs.
    oracle="""
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
    bits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
      FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at Hamming<=3 via 16-bit-band bucketing
    (exact for k<=3 by pigeonhole; operators/simhash.py).  The oracle is
    an all-pairs SQL replication of the same md5-derived fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3).orderBy("doc_a", "doc_b")


@query(
    "docs_media_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
           CAST(octet_length(encode(text)) % 1920 + 1 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 1080 + 1 AS INTEGER) AS height,
           3 AS n_channels
    FROM documents
    """,
)
def docs_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text -> binary payload ->
    Arrow-batched mapInPandas decode (deterministic fake kernel) ->
    typed metadata.  The oracle replicates the fake's arithmetic on byte
    length, certifying the batch plumbing row-for-row
    (operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    binary = text_as_binary(docs)
    # kernel pinned to the deterministic fake: the payloads are UTF-8
    # text stand-ins (not decodable images) and the oracle replicates
    # the fake's byte arithmetic — auto-selecting a real PIL kernel
    # would (rightly) fail on them
    out = decode_image_meta(binary, kernel="fake")
    return out.select(
        "doc_id",
        "size_bytes",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_channels").cast("int").alias("n_channels"),
    )


@query("embedding_lsh_topk", oracle=_EXACT_COSINE_TOPK_ORACLE)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH buckets prune the corpus
    before exact cosine scoring (operators/similarity.py:lsh_bucketed_topk).
    The bucket equi-join replaces cosine_topk's broadcast cross-join —
    the 100 TB path where even a broadcast scan per query is too much.

    Oracle: the EXACT brute-force top-k.  With seed 7 and 16x2-bit
    tables, candidate recall on this corpus is 1.0 (verified: zero
    diffs vs exact at sf0.001 and sf0.01) and scoring within candidates
    is exact, so LSH output equals the exact top-k deterministically."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, cosine double")
    import random

    from bigdata_covid19_real_time_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    rng = random.Random(7)
    # persisted: the plane projections, the bucket probe, and the exact
    # rerank each decode the vector arrays with different downstream
    # shapes (no exchange to reuse) — the ONE ANN persist that survived
    # the round-7 two-sample fresh-JVM A/B (BENCH_AB_PERSIST_r7.json:
    # keep/drop 0.83 with non-overlapping arms; the other five were
    # drift-era wins that evaporated and are dropped)
    emb = load_table(spark, sf_dir, "embeddings").persist()
    # plane width must equal the vector width (zip_with null-pads on
    # mismatch, nulling every signature)
    dim = _embedding_dim(spark, sf_dir)
    # 16 tables x 2 bits: this corpus's true neighbors sit near cos 0.3
    # (72 deg) — barely tighter than random pairs (90 deg), so recall
    # 1.0 (verified: 0 diffs vs exact at sf0.001 AND sf0.01) needs wide
    # buckets and the join prunes little HERE.  On a real embedding
    # corpus (neighbors at cos >= 0.8, theta <= 37 deg) the identical
    # machinery collides at (0.79)^b per table while random pairs decay
    # at (0.5)^b — that separation, absent in this synthetic data, is
    # what makes the bucket join the 100 TB path.
    tables = [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(2)] for _ in range(16)
    ]
    out = lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 10), tables, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        stable_round("cosine", 6).alias("cosine"),
    ).orderBy("query_id", "rank")


@query(
    "docs_winnow_fingerprints",
    # full SQL replication: md5-derived gram hashes are bit-identical
    # across engines (simhash.py trick), so the oracle recomputes every
    # window minimum from scratch via a bounded self-join
    oracle="""
    WITH d AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 11),
    grams AS (
      SELECT doc_id, n, u.i AS i,
             ('0x' || substr(md5(substr(t, u.i, 8)), 1, 15))::BIGINT AS g
      FROM base, unnest(range(1, n - 8 + 2)) AS u(i)
    ),
    wins AS (
      SELECT a.doc_id, a.i AS j, MIN(b.g) AS fp
      FROM grams a
      JOIN grams b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i <= a.i + 3
      WHERE a.i <= a.n - 10
      GROUP BY 1, 2
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           MIN(fp) AS min_fp, MAX(fp) AS max_fp
    FROM fps GROUP BY doc_id
    """,
)
def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-window fingerprints, summarized per doc
    (count + min/max of the fingerprint set — the compact form the gate
    hashes; the raw (doc_id, fp) rows are the dedup/attribution input).
    k=8 char grams, window 4: any shared substring >= 11 chars yields a
    shared fingerprint (operators/text.py:winnow_fingerprints)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=8, window=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


@query(
    "docs_token_stats",
    oracle="""
    WITH per AS (
      SELECT lang,
             len(string_split(trim(text), ' ')) AS ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
           ROUND(AVG(ws) + 1e-9, 4) AS avg_ws_tokens,
           ROUND(AVG(bpe) + 1e-9, 4) AS avg_bpe_tokens
    FROM per GROUP BY lang
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace tokens vs the BPE-ish
    pre-tokenization split (letter runs / digit runs / punctuation) —
    the budget-relevant count for an LLM training corpus.  Narrow map +
    one small groupBy; regex is ASCII-only so both engines agree on
    every match (operators/text.py:BPE_SPLIT_REGEX)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        token_count("text").alias("ws"),
        bpe_token_count("text").alias("bpe"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        stable_round(F.avg("ws"), 4).alias("avg_ws_tokens"),
        stable_round(F.avg("bpe"), 4).alias("avg_bpe_tokens"),
    )


@query(
    "docs_sample_10pct",
    # exact row-set replication: the md5-derived bucket is bit-identical
    # in DuckDB, so the oracle reproduces the sample membership itself,
    # not just its expected size
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < 100000
    """,
)
def docs_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample by key hash
    (operators/sampling.py): retry-stable, seed-addressable, nested
    across rates — the reproducible-sampling primitive a training
    pipeline needs in place of ``rand()``-based ``df.sample``."""
    from bigdata_covid19_real_time_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, 0.10, "doc_id", seed=7).select(
        "doc_id", "lang"
    )


@query(
    "docs_stratified_sample",
    oracle="""
    WITH kept AS (
      SELECT lang FROM documents
      WHERE ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000
            < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                        WHEN 'fr' THEN 100000 ELSE 50000 END
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS kept FROM kept GROUP BY lang
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixing weights (operators/sampling.py): keep 50% en,
    25% de, 10% fr, 5% everything else — the data-recipe knob, as one
    narrow hash+CASE predicate.  Oracle replicates exact membership via
    the same md5 buckets, then counts per stratum."""
    from bigdata_covid19_real_time_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"en": 0.5, "de": 0.25, "fr": 0.10},
        strata_col="lang",
        key_col="doc_id",
        seed=13,
        default_rate=0.05,
    )
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


@query(
    "embedding_cosine_neardup",
    # all-pairs exact cosine >= threshold — the LSH candidate pass has
    # P(miss) = (1 - 0.35)^40 ~= 3e-8 per qualifying pair at this
    # threshold's angle (L=24 measured 2 misses among 23.5k qualifying
    # pairs at sf0.1 — exactly the predicted ~1e-4/pair rate at the
    # near-threshold angles — so L was raised until expected misses
    # stay << 1 through sf1), making LSH+exact-verify equal the exact
    # pair set deterministically (verified at sf0.001/0.01/0.1)
    oracle="""
    WITH v AS (
      SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    norms AS (SELECT vec_id, sqrt(SUM(val * val)) AS n FROM v GROUP BY 1),
    dp AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.val * b.val) AS d
      FROM v a JOIN v b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT vec_a, vec_b,
             CASE WHEN na.n > 0 AND nb.n > 0 THEN d / (na.n * nb.n) ELSE 0.0 END AS c
      FROM dp
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
    )
    SELECT vec_a, vec_b, ROUND(c + 1e-9, 6) AS cosine
    FROM scored WHERE ROUND(c + 1e-9, 6) >= 0.28
    """,
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.28) — the embedding
    leg of the dedup family, same candidates-then-exact-verify shape as
    docs_minhash_lsh (operators/similarity.py:cosine_neardup_pairs).

    Not in the bench headline: this synthetic corpus has near-random
    embeddings (closest pairs ~cos 0.3 vs random ~0.0), so the recall-
    preserving LSH config collides most pairs and prunes little HERE —
    on a real corpus (near-dups at cos >= 0.9) the identical operator
    prunes to ~(theta/pi-derived) tiny buckets.  The gate still runs it
    at sf0.01, where it certifies candidate generation + exact verify
    end-to-end against the all-pairs oracle."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "vec_a long, vec_b long, cosine double")
    import random

    from bigdata_covid19_real_time_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    rng = random.Random(11)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _embedding_dim(spark, sf_dir)
    tables = [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(2)] for _ in range(40)
    ]
    out = cosine_neardup_pairs(emb, 0.28, tables)
    return out.select(
        "vec_a", "vec_b", stable_round("cosine", 6).alias("cosine")
    )


@query(
    "docs_language_scores",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t FROM documents),
    scored AS (
      SELECT lang,
        CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE)/len(t) ELSE 0.0 END AS s_en,
        CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist','von','zu','ein'))) AS DOUBLE)/len(t) ELSE 0.0 END AS s_de,
        CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('le','la','les','et','de','un','une','est'))) AS DOUBLE)/len(t) ELSE 0.0 END AS s_fr,
        CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('el','la','los','y','de','un','una','es'))) AS DOUBLE)/len(t) ELSE 0.0 END AS s_es
      FROM toks
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
           ROUND(AVG(s_en) + 1e-9, 6) AS avg_score_en,
           ROUND(AVG(s_de) + 1e-9, 6) AS avg_score_de,
           ROUND(AVG(s_fr) + 1e-9, 6) AS avg_score_fr,
           ROUND(AVG(s_es) + 1e-9, 6) AS avg_score_es
    FROM scored
    GROUP BY lang
    """,
)
def docs_language_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: per-language stopword-hit ratios aggregated
    against the corpus's labeled lang column — the n-gram-profile
    language heuristic's Spark shape (narrow map, no UDF;
    operators/text.py:language_scores)."""
    from bigdata_covid19_real_time_spark.operators.text import language_scores

    docs = language_scores(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        stable_round(F.avg("score_en"), 6).alias("avg_score_en"),
        stable_round(F.avg("score_de"), 6).alias("avg_score_de"),
        stable_round(F.avg("score_fr"), 6).alias("avg_score_fr"),
        stable_round(F.avg("score_es"), 6).alias("avg_score_es"),
    )


def kmeans_assign_ctes(n_clusters: int, n_iters: int) -> str:
    """SQL CTE chain replicating operators/ivf.py's deterministic k-means
    training + final assignment in DuckDB — shared by every oracle that
    builds on the coarse quantizer (IVF ANN, semantic dedup).

    The k-means training is deterministic (init = the ``n_clusters``
    lowest-id vectors, fixed Lloyd iteration count, explicit tie-breaks),
    so the whole index is a pure function of the embeddings table — which
    makes it oracle-expressible: unroll the iterations as chained CTEs.
    Assignment score is ``dot(v, c) - |c|^2/2`` argmax with ties to the
    LOWER cluster id (mirrors operators/ivf.py::_cluster_expr's struct
    max over (s, -id)).  Returns the chain ``v .. cscore, cassign``
    (no leading WITH); append further CTEs after it.
    """
    iters = []
    for t in range(1, n_iters + 1):
        iters.append(f"""
    score{t} AS (
      SELECT v.vec_id, c.cluster,
             SUM(v.val * c.val) - SUM(c.val * c.val) / 2 AS s
      FROM v JOIN cent{t - 1} c ON v.pos = c.pos
      GROUP BY 1, 2
    ),
    assign{t} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster ASC) AS rn
        FROM score{t}) WHERE rn = 1
    ),
    means{t} AS (
      SELECT a.cluster, v.pos, AVG(v.val) AS val
      FROM assign{t} a JOIN v ON v.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cent{t} AS (
      SELECT p.cluster, p.pos, COALESCE(m.val, p.val) AS val
      FROM cent{t - 1} p LEFT JOIN means{t} m ON m.cluster = p.cluster AND m.pos = p.pos
    ),""")
    n = n_iters
    return f"""
    v AS (
      SELECT vec_id, u.i - 1 AS pos, CAST(embedding[u.i] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    init_ids AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_clusters})
    ),
    cent0 AS (
      SELECT i.cluster, v.pos, v.val FROM init_ids i JOIN v ON v.vec_id = i.vec_id
    ),{''.join(iters)}
    cscore AS (
      SELECT v.vec_id, c.cluster,
             SUM(v.val * c.val) - SUM(c.val * c.val) / 2 AS s
      FROM v JOIN cent{n} c ON v.pos = c.pos
      GROUP BY 1, 2
    ),
    cassign AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster ASC) AS rn
        FROM cscore) WHERE rn = 1
    )"""


def _ivf_oracle_sql(n_clusters: int, n_iters: int, nprobe: int, k: int) -> str:
    """Full independent SQL replication of the IVF ANN pipeline: the
    shared k-means chain (``kmeans_assign_ctes``) plus probe ranking
    (ties to the HIGHER cluster id, mirroring ``reverse(array_sort(...))``
    over (s, c) structs), candidate scoring, and top-k.  Float-noise risk
    is confined to argmin/probe flips on near-ties; Voronoi margins on
    this corpus are ~13 orders of magnitude above cross-engine
    accumulation noise, and final cosines go through the same
    ROUND(+1e-9, 6) as every other gated float.
    """
    return f"""
    WITH {kmeans_assign_ctes(n_clusters, n_iters)},
    probes AS (
      SELECT vec_id AS query_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster DESC) AS rn
        FROM cscore WHERE vec_id < 10) WHERE rn <= {nprobe}
    ),
    norms AS (SELECT vec_id, sqrt(SUM(val * val)) AS norm FROM v GROUP BY 1),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN cassign a USING (cluster)
      WHERE a.vec_id <> p.query_id
    ),
    dp AS (
      SELECT c.query_id, c.neighbor_id, SUM(qv.val * cv.val) AS dp
      FROM cand c
      JOIN v qv ON qv.vec_id = c.query_id
      JOIN v cv ON cv.vec_id = c.neighbor_id AND cv.pos = qv.pos
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CASE WHEN qn.norm > 0 AND cn.norm > 0
                  THEN d.dp / (qn.norm * cn.norm) ELSE 0.0 END AS cos_raw
      FROM dp d
      JOIN norms qn ON qn.vec_id = d.query_id
      JOIN norms cn ON cn.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INTEGER) AS rank,
           ROUND(cos_raw + 1e-9, 6) AS cosine
    FROM scored
    QUALIFY rank <= {k}
    """


@query("embedding_ivf_topk", oracle=_ivf_oracle_sql(16, 3, 6, 5))
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (16 lists, 3
    Lloyd iterations, lowest-id init), queries probe their 6 nearest
    lists and score exactly within them (operators/ivf.py).  The
    inverted-file partition path for corpora where even LSH bucket
    joins are too wide.  Oracle: the full SQL replication of the same
    deterministic pipeline (``_ivf_oracle_sql``) — training, probing,
    and scoring recomputed independently in DuckDB."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, cosine double")
    from bigdata_covid19_real_time_spark.operators.ivf import (
        ivf_topk,
        train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_centroids(emb, n_clusters=16, n_iters=3)
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=6)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        stable_round("cosine", 6).alias("cosine"),
    ).orderBy("query_id", "rank")


@query(
    "docs_decontam",
    # full SQL replication: same 5-gram construction, string-keyed join
    # (Spark joins on xxhash64 of the same strings — membership identical)
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] || ' ' ||
             t[u.i+3] || ' ' || t[u.i+4] AS shingle
      FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
      WHERE len(t) >= 5
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, COUNT(*) AS n_set FROM sh WHERE source != 'src0' GROUP BY 1),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS hit
      FROM sh s JOIN ev USING (shingle)
      WHERE s.source != 'src0'
      GROUP BY 1
    )
    SELECT tr.doc_id, CAST(n_set AS BIGINT) AS n_set,
           CAST(COALESCE(hit, 0) AS BIGINT) AS contaminated_ngrams,
           ROUND(COALESCE(hit, 0) * 1.0 / n_set + 1e-9, 6) AS contamination_frac
    FROM tr LEFT JOIN hits USING (doc_id)
    """,
)
def docs_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): treat source
    'src0' as the held-out eval set and report every other document's
    5-gram overlap with it.  Broadcast semi-join on hashed shingles —
    the corpus never shuffles.  n=5 isolates true cross-source
    near-dups (n=3 flags 84% of a 40-word-vocabulary corpus)."""
    from bigdata_covid19_real_time_spark.operators.decontam import (
        contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = contamination_report(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=5,
    )
    return out.select(
        "doc_id",
        F.col("n_set").cast("long").alias("n_set"),
        F.col("contaminated_ngrams").cast("long").alias("contaminated_ngrams"),
        stable_round("contamination_frac", 6).alias("contamination_frac"),
    )


@query(
    "docs_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uc AS (
      SELECT doc_id, t[u.i] AS g, COUNT(*) AS c
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    um AS (
      SELECT doc_id, SUM(c) AS tok_total, COUNT(*) AS tok_distinct,
             MAX(c) AS tok_top
      FROM uc GROUP BY 1
    ),
    bc AS (
      SELECT doc_id, t[u.i] || ' ' || t[u.i+1] AS g, COUNT(*) AS c
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
      GROUP BY 1, 2
    ),
    bm AS (SELECT doc_id, SUM(c) AS bg_total, MAX(c) AS bg_top FROM bc GROUP BY 1)
    SELECT um.doc_id, CAST(tok_total AS BIGINT) AS token_count,
           ROUND(tok_distinct * 1.0 / tok_total + 1e-9, 6) AS ttr,
           ROUND(tok_top * 1.0 / tok_total + 1e-9, 6) AS top_token_frac,
           ROUND(CASE WHEN COALESCE(bg_total, 0) > 0
                      THEN bg_top * 1.0 / bg_total ELSE 0.0 END + 1e-9, 6)
             AS top_bigram_frac
    FROM um LEFT JOIN bm USING (doc_id)
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (operators/text.py:repetition_stats):
    type-token ratio + top unigram/bigram coverage per document — the
    Gopher/C4 repetition-rule family, as two partial-agg shuffle rounds
    on hashed grams."""
    from bigdata_covid19_real_time_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    # round-14 A/B: fan-out REGRESSED this standalone query (1.2x, no
    # overlap) — the gram work is too light to amortize the extra
    # exchange; left un-fanned deliberately
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "token_count",
        stable_round("ttr", 6).alias("ttr"),
        stable_round("top_token_frac", 6).alias("top_token_frac"),
        stable_round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


@query(
    "docs_chunked",
    # full SQL replication of the start-position rule and slicing
    # (chunk=32, overlap=8 -> stride=24); DuckDB list slices are
    # 1-based inclusive like Spark's slice()
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    starts AS (
      SELECT doc_id, t, n, u.s AS s
      FROM base, unnest(range(1, greatest(n - 8, 1) + 1, 24)) AS u(s)
    )
    SELECT doc_id, CAST((s - 1) // 24 AS INTEGER) AS chunk_id,
           array_to_string(t[s : least(s + 31, n)], ' ') AS chunk_text,
           CAST(least(s + 31, n) - s + 1 AS INTEGER) AS chunk_n_tokens
    FROM starts
    """,
)
def docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (operators/chunking.py):
    32-token windows, 8-token overlap — the sequence-prep step between a
    cleaned corpus and the tokenizer.  Narrow map, no shuffle."""
    from bigdata_covid19_real_time_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


#: Shared quality-filter replication CTE chain (ends at ``flagged`` with
#: signal columns + the failed-rule list ``r``) — used by
#: docs_quality_filter AND the corpus-ingest batch twin.
_QUALITY_FLAGGED_CTES = """toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    uc AS (
      SELECT doc_id, t[u.i] AS g, COUNT(*) AS c
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    um AS (
      SELECT doc_id, SUM(c) AS tok_total, COUNT(*) AS tok_distinct,
             MAX(c) AS tok_top
      FROM uc GROUP BY 1
    ),
    bc AS (
      SELECT doc_id, t[u.i] || ' ' || t[u.i+1] AS g, COUNT(*) AS c
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
      GROUP BY 1, 2
    ),
    bm AS (SELECT doc_id, SUM(c) AS bg_total, MAX(c) AS bg_top FROM bc GROUP BY 1),
    sig AS (
      SELECT um.doc_id,
             tok_total AS token_count,
             tok_distinct * 1.0 / tok_total AS ttr,
             tok_top * 1.0 / tok_total AS top_token_frac,
             CASE WHEN COALESCE(bg_total, 0) > 0
                  THEN bg_top * 1.0 / bg_total ELSE 0.0 END AS top_bigram_frac,
             length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) * 1.0
               / length(d.text) AS alpha_ratio
      FROM um
      LEFT JOIN bm USING (doc_id)
      JOIN toks d ON d.doc_id = um.doc_id
    ),
    flagged AS (
      SELECT *,
             list_filter([
               CASE WHEN alpha_ratio < 0.5 THEN 'low_alpha' END,
               CASE WHEN ttr < 0.35 THEN 'low_ttr' END,
               CASE WHEN top_bigram_frac > 0.07 THEN 'repetitive_bigrams' END,
               CASE WHEN token_count < 25 THEN 'too_few_tokens' END,
               CASE WHEN token_count > 100000 THEN 'too_many_tokens' END
             ], x -> x IS NOT NULL) AS r
      FROM sig
    )"""


@query(
    "docs_quality_filter",
    oracle=f"""
    WITH {_QUALITY_FLAGGED_CTES}
    SELECT doc_id, CAST(token_count AS BIGINT) AS token_count,
           ROUND(ttr + 1e-9, 6) AS ttr,
           ROUND(top_token_frac + 1e-9, 6) AS top_token_frac,
           ROUND(top_bigram_frac + 1e-9, 6) AS top_bigram_frac,
           ROUND(alpha_ratio + 1e-9, 6) AS alpha_ratio,
           len(r) = 0 AS keep,
           COALESCE(array_to_string(r, ','), '') AS reasons
    FROM flagged
    """,
)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher-style keep/drop filter with named reasons
    (operators/quality.py): token-count bounds, TTR floor, bigram
    repetition cap, alpha-ratio floor.  The reasons string is the audit
    artifact a corpus pass reads before trusting a filter."""
    from bigdata_covid19_real_time_spark.operators.quality import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    out = quality_filter(docs, fan_out=True)
    return out.select(
        "doc_id",
        "token_count",
        stable_round("ttr", 6).alias("ttr"),
        stable_round("top_token_frac", 6).alias("top_token_frac"),
        stable_round("top_bigram_frac", 6).alias("top_bigram_frac"),
        stable_round("alpha_ratio", 6).alias("alpha_ratio"),
        "keep",
        "reasons",
    )


@query(
    "docs_corpus_ingest_verdict",
    # the streaming corpus builder's per-epoch decision, replicated: the
    # shared quality CTEs feed the keep/drop verdict, then kept docs
    # dedup by NORMALIZED text (the oracle's stand-in for the 8-byte
    # xxhash64 fingerprint — equal hash iff equal normalized text),
    # min-id canonical
    oracle=f"""
    WITH {_QUALITY_FLAGGED_CTES},
    v AS (
      SELECT doc_id, len(r) = 0 AS keep,
             COALESCE(array_to_string(r, ','), '') AS reasons
      FROM flagged
    ),
    kept AS (
      SELECT d.doc_id,
             lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g')) AS fp
      FROM documents d JOIN v USING (doc_id) WHERE v.keep
    ),
    canon AS (SELECT fp, MIN(doc_id) AS min_id FROM kept GROUP BY fp)
    SELECT doc_id, 'rejected' AS status,
           'quality:' || reasons AS reason
    FROM v WHERE NOT keep
    UNION ALL
    SELECT k.doc_id,
           CASE WHEN k.doc_id = c.min_id THEN 'accepted' ELSE 'rejected' END
             AS status,
           CASE WHEN k.doc_id = c.min_id THEN ''
                ELSE 'duplicate_in_batch' END AS reason
    FROM kept k JOIN canon c USING (fp)
    """,
)
def docs_corpus_ingest_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming corpus builder's per-epoch decision
    (streaming/corpus.py:CorpusIngest.process_batch, single epoch, no
    history): quality gate with named reasons, then min-id exact dedup
    on the normalized-text fingerprint among the keepers.  One row per
    document: (doc_id, status, reason).

    Scale: identical shapes to the streaming path — the gate is narrow
    plus two hashed-gram partial aggregates, the dedup window shuffles
    the 8-byte fingerprint, never text."""
    from bigdata_covid19_real_time_spark.operators.quality import quality_filter
    from bigdata_covid19_real_time_spark.operators.text import fingerprint
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    verdict = quality_filter(docs, fan_out=True).select("doc_id", "keep", "reasons")
    scored = docs.join(verdict, "doc_id")
    quality_rejects = scored.filter(~F.col("keep")).select(
        "doc_id",
        F.lit("rejected").alias("status"),
        F.concat(F.lit("quality:"), F.col("reasons")).alias("reason"),
    )
    kept = fingerprint(scored.filter(F.col("keep")).drop("keep", "reasons"))
    kept = kept.withColumn(
        "__min_id", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    decided = kept.select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("__min_id"), F.lit("accepted"))
        .otherwise(F.lit("rejected"))
        .alias("status"),
        F.when(F.col("doc_id") == F.col("__min_id"), F.lit(""))
        .otherwise(F.lit("duplicate_in_batch"))
        .alias("reason"),
    )
    return quality_rejects.unionByName(decided)


@query(
    "docs_incremental_dedup",
    # SQL replication of the whole screen: odd-id "new batch" anti-joined
    # against 3-gram Jaccard >= 0.6 matches in the even-id "history"
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS nid, b.doc_id AS hid, COUNT(*) AS i
      FROM sh a JOIN sh b USING (s)
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      GROUP BY 1, 2
    ),
    dropped AS (
      SELECT DISTINCT nid FROM inter
      JOIN sz sa ON sa.doc_id = nid
      JOIN sz sb ON sb.doc_id = hid
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT nid FROM dropped)
    """,
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dedup (operators/dedup.py:
    jaccard_dedup_against_history): odd doc_ids play the incoming batch,
    even doc_ids the accepted corpus; batch docs with 3-gram Jaccard >=
    0.6 against any history doc are dropped.  The batch x history
    hashed-shingle equi-join — never a corpus self-join."""
    from bigdata_covid19_real_time_spark.operators.dedup import (
        jaccard_dedup_against_history,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    history = docs.filter(F.col("doc_id") % 2 == 0)
    return jaccard_dedup_against_history(new, history, threshold=0.6, n=3).select(
        "doc_id", "lang"
    )


@query(
    "corpus_token_budget",
    # regexp_extract_all-based count replicates BPE_SPLIT_REGEX exactly
    # (ASCII classes only — both regex engines agree; same equivalence
    # docs_token_stats already gates)
    oracle="""
    WITH per_doc AS (
      SELECT lang, source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe
      FROM documents
    ),
    agg AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(bpe) AS BIGINT) AS bpe_tokens
      FROM per_doc GROUP BY 1, 2
    )
    SELECT lang, source, docs, bpe_tokens,
           ROUND(bpe_tokens * 1.0 / SUM(bpe_tokens) OVER () + 1e-9, 6) AS token_share
    FROM agg
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget planning report: BPE-ish token totals and corpus
    share per (lang, source) — the number a data recipe multiplies by
    its mixing weights.  One narrow map + one partial-agg groupBy; the
    global share is a window over the ~|lang x source| aggregate rows,
    not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select("lang", "source", bpe_token_count("text").alias("bpe"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("bpe").alias("bpe_tokens"),
        )
    )
    total = F.sum("bpe_tokens").over(Window.partitionBy())
    return agg.select(
        "lang",
        "source",
        "docs",
        "bpe_tokens",
        stable_round(F.col("bpe_tokens") / total, 6).alias("token_share"),
    )


@query(
    "docs_dedup_clusters",
    # Oracle: exact-Jaccard pairs (the same pair set docs_minhash_lsh is
    # gated against — LSH recall is 1.0 with the fixed seeds, and exact
    # verification removes false positives, so the Spark pair list
    # equals this one deterministically) closed transitively with a
    # recursive CTE: walk enumerates (reachable-node, start) pairs and
    # min(start) per node is the component id — textbook SQL connected
    # components, independent of the Spark pointer-jumping algorithm.
    oracle="""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS shingle
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, comp) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
    ),
    labels AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY node),
    csize AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, c.cluster_size,
           l.doc_id = l.cluster_id AS is_canonical
    FROM labels l JOIN csize c USING (cluster_id)
    """,
)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: MinHash-LSH pairs -> connected
    components (min-label propagation + pointer jumping,
    operators/components.py) -> per-doc cluster id, size, and the
    min-id canonical-survivor flag.  The step between pair detection
    and actually deleting duplicates: A~B, B~C must retire both B and
    C even though (A, C) was never emitted as a pair."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.6)
    return dedup_clusters(pairs)


@query(
    "docs_pii_redaction",
    # Full SQL replication: the corpus ships no PII (by design), so the
    # query PLANTS deterministic doc_id-derived PII, scrubs it with the
    # production pattern set, and audits the result.  All four patterns
    # are conservative ASCII classes that mean the same thing to Java
    # regex (Spark) and RE2 (DuckDB); replacement chains nest in the
    # same order on both sides.  Audit counts are measured on the
    # pre-scrub text (the operator's contract); residual_pii re-scans
    # the scrubbed text with every pattern and must come out 0.
    oracle="""
    WITH planted AS (
      SELECT source,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                          THEN ' ip 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) ELSE '' END
                  || CASE WHEN doc_id % 2 = 0 THEN ' tel +1 (555) 010-0200' ELSE '' END
               AS text
      FROM documents
    ),
    red AS (
      SELECT source,
        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c_email,
        len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS c_ssn,
        len(regexp_extract_all(text, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS c_ipv4,
        len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS c_phone,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII:email]', 'g'),
              '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '[PII:ssn_like]', 'g'),
            '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[PII:ipv4]', 'g'),
          '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '[PII:phone_like]', 'g') AS scrubbed
      FROM planted
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)      AS docs,
           CAST(SUM(c_email) AS BIGINT)  AS emails,
           CAST(SUM(c_ssn) AS BIGINT)    AS ssns,
           CAST(SUM(c_ipv4) AS BIGINT)   AS ipv4s,
           CAST(SUM(c_phone) AS BIGINT)  AS phones,
           CAST(SUM(len(scrubbed)) AS BIGINT) AS scrubbed_chars,
           CAST(SUM(
               len(regexp_extract_all(scrubbed, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(scrubbed, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b'))
             + len(regexp_extract_all(scrubbed, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b'))
             + len(regexp_extract_all(scrubbed, '\\+?[0-9][0-9()\\- ]{7,}[0-9]'))
           ) AS BIGINT) AS residual_pii
    FROM red
    GROUP BY source
    """,
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over the corpus: plant deterministic
    doc_id-derived PII (the corpus itself ships none), scrub with
    operators/redact.py (chained JVM regexp_replace — narrow map, scan
    speed), and report per-source audit counts plus a residual re-scan
    of the scrubbed text (must be 0).  Gates the redaction pipeline the
    planted-match unit tests cover, through the driver's oracle."""
    from bigdata_covid19_real_time_spark.operators.redact import (
        PII_PATTERNS,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" ip 10.0.0."), (F.col("doc_id") % 255).cast("string")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" tel +1 (555) 010-0200")).otherwise(
                F.lit("")
            ),
        ),
    )
    red = redact_pii(planted)
    residual = None
    for rx in PII_PATTERNS.values():
        c = F.regexp_count(F.col("text"), F.lit(rx))
        residual = c if residual is None else residual + c
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("redacted_email").alias("emails"),
        F.sum("redacted_ssn_like").alias("ssns"),
        F.sum("redacted_ipv4").alias("ipv4s"),
        F.sum("redacted_phone_like").alias("phones"),
        F.sum(F.length("text")).alias("scrubbed_chars"),
        F.sum(residual).alias("residual_pii"),
    )


@query(
    "docs_sequence_packing",
    # Full SQL replication. The oracle computes the GLOBAL-order cumsum
    # directly (one window — fine for DuckDB at gate scale); the Spark
    # side uses the two-pass bucketed prefix sum (operators/packing.py)
    # whose layout is identical because the bucket is a prefix of the
    # md5 sort key. Hash, token regex, and integer arithmetic are all
    # engine-portable.
    oracle="""
    WITH per AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS token_count
      FROM documents
    ),
    c AS (
      SELECT doc_id, token_count,
             ROW_NUMBER() OVER (ORDER BY h) AS shuffle_pos,
             COALESCE(SUM(token_count) OVER
               (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off0
      FROM per
    )
    SELECT doc_id,
           CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
           CAST(token_count AS BIGINT) AS token_count,
           CAST(off0 // 2048 AS BIGINT) AS seq_id,
           CAST(off0 % 2048 AS BIGINT)  AS seq_pos
    FROM c
    """,
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-sequence layout: md5-shuffled corpus
    order, exclusive token-count prefix sum, 2048-token sequence id and
    offset per document — the reproducible-epoch packing pass, computed
    with the two-pass distributed prefix sum (no single-partition
    global window; operators/packing.py)."""
    from bigdata_covid19_real_time_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, bpe_token_count("text"), budget=2048)


_SEMDEDUP_TAU = 0.28


@query(
    "embedding_semantic_dedup",
    oracle=f"""
    WITH {kmeans_assign_ctes(16, 3)},
    norms AS (SELECT vec_id, sqrt(SUM(val * val)) AS norm FROM v GROUP BY 1),
    cos AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(va.val * vb.val) AS dp,
             MAX(na.norm) AS norm_a, MAX(nb.norm) AS norm_b
      FROM cassign a
      JOIN cassign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id AND vb.pos = va.pos
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b FROM cos
      WHERE ROUND(CASE WHEN norm_a > 0 AND norm_b > 0
                       THEN dp / (norm_a * norm_b) ELSE 0.0 END + 1e-9, 6)
            >= {_SEMDEDUP_TAU}
    )
    SELECT c.vec_id, CAST(c.cluster AS INTEGER) AS cluster,
           (d.id_b IS NULL) AS keep
    FROM cassign c LEFT JOIN dups d ON c.vec_id = d.id_b
    """,
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup: k-means cells (the deterministic
    IVF quantizer, 16 cells x 3 Lloyd iterations) bound the pairwise
    cosine comparison; a vector is dropped iff a lower-id vector in its
    cell is >= 0.28 cosine-similar (operators/semdedup.py).  Oracle: the
    shared k-means CTE chain + an independent all-within-cell-pairs
    cosine replication in DuckDB."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "vec_id long, cluster int, keep boolean")
    from bigdata_covid19_real_time_spark.operators.ivf import train_centroids
    from bigdata_covid19_real_time_spark.operators.semdedup import (
        semantic_dedup_flags,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_centroids(emb, n_clusters=16, n_iters=3)
    return semantic_dedup_flags(emb, centroids, threshold=_SEMDEDUP_TAU)


@query(
    "docs_unigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    tf AS (
      SELECT doc_id, u.x AS term, COUNT(*) AS tf
      FROM toks, unnest(t) AS u(x)
      GROUP BY 1, 2
    ),
    cnt AS (SELECT term, SUM(tf) AS c FROM tf GROUP BY 1),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt)
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS token_total,
           ROUND(-SUM(tf.tf * ln((cnt.c + 1.0) / (tot.n + tot.v)))
                 / SUM(tf.tf) + 1e-9, 6) AS cross_entropy
    FROM tf JOIN cnt USING (term) CROSS JOIN tot
    GROUP BY 1
    """,
)
def docs_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score: per-document cross
    entropy against an add-one-smoothed unigram model of the whole
    corpus — the CCNet-style perplexity filter's distribution shape
    (operators/tfidf.py::unigram_lm_scores).  Oracle: full SQL
    replication of training + scoring."""
    from bigdata_covid19_real_time_spark.operators.tfidf import unigram_lm_scores

    return unigram_lm_scores(load_table(spark, sf_dir, "documents"))


def _zorder_oracle_sql(bits: int) -> str:
    """SQL replication of operators/zorder.py: equal-width buckets over
    the global (min, max), Morton interleave via shift/and/or chains."""
    terms = []
    for i in range(bits):
        terms.append(f"(((zx >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((zy >> {i}) & 1) << {2 * i})")
    interleave = " | ".join(terms)
    n = (1 << bits) - 1
    return f"""
    WITH stats AS (
      SELECT MIN(value) AS xmin, MAX(value) AS xmax,
             MIN(CAST(user_id AS DOUBLE)) AS ymin, MAX(CAST(user_id AS DOUBLE)) AS ymax
      FROM events
    ),
    b AS (
      SELECT event_id,
        CASE WHEN xmax - xmin <= 0 THEN 0
             ELSE LEAST(CAST(FLOOR((value - xmin) / (xmax - xmin) * {1 << bits}) AS BIGINT), {n})
        END AS zx,
        CASE WHEN ymax - ymin <= 0 THEN 0
             ELSE LEAST(CAST(FLOOR((CAST(user_id AS DOUBLE) - ymin) / (ymax - ymin) * {1 << bits}) AS BIGINT), {n})
        END AS zy
      FROM events CROSS JOIN stats
    )
    SELECT event_id, CAST(zx AS BIGINT) AS zx, CAST(zy AS BIGINT) AS zy,
           CAST({interleave} AS BIGINT) AS zkey
    FROM b
    """


@query("events_zorder_keys", oracle=_zorder_oracle_sql(8))
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys on (value, user_id) — the Morton layout
    key the lakehouse OPTIMIZE-ZORDER maintenance op sorts by
    (operators/zorder.py; ``zorder_write`` materializes the layout and
    the layout test pins per-file 2-D tile narrowness).  Oracle: full
    SQL replication of bucketing + bit interleave."""
    from bigdata_covid19_real_time_spark.operators.zorder import zorder_keys

    events = load_table(spark, sf_dir, "events")
    return zorder_keys(events, "value", "user_id", bits=8).select(
        "event_id",
        F.col("__zx").alias("zx"),
        F.col("__zy").alias("zy"),
        "zkey",
    )


@query(
    "docs_bigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    pairs AS (
      SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    tf12 AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, SUM(tf) AS c12 FROM tf12 GROUP BY 1, 2),
    alltoks AS (SELECT u.x AS term FROM toks, unnest(t) AS u(x)),
    uni AS (SELECT term, COUNT(*) AS c1 FROM alltoks GROUP BY 1),
    tot AS (SELECT SUM(c1) AS n, COUNT(*) AS v FROM uni)
    SELECT tf12.doc_id,
           CAST(SUM(tf12.tf) AS BIGINT) AS bigram_total,
           ROUND(-SUM(tf12.tf * ln(
                 0.7 * c12.c12 / u1.c1
                 + 0.3 * (u2.c1 + 1.0) / (tot.n + tot.v)))
                 / SUM(tf12.tf) + 1e-9, 6) AS cross_entropy
    FROM tf12
    JOIN c12 USING (w1, w2)
    JOIN uni u1 ON u1.term = tf12.w1
    JOIN uni u2 ON u2.term = tf12.w2
    CROSS JOIN tot
    GROUP BY 1
    """,
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score (lam=0.7 bigram MLE +
    0.3 add-one unigram backoff) — the KenLM-style perplexity filter's
    join structure at n=2 (operators/tfidf.py::bigram_lm_scores).
    Oracle: full SQL replication of training + scoring."""
    from bigdata_covid19_real_time_spark.operators.tfidf import bigram_lm_scores

    return bigram_lm_scores(load_table(spark, sf_dir, "documents"), lam=0.7)


def pq_train_ctes(k: int, n_iters: int, sub: int, prefix: str = "") -> str:
    """The PQ training/encoding CTE chain (operators/pq.py replication):
    per-subspace deterministic k-means keyed by a subspace column ``s``,
    ending at ``{prefix}fassign`` (vec_id, s, code) with the trained
    codebook in ``{prefix}cent{n_iters}`` (s, code, pos, val).

    ``prefix`` renames every CTE so the chain composes with other
    k-means chains in one WITH (plans/ann_composed.py uses ``"p"``;
    the plain PQ oracle below uses ``""``) — ONE generator, so a fix to
    the PQ oracle semantics can never diverge between the two gates.
    """
    p = prefix
    iters = []
    for t in range(1, n_iters + 1):
        iters.append(f"""
    {p}score{t} AS (
      SELECT v.vec_id, v.s, c.code,
             SUM(v.val * c.val) - SUM(c.val * c.val) / 2 AS sc
      FROM {p}v v JOIN {p}cent{t - 1} c ON v.s = c.s AND v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    {p}assign{t} AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY sc DESC, code ASC) AS rn
        FROM {p}score{t}) WHERE rn = 1
    ),
    {p}means{t} AS (
      SELECT a.s, a.code, v.pos, AVG(v.val) AS val
      FROM {p}assign{t} a JOIN {p}v v ON v.vec_id = a.vec_id AND v.s = a.s
      GROUP BY 1, 2, 3
    ),
    {p}cent{t} AS (
      SELECT p.s, p.code, p.pos, COALESCE(mm.val, p.val) AS val
      FROM {p}cent{t - 1} p
      LEFT JOIN {p}means{t} mm ON mm.s = p.s AND mm.code = p.code AND mm.pos = p.pos
    ),""")
    n = n_iters
    return f"""
    {p}raw AS (
      SELECT vec_id,
             CAST((u.i - 1) // {sub} AS INTEGER) AS s,
             CAST((u.i - 1) % {sub} AS INTEGER) AS pos,
             CAST(embedding[u.i] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    {p}nrm AS (SELECT vec_id, sqrt(SUM(val * val)) AS nn FROM {p}raw GROUP BY 1),
    {p}v AS (
      SELECT raw.vec_id, raw.s, raw.pos,
             CASE WHEN nrm.nn > 0 THEN raw.val / nrm.nn ELSE raw.val END AS val
      FROM {p}raw raw JOIN {p}nrm nrm ON nrm.vec_id = raw.vec_id
    ),
    {p}init_ids AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    {p}cent0 AS (
      SELECT v.s, i.code, v.pos, v.val FROM {p}init_ids i JOIN {p}v v ON v.vec_id = i.vec_id
    ),{''.join(iters)}
    {p}fscore AS (
      SELECT v.vec_id, v.s, c.code,
             SUM(v.val * c.val) - SUM(c.val * c.val) / 2 AS sc
      FROM {p}v v JOIN {p}cent{n} c ON v.s = c.s AND v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    {p}fassign AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY sc DESC, code ASC) AS rn
        FROM {p}fscore) WHERE rn = 1
    )"""


def _pq_oracle_sql(m: int, k: int, n_iters: int, sub: int, k_top: int) -> str:
    """Full SQL replication of the PQ pipeline (operators/pq.py):
    the shared training/encoding chain (``pq_train_ctes``) plus ADC
    scoring of the sub-10-id queries against the codes.
    ``sub`` = dim / m."""
    n = n_iters
    return f"""
    WITH {pq_train_ctes(k, n_iters, sub)},
    adc AS (
      SELECT qv.vec_id AS query_id, a.vec_id AS neighbor_id,
             SUM(qv.val * c.val) AS sc
      FROM fassign a
      JOIN cent{n} c ON c.s = a.s AND c.code = a.code
      JOIN v qv ON qv.s = c.s AND qv.pos = c.pos
      WHERE qv.vec_id < 10 AND a.vec_id <> qv.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(sc + 1e-9, 6) DESC, neighbor_id ASC) AS INTEGER) AS rank,
           ROUND(sc + 1e-9, 6) AS adc_score
    FROM adc
    QUALIFY rank <= {k_top}
    """


@query("embedding_pq_topk", oracle=_pq_oracle_sql(4, 16, 2, 16, 5))
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 4 subspaces x 16 codes (a 64-dim
    float vector compresses to 4 bytes), ADC top-5 for the sub-10-id
    queries — the compressed-domain path for corpora where even the
    VECTORS can't be stored raw (operators/pq.py).  Oracle: full SQL
    replication of per-subspace training + encoding + ADC."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, adc_score double")
    from bigdata_covid19_real_time_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=4, k=16, n_iters=2)
    codes = pq_encode(emb, books)
    out = pq_topk(codes, emb.filter(F.col("vec_id") < 10), books, k_top=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        "adc_score",
    )


def _pagerank_oracle_sql(n_iters: int, damping: float, k_top: int) -> str:
    """SQL replication of operators/pagerank.py over the customer ->
    supplier purchase graph (supplier ids offset by 10^6 into a shared
    node space), unrolled to ``n_iters`` power iterations."""
    d = damping
    iters = []
    for t in range(1, n_iters + 1):
        iters.append(f"""
    c{t} AS (
      SELECT e.dst AS node, SUM(r.r / dg.outd) AS m
      FROM edges e
      JOIN r{t - 1} r ON r.node = e.src
      JOIN deg dg ON dg.src = e.src
      GROUP BY 1
    ),
    dang{t} AS (
      SELECT COALESCE(SUM(r.r), 0.0) AS dm
      FROM r{t - 1} r LEFT JOIN deg dg ON dg.src = r.node
      WHERE dg.src IS NULL
    ),
    r{t} AS (
      SELECT n.node,
             {1.0 - d} / (SELECT nn FROM cnt)
             + {d} * (COALESCE(c.m, 0.0)
                      + (SELECT dm FROM dang{t}) / (SELECT nn FROM cnt)) AS r
      FROM nodes n LEFT JOIN c{t} c ON c.node = n.node
    ),""")
    n = n_iters
    return f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
    ),
    cnt AS (SELECT COUNT(*) AS nn FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY 1),
    r0 AS (SELECT node, 1.0 / (SELECT nn FROM cnt) AS r FROM nodes),{''.join(iters)}
    final AS (SELECT node, ROUND(r + 1e-9, 8) AS rank FROM r{n})
    SELECT node, rank,
           CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS INTEGER) AS pos
    FROM final
    QUALIFY pos <= {k_top}
    """


@query("purchase_graph_pagerank", oracle=_pagerank_oracle_sql(3, 0.85, 20))
def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality: 3-iteration PageRank over the customer ->
    supplier purchase graph (operators/pagerank.py), top 20 nodes —
    the web-corpus domain-centrality quality signal's computation
    shape.  Suppliers (no out-edges) exercise the dangling-mass
    redistribution each round.  Oracle: unrolled SQL power iteration."""
    from pyspark.sql.window import Window

    from bigdata_covid19_real_time_spark.operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    )
    ranks = pagerank(edges, n_iters=3, damping=0.85)
    rounded = ranks.select("node", F.round(F.col("rank") + F.lit(1e-9), 8).alias("rank"))
    # top-k first (TakeOrderedAndProject — distributed heaps, no global
    # sort of the node table), then position numbers over the 20-row frame
    top = rounded.orderBy(F.desc("rank"), F.asc("node")).limit(20)
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return top.withColumn("pos", F.row_number().over(w).cast("int"))


@query(
    "docs_leakage_free_split",
    # clusters via the exact-Jaccard recursive CTE (same construction as
    # docs_dedup_clusters' oracle), then the md5 bucket split on the
    # cluster key — singletons key on their own doc_id
    oracle="""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS shingle
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, comp) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
    ),
    labels AS (SELECT node AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY node),
    keyed AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_key
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    bucketed AS (
      SELECT doc_id, cluster_key,
             ('0x' || substr(md5('7:' || CAST(cluster_key AS VARCHAR)), 1, 15))::BIGINT
             % 1000000 AS b
      FROM keyed
    )
    SELECT doc_id, cluster_key,
           CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    """,
)
def docs_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 80/10/10 split: near-dup clusters (MinHash-LSH ->
    connected components) move as a unit, so no document and its
    near-copy can straddle train and eval
    (operators/sampling.py::leakage_free_splits).  Oracle: exact-Jaccard
    clusters (recursive CTE) + the same md5 bucket arithmetic."""
    from bigdata_covid19_real_time_spark.operators.components import (
        dedup_clusters,
    )
    from bigdata_covid19_real_time_spark.operators.minhash import minhash_lsh_pairs
    from bigdata_covid19_real_time_spark.operators.sampling import (
        leakage_free_splits,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(minhash_lsh_pairs(docs, threshold=0.6)).select(
        "doc_id", "cluster_id"
    )
    out = leakage_free_splits(
        docs,
        clusters,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7,
    )
    return out.select("doc_id", "cluster_key", "split")


def _rrf_oracle_sql(rrf_k: int, k_top: int) -> str:
    """Compose the three list oracles (exact cosine, IVF, PQ — each a
    self-contained WITH-query, nested as CTE subqueries in their own
    scope) and fuse with the same reciprocal-rank arithmetic."""
    return f"""
    WITH exact_list AS ({_EXACT_COSINE_TOPK_ORACLE}),
    ivf_list AS ({_ivf_oracle_sql(16, 3, 6, 5)}),
    pq_list AS ({_pq_oracle_sql(4, 16, 2, 16, 5)}),
    unioned AS (
      SELECT query_id, neighbor_id, 1.0 / ({rrf_k} + rank) AS w FROM exact_list
      UNION ALL
      SELECT query_id, neighbor_id, 1.0 / ({rrf_k} + rank) AS w FROM ivf_list
      UNION ALL
      SELECT query_id, neighbor_id, 1.0 / ({rrf_k} + rank) AS w FROM pq_list
    ),
    fused AS (
      SELECT query_id, neighbor_id, ROUND(SUM(w) + 1e-9, 6) AS rrf_score
      FROM unioned GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY rrf_score DESC, neighbor_id ASC) AS INTEGER) AS rank,
           rrf_score
    FROM fused
    QUALIFY rank <= {k_top}
    """


@query("embedding_rrf_topk", oracle=_rrf_oracle_sql(60, 5))
def embedding_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever ensemble: reciprocal-rank fusion of the exact-cosine,
    IVF, and PQ neighbor lists (operators/similarity.py::
    reciprocal_rank_fusion) — the standard fusion for retrievers with
    incomparable score scales.  Oracle: the three lists' own SQL
    replications composed and fused with the same arithmetic."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, rrf_score double")
    from bigdata_covid19_real_time_spark.operators.ivf import (
        collect_training_rows,
        ivf_topk,
        train_centroids,
    )
    from bigdata_covid19_real_time_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from bigdata_covid19_real_time_spark.operators.similarity import (
        cosine_topk,
        reciprocal_rank_fusion,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries_df, k=5)
    # one training fetch shared by both trainers (round 15): the same
    # lowest-id TakeOrdered+collect previously ran twice per query
    train_rows = collect_training_rows(emb)
    centroids = train_centroids(emb, n_clusters=16, n_iters=3, train_rows=train_rows)
    ivf = ivf_topk(emb, queries_df, centroids, k=5, nprobe=6)
    books = train_pq_codebooks(emb, m=4, k=16, n_iters=2, train_rows=train_rows)
    pq = pq_topk(pq_encode(emb, books), queries_df, books, k_top=5)
    return reciprocal_rank_fusion([exact, ivf, pq], k_top=5, rrf_k=60)


@query(
    "embedding_negative_samples",
    oracle="""
    WITH pool AS (
      SELECT vec_id AS cand, label AS cand_label,
             (('0x' || substr(md5('9:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
              % 1000000) % 64 AS b
      FROM embeddings
    ),
    probes AS (
      SELECT a.vec_id AS anchor_id, a.label AS a_label, u.j,
             (('0x' || substr(md5('9:' || CAST(a.vec_id AS VARCHAR) || '#' || CAST(u.j AS VARCHAR)), 1, 15))::BIGINT
              % 1000000) % 64 AS b
      FROM embeddings a, unnest(range(0, 10)) AS u(j)
      WHERE a.vec_id < 10
    ),
    cand AS (
      SELECT p.anchor_id, p.j, pl.cand,
             md5('9#' || CAST(p.anchor_id AS VARCHAR) || '#' || CAST(p.j AS VARCHAR)
                 || '#' || CAST(pl.cand AS VARCHAR)) AS m
      FROM probes p JOIN pool pl USING (b)
      WHERE pl.cand_label <> p.a_label AND pl.cand <> p.anchor_id
    ),
    picked AS (
      SELECT anchor_id, j, cand FROM (
        SELECT anchor_id, j, cand,
               ROW_NUMBER() OVER (PARTITION BY anchor_id, j ORDER BY m ASC, cand ASC) AS rn
        FROM cand) WHERE rn = 1
    ),
    fp AS (
      SELECT anchor_id, cand AS negative_id, MIN(j) AS probe_j
      FROM picked GROUP BY 1, 2
    )
    SELECT anchor_id, negative_id, CAST(probe_j AS BIGINT) AS probe_j,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY anchor_id
             ORDER BY probe_j ASC, negative_id ASC) AS INTEGER) AS neg_rank
    FROM fp
    QUALIFY neg_rank <= 5
    """,
)
def embedding_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negatives: ~5 different-label items per
    anchor via deterministic hash probing — no rand(), retry-stable
    (operators/sampling.py::hash_negative_samples).  Oracle: full SQL
    replication of the bucket/probe/pick arithmetic."""
    from bigdata_covid19_real_time_spark.operators.sampling import (
        hash_negative_samples,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = hash_negative_samples(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_probes=10,
        n_buckets=64, seed=9,
    )
    return out.select(
        "anchor_id",
        "negative_id",
        F.col("probe_j").cast("long").alias("probe_j"),
        "neg_rank",
    )


@query(
    "docs_cdc_chunks",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
    ),
    bl AS (
      SELECT doc_id, list_sort(list(u.i)) AS bp
      FROM d, unnest(range(8, n)) AS u(i)
      WHERE ('0x' || substr(md5(substr(text, CAST(u.i - 7 AS INTEGER), 8)), 1, 15))::BIGINT % 64 = 0
      GROUP BY doc_id
    ),
    bounds AS (
      SELECT d.doc_id, d.text,
             list_prepend(0, list_append(COALESCE(bl.bp, []), d.n)) AS bd
      FROM d LEFT JOIN bl USING (doc_id)
    )
    SELECT doc_id,
           CAST(u.j - 1 AS INTEGER) AS chunk_index,
           CAST(bd[u.j] + 1 AS BIGINT) AS chunk_start,
           CAST(bd[u.j + 1] - bd[u.j] AS BIGINT) AS chunk_len,
           ('0x' || substr(md5(substr(text, CAST(bd[u.j] + 1 AS INTEGER),
                                      CAST(bd[u.j + 1] - bd[u.j] AS INTEGER))), 1, 15))::BIGINT AS chunk_hash
    FROM bounds, unnest(range(1, len(bd))) AS u(j)
    """,
)
def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rolling 8-gram hash, mask 64 -> ~64
    char chunks): boundaries follow content so edits shift only their
    own chunk — the storage-dedup complement to the fixed token-window
    ``docs_chunked`` (operators/chunking.py::cdc_chunks).  Oracle: full
    SQL replication of the boundary + chunk-hash arithmetic."""
    from bigdata_covid19_real_time_spark.operators.chunking import cdc_chunks

    return cdc_chunks(load_table(spark, sf_dir, "documents"), k=8, mask=64)


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH counts AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY 1),
    powered AS (SELECT source, n_rows, POW(n_rows, 1.0 / 2.0) AS w FROM counts),
    tot AS (SELECT SUM(w) AS wsum, SUM(n_rows) AS total FROM powered)
    SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(w / wsum + 1e-9, 6) AS weight,
           ROUND(LEAST(1.0, (w / wsum) * 0.5 * total / n_rows) + 1e-9, 6) AS sample_rate
    FROM powered CROSS JOIN tot
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T=2, drawing half the corpus):
    per-source weights ``∝ n^(1/T)`` and capped sampling rates — the
    source/language rebalancing pass ahead of the deterministic
    stratified draw (operators/sampling.py::temperature_mixing_rates).
    Oracle: full SQL replication."""
    from bigdata_covid19_real_time_spark.operators.sampling import (
        temperature_mixing_rates,
    )

    return temperature_mixing_rates(
        load_table(spark, sf_dir, "documents"),
        "source",
        temperature=2.0,
        target_fraction=0.5,
    )


@query(
    "docs_repeated_span_removal",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE len(string_split(trim(text), ' ')) > 0
    ),
    tok AS (
      SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
      FROM base, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    grams AS (
      SELECT doc_id, u.i - 1 AS start,
             ('0x' || substr(md5(t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2]), 1, 15))::BIGINT AS gh
      FROM base, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    firsts AS (SELECT doc_id, gh, MIN(start) AS first FROM grams GROUP BY 1, 2),
    removed AS (
      SELECT DISTINCT g.doc_id, g.start + u.o AS pos
      FROM grams g
      JOIN firsts f ON f.doc_id = g.doc_id AND f.gh = g.gh,
      unnest(range(0, 3)) AS u(o)
      WHERE g.start > f.first
    ),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok FROM tok tk
      LEFT JOIN removed r ON r.doc_id = tk.doc_id AND r.pos = tk.pos
      WHERE r.pos IS NULL
    ),
    reb AS (
      SELECT doc_id, COUNT(*) AS tokens_after,
             ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT AS cleaned_hash
      FROM kept GROUP BY 1
    ),
    bef AS (SELECT doc_id, len(t) AS tokens_before FROM base)
    SELECT b.doc_id, CAST(b.tokens_before AS BIGINT) AS tokens_before,
           CAST(b.tokens_before - r.tokens_after AS BIGINT) AS tokens_removed,
           CAST(r.tokens_after AS BIGINT) AS tokens_after, r.cleaned_hash
    FROM bef b JOIN reb r USING (doc_id)
    """,
)
def docs_repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document dedup: every later occurrence of a repeated
    3-gram is dropped; per-doc before/removed/after token counts plus
    the cleaned-text fingerprint
    (operators/text.py::remove_repeated_spans).  Oracle: full SQL
    replication of span detection, coverage, and rebuild."""
    from bigdata_covid19_real_time_spark.operators.text import (
        remove_repeated_spans,
    )

    return remove_repeated_spans(load_table(spark, sf_dir, "documents"), n=3)


@query(
    "docs_bm25_topk",
    oracle=f"""
    WITH q(query_id, term) AS (
      VALUES ('q_join_hash', 'join'), ('q_join_hash', 'hash'),
             ('q_scan', 'scan'), ('q_scan', 'filter'), ('q_scan', 'column')
    ),
    tok AS (
      SELECT doc_id, u.x AS term
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           unnest(t) AS u(x)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    dfreq AS (
      SELECT tf.term, COUNT(*) AS df FROM tf
      WHERE tf.term IN (SELECT DISTINCT term FROM q)
      GROUP BY 1
    ),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             ROUND(SUM(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
             ) + 1e-9, 6) AS bm25
      FROM tf
      JOIN q ON q.term = tf.term
      JOIN dfreq d ON d.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS rank,
           bm25
    FROM scored
    QUALIFY rank <= 10
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (``BM25_K1``, ``BM25_B``): top-10 docs for two
    fixed term queries — the sparse-retrieval complement to the dense
    ANN stack; fuse with ``reciprocal_rank_fusion`` for hybrid search
    (operators/text.py::bm25_topk).  Oracle: full SQL replication of
    the Robertson BM25 formula."""
    return bm25_topk(
        load_table(spark, sf_dir, "documents"),
        {"q_join_hash": ["join", "hash"], "q_scan": ["scan", "filter", "column"]},
        k_top=10,
    )


@query(
    "embedding_sq8_topk",
    # Full SQL replication of the SQ8 pipeline: L2-normalize, per-dim
    # min/max train, fixed-shape quantization arithmetic, ADC candidate
    # selection (top k*4 by query-float x decoded-code dot, id
    # tie-break), exact cosine rerank of candidates only — no recall
    # assumption anywhere.
    oracle="""
    WITH norms AS (
      SELECT vec_id,
             sqrt(SUM(CAST(embedding[u.i] AS DOUBLE) * CAST(embedding[u.i] AS DOUBLE))) AS nrm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY 1
    ),
    comps AS (
      SELECT e.vec_id, u.i AS pos,
             CASE WHEN n.nrm > 0
                  THEN CAST(embedding[u.i] AS DOUBLE) / n.nrm
                  ELSE CAST(embedding[u.i] AS DOUBLE) END AS x
      FROM embeddings e
      JOIN norms n USING (vec_id),
      unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    dims AS (
      SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM comps GROUP BY 1
    ),
    codes AS (
      SELECT c.vec_id, c.pos,
             CASE WHEN d.mx > d.mn THEN
               CAST(LEAST(255, GREATEST(0,
                 FLOOR((c.x - d.mn) / (d.mx - d.mn) * 255 + 0.5))) AS BIGINT)
             ELSE 0 END AS qc
      FROM comps c JOIN dims d USING (pos)
    ),
    qscores AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             SUM(a.x * (d.mx - d.mn) / 255 * b.qc) AS qscore
      FROM comps a
      JOIN dims d USING (pos)
      JOIN codes b USING (pos)
      WHERE a.vec_id < 10 AND b.vec_id != a.vec_id
      GROUP BY 1, 2
    ),
    cands AS (
      SELECT query_id, neighbor_id
      FROM qscores
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY qscore DESC, neighbor_id ASC) <= 20
    ),
    exact AS (
      SELECT cd.query_id, cd.neighbor_id,
             SUM(CAST(av.embedding[u.i] AS DOUBLE) * CAST(bv.embedding[u.i] AS DOUBLE)) AS dp,
             sqrt(SUM(CAST(av.embedding[u.i] AS DOUBLE) * CAST(av.embedding[u.i] AS DOUBLE))) AS qn,
             sqrt(SUM(CAST(bv.embedding[u.i] AS DOUBLE) * CAST(bv.embedding[u.i] AS DOUBLE))) AS cn
      FROM cands cd
      JOIN embeddings av ON av.vec_id = cd.query_id
      JOIN embeddings bv ON bv.vec_id = cd.neighbor_id,
      unnest(range(1, len(av.embedding) + 1)) AS u(i)
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             (CASE WHEN qn > 0 AND cn > 0 THEN dp / (qn * cn) ELSE 0.0 END) DESC,
             neighbor_id ASC) AS INTEGER) AS rank,
           ROUND((CASE WHEN qn > 0 AND cn > 0 THEN dp / (qn * cn) ELSE 0.0 END) + 1e-9, 6) AS cosine
    FROM exact
    QUALIFY rank <= 5
    """,
)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-5 for the first 10 vectors as queries:
    byte codes cut corpus scan bandwidth 4x vs float32, candidates come
    from the integer code dot product, and only k*4 rows per query are
    re-scored in full precision (operators/quantization.py)."""
    if _empty_embeddings(spark, sf_dir):
        return spark.createDataFrame([], "query_id long, neighbor_id long, rank int, cosine double")
    from bigdata_covid19_real_time_spark.operators.quantization import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = sq8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, rerank_factor=4)
    return out.select(
        "query_id", "neighbor_id", "rank", stable_round("cosine", 6).alias("cosine")
    )


@query(
    "embedding_knn_label",
    # Replays the exact top-k (the shared convention of the ANN family)
    # then the majority vote with (votes DESC, label ASC) tie-break.
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 10),
    flat AS (
      SELECT q.query_id, c.neighbor_id, c.label,
             SUM(CAST(qv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE)) AS dp,
             sqrt(SUM(CAST(qv[u.i] AS DOUBLE) * CAST(qv[u.i] AS DOUBLE))) AS qn,
             sqrt(SUM(CAST(cv[u.i] AS DOUBLE) * CAST(cv[u.i] AS DOUBLE))) AS cn
      FROM q, c, unnest(range(1, len(qv) + 1)) AS u(i)
      GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT query_id, neighbor_id, label
      FROM flat
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        (CASE WHEN qn > 0 AND cn > 0 THEN dp / (qn * cn) ELSE 0.0 END) DESC,
        neighbor_id ASC) <= 10
    ),
    votes AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM topk GROUP BY 1, 2
    )
    SELECT query_id, label AS predicted_label, votes
    FROM votes
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY votes DESC, label ASC) = 1
    """,
)
def embedding_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction (k=10, cosine): majority vote over the 10
    nearest labeled vectors for each of the first 10 vectors as queries
    — the classic semi-supervised labeling pass over an embedded corpus
    (operators/similarity.py::knn_classify).  Query vectors are held
    out of the corpus side; vote ties break to the smallest label."""
    from bigdata_covid19_real_time_spark.operators.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_classify(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=10,
    )


@query(
    "docs_shuffle_shards",
    # full replication: the shuffle key is the md5-derived 60-bit int of
    # "7:<doc_id>" (bit-identical across engines), shard = key % 8,
    # pos = dense rank of (key, doc_id) within the shard
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(h % 8 AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
    FROM keyed
    """,
)
def docs_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + 8-way shard assignment for a
    training-data export (operators/sampling.py::
    shuffle_shard_assignment): source/temporal order is destroyed by an
    md5-derived key, positions are dense per shard, and the whole
    assignment is a pure function of (doc_id, seed) — retry-stable and
    auditable.  The oracle replays key, shard, and position exactly."""
    from bigdata_covid19_real_time_spark.operators.sampling import (
        shuffle_shard_assignment,
    )

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shard_assignment(docs, n_shards=8, seed=7)


@query(
    "supplier_triangles",
    oracle="""
    WITH sel AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    ),
    pairs AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM sel a
      JOIN sel b ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
    ),
    nodes AS (
      SELECT COUNT(DISTINCT n) AS nodes FROM (
        SELECT u AS n FROM pairs UNION SELECT v FROM pairs)
    ),
    tri AS (
      SELECT COUNT(*) AS triangles
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST(n.nodes AS BIGINT) AS nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS edges,
           CAST(t.triangles AS BIGINT) AS triangles
    FROM nodes n, tri t
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the supplier co-occurrence graph (suppliers
    sharing an URGENT first-half-1996 order; per-order fan-out is
    bounded by lineitems/order, so edge generation never goes quadratic
    in a hub — and the order subset keeps the graph sparse: unrestricted
    co-occurrence saturates this corpus's 1000-supplier graph to near-
    complete, whose Theta(n^3) triangle count is a corpus artifact, not
    an operator property).  Degree-oriented
    counting (operators/graph.py) — each triangle counted exactly once
    at its lowest-(degree, id) corner, wedge work bounded O(m^1.5).
    Oracle: the canonical three-way self-join over the same edge set."""
    from bigdata_covid19_real_time_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    urgent = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    ).select("o_orderkey")
    li = li.join(
        F.broadcast(urgent), li["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    )
    co = li.alias("a").join(
        li.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
    return triangle_count(co)


@query(
    "part_name_fuzzy_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
    SELECT a.s AS name_a, b.s AS name_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
    FROM names a JOIN names b ON a.s < b.s
    WHERE levenshtein(a.s, b.s) <= 3
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join over distinct part names
    (operators/fuzzy.py): q-gram count filtering prunes candidates, the
    exact levenshtein verify runs on survivors only, and the result is
    EXACTLY the lev<=3 pair set — the oracle brute-forces the (small)
    distinct domain while the operator's plan is the one that scales."""
    from bigdata_covid19_real_time_spark.operators.fuzzy import fuzzy_self_pairs

    part = load_table(spark, sf_dir, "part")
    out = fuzzy_self_pairs(part, "p_name", max_dist=3)
    return out.select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
