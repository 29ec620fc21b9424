"""Text analysis operators for the training-data pipeline extension
surface (SURVEY.md §7.7): tokenization, shingling, near-dup Jaccard,
quality stats, language scoring, fingerprinting.

All built-in Spark SQL expressions (split/transform/filter/aggregate
higher-order functions) — no UDFs, so everything stays inside
whole-stage codegen and scales as narrow maps + one shuffle per
groupBy/join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic and stopword-ratio quality signal.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es"],
}


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def word_ngrams(toks: Column, n: int) -> Column:
    """Every word ``n``-gram of the token array ``toks``, in order and
    with repeats, each joined by one space (wrap it in
    ``array_distinct`` for the set).  Callers filter to
    ``size(toks) >= n`` first: on a shorter array the ``sequence``
    counts down and yields junk grams.

    Stage it, never fuse it.  ``toks`` must be a column that an earlier
    ``select`` aliased, not the ``tokens()`` expression itself, and the
    gram array another aliased column that a later ``select`` explodes
    with ``explode_outer`` + ``isNotNull``.  Fused into one expression
    tree, Catalyst inlines the token split into every ``element_at``
    (about n x positions regex splits per row); plain ``explode`` adds
    ``size > 0``/``isnotnull`` filters that predicate pushdown turns
    into a second copy of the whole gram expression in the scan filter.
    Both were measured at 5-50x on the shingle operators
    (``jaccard_pairs``, ``minhash``).  The same holds for any array
    expression staged before a per-element pass (``winnow_fingerprints``).
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )


def hex_long(hex_digest: str | Column, pos: int, length: int) -> Column:
    """``length`` hex characters of a digest from 1-based ``pos``, as a
    long.  Up to 15 characters (60 bits) keep the ANSI long cast safe:
    ``conv`` yields an unsigned decimal string, and 16 characters above
    2^63-1 would overflow it."""
    return F.conv(F.substring(hex_digest, pos, length), 16, 10).cast("long")


def md5_60(col: str | Column) -> Column:
    """The engine's cross-engine 60-bit key: the first 15 hex characters
    of ``md5(col)`` as a non-negative long.  Both engines compute md5
    bit-identically, so a DuckDB oracle recomputes it exactly as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return hex_long(F.md5(col), 1, 15)


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(toks: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio, alpha ratio — the cheap filters a 100 TB corpus pass
    runs before anything expensive.  Pure narrow map."""
    toks = tokens(text_col)
    n = F.size(toks)
    char_len = F.length(F.col(text_col))
    mean_tok_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n,
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        char_len > 0,
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")).cast("double")
        / char_len,
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "token_count": n,
            "char_count": char_len,
            "mean_token_len": mean_tok_len,
            "stopword_ratio_en": stopword_ratio(toks, STOPWORDS["en"]),
            "alpha_ratio": alpha_ratio,
        }
    )


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language heuristic: per-language hit ratio plus
    the argmax guess.  A real deployment swaps the word lists for char
    n-gram profiles; the Spark shape (narrow map, no shuffle, no UDF) is
    the point."""
    toks = tokens(text_col)
    out = df
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"score_{lang}", stopword_ratio(toks, words))
    scores = F.array(
        *[
            F.struct(F.col(f"score_{lang}").alias("s"), F.lit(lang).alias("l"))
            for lang in STOPWORDS
        ]
    )
    best = F.array_max(scores)
    return out.withColumn(
        "lang_guess", F.when(best["s"] > 0, best["l"]).otherwise(F.lit("unknown"))
    )


def shingle_sets(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = True,
) -> DataFrame:
    """(id, n_set, shingle) rows: distinct word n-grams per doc with the
    per-doc set size carried through — the shared staging for every
    shingle-membership operator (``jaccard_pairs``, decontamination,
    history dedup).

    Staged projections + explode_outer, per the inlining trap stated on
    ``word_ngrams``; ``hash_shingles`` swaps the shingle string for its
    ``xxhash64`` so downstream joins shuffle 8 bytes (collision odds
    ~|shingles|^2 / 2^65, immaterial)."""
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") >= n
    )
    # scale-adaptive (no-op on session-parallel inputs): distribute the
    # shingle construction when the scan under-splits (round-14 measured
    # multi-second single-task map stages on the bench corpus)
    toks_df = fan_out_scan(toks_df)
    grams = F.array_distinct(word_ngrams(F.col("toks"), n))
    grams_df = toks_df.select(F.col(id_col), grams.alias("grams"))
    out = grams_df.select(
        F.col(id_col),
        F.size("grams").alias("n_set"),
        F.explode_outer("grams").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    if hash_shingles:
        out = out.withColumn("shingle", F.xxhash64("shingle"))
    return out


#: Guard threshold for the exact all-pairs Jaccard baseline: above this
#: many input documents the shingle self-join's hot-shingle fanout makes
#: the operator super-linear (measured 6.9x time at 10x rows), and the
#: banded MinHash-LSH operator is the intended path.  50k docs (~sf1)
#: already costs ~13 s single-node; 100k is the last size where "ran it
#: by accident" is an acceptable outcome.
JACCARD_PAIRS_MAX_DOCS = 100_000


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = True,
    max_docs: int | None = JACCARD_PAIRS_MAX_DOCS,
) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard >= threshold.

    This is the EXACT all-pairs baseline — deliberately quadratic-ish in
    corpus size via the shingle self-join, kept as the oracle fixture
    that gates the scale-path operators.  ``max_docs`` (default
    ``JACCARD_PAIRS_MAX_DOCS``) raises before any heavy work when the
    input exceeds the documented size envelope, pointing at
    ``minhash.minhash_lsh_pairs`` (banded candidates, bounded join);
    pass ``max_docs=None`` to run the exact baseline regardless (the
    explicit oracle-fixture escape hatch).

    Plan shape (one join + one groupBy — set sizes are computed from the
    shingle array *before* explode and carried through the join, so no
    separate size aggregation or re-join is needed):

        tokens -> distinct n-gram array -> (id, |set|, explode shingle)
        -> self equi-join on shingle -> groupBy (pair, sizes) count
        -> jaccard filter

    ``hash_shingles`` joins on ``xxhash64(shingle)`` instead of the
    shingle string (see ``shingle_sets``).  Hot shingles still fan out
    the join at scale; the MinHash-LSH operator is the
    bounded-candidates alternative for 100 TB.
    """
    if max_docs is not None:
        n_docs = df.select(id_col).count()
        if n_docs > max_docs:
            raise ValueError(
                f"jaccard_pairs: {n_docs} input documents exceed the "
                f"exact-baseline envelope of {max_docs} (the shingle "
                "self-join is super-linear in corpus size). Use "
                "operators.minhash.minhash_lsh_pairs for the banded "
                "scale path, or pass max_docs=None to force the exact "
                "all-pairs baseline."
            )
    # Persist the shingle table: (a) the self-join otherwise recomputes
    # tokenize+shingle for both sides; (b) constraint inference from the
    # final jaccard filter pushes isnotnull(n_set) into both scans, where
    # it re-inlines the whole gram expression (measured ~4x).  The cache
    # is |docs| * avg_shingles rows of (id, int, long) — at 100 TB you'd
    # checkpoint this table to storage for exactly the same reason.
    base = shingle_sets(df, n, id_col, text_col, hash_shingles).persist()
    a = base.select(
        F.col(id_col).alias("doc_a"), F.col("n_set").alias("n_a"), "shingle"
    )
    b = base.select(
        F.col(id_col).alias("doc_b"), F.col("n_set").alias("n_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = F.col("intersection") / (F.col("n_a") + F.col("n_b") - F.col("intersection"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "n_a", "n_b", "jaccard")
    )


#: BPE-ish tokenizer regex: letter runs, digit runs, single punctuation
#: marks — the pre-tokenization split most BPE vocabularies assume.
#: ASCII classes only so Spark (Java regex) and SQL oracles (RE2-style
#: engines) agree on every match.
BPE_SPLIT_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: str | Column) -> Column:
    """Token count under the BPE-ish pre-tokenization split — the
    budget-relevant count for an LLM corpus (whitespace counting misses
    punctuation splits; 'don't.' is one whitespace token but three
    BPE-ish pieces).  JVM-side ``regexp_count``, narrow map."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(BPE_SPLIT_REGEX))


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): (id, fp) rows.

    Each position's char ``k``-gram is hashed; every sliding window of
    ``window`` consecutive gram hashes contributes its minimum; the
    distinct minima are the document's fingerprint set.  Guarantees:
    any shared substring of length >= k + window - 1 yields a shared
    fingerprint, and the selected set is position-stable (robust to
    whitespace-preserving edits elsewhere in the doc).

    Spark shape: all array work (k-gram hash, per-window min, distinct)
    happens in one ``transform``/``slice``/``array_min`` expression
    chain per row — narrow map, no shuffle until the caller aggregates.
    Staged projections (grams as a named column before the window pass)
    keep Catalyst from re-inlining the gram array per window (the
    inlining trap stated on ``word_ngrams``).

    The gram hash is ``md5_60``, so a SQL oracle can recompute
    fingerprints exactly.  Docs shorter than
    ``k + window - 1`` chars produce no rows.
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col), norm.alias("__t")).filter(
        F.length("__t") >= k + window - 1
    )
    # scale-adaptive fan-out (no-op on session-parallel inputs), keyed so
    # a downstream per-doc aggregation reuses the exchange; the per-char
    # md5 gram chain below is the engine's heaviest narrow map (measured
    # 3.5 s single-task at bench scale)
    base = fan_out_scan(base, key=id_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("__t") - k + 1),
        # Column.substr accepts Column start positions (F.substring needs
        # literals)
        lambda i: md5_60(F.col("__t").substr(i, F.lit(k))),
    )
    grams_df = base.select(F.col(id_col), grams.alias("__g"))
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__g") - window + 1),
            lambda j: F.array_min(F.slice(F.col("__g"), j, window)),
        )
    )
    mins_df = grams_df.select(F.col(id_col), mins.alias("__m"))
    return mins_df.select(
        F.col(id_col), F.explode_outer("__m").alias("fp")
    ).filter(F.col("fp").isNotNull())


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fan_out: bool = False,
) -> DataFrame:
    """Per-document repetition signals (the Gopher/C4 family of quality
    rules, adapted to token/n-gram form): type-token ratio, most-frequent
    token fraction, most-frequent bigram fraction.

    Highly repetitive documents (boilerplate, keyword stuffing, broken
    scrapes) show low TTR and high top-n-gram coverage; corpus pipelines
    drop or down-weight them before training.

    Plan shape: explode unigrams and bigrams, count per (doc, gram),
    then collapse per doc — two shuffle rounds on (doc, gram), both with
    map-side partial aggregation, so the shuffled volume is the number
    of DISTINCT grams per doc, not the token stream.  Grams are hashed
    to 8 bytes (``xxhash64``) before the shuffle; the counts, not the
    gram identities, are what the metrics need.  Docs with fewer than 2
    tokens get bigram stats of 0.
    """
    # explode_outer + isNotNull, NOT explode (the trap stated on
    # word_ngrams)
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") > 0
    )
    if fan_out:
        # opt-in (default OFF): composite pipelines that reference this
        # subtree from broadcast build sides (curation waterfall) must
        # not pay a repartition per reference; standalone per-doc stats
        # queries turn it on, keyed so the gram groupBys reuse it
        toks_df = fan_out_scan(toks_df, key=id_col)

    uni = (
        toks_df.select(F.col(id_col), F.explode_outer("toks").alias("g"))
        .filter(F.col("g").isNotNull())
        .withColumn("g", F.xxhash64("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("tok_total"),
            F.count(F.lit(1)).alias("tok_distinct"),
            F.max("c").alias("tok_top"),
        )
    )

    bi = (
        toks_df.filter(F.size("toks") >= 2)
        .select(F.col(id_col), word_ngrams(F.col("toks"), 2).alias("bg"))
        .select(F.col(id_col), F.explode_outer("bg").alias("g"))
        .filter(F.col("g").isNotNull())
        .withColumn("g", F.xxhash64("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("bg_total"),
            F.max("c").alias("bg_top"),
        )
    )
    safe_div = lambda a, b: F.when(b > 0, a.cast("double") / b).otherwise(F.lit(0.0))
    return (
        uni.join(bi, id_col, "left")
        .select(
            F.col(id_col),
            F.col("tok_total").alias("token_count"),
            safe_div(F.col("tok_distinct"), F.col("tok_total")).alias("ttr"),
            safe_div(F.col("tok_top"), F.col("tok_total")).alias("top_token_frac"),
            safe_div(
                F.coalesce(F.col("bg_top"), F.lit(0)),
                F.coalesce(F.col("bg_total"), F.lit(0)),
            ).alias("top_bigram_frac"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit content fingerprint over normalized text (lowercased,
    whitespace-collapsed) — the exact-dedup key for a 100 TB corpus:
    group/join on 8 bytes instead of the document body."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.xxhash64(normalized))


def duplicate_spans(
    df: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token n-gram spans repeated across documents — the lightweight
    cousin of suffix-array exact-substring dedup: any span appearing in
    ``min_docs``+ distinct documents is shared boilerplate or a copied
    passage, and its occurrence counts tell you how much of the corpus
    it eats.

    Plan: staged tokens -> positional n-gram spans (ALL occurrences, not
    the distinct set — occurrence counts matter here) -> explode ->
    one groupBy on the span with ``count(*)`` + ``count(distinct doc)``.
    At 100 TB group on ``xxhash64(span)`` and keep ``min(span)`` as the
    representative so the shuffle key is 8 bytes; the gate groups on the
    string so the DuckDB oracle can replicate membership exactly.

    Output: ``(span, n_docs, n_occurrences)``, spans of ``n`` tokens.
    """
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("toks")).filter(
        F.size("toks") >= n
    )
    # scale-adaptive fan-out (no-op on session-parallel inputs)
    toks_df = fan_out_scan(toks_df)
    spans_df = toks_df.select(F.col(id_col), word_ngrams(F.col("toks"), n).alias("spans"))
    exploded = spans_df.select(
        F.col(id_col), F.explode_outer("spans").alias("span")
    ).filter(F.col("span").isNotNull())
    return (
        exploded.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _remove_spans(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    dropped: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The span-removal pipeline both public variants share; only the
    policy differs.  ``dropped(grams)`` takes the ``(id_col, __start,
    __gh)`` gram-occurrence rows and returns the occurrences to drop
    (``id_col`` and ``__start`` columns).

    Stage: tokens -> (doc, pos, token) and (doc, start, gram-hash)
    rows.  Rebuild: the dropped occurrences explode to covered
    positions, an anti-join removes them from the token rows, and a
    per-doc aggregate gives the surviving count and cleaned-text
    fingerprint, left-joined to the before-counts (a doc can lose every
    token only under the global policy; it reads ``tokens_after`` 0 and
    a NULL ``cleaned_hash``).  Shuffles key on (doc, 8-byte gram hash)
    and (doc, pos) — never the text.
    """
    # base persisted: three branches re-ran the corpus tokenization
    # uncached (token rows, gram rows, the before-counts), and sibling
    # branches are never exchange-reused
    base = fan_out_scan(
        # scale-adaptive (no-op on session-parallel inputs); keyed by the
        # doc id so the per-doc aggregations downstream reuse the exchange
        df.select(F.col(id_col), tokens(text_col).alias("__t")).filter(
            F.size("__t") > 0
        ),
        key=id_col,
    ).persist()
    tok_rows = base.select(
        id_col, F.posexplode("__t").alias("__pos", "__tok")
    )
    gram_hash = md5_60(F.concat_ws(" ", *[F.col(f"__g{j}") for j in range(n)]))
    grams = base.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("__t") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - n),
                    lambda i: F.slice(F.col("__t"), i + 1, n),
                ),
            ).otherwise(F.array().cast("array<array<string>>"))
        ).alias("__start", "__gram"),
    ).select(
        id_col,
        "__start",
        *[F.col("__gram")[j].alias(f"__g{j}") for j in range(n)],
    ).select(id_col, "__start", gram_hash.alias("__gh")).persist()
    # grams persisted: the policy's aggregate and its join probe both
    # read it, and the n-gram hash explode is the function's hottest map
    removed = (
        dropped(grams)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__start"), F.col("__start") + (n - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(removed, [id_col, "__pos"], "left_anti")
    surviving = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__pos").alias("p"), F.col("__tok").alias("t"))
            )
        ),
        lambda s: s["t"],
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("tokens_after"),
        md5_60(F.concat_ws(" ", surviving)).alias("cleaned_hash"),
    )
    before = base.select(id_col, F.size("__t").alias("tokens_before"))
    after = F.coalesce(F.col("tokens_after"), F.lit(0))
    return (
        before.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("tokens_before").cast("long").alias("tokens_before"),
            (F.col("tokens_before") - after).cast("long").alias("tokens_removed"),
            after.cast("long").alias("tokens_after"),
            "cleaned_hash",
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document dedup: drop every LATER occurrence of a repeated
    word ``n``-gram (the within-doc complement of the cross-doc span
    mining in ``duplicate_spans`` — repeated boilerplate inside one
    document inflates token counts and skews LMs the same way corpus
    dups do).  A token survives unless some repeated-span occurrence
    (any occurrence after the gram's first) covers its position.
    Position 0 is covered only by the gram at start 0, always its
    gram's first occurrence, so every doc keeps at least one token.

    Policy: a per-(doc, gram) min-start aggregate; every later start is
    dropped.  Staging and rebuild are ``_remove_spans``.

    Output: ``(id_col, tokens_before, tokens_removed, tokens_after,
    cleaned_hash)`` with ``cleaned_hash`` the ``md5_60`` of the
    surviving tokens joined by one space (cross-engine reproducible).
    """

    def later_in_doc(grams: DataFrame) -> DataFrame:
        firsts = grams.groupBy(id_col, "__gh").agg(F.min("__start").alias("__first"))
        return grams.join(firsts, [id_col, "__gh"]).filter(
            F.col("__start") > F.col("__first")
        )

    return _remove_spans(df, n, id_col, text_col, later_in_doc)


#: BM25 term-frequency saturation and length normalisation (the
#: Robertson defaults); ``docs_bm25_topk``'s oracle reads the same two.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: dict[str, list[str]],
    k_top: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 lexical retrieval: top-``k_top`` documents per named query —
    the sparse complement to the dense ANN stack (fuse both lists with
    ``similarity.reciprocal_rank_fusion`` for hybrid retrieval).

    ``score(d, q) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*dl/avgdl))``
    with ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` (the Robertson
    formulation; non-negative), ``k1 = BM25_K1`` and ``b = BM25_B``.

    Scale: one exploded TF pass feeds term frequencies, document
    frequencies (filtered to QUERY terms before aggregating — the df
    table is |query vocab| rows, broadcast), and doc lengths; (N,
    avgdl) ride as a broadcast 1-row frame; per-query scoring shuffles
    once on (query, doc).  Ranking is per-query over candidate docs
    only (docs sharing >= 1 term).

    Output: ``(query_id, doc_id, rank, bm25)`` with the
    6-decimal-rounded score ordering (cross-engine-stable).
    """
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    q_rows = [
        (qid, term) for qid, terms in query_terms.items() for term in terms
    ]
    q = F.broadcast(
        spark.createDataFrame(q_rows, "query_id string, term string")
    )
    tok_rows = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok_rows.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    )
    dfreq = F.broadcast(
        tf.join(q.select("term").distinct(), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm_tf = F.col("tf") / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(q, "term")
        .join(dfreq, "term")
        .join(dl, id_col)
        .join(stats)
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(idf * norm_tf) + F.lit(1e-9), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_top)
        .select("query_id", id_col, "rank", "bm25")
    )


def remove_global_repeated_spans(
    df: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CROSS-document exact-substring dedup (the Lee et al. 2021
    "Deduplicating Training Data" recipe): drop every occurrence of a
    duplicated word ``n``-gram EXCEPT the corpus-wide first one — the
    global complement of ``remove_repeated_spans`` (within one doc) and
    of ``duplicate_spans`` (which only MINES cross-doc spans).  Shared
    boilerplate, license headers, and copied passages survive exactly
    once in the whole corpus.

    "First" is the lexicographic minimum of (doc id, start position) —
    fully deterministic, no tie ambiguity.  A doc holding the global
    first occurrence still loses its own LATER copies of that span.

    Policy: ONE global groupBy on the 8-byte gram hash takes the min
    (doc, start) struct (map-side partial min — the only corpus-wide
    shuffle, and its key space is the distinct-gram count); every other
    occurrence is dropped.  Staging and rebuild are ``_remove_spans``.
    This replaces the suffix-array global sort of the reference recipe
    with a hash partial-aggregate — same result for fixed n, linear
    shuffle volume, no ordered structure to maintain.

    Output: ``(id_col, tokens_before, tokens_removed, tokens_after,
    cleaned_hash)`` — the same contract as ``remove_repeated_spans``.
    """

    def all_but_global_first(grams: DataFrame) -> DataFrame:
        # struct ordering = field order: min over (doc, start)
        firsts = grams.groupBy("__gh").agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("__start").alias("s"))
            ).alias("__f")
        )
        return grams.join(firsts, "__gh").filter(
            (F.col(id_col) != F.col("__f.d"))
            | (F.col("__start") != F.col("__f.s"))
        )

    return _remove_spans(df, n, id_col, text_col, all_but_global_first)
