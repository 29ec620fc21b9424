"""Document chunking: split documents into fixed-size token windows
with overlap — the sequence-preparation step between a cleaned corpus
and a tokenizer (pre-training windows, RAG passage splits).

Pure narrow map: the token array is staged once per document, chunk
start positions come from a ``sequence`` expression, and each chunk is
a ``slice`` + ``concat_ws`` over that array — no shuffle, no UDF, rows
multiply by ~n_tokens/stride.  At 100 TB this is exactly the shape you
want: chunking parallelizes per input row and the explode factor is
bounded by the chunk geometry, not data skew.

Start-position rule: starts run ``1, 1+stride, 1+2*stride, ...`` while
``start <= max(n_tokens - overlap, 1)`` (stride = chunk - overlap).
Consequences, all deliberate:
- a document shorter than ``chunk_tokens`` yields exactly one chunk
  (its whole token list);
- the final chunk always carries more than ``overlap`` fresh tokens —
  no trailing chunk that is a strict subset of its predecessor;
- every token belongs to >=1 chunk (full coverage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan
from bigdata_covid19_real_time_spark.operators.text import md5_60, tokens


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_id, chunk_text, chunk_n_tokens) rows; ``chunk_id`` is
    the 0-based window index within its document."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap} vs {chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") > 0
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks") - overlap, F.lit(1)),
        F.lit(stride),
    )
    # explode_outer + isNotNull (not explode): the pushdown/re-inline
    # trap documented on jaccard_pairs
    staged = toks_df.select(
        F.col(id_col), F.col("__toks"), F.explode_outer(starts).alias("__start")
    ).filter(F.col("__start").isNotNull())
    chunk = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return staged.select(
        F.col(id_col),
        ((F.col("__start") - 1) / stride).cast("int").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("chunk_n_tokens"),
    )


def cdc_chunks(
    df,
    k: int = 8,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Content-defined chunking: split each document where the
    md5-derived hash of the char ``k``-gram ending at a position is
    ``0 mod mask`` — boundaries follow CONTENT, not offsets, so an
    insertion shifts only its own chunk while fixed-size chunking
    shifts every later chunk (the storage-dedup / incremental-sync
    recipe; avg chunk length ~``mask`` chars).

    Spark shape: all boundary math is one narrow expression chain per
    row (sequence -> gram hash -> filter -> bounds array), staged as
    named columns before the explode (the inlining trap stated on
    ``text.word_ngrams``); the gram hash is ``text.md5_60``, so a SQL
    oracle replicates chunks bit-for-bit.

    Output: ``(id_col, chunk_index, chunk_start, chunk_len,
    chunk_hash)`` — 1-based char offsets; ``chunk_hash`` is the
    ``md5_60`` of the chunk text (the dedup key at scale).
    """
    base = df.select(F.col(id_col), F.col(text_col).alias("__t")).filter(
        F.length("__t") > 0
    )
    # scale-adaptive fan-out (no-op on session-parallel inputs): the
    # per-position rolling md5 below is a multi-second single-task map
    # on under-split inputs (round-14 profile)
    base = fan_out_scan(base)
    n = F.length("__t")
    gram_hash = lambda i: md5_60(F.col("__t").substr(i - k + 1, F.lit(k)))  # noqa: E731
    positions = F.when(n - 1 >= k, F.sequence(F.lit(k), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bpos = F.filter(
        F.transform(positions, lambda i: F.when(gram_hash(i) % mask == 0, i)),
        lambda x: x.isNotNull(),
    )
    with_bounds = base.select(
        id_col,
        "__t",
        F.concat(
            F.array(F.lit(0)), bpos.cast("array<int>"), F.array(n)
        ).alias("__bd"),
    )
    j = F.col("__j")
    start = F.element_at("__bd", j) + 1
    clen = F.element_at("__bd", j + 1) - F.element_at("__bd", j)
    return (
        with_bounds.select(
            id_col,
            "__t",
            "__bd",
            F.explode(F.sequence(F.lit(1), F.size("__bd") - 1)).alias("__j"),
        )
        .select(
            F.col(id_col),
            (j - 1).cast("int").alias("chunk_index"),
            start.cast("long").alias("chunk_start"),
            clen.cast("long").alias("chunk_len"),
            md5_60(F.col("__t").substr(start, clen)).alias("chunk_hash"),
        )
    )
