"""Distributed BPE vocabulary training: the full merge loop over the
pair-count primitive (plans/tokenizer.py exercises one round; this
operator loops it).

Algorithm (Sennrich et al. 2016, word-internal merges):

1. stage each word once as a symbol sequence (initially characters);
2. count adjacent symbol pairs across the corpus — a partial-aggregated
   groupBy over exploded pairs, THE distributed step;
3. take the global argmax pair (count desc, then lexicographic — fully
   deterministic), a bounded driver read of one row;
4. broadcast the merge to every word as a closure-captured rule inside
   an Arrow ``mapInPandas`` kernel (merging adjacent pairs is an
   inherently sequential per-word scan — exactly the Pandas-UDF escape
   hatch; the corpus itself never shuffles);
5. repeat for ``n_merges`` rounds.

Scale notes: the working set is the DISTINCT-word table with
multiplicities (count once per distinct word, weight by occurrences) —
corpus text is touched once at staging, which is always distributed.
The merge LOOP is hybrid: under ``LOCAL_TRAIN_MAX_WORDS`` distinct
words it collects the word-count table and trains driver-side (the
production-tokenizer architecture — the distinct-word table is
~millions of rows even at 100 TB of corpus), otherwise each round is
one narrow map + one pair-count shuffle whose key space is the
symbol-pair vocabulary (small), with the driver reading ONE row per
round.  In the distributed loop, ``persist`` + round-robin
``localCheckpoint`` every few rounds truncates the plan lineage the
loop would otherwise stack (same discipline as operators/pagerank.py).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata_covid19_real_time_spark.operators.components import collect_bounded

_WORD_SCHEMA = StructType(
    [
        StructField("syms", ArrayType(StringType())),
        StructField("weight", LongType()),
    ]
)


def _stage_words(df: DataFrame, text_col: str) -> DataFrame:
    """(syms: array<string> of characters, weight: occurrences) per
    DISTINCT word — the working set every merge round maps over."""
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # split(w, "(?!^)") keeps a trailing '' (Spark split defaults to
    # limit=-1, which preserves trailing empties) — drop it, or every
    # word grows a phantom end-of-word symbol that pollutes pair counts
    return words.select(
        F.array_remove(F.split("w", "(?!^)"), "").alias("syms"), "weight"
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = words.filter(F.size("syms") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i + 1).alias("a"),
                    F.element_at(F.col("syms"), i + 2).alias("b"),
                ),
            )
        ).alias("p"),
        "weight",
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("weight").alias("cnt"))


def _merge_kernel(a: str, b: str):
    merged = a + b

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                res = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"syms": out, "weight": pdf["weight"]})

    return kernel


def _train_local(
    words: Iterable[tuple[Sequence[str], int]], n_merges: int, min_count: int
) -> list[tuple[str, str, int]]:
    """Driver-side merge loop over a collected (syms, weight) word
    table — bit-identical semantics to the distributed loop (same
    pair-count weighting, same (cnt desc, left asc, right asc) argmax,
    same greedy left-to-right merge, same ``min_count`` early stop)."""
    merges: list[tuple[str, str, int]] = []
    words = [(list(s), int(w)) for s, w in words]
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, w in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + w
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((a, b, cnt))
        if len(merges) == n_merges:
            break
        merged = a + b
        for idx, (syms, w) in enumerate(words):
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[idx] = (res, w)
    return merges


#: Distinct-word count under which the merge loop runs driver-side.
#: The working set of BPE training is the DISTINCT-word table with
#: weights — ~millions of rows even for a 100 TB corpus (this is why
#: production tokenizer trainers are single-node over a word-count
#: table).  Staging (the full corpus scan + word count) stays
#: distributed either way; only the loop moves.  1M rows of short
#: symbol lists is tens of MB — far inside any driver, and it replaces
#: ~2 Spark jobs per merge round with an in-memory pass.
LOCAL_TRAIN_MAX_WORDS = 1_000_000


def train_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    checkpoint_every: int = 4,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a text column.

    Returns ``[(left, right, count), ...]`` in merge order.  Stops early
    when no pair reaches ``min_count``.  Deterministic: ties break
    lexicographically on (left, right).

    Hybrid execution: corpus scan + distinct-word staging is always
    distributed; the merge LOOP runs driver-side when the distinct-word
    table has at most ``LOCAL_TRAIN_MAX_WORDS`` rows (the common case),
    read in one bounded collect, and falls back to the per-round
    distributed pair-count + broadcast-merge loop above that.  Both
    paths are deterministic and produce identical merges
    (``tests/test_bpe.py`` pins the parity).
    """
    words = _stage_words(df, text_col).persist()
    merges: list[tuple[str, str, int]] = []
    try:
        local = collect_bounded(words, LOCAL_TRAIN_MAX_WORDS)
        if local is not None:
            return _train_local(
                zip(local["syms"], local["weight"]), n_merges, min_count
            )
        for r in range(n_merges):
            top = (
                _pair_counts(words)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < min_count:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merges.append((a, b, cnt))
            if len(merges) == n_merges:
                break  # no pair count reads the final merged table
            nxt = words.mapInPandas(_merge_kernel(a, b), _WORD_SCHEMA)
            if (r + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist()
                nxt.count()  # materialize before releasing the parent
            words.unpersist()
            words = nxt
    finally:
        words.unpersist()
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a text column with learned merges: one Arrow map, the
    whole rule list closure-captured (a vocabulary is tiny next to the
    corpus), rules applied in training order per word."""
    rules = [(a, b) for a, b, _ in merges]
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(out_col, ArrayType(StringType())),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        def encode_word(w: str) -> list[str]:
            syms = list(w)
            for a, b in rules:
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            return syms

        for pdf in batches:
            pdf = pdf[pdf[text_col].notna()]
            if pdf.empty:
                continue
            toks = [
                [s for w in t.split(" ") if w for s in encode_word(w)]
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), out_col: toks})

    from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan

    # scale-adaptive fan-out (no-op on session-parallel/derived inputs):
    # the pure-Python merge loop is the cost — on a 1-split scan it runs
    # in a single Python worker while the rest of the host idles
    return fan_out_scan(df.select(id_col, text_col)).mapInPandas(kernel, schema)
