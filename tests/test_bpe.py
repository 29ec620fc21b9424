"""Distributed BPE training (operators/bpe.py) vs a pure-Python
reference implementation."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row

from bigdata_covid19_real_time_spark.operators import bpe
from bigdata_covid19_real_time_spark.operators.bpe import (
    apply_bpe,
    train_bpe_merges,
)


def _reference_bpe(texts, n_merges, min_count=2):
    """Sennrich-style reference: greedy highest-count pair, ties
    lexicographic, word-internal merges."""
    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    seqs = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += words[w]
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        if counts[pair] < min_count:
            break
        merges.append((pair[0], pair[1], counts[pair]))
        a, b = pair
        for w, syms in seqs.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            seqs[w] = res
    return merges, seqs


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest new low",
    "low newer lowest wide wide",
]


class TestBpe:
    def test_merges_match_reference(self, spark):
        df = spark.createDataFrame([Row(doc_id=i, text=t)
                                    for i, t in enumerate(TEXTS)])
        got = train_bpe_merges(df, n_merges=6, checkpoint_every=3)
        want, _ = _reference_bpe(TEXTS, 6)
        assert got == want
        assert len(got) == 6  # corpus supports at least 6 merges

    def test_early_stop_on_min_count(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, text="ab cd ef")])
        got = train_bpe_merges(df, n_merges=10, min_count=2)
        assert got == []  # every pair occurs once

    def test_no_phantom_end_of_word_symbol(self, spark):
        """Regression: split(w, '(?!^)') keeps a trailing '' — with it,
        every word grows a phantom end symbol and ('z', '') here would
        win round 1 with count 6, beating every real pair (count 2)."""
        df = spark.createDataFrame(
            [Row(doc_id=0, text="xz yz wz xz yz wz")]
        )
        got = train_bpe_merges(df, n_merges=2, min_count=2)
        want, _ = _reference_bpe(["xz yz wz xz yz wz"], 2)
        assert got == want, got
        assert all(a and b for a, b, _ in got)  # no empty symbols

    def test_apply_matches_reference_encoding(self, spark):
        df = spark.createDataFrame([Row(doc_id=i, text=t)
                                    for i, t in enumerate(TEXTS)])
        merges = train_bpe_merges(df, n_merges=5, checkpoint_every=2)
        ref_merges, ref_seqs = _reference_bpe(TEXTS, 5)
        assert merges == ref_merges
        out = {r["doc_id"]: r["bpe_tokens"]
               for r in apply_bpe(df, merges).collect()}
        for i, t in enumerate(TEXTS):
            want = [s for w in t.split(" ") if w for s in ref_seqs[w]]
            assert out[i] == want, (i, out[i], want)

    def test_distributed_and_local_paths_identical(self, spark, monkeypatch):
        """The hybrid fast path (driver-side loop under
        LOCAL_TRAIN_MAX_WORDS) must be bit-identical to the distributed
        per-round loop: same merges, same counts, same order."""
        df = spark.createDataFrame([Row(doc_id=i, text=t)
                                    for i, t in enumerate(TEXTS)])
        local = train_bpe_merges(df, n_merges=6)
        monkeypatch.setattr(bpe, "LOCAL_TRAIN_MAX_WORDS", -1)  # force distributed
        distributed = train_bpe_merges(df, n_merges=6, checkpoint_every=3)
        want, _ = _reference_bpe(TEXTS, 6)
        assert local == distributed == want

    def test_distributed_path_early_stop(self, spark, monkeypatch):
        df = spark.createDataFrame([Row(doc_id=0, text="ab cd ef")])
        monkeypatch.setattr(bpe, "LOCAL_TRAIN_MAX_WORDS", -1)  # force distributed
        got = train_bpe_merges(df, n_merges=10, min_count=2)
        assert got == []


def test_fertility_excludes_empty_words_on_ragged_spacing(spark):
    """Consecutive/leading/trailing spaces must not inflate n_words:
    both the Spark side (filtered split) and the oracle (len(w) >= 1)
    count only real words, and fertility = n_tokens / n_words follows
    (round-7 advice fix — held before only because the generated corpus
    is single-space joined).  The fixture word "abcdefghij" has 9 pairs
    so all 8 unrolled oracle merge rounds fire (the early-stop cascade
    would otherwise empty the oracle's w8 segmentation table)."""
    import os
    import tempfile

    import duckdb
    from pyspark.sql import functions as F

    from bigdata_covid19_real_time_spark.plans import ORACLES, QUERIES

    name = "docs_bpe_fertility"
    d = tempfile.mkdtemp()
    rows = [
        (1, "  abcdefghij  abcdefghij   xy  ", "en", "s1"),
        (2, "abcdefghij xy", "en", "s1"),
        (3, "abcdefghij  abcdefghij", "fr", "s1"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    got = {r["lang"]: r for r in QUERIES[name](spark, d).collect()}
    # empties from the ragged spacing are excluded on both sides
    assert got["en"]["n_words"] == 5
    assert got["fr"]["n_words"] == 2
    assert got["en"]["n_chars"] == 34
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet', '*.parquet')}')"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLES[name]).fetchall())
    con.close()
    assert sorted(tuple(r) for r in got.values()) == want
