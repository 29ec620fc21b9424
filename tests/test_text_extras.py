"""Decontamination, repetition stats, and the bucketed range join."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.decontam import contamination_report
from bigdata_covid19_real_time_spark.operators.range_join import (
    bucketed_interval_join,
)
from bigdata_covid19_real_time_spark.operators.text import repetition_stats


def test_contamination_report_flags_planted_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),  # contains eval 5-gram
            (2, "one two three four five six seven eight"),  # clean
            (3, "too short"),  # < n tokens: no shingles, no row
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in contamination_report(train, eval_docs, n=5).collect()}
    assert set(out) == {1, 2}
    assert out[1].contaminated_ngrams == 1 and out[1].n_set == 3
    assert out[2].contaminated_ngrams == 0 and out[2].contamination_frac == 0.0
    assert out[1].contamination_frac == pytest.approx(1 / 3)


def test_contamination_hashed_and_string_paths_agree(spark):
    train = spark.createDataFrame(
        [(i, f"w{i} common phrase tail here and more words {i}") for i in range(6)],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(0, "common phrase tail here and")], ["doc_id", "text"])
    h = contamination_report(train, ev, n=5, hash_shingles=True).collect()
    s = contamination_report(train, ev, n=5, hash_shingles=False).collect()
    key = lambda rows: sorted((r.doc_id, r.contaminated_ngrams) for r in rows)
    assert key(h) == key(s)


def test_repetition_stats_known_document(spark):
    # "a a a b": 4 tokens, 2 distinct, top token 3x; bigrams (a a, a a,
    # a b): top bigram 2/3
    df = spark.createDataFrame([(1, "a a a b"), (2, "x y")], ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].token_count == 4
    assert out[1].ttr == pytest.approx(0.5)
    assert out[1].top_token_frac == pytest.approx(0.75)
    assert out[1].top_bigram_frac == pytest.approx(2 / 3)
    assert out[2].ttr == pytest.approx(1.0)
    assert out[2].top_bigram_frac == pytest.approx(1.0)


def _ts(minute: int, second: int = 0):
    return datetime.datetime(2024, 1, 1, 10, minute, second)


def test_bucketed_interval_join_matches_naive_theta_join(spark):
    points = spark.createDataFrame(
        [(i, _ts(i)) for i in range(0, 60, 7)], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [
            (100, _ts(0), _ts(15)),
            (101, _ts(10), _ts(40)),  # spans multiple 10-min buckets
            (102, _ts(55), _ts(59)),
        ],
        ["iid", "start", "end"],
    )
    got = {
        (r.pid, r.iid)
        for r in bucketed_interval_join(
            points, intervals, "ts", "start", "end", bucket_seconds=600
        ).collect()
    }
    naive = {
        (p, i)
        for p, pt in [(r.pid, r.ts) for r in points.collect()]
        for i, s, e in [(r.iid, r.start, r.end) for r in intervals.collect()]
        if s <= pt < e
    }
    assert got == naive and got  # non-empty and identical


def test_bucketed_interval_join_half_open_boundaries(spark):
    points = spark.createDataFrame(
        [(1, _ts(0)), (2, _ts(10))], ["pid", "ts"]
    )
    intervals = spark.createDataFrame([(9, _ts(0), _ts(10))], ["iid", "start", "end"])
    got = {
        (r.pid, r.iid)
        for r in bucketed_interval_join(
            points, intervals, "ts", "start", "end", bucket_seconds=60
        ).collect()
    }
    assert got == {(1, 9)}  # start inclusive, end exclusive


def test_bucketed_interval_join_rejects_bad_bucket(spark):
    df = spark.createDataFrame([(1, _ts(0))], ["pid", "ts"])
    with pytest.raises(ValueError):
        bucketed_interval_join(df, df, "ts", "ts", "ts", bucket_seconds=0)


def test_jaccard_dedup_against_history(spark):
    from bigdata_covid19_real_time_spark.operators.dedup import (
        jaccard_dedup_against_history,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    history = spark.createDataFrame([(0, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (1, base + " extra"),        # near-dup of history -> dropped
            (2, "one two three four five six seven eight nine ten"),  # fresh
            (3, "ab"),                   # too short to shingle -> survives
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id for r in
           jaccard_dedup_against_history(new, history, threshold=0.6, n=3).collect()}
    assert out == {2, 3}


def test_redact_pii_planted_matches(spark):
    from bigdata_covid19_real_time_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 192.168.0.1 today"),
            (2, "ssn 123-45-6789 phone +1 (555) 123-4567 end"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].redacted_email == 1 and out[1].redacted_ipv4 == 1
    assert "[PII:email]" in out[1].text and "[PII:ipv4]" in out[1].text
    assert "bob.smith" not in out[1].text and "192.168" not in out[1].text
    assert out[2].redacted_ssn_like == 1 and out[2].redacted_phone_like >= 1
    assert "123-45-6789" not in out[2].text
    assert out[3].text == "nothing sensitive here"
    assert (out[3].redacted_email, out[3].redacted_ipv4) == (0, 0)


def test_redact_pii_custom_out_col_preserves_original(spark):
    from bigdata_covid19_real_time_spark.operators.redact import redact_pii

    df = spark.createDataFrame([(1, "mail a@b.io")], ["doc_id", "text"])
    r = redact_pii(df, out_col="clean_text").first()
    assert r.text == "mail a@b.io" and "[PII:email]" in r.clean_text


class TestRepeatedSpanRemoval:
    def test_later_occurrence_dropped_first_kept(self, spark):
        from bigdata_covid19_real_time_spark.operators.text import (
            remove_repeated_spans,
        )

        # "a b c" repeats: second occurrence (positions 3-5) removed
        docs = spark.createDataFrame(
            [(1, "a b c x a b c y")], "doc_id long, text string"
        )
        r = remove_repeated_spans(docs, n=3).collect()[0]
        assert r["tokens_before"] == 8
        assert r["tokens_removed"] == 3
        assert r["tokens_after"] == 5  # a b c x ... y

    def test_clean_document_untouched(self, spark):
        from bigdata_covid19_real_time_spark.operators.text import (
            remove_repeated_spans,
        )

        docs = spark.createDataFrame(
            [(1, "all tokens here are unique words")], "doc_id long, text string"
        )
        r = remove_repeated_spans(docs, n=3).collect()[0]
        assert r["tokens_removed"] == 0
        assert r["tokens_after"] == r["tokens_before"]

    def test_overlapping_repeats_remove_union_of_spans(self, spark):
        from bigdata_covid19_real_time_spark.operators.text import (
            remove_repeated_spans,
        )

        # "a a a a a": 3-gram "a a a" repeats at starts 1 and 2 ->
        # covered positions 1..4; only position 0 survives
        docs = spark.createDataFrame(
            [(1, "a a a a a")], "doc_id long, text string"
        )
        r = remove_repeated_spans(docs, n=3).collect()[0]
        assert (r["tokens_before"], r["tokens_after"]) == (5, 1)

    @pytest.mark.parametrize("n", [2, 3])
    def test_every_doc_keeps_a_token_and_single_docs_match_global(self, spark, n):
        """Position 0 is covered only by the gram at start 0, always its
        gram's first occurrence: every doc with tokens keeps one, so the
        rebuild drops no doc.  A single-doc corpus has no other doc to
        hold a first occurrence, so the global variant agrees."""
        from bigdata_covid19_real_time_spark.operators.text import (
            remove_global_repeated_spans,
            remove_repeated_spans,
        )

        rows = [
            (1, "only"),  # shorter than n
            (2, "a a a a a a"),  # one repeated token
            (3, "x y x y x"),  # the only repeats overlap the first span
            (4, "p q r p q r s"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = remove_repeated_spans(docs, n=n).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2, 3, 4]
        assert all(r["tokens_after"] >= 1 for r in out)
        for row in rows:
            one = spark.createDataFrame([row], "doc_id long, text string")
            assert [tuple(r) for r in remove_repeated_spans(one, n=n).collect()] == [
                tuple(r) for r in remove_global_repeated_spans(one, n=n).collect()
            ]


class TestBm25:
    def test_term_frequency_and_rarity_drive_ranking(self, spark):
        from bigdata_covid19_real_time_spark.operators.text import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "apple apple apple banana"),
                (2, "apple banana cherry date"),
                (3, "banana cherry date fig"),
                (4, "cherry date fig grape"),
            ],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, {"q": ["apple"]}, k_top=3).collect()
        ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
        # doc1 has 3x the tf of doc2; docs without the term never appear
        assert ranked[0] == 1 and ranked[1] == 2 and len(ranked) == 2

    def test_rare_term_outweighs_common_term(self, spark):
        from bigdata_covid19_real_time_spark.operators.text import bm25_topk

        docs = spark.createDataFrame(
            [(i, "common filler words here") for i in range(1, 9)]
            + [(9, "common rare")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["bm25"]
               for r in bm25_topk(docs, {"q": ["common", "rare"]}, k_top=9).collect()}
        # the rare-term doc beats any common-only doc
        assert out[9] > max(v for k, v in out.items() if k != 9)


class TestGlobalSpanDedup:
    """Cross-document exact-substring dedup (Lee et al. recipe):
    remove_global_repeated_spans keeps only the corpus-wide first
    (doc, start) occurrence of each duplicated n-gram."""

    def _run(self, spark, rows, n=3):
        from bigdata_covid19_real_time_spark.operators.text import (
            remove_global_repeated_spans,
        )

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in remove_global_repeated_spans(docs, n=n).collect()
        }

    def test_cross_doc_copy_removed_from_later_doc_only(self, spark):
        got = self._run(
            spark,
            [
                (1, "shared boiler plate tail one"),
                (2, "shared boiler plate tail two"),  # copies doc 1's 4-gram run
                (3, "totally different words here now"),
            ],
        )
        # doc 1 holds every global-first occurrence: untouched
        assert got[1]["tokens_removed"] == 0 and got[1]["tokens_after"] == 5
        # doc 2 loses the 4 tokens covered by the shared 3-gram spans
        # ("shared boiler plate" + "boiler plate tail" cover positions 0-3)
        assert got[2]["tokens_removed"] == 4 and got[2]["tokens_after"] == 1
        assert got[3]["tokens_removed"] == 0

    def test_doc_with_global_first_still_loses_its_own_later_copies(self, spark):
        got = self._run(
            spark,
            [(1, "a b c x a b c"), (2, "a b c y z")],
        )
        # doc 1: first "a b c" (pos 0-2) survives, its second copy
        # (pos 4-6) is removed
        assert got[1]["tokens_removed"] == 3 and got[1]["tokens_after"] == 4
        # doc 2's copy is also a later occurrence of the same gram
        assert got[2]["tokens_removed"] == 3 and got[2]["tokens_after"] == 2

    def test_deterministic_first_is_min_doc_then_pos(self, spark):
        # the SAME rows in reverse insertion order give identical output
        rows = [(5, "p q r s"), (2, "p q r t")]
        a = self._run(spark, rows)
        b = self._run(spark, list(reversed(rows)))
        assert {k: tuple(v) for k, v in a.items()} == {
            k: tuple(v) for k, v in b.items()
        }
        # doc 2 (min id) keeps the shared "p q r"; doc 5 loses it
        assert a[2]["tokens_removed"] == 0
        assert a[5]["tokens_removed"] == 3 and a[5]["tokens_after"] == 1

    def test_short_docs_pass_through(self, spark):
        got = self._run(spark, [(1, "only two"), (2, "only two")], n=3)
        # below span length: nothing to hash, nothing removed
        assert got[1]["tokens_removed"] == 0 and got[2]["tokens_removed"] == 0
