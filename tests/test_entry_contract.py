"""Replicates the driver's correctness gate: every registered query runs
on Spark AND its DuckDB oracle on the same parquet, then row count +
column names + sorted values must match exactly.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod
from bigdata_covid19_real_time_spark.sources.batch import TABLES

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
from selfcheck import normalize  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


QUERY_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    from pyspark.sql.types import ArrayType, MapType, StructType

    qfn = entry_mod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    # Registry-wide scalar-columns pin: the driver's oracle harness
    # canonicalizes via pandas sort_values, which cannot hash list cells
    # (docs_posting_lists red-barred round 6 on its array<string>
    # column).  No registered query may return array/map/struct output.
    complex_cols = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: non-scalar output columns {complex_cols} — the driver "
        "harness cannot canonicalize these; project to scalars"
    )
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    ores = duck.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"

    snorm = normalize(srows, scols)
    onorm = normalize(orows, ocols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(snorm, onorm)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_oracle_or_reason(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles).issubset(set(qs))
    # every registered query is runnable
    assert len(qs) >= 10


def test_bench_headline_tracks_registry():
    """The bench headline covers the registry minus the documented
    EXCLUDED set — a static list drifted 9 queries stale in round 3."""
    import bench
    from bigdata_covid19_real_time_spark.plans import QUERIES

    names = bench._headline()
    assert set(names) == set(QUERIES) - set(bench.EXCLUDED)
    assert set(bench.EXCLUDED) <= set(QUERIES)
    for reason in bench.EXCLUDED.values():
        assert len(reason) > 40  # every exclusion carries a real reason


def test_bench_order_frozen_to_r3():
    """Methodology lock (round-3 verdict task 5): the first 125 headline
    entries are exactly round 3's loop order, so the committed
    ``frozen_total_sec`` compares headline-to-headline; anything newer
    appends after the frozen block."""
    import bench

    names = bench._headline()
    assert names[: len(bench.FROZEN_HEADLINE_ORDER)] == bench.FROZEN_HEADLINE_ORDER
    assert len(bench.FROZEN_HEADLINE_ORDER) == 125


def test_gate_window_prioritizes_unverified_queries():
    """The driver's correctness gate checks the first ~50 entries of
    queries() in dict order.  Round 14's window: rotation from the
    OLDEST green driver rows — the full round-9 residue (29 queries)
    plus the 11 oldest round-10 rows — and the round's changed-code
    re-gates (the round-13-advice non-numeric-conf pin skip touched
    stream_replay's shared _run_to_memory and corpus_replay, so all
    ten of their gated queries re-enter).  oracle_sql() iterates in
    the same order so the driver sees identical windows from both."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(qs)
    n = len(entry_mod.GATE_PRIORITY)
    # 29 round-9 canaries + 10 changed-code re-gates + 11 round-10
    # top-ups = exactly the driver's measured 50-row gate window
    # (CORRECTNESS_r07/r08 checked 50), so no window entry silently
    # falls off the cut
    assert n == 50
    assert names[:n] == entry_mod.GATE_PRIORITY
    assert all(name in oracles for name in names[:n])
    assert list(oracles)[:n] == names[:n]
    # the oldest canaries and the changed-code re-gates ride along
    for must in (
        "lineitem_corr_stats",
        "purchase_funnel",
        "docs_thumbnail_plan",
        "events_stream_interval_join_left_replay",
        "events_stream_interval_join_replay",
        "docs_corpus_ingest_replay",
        "docs_stream_decontam_replay",
        "embedding_pq_topk",
        "docs_weighted_sample",
    ):
        assert must in names[:n]
    # the rest keeps registration order (no accidental shuffling)
    from bigdata_covid19_real_time_spark.plans import QUERIES

    prio = set(entry_mod.GATE_PRIORITY)
    assert names[n:] == [q for q in QUERIES if q not in prio]


def test_drift_probe_contract():
    """The drift probes are frozen-headline queries with positive
    committed baselines — so probe_factor is always computable and the
    probe never times a query the registry could drop (round-6 verdict
    task 2)."""
    import bench

    assert len(bench.PROBE_BASELINE_SEC) == 5
    for name, sec in bench.PROBE_BASELINE_SEC.items():
        assert name in bench.FROZEN_HEADLINE_ORDER, name
        assert sec > 0, name


def test_readme_test_count_is_exact(request):
    """README's advertised test count has drifted twice (612 vs 613,
    round-7 verdict nit); derive it from the live collection instead
    of trusting hand-edits.  Skips on partial runs (-k/-m or a subset
    path) where the collected count is not the suite size."""
    import re

    cfg = request.config
    if (
        cfg.getoption("-k")
        or cfg.getoption("-m")
        or cfg.getoption("--deselect", default=[])
        or cfg.getoption("--ignore", default=[])
        or cfg.getoption("--ignore-glob", default=[])
    ):
        pytest.skip("filtered run: collection is partial")
    # only a plain full-suite invocation (repo root or tests dir) counts
    tests_root = os.path.abspath(os.path.dirname(__file__))
    repo_root = os.path.abspath(os.path.join(tests_root, ".."))
    args = [os.path.abspath(a.split("::")[0]) for a in cfg.args]
    if not all(a in (tests_root, repo_root) for a in args):
        pytest.skip("subset run: collection is partial")
    readme = open(os.path.join(repo_root, "README.md")).read()
    m = re.search(r"#\s*(\d+) tests incl\.", readme)
    assert m, "README no longer documents the test count"
    advertised = int(m.group(1))
    collected = len(request.session.items)
    assert collected == advertised, (
        f"README says {advertised} tests, the suite collects {collected} — "
        "update README.md's pytest line"
    )


def _load_replay_bench():
    import importlib.util

    repo_root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    spec = importlib.util.spec_from_file_location(
        "replay_bench", os.path.join(repo_root, "tools", "replay_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replay_bench_delta_same_fixture_set():
    """vs_prior_round over identical fixture sets: ratio is the plain
    total ratio, no change flag, worst query identified (round-11
    advice #2 — the delta block must stay honest when sets drift)."""
    rb = _load_replay_bench()
    cur = {"a": 2.0, "b": 4.0}
    prior = {"round": 11, "queries_sec_normalized": {"a": 1.0, "b": 5.0}}
    d = rb.vs_prior_round(cur, prior)
    assert d["prior_round"] == 11
    assert d["fixture_set_changed"] is False
    assert d["compared_fixtures"] == 2
    assert d["only_in_current"] == [] and d["only_in_prior"] == []
    assert d["normalized_total_ratio"] == 1.0  # 6.0 / 6.0
    assert d["worst_query"] == "a" and d["worst_query_ratio"] == 2.0


def test_replay_bench_delta_fixture_set_changed():
    """vs_prior_round when the EXCLUDED set gained/lost fixtures: the
    ratio is computed over the INTERSECTION only (like-for-like), the
    change is flagged, and the disjoint names are listed — a whole-file
    total ratio here would silently compare different workloads."""
    rb = _load_replay_bench()
    cur = {"a": 3.0, "new": 100.0}
    prior = {"round": 11, "queries_sec_normalized": {"a": 2.0, "gone": 50.0}}
    d = rb.vs_prior_round(cur, prior)
    assert d["fixture_set_changed"] is True
    assert d["compared_fixtures"] == 1
    assert d["only_in_current"] == ["new"]
    assert d["only_in_prior"] == ["gone"]
    assert d["normalized_total_ratio"] == 1.5  # 3.0/2.0 over {a} only
    assert d["worst_query"] == "a" and d["worst_query_ratio"] == 1.5


def test_replay_bench_delta_zero_ratio_and_empty_intersection():
    """Round-12 advice: a legitimate 0.0 ratio must survive the
    rounding guard (not collapse to None), and a disjoint fixture set
    must say so explicitly instead of leaving ratio=None as the only
    clue."""
    rb = _load_replay_bench()
    d = rb.vs_prior_round(
        {"a": 0.0}, {"round": 12, "queries_sec_normalized": {"a": 2.0}}
    )
    assert d["normalized_total_ratio"] == 0.0
    assert d["empty_intersection"] is False
    d = rb.vs_prior_round(
        {"x": 1.0}, {"round": 12, "queries_sec_normalized": {"y": 2.0}}
    )
    assert d["compared_fixtures"] == 0
    assert d["empty_intersection"] is True
    assert d["normalized_total_ratio"] is None
    assert d["prior_total_zero"] is False


def test_replay_bench_delta_prior_total_zero_is_flagged():
    """Round-13 advice #3: a prior total of exactly 0.0 over a
    NON-empty intersection is legitimate data, not 'no prior' — the
    ratio stays None (undefined) but the distinct prior_total_zero
    flag separates it from the empty-intersection case."""
    rb = _load_replay_bench()
    d = rb.vs_prior_round(
        {"a": 1.0}, {"round": 13, "queries_sec_normalized": {"a": 0.0}}
    )
    assert d["normalized_total_ratio"] is None
    assert d["prior_total_zero"] is True
    assert d["empty_intersection"] is False
    # and the healthy path carries the flag as False
    d = rb.vs_prior_round(
        {"a": 1.0}, {"round": 13, "queries_sec_normalized": {"a": 2.0}}
    )
    assert d["prior_total_zero"] is False
    assert d["normalized_total_ratio"] == 0.5
