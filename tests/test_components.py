"""Connected-components / cluster-resolution operator tests."""

from __future__ import annotations

import pytest

from bigdata_covid19_real_time_spark.operators import components as cc
from bigdata_covid19_real_time_spark.operators.components import (
    connected_components,
    dedup_clusters,
)
from tests.conftest import jobs_launched_by


def _cc_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_chain_and_isolated_pair(spark):
    # chain 1-2-3 plus pair 10-11: transitivity must merge the chain.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = _cc_map(connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_path_converges_via_pointer_jumping(spark, monkeypatch):
    # A 64-node path has diameter 63; plain min-propagation needs ~63
    # rounds, pointer jumping needs ~log2(64)+1. max_iter=10 only
    # passes if the shortcut step works, so the distributed loop is
    # forced (the union-find fast path has no rounds).
    monkeypatch.setattr(cc, "LOCAL_CC_MAX_EDGES", -1)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = _cc_map(connected_components(pairs, max_iter=10))
    assert got == {i: 0 for i in range(n)}


def test_edge_order_and_direction_invariance(spark):
    fwd = spark.createDataFrame([(5, 9), (9, 7), (2, 1)], ["doc_a", "doc_b"])
    rev = spark.createDataFrame([(1, 2), (7, 9), (9, 5)], ["doc_a", "doc_b"])
    assert _cc_map(connected_components(fwd)) == _cc_map(connected_components(rev))


def test_nonconvergence_raises(spark, monkeypatch):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], ["doc_a", "doc_b"])
    # distributed path forced: the union-find fast path has no iteration
    # count to exhaust
    monkeypatch.setattr(cc, "LOCAL_CC_MAX_EDGES", -1)
    with pytest.raises(RuntimeError, match="did not converge"):
        # one round cannot close a 41-node path
        connected_components(pairs, max_iter=1)


def test_local_and_distributed_paths_identical(spark, monkeypatch):
    """The union-find fast path (edge count under LOCAL_CC_MAX_EDGES)
    must label identically to the pointer-jumping loop: chain + cycle +
    isolated pair + singleton-heavy shapes."""
    edges = (
        [(i, i + 1) for i in range(15)]          # 16-node path
        + [(100, 101), (101, 102), (102, 100)]   # cycle
        + [(200, 201)]                           # isolated pair
        + [(300, 300)]                           # self-loop
    )
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    local = _cc_map(connected_components(pairs))
    monkeypatch.setattr(cc, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
    dist = _cc_map(connected_components(pairs))
    assert local == dist
    assert local[15] == 0 and local[102] == 100 and local[300] == 300


def test_dedup_clusters_survivor_flags(spark):
    pairs = spark.createDataFrame(
        [(3, 1), (1, 2), (8, 9)], ["doc_a", "doc_b"]
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_canonical"]
    assert rows[2]["cluster_id"] == 1 and not rows[2]["is_canonical"]
    assert rows[3]["cluster_size"] == 3
    assert rows[8]["cluster_id"] == 8 and rows[8]["is_canonical"]
    assert rows[9]["cluster_size"] == 2
    # exactly one canonical per cluster
    canon = [r for r in rows.values() if r["is_canonical"]]
    assert sorted(c["cluster_id"] for c in canon) == [1, 8]


class TestPageRank:
    def test_uniform_cycle_stays_uniform(self, spark):
        from bigdata_covid19_real_time_spark.operators.pagerank import pagerank

        # 3-cycle: symmetric, no dangling -> ranks stay exactly 1/3
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        out = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=4).collect()}
        for v in out.values():
            assert abs(v - 1 / 3) < 1e-12

    def test_hub_collects_rank_and_mass_conserved(self, spark):
        from bigdata_covid19_real_time_spark.operators.pagerank import pagerank

        # stars into node 9 (dangling): 9 should outrank the spokes and
        # total mass stays 1 (dangling redistribution)
        edges = spark.createDataFrame(
            [(1, 9), (2, 9), (3, 9)], "src long, dst long"
        )
        out = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=3).collect()}
        assert out[9] > out[1] == out[2] == out[3]
        assert abs(sum(out.values()) - 1.0) < 1e-9

    def test_driver_and_distributed_paths_agree(self, spark, monkeypatch):
        """The numpy rounds (edge list under LOCAL_CC_MAX_EDGES) must rank
        like the distributed loop: a 3-cycle feeding a dangling hub, a
        self-loop and an isolated pair."""
        import bigdata_covid19_real_time_spark.operators.pagerank as pr

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 9), (4, 9), (5, 9), (6, 6), (7, 8),
             (1, 2)],  # a repeated edge counts once
            "src long, dst long",
        )
        driver = pr.pagerank(edges, n_iters=5)
        local = {r["node"]: r["rank"] for r in driver.collect()}
        monkeypatch.setattr(pr, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
        dist = pr.pagerank(edges, n_iters=5)
        spread = {r["node"]: r["rank"] for r in dist.collect()}
        assert driver.schema == dist.schema
        assert local.keys() == spread.keys() == {1, 2, 3, 4, 5, 6, 7, 8, 9}
        for node, rank in local.items():
            assert abs(rank - spread[node]) < 1e-12, node
        assert abs(sum(local.values()) - 1.0) < 1e-12
        assert local[9] > local[4] == local[5]  # the hub collects its spokes

    def test_empty_edge_list_gives_no_rows(self, spark, monkeypatch):
        import bigdata_covid19_real_time_spark.operators.pagerank as pr

        edges = spark.createDataFrame([], "src long, dst long")
        assert pr.pagerank(edges).collect() == []
        monkeypatch.setattr(pr, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
        assert pr.pagerank(edges).collect() == []

    def test_null_endpoint_ranks_as_on_the_distributed_path(self, spark, monkeypatch):
        """A null id joins nothing in the distributed loop; a graph with
        one keeps that loop rather than failing in the numpy rounds."""
        import bigdata_covid19_real_time_spark.operators.pagerank as pr

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, None), (None, 3)], "src long, dst long"
        )
        got = sorted(pr.pagerank(edges).collect(), key=lambda r: str(r["node"]))
        monkeypatch.setattr(pr, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
        want = sorted(pr.pagerank(edges).collect(), key=lambda r: str(r["node"]))
        assert got == want and len(got) == 4

    def test_small_graph_build_runs_a_fixed_few_jobs(self, spark):
        """Below LOCAL_CC_MAX_EDGES a build runs the edge dedup's stages
        and one bounded collect; the distributed loop's per-round
        truncations ran about 40 jobs here, a number that varied by one
        between identical builds in one session."""
        from bigdata_covid19_real_time_spark.operators.pagerank import pagerank

        edges = spark.createDataFrame(
            [(i, (i * 7 + 3) % 50) for i in range(200)], "src long, dst long"
        )
        counts = [len(jobs_launched_by(spark, lambda: pagerank(edges))[1])
                  for _ in range(5)]
        assert len(set(counts)) == 1, counts
        assert counts[0] <= 3, counts
