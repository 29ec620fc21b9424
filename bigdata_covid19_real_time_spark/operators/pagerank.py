"""Fixed-iteration PageRank over an edge list.

Graph centrality over entity graphs derived from the corpus (the
quality signal web-corpus pipelines compute over the domain link graph
— harmonic/PageRank centrality feeds crawl prioritization and
quality weighting).  No GraphX/GraphFrames dependency.

Semantics (the gate's SQL oracle replicates exactly):
- ranks init to 1/N over the node set (sources ∪ destinations);
- per round: ``rank = (1-d)/N + d * (in_contrib + dangling_mass/N)``
  where ``in_contrib`` sums ``rank/out_degree`` over in-edges and
  ``dangling_mass`` is the rank held by nodes with no out-edges;
- a FIXED iteration count (deterministic output, oracle-expressible),
  not a convergence loop.

Hybrid execution (the ``components.connected_components`` precedent):
the edge build and dedup always run distributed.  When the distinct
edge list has at most ``LOCAL_CC_MAX_EDGES`` rows, one bounded collect
brings it to the driver and the power iteration runs in numpy — a
``bincount`` per round.  Above the threshold each round is a join +
groupBy: it shuffles the edge list once on ``src`` (join ranks) and
once on ``dst`` (sum contributions) — rows are (long, long, double);
N and the dangling mass ride as broadcast 1-row frames, never a
driver-side collect in the loop.  Both paths agree to 1e-12
(``tests/test_components.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators.components import (
    LOCAL_CC_MAX_EDGES,
    collect_bounded,
)


def _pagerank_local(
    src: np.ndarray, dst: np.ndarray, n_iters: int, damping: float
) -> pd.DataFrame:
    """The distributed loop's rounds over driver-side edge arrays: one
    (node, rank) row per distinct endpoint, nodes ascending."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    if n == 0:  # no edges: no nodes, and 1/N is undefined
        return pd.DataFrame({"node": nodes, "rank": np.empty(0)})
    rank = np.full(n, 1.0 / n)
    s, d = idx[: len(src)], idx[len(src):]
    out_deg = np.bincount(s, minlength=n)
    dangling = out_deg == 0
    for _ in range(n_iters):
        in_contrib = np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
        rank = (1.0 - damping) / n + damping * (
            in_contrib + rank[dangling].sum() / n
        )
    return pd.DataFrame({"node": nodes, "rank": rank})


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after ``n_iters`` power iterations over the
    directed ``edges`` frame.  Ranks sum to 1 (dangling mass is
    redistributed uniformly)."""
    # Each localCheckpoint cuts the Catalyst plan at the RDD boundary
    # so the loop's plans stay shallow; the lazy form still runs the
    # frame's shuffle stages at the call (see ``session.py`` on AQE).
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct().localCheckpoint(eager=False)

    local = collect_bounded(e, LOCAL_CC_MAX_EDGES)
    # A null endpoint never matches a join key, which the numpy rounds
    # do not model: such a graph keeps the distributed loop.
    if local is not None and not local.isna().to_numpy().any():
        pdf = _pagerank_local(
            local["src"].to_numpy("int64"),
            local["dst"].to_numpy("int64"),
            n_iters,
            damping,
        )
        return edges.sparkSession.createDataFrame(pdf, "node long, rank double")

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_frame = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("__n")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__out"))
    # Loop-invariant hoist: the (src, dst, out_degree) frame does not
    # change across iterations — joining deg inside the loop re-ran the
    # degree aggregate + join every round.
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    # The dangling-node SET is loop-invariant too (nodes with no
    # out-edge); only the rank mass over it changes per round.
    dangling_nodes = nodes.join(
        deg.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)

    ranks = nodes.join(n_frame).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(n_iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("__out")).alias("__m"))
        )
        dangling = F.broadcast(
            ranks.join(dangling_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .join(dangling)
            .join(n_frame)
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__m"), F.lit(0.0))
                        + F.col("__dm") / F.col("__n")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks
