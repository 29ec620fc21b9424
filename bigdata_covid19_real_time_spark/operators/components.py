"""Connected components over near-duplicate pair lists.

Pair-producing operators (minhash.py / simhash.py / similarity.py) stop
at edges; corpus dedup needs the transitive closure: if A~B and B~C,
one canonical survivor must represent {A, B, C} even though (A, C) was
never emitted.  This module resolves pair lists into components with an
iterative DataFrame algorithm — no GraphX/GraphFrames dependency, no
driver-side graph.

Algorithm: min-label propagation with pointer jumping.  Each round a
node's label becomes ``min(own, min(neighbor labels))`` (propagation,
one shuffle on the edge key) and then ``label := label[label]``
(pointer jumping, one self-join) — the classic PRAM hooking/shortcut
pair, converging in O(log n) rounds instead of O(diameter).  Near-dup
components are LSH-verified clusters — near-cliques of small diameter —
so in practice 2–3 rounds suffice; the pointer jump is what keeps
pathological chain-shaped components (shared boilerplate spanning many
docs) from degrading to O(n) rounds.

Convergence detection without a join: labels only ever decrease, and at
least one strictly decreases per non-converged round, so the global
``sum(label)`` is strictly monotone until fixpoint — one cheap
aggregate action per round replaces a changed-rows anti-join.

Scale notes (100 TB corpus => billions of nodes, but edges only between
near-dups): every round is one shuffle of the (long, long) label table
on its key plus one on the edge list — bytes are 16/row regardless of
document size, because labels join the pair list, never the corpus.
Lineage is truncated every round (``localCheckpoint``); for cluster
runs with executor churn, set a reliable checkpoint dir
(``spark.sparkContext.setCheckpointDir``) and this switches to fault-
tolerant ``checkpoint()`` automatically.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd


#: Distinct directed-edge count under which the closure runs driver-side
#: via union-find.  Near-dup edge lists are SPARSE by construction (LSH
#: banding + bucket caps bound candidate pairs), so even very large
#: corpora commonly produce edge tables of a few million rows — 2M
#: (long, long) rows is ~32 MB on the driver, and a python union-find
#: pass replaces ~3 Spark jobs per pointer-jumping round.  Above the
#: threshold the distributed loop below takes over unchanged.  PageRank
#: (``pagerank.py``) and label propagation (``plans/stewardship.py``)
#: gate their driver-side rounds on the same edge count.
LOCAL_CC_MAX_EDGES = 2_000_000


def collect_bounded(df: DataFrame, max_rows: int) -> pd.DataFrame | None:
    """``df``'s rows as a pandas frame, or None when it holds more than
    ``max_rows`` rows — one job where ``count()`` then ``collect()`` ran
    two.  The rows travel as Arrow batches: ``toArrow`` uses Arrow
    whatever the session's Arrow conf says, where ``toPandas`` would
    not (``tests/test_conf_surface.py``).  The driver-side graph paths
    gate on it: the closure here, LPA in ``plans/stewardship.py``,
    ``pagerank.pagerank`` and BPE training in ``bpe.train_bpe_merges``."""
    pdf = df.limit(max_rows + 1).toArrow().to_pandas()
    return None if len(pdf) > max_rows else pdf


def _cc_local(edges: Iterable[tuple[int, int]]) -> list[tuple[int, int]]:
    """Driver-side union-find with path compression — same output
    contract as the distributed loop: one (node, component) row per
    distinct node, component = min id of the node's component
    (deterministic regardless of union order)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-root union
    # min-root union keeps every root the minimum of its set already
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve an undirected pair list into connected components.

    Returns ``(node, component)`` — one row per distinct id appearing in
    ``pairs``, where ``component`` is the minimum id of the node's
    component (a deterministic, join-stable cluster key).

    Hybrid execution: the (possibly expensive) pair pipeline and edge
    dedup always run distributed; the CLOSURE runs driver-side
    union-find when the distinct edge table has at most
    ``LOCAL_CC_MAX_EDGES`` rows (near-dup graphs are sparse by
    construction), else the pointer-jumping loop.
    Both paths produce identical labels (``tests/test_components.py``
    pins the parity).

    Raises ``RuntimeError`` if ``max_iter`` rounds don't reach the
    fixpoint — with pointer jumping that would take a component of
    diameter > 2^max_iter, i.e. a malformed input, and a silent partial
    closure would merge dedup clusters incorrectly.
    """
    sc = pairs.sparkSession.sparkContext
    has_reliable_ckpt = sc.getCheckpointDir() is not None

    def _truncate(df: DataFrame) -> DataFrame:
        # Lazy form: the checkpoint's result stage writes its rows during
        # the round's one action (the convergence sum) instead of in a
        # job of its own; the shuffle stages still run at the call (see
        # ``session.py`` on AQE).  Reliable checkpoint() has no lazy
        # form, so cluster runs keep the eager variant.
        return (
            df.checkpoint()
            if has_reliable_ckpt
            else df.localCheckpoint(eager=False)
        )

    src = F.col(id_a).cast("long")
    dst = F.col(id_b).cast("long")
    # Symmetrize with ONE evaluation of the (possibly expensive) pair
    # pipeline: explode each pair into both directions instead of
    # union-ing two scans of the input plan.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(src.alias("src"), dst.alias("dst")),
                F.struct(dst.alias("src"), src.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = _truncate(edges.distinct())

    pdf = collect_bounded(edges, LOCAL_CC_MAX_EDGES)
    if pdf is not None:
        import pandas as pd

        rows = _cc_local(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        # Arrow-backed return: a plain createDataFrame(python_rows)
        # re-ships pickled rows on EVERY downstream action (~0.8 s
        # per action in this container vs ~0.2 s Arrow-batched —
        # measured; composed queries like the curation waterfall
        # run several actions over this frame).
        pdf = pd.DataFrame(
            rows, columns=["node", "component"], dtype="int64"
        )
        return pairs.sparkSession.createDataFrame(
            pdf, "node long, component long"
        )

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    labels = _truncate(labels)
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]

    for _ in range(max_iter):
        # Propagation: pull the minimum label across each node's
        # neighborhood (shuffle key: node id, 8 bytes).
        neigh_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("component").alias("ncomp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("ncomp").alias("nmin"))
            .select(F.col("src").alias("node"), "nmin")
        )
        hooked = (
            labels.join(neigh_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        # Pointer jump: component ids are themselves node ids, so follow
        # one hop of the label table (inner join always matches).
        labels = (
            hooked.join(
                hooked.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("jumped"),
                ),
                "component",
            )
            .select("node", F.col("jumped").alias("component"))
        )
        labels = _truncate(labels)
        new_sum = labels.agg(F.sum("component")).collect()[0][0]
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum

    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds 2^max_iter or input is unstable"
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Pair list -> per-document cluster assignment with survivor flag.

    Output: ``(doc_id, cluster_id, cluster_size, is_canonical)`` for
    every document that appears in at least one near-dup pair.  The
    canonical survivor is the minimum doc_id per component (the standard
    deterministic keep-one policy); downstream, a ``left_anti`` join of
    the corpus against the non-canonical rows removes the duplicates.
    """
    cc = connected_components(pairs, id_a, id_b)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
    )
