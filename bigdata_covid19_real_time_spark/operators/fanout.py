"""Scale-adaptive scan fan-out for CPU-heavy narrow maps.

The engine's text/fingerprint operators (shingle hashing, winnowing,
SimHash votes, CDC boundary scans) do heavy per-row JVM work in the
stage that reads the input.  Scan parallelism is decided by file
layout: Spark assigns one task per file split, and a parquet file is
splittable only at row-group boundaries.  A corpus packed into fewer
splits than the cluster has cores therefore serializes the whole map
stage onto a handful of tasks while the rest of the machine idles —
measured at bench scale: 3.5 s of single-task CPU on a 32-core host
for ``docs_winnow_fingerprints`` (the guide's §2 "partitioning should
derive from input size, not a constant" case).

:func:`fan_out_scan` repartitions ONLY when the input's planned
partition count is below the session's default parallelism, so:

- at 100 TB (thousands of splits per table) it is a provable no-op —
  no added exchange, no text riding a shuffle;
- on under-split inputs (one giant gzip, a single-row-group parquet,
  the local bench corpus) it buys full-width parallelism for the price
  of shuffling the pruned input columns once.

When the heavy map feeds a ``groupBy(key)``, pass ``key``: the fan-out
then hash-partitions on that key — targeting the session's
``defaultParallelism``, the same partition count the keyless path uses
(NOT ``spark.sql.shuffle.partitions``; see the inline comment at the
target computation) — and the downstream aggregation reuses the
partitioning instead of inserting its own exchange: same total
exchange count as the un-fanned plan, with the map work distributed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Logical nodes whose presence in the lineage disqualifies a frame:
#: they either imply the frame is already post-exchange parallel, or
#: (the round-14 hard lesson) make the ``df.rdd`` partition probe
#: non-free — under AQE, converting a frame with exchanges in its
#: lineage to an RDD EXECUTES the upstream query stages eagerly
#: (measured 2.3x on the curation waterfall before this guard).
#: Matched as NODE NAMES at line starts of the analyzed-plan tree
#: string (a column literally named e.g. ``sort_key`` appears inside
#: brackets mid-line and does not false-positive) — round-15 advice
#: closure: Except/Intersect added, identifier collisions fixed.
_SHUFFLE_NODE_RE = re.compile(
    r"^[\s:+|-]*(?:"
    r"Join|Aggregate|Repartition|Window|Sort|Deduplicate|Distinct|"
    r"InMemoryRelation|Union|GlobalLimit|LocalLimit|Except|Intersect"
    r")\b",
    re.MULTILINE,
)

#: Planned-partition-count memo: ``df.rdd.getNumPartitions()`` runs a
#: full physical planning of the input per call (measured 0.1–1 s),
#: and operators composed several times per query re-probe the same
#: scan repeatedly (round-15 advice closure).  For the scan-shaped
#: frames the guard admits, the planned split count is a function of
#: the scanned FILES alone (FilePartition packing is byte-based;
#: column pruning does not change it), so the memo keys on the
#: session + each input file's (path, length, modification time) and
#: collapses every projection of the same table to ONE physical
#: planning per session, while a file rewritten in place gets a new
#: key.  Frames with no file inputs (e.g. ``spark.range``) key on the
#: semantic hash of the analyzed plan instead.  Bounded so a
#: long-lived session cannot grow it without limit.  Kept apart from
#: ``sources/batch.py``'s schema catalog: the split count also depends
#: on ``maxPartitionBytes``, ``openCostInBytes`` and
#: ``defaultParallelism``, so computing it at load time would add one
#: physical planning per table, and a memo hit already runs no job.
_PROBE_MEMO: dict[tuple, int] = {}
_PROBE_MEMO_MAX = 4096


def _file_identities(df: DataFrame) -> tuple:
    """Sorted (path, length, mtime) of every file the frame scans, read
    from the file indexes of its optimized plan's relations (the plan
    and listing ``DataFrame.inputFiles`` reads): no Spark job, no new
    listing."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() != "HadoopFsRelation":
            continue
        statuses = relation.location().allFiles()
        for j in range(statuses.size()):
            st = statuses.apply(j)
            out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def fan_out_scan(
    df: DataFrame, key: str | Column | list | None = None
) -> DataFrame:
    """Repartition ``df`` iff its planned partition count is below the
    session's parallelism (see module docstring).  ``key`` keeps the
    fan-out reusable by a downstream ``groupBy(key)``/join on ``key``.
    """
    # Guard: only probe/repartition SCAN-SHAPED frames (scan + narrow
    # ops) — see _SHUFFLE_NODE_RE.  Every py4j touch (queryExecution,
    # sparkContext, the .rdd probe) stays inside a try so non-classic
    # backends (Spark Connect has no _jdf/sparkContext) fall through to
    # the identity return instead of raising.
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        if _SHUFFLE_NODE_RE.search(analyzed):
            return df
        # defaultParallelism (the session's core count) — deliberately
        # NOT spark.sql.shuffle.partitions: a downstream groupBy(key)'s
        # ClusteredDistribution is satisfied by a hash partitioning on
        # the key at ANY partition count, and reading session conf here
        # would widen the package's pinned conf-touch surface
        # (tests/test_conf_surface.py) for no behavioral gain.
        target = df.sparkSession.sparkContext.defaultParallelism
        session_id = df.sparkSession._jsparkSession._target_id  # noqa: SLF001
        files = _file_identities(df)
        memo_key = (session_id, files) if files else (session_id, df.semanticHash())
        n = _PROBE_MEMO.get(memo_key)
        if n is None:
            n = df.rdd.getNumPartitions()
            if len(_PROBE_MEMO) >= _PROBE_MEMO_MAX:
                _PROBE_MEMO.clear()
            _PROBE_MEMO[memo_key] = n
    except Exception:  # noqa: BLE001 — connect/other backends: skip quietly
        return df
    if n >= target:
        return df
    if key is None:
        return df.repartition(target)
    cols = key if isinstance(key, list) else [key]
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    return df.repartition(target, *cols)
