"""SparkSession factory.

Reference: /root/reference/spark/covid_streaming.py:12-20 builds a session
with fixed tiny resources (512m driver, shuffle.partitions=2) suitable for
~300-row micro-batches.  This engine instead sizes for the host and keeps
everything configurable, with scale-oriented defaults:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle partition count is always wrong for some stage.  One
  consequence for lineage truncation: under AQE,
  ``Dataset.localCheckpoint(eager=False)`` is not lazy.  It runs every
  shuffle and broadcast stage of its frame at the call, one job each;
  only the result stage that writes the checkpointed rows waits for the
  next action.  A ``groupBy`` + sort-merge-join frame runs 2 jobs at the
  call with AQE on and 0 with it off; a broadcast runs at the call
  either way;
- session timezone pinned to UTC so event-time windows are deterministic
  across drivers/executors;
- Arrow enabled for the (rare) pandas-UDF paths;
- a generated-code class cache (``CODEGEN_CACHE_MAX_ENTRIES``) larger
  than the engine's working set, so a streaming epoch reuses the classes
  earlier epochs compiled instead of recompiling them in Janino.  It is a
  static conf: it only takes effect when set on the JVM's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdata-covid19-real-time-spark"

#: ``spark.sql.codegen.cache.maxEntries`` (Spark's default: 100), sized
#: above the engine's working sets (4 cores).  One epoch of
#: ``CovidPipeline(mode="streaming")`` needs about 140 distinct generated
#: classes across its three queries, so at 100 every epoch evicted what
#: the next one needed and recompiled 124-135 classes; at 1000 a warm
#: epoch compiles about 23, the plans whose inlined literals changed.
#: One ``queries_mix`` benchmark run needs 333 distinct classes and
#: compiles 774 at the default limit.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores) when not
    running under a cluster manager.  On a real cluster pass ``master=None``
    and launch via spark-submit; the builder then inherits the submit conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # micro-batch pipelines re-read small plans often; keep broadcast
        # threshold at default 10 MB (dimension tables here are tiny).
        "spark.driver.memory": driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.stopActiveRunOnRestart": "true",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
