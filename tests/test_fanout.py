"""Pins for operators/fanout.py::fan_out_scan (round-15 verdict task 5).

The helper carries two load-bearing invariants that were previously
enforced only by an unstated convention:

1. **No-op at scale**: an input whose planned partition count already
   reaches the session's defaultParallelism must come back IDENTICAL
   (the 100 TB no-op property — the bench corpus is the only place the
   fan-out fires).
2. **Refusal of non-scan lineage**: a frame whose lineage contains a
   shuffle-inducing node (join, aggregate, ...) must come back
   identical WITHOUT the partition probe running — under AQE the
   ``df.rdd`` probe EXECUTES upstream query stages eagerly, which is
   the 2.3x regression the guard exists to prevent.  The tests poison
   the child stages with ``assert_true(false)`` expressions: if the
   guard ever lets the probe through, the probe executes the poisoned
   stage and the test fails loudly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.operators import fanout
from bigdata_covid19_real_time_spark.operators.fanout import fan_out_scan


def _poisoned(spark, n=10):
    """A scan-shaped frame whose EXECUTION raises (assert_true fails on
    every row) but whose ANALYSIS is clean — executing any stage built
    on it fails the test."""
    return spark.range(n).select(
        F.col("id"),
        F.assert_true(F.col("id") < F.lit(0)).alias("__poison"),
    )


def test_noop_when_input_already_parallel(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, numPartitions=par + 2).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    out = fan_out_scan(df, key="k")
    assert out is df  # identity, not merely equal: no node was added
    assert fan_out_scan(df) is df


def test_refuses_join_lineage_without_probing(spark):
    a = _poisoned(spark).select("id", "__poison")
    b = spark.range(10).select(F.col("id"))
    joined = a.join(b, "id")
    # Guard must bail on the Join node BEFORE the df.rdd probe: the
    # probe would execute the poisoned child stage and raise.
    assert fan_out_scan(joined) is joined
    assert fan_out_scan(joined, key="id") is joined


def test_refuses_aggregate_lineage_without_probing(spark):
    agg = (
        _poisoned(spark)
        .groupBy((F.col("id") % 3).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert fan_out_scan(agg) is agg


def test_refuses_except_and_intersect_lineage(spark):
    # round-15 advice closure: Except/Intersect are shuffle-inducing
    # nodes the original token list omitted
    a = _poisoned(spark).select("id")
    b = spark.range(5).select("id")
    for frame in (a.exceptAll(b), a.subtract(b), a.intersect(b)):
        assert fan_out_scan(frame) is frame


def test_column_named_like_node_does_not_disable(spark):
    # identifier collision (advice item): a column literally named
    # "Sort" appears mid-line in the analyzed tree and must NOT trip
    # the node guard — the single-partition scan still fans out
    df = spark.range(0, 100, 1, numPartitions=1).select(
        F.col("id").alias("Sort"), F.col("id").alias("Union")
    )
    out = fan_out_scan(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fans_out_single_partition_scan_keyless(spark):
    df = spark.range(0, 100, 1, numPartitions=1).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    out = fan_out_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_keyed_fanout_exchange_is_reused_by_groupby(spark):
    df = spark.range(0, 100, 1, numPartitions=1).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    out = fan_out_scan(df, key="k")
    agg = out.groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # exactly ONE exchange: the keyed fan-out satisfies the groupBy's
    # clustered distribution, so the aggregation adds no exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert agg.count() == 7


def test_probe_memo_caches_partition_count(spark):
    fanout._PROBE_MEMO.clear()
    df = spark.range(0, 50, 1, numPartitions=1).select(
        F.col("id").alias("k")
    )
    fan_out_scan(df)
    assert len(fanout._PROBE_MEMO) == 1
    # a semantically-equal rebuild hits the memo (same single entry)
    df2 = spark.range(0, 50, 1, numPartitions=1).select(
        F.col("id").alias("k")
    )
    fan_out_scan(df2)
    assert len(fanout._PROBE_MEMO) == 1
    assert next(iter(fanout._PROBE_MEMO.values())) == 1


def test_probe_memo_sees_a_table_rewritten_in_place(spark, tmp_path):
    # a 100-row file plans one split and fans out; rewritten in place at
    # 200k rows it plans well over defaultParallelism splits, so the
    # fan-out must now be a no-op — a memo keyed on the path alone
    # served the stale count of 1 and added a shuffle
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")

    def write(n):
        ids = pa.array(range(n), pa.int64())
        pq.write_table(pa.table({"id": ids}), path, row_group_size=5000)

    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "64k")
    try:
        write(100)
        small = spark.read.parquet(path)
        assert fan_out_scan(small) is not small
        write(200_000)
        big = spark.read.parquet(path)
        assert big.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
        assert fan_out_scan(big) is big
    finally:
        spark.conf.set(conf, old)
