"""Hand-built-fixture tests for the stewardship batch (point-in-time
SCD2 join, erasure audit, label-propagation communities)."""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F


def _write(spark, d, name, rows, schema, post=None):
    df = spark.createDataFrame(rows, schema)
    if post is not None:
        df = post(df)
    df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))


ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate_s string, o_orderpriority string"
)
LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate_s string"
)


def _dates(df):
    return (
        df.withColumn("o_orderdate", F.to_timestamp("o_orderdate_s"))
        .drop("o_orderdate_s")
    )


def _li_dates(df):
    return (
        df.withColumn("l_shipdate", F.to_timestamp("l_shipdate_s"))
        .drop("l_shipdate_s")
    )


def test_pit_join_uses_version_at_ship_date(spark):
    """Customer 1 is URGENT from Jan, LOW from Mar.  An item ordered in
    Jan but SHIPPED in April must pick up LOW (the version at ship
    time), not URGENT (the version at order time) — the no-leakage
    point-in-time contract."""
    orders = [
        (1, 1, "O", 10.0, "1995-01-10 00:00:00", "1-URGENT"),
        (2, 1, "O", 10.0, "1995-03-15 00:00:00", "5-LOW"),
    ]
    li = [
        # ordered under URGENT (order 1), shipped 1995-04-02 -> LOW era
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", "1995-04-02"),
        # shipped inside the URGENT era
        (1, 2, 1, 2, 1.0, 200.0, 0.5, 0.0, "N", "O", "1995-02-01"),
    ]
    d = tempfile.mkdtemp()
    _write(spark, d, "orders", orders, ORDERS_SCHEMA, post=_dates)
    _write(spark, d, "lineitem", li, LI_SCHEMA, post=_li_dates)
    from bigdata_covid19_real_time_spark.plans import QUERIES

    out = {r["pit_priority"]: r for r in
           QUERIES["lineitem_pit_priority_mix"](spark, d).collect()}
    assert out["5-LOW"]["n_items"] == 1 and out["5-LOW"]["revenue"] == 100.0
    assert out["1-URGENT"]["n_items"] == 1
    assert out["1-URGENT"]["revenue"] == 100.0  # 200 * (1 - 0.5)


def _in_cohort(key: int, seed: int = 13) -> bool:
    digest = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()
    return (int(digest[:15], 16) % 1_000_000) < 200_000


def test_erasure_audit_replays_hash_cohort(spark):
    """Purge counts equal a python replay of the md5 cohort rule on
    every table, including lineitem's subject resolution through its
    order."""
    users = list(range(1, 30))
    events = [(i, "2024-01-01 00:00:00", u, "view", 1.0, None)
              for i, u in enumerate(users)]
    orders = [(100 + u, u, "O", 10.0, "1995-01-10 00:00:00", "1-URGENT")
              for u in users]
    li = [(100 + u, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-02-01")
          for u in users for _ in range(2)]
    li = [(okey, pk, sk, i + 1, *rest) for i, (okey, pk, sk, _, *rest)
          in enumerate(li)]
    customer = [(u, f"c{u}", f"addr{u}", 0, "x", 1.0, "SEG", "c")
                for u in users]
    d = tempfile.mkdtemp()
    _write(spark, d, "events", events,
           "event_id long, ts_s string, user_id long, event_type string, "
           "value double, props string",
           post=lambda df: df.select(
               "event_id", F.to_timestamp("ts_s").alias("ts"),
               "user_id", "event_type", "value", "props"))
    _write(spark, d, "orders", orders, ORDERS_SCHEMA, post=_dates)
    _write(spark, d, "lineitem", li, LI_SCHEMA, post=_li_dates)
    _write(spark, d, "customer", customer,
           "c_custkey long, c_name string, c_address string, "
           "c_nationkey long, c_phone string, c_acctbal double, "
           "c_mktsegment string, c_comment string")
    from bigdata_covid19_real_time_spark.plans import QUERIES

    out = {r["table_name"]: r for r in
           QUERIES["user_erasure_audit"](spark, d).collect()}
    n_cohort = sum(1 for u in users if _in_cohort(u))
    assert out["events"]["n_purge"] == n_cohort
    assert out["events"]["n_subjects"] == n_cohort
    assert out["orders"]["n_purge"] == n_cohort
    assert out["lineitem"]["n_purge"] == 2 * n_cohort  # 2 items per order
    assert out["customer"]["n_purge"] == n_cohort
    assert out["events"]["n_rows"] == len(users)


def test_lpa_finds_two_cliques_bridged_weakly(spark):
    """Two 3-brand groups, each heavily co-purchased internally with a
    single weak bridge order: label propagation should land each group
    in one community and keep the groups separate."""
    li, okey, pkey = [], 0, 0
    part = [(i, f"p{i}", b, "t", 1, 1.0) for i, b in enumerate(
        ["A1", "A2", "A3", "B1", "B2", "B3"])]
    brand_part = {b: i for i, (b) in enumerate(["A1", "A2", "A3",
                                                "B1", "B2", "B3"])}

    def order_with(brands):
        nonlocal okey
        okey += 1
        for j, b in enumerate(brands):
            li.append((okey, brand_part[b], 1, j + 1, 1.0, 10.0, 0.0, 0.0,
                       "N", "O", "1995-02-01"))

    for _ in range(10):
        order_with(["A1", "A2", "A3"])
        order_with(["B1", "B2", "B3"])
    order_with(["A1", "B1"])  # weak bridge
    d = tempfile.mkdtemp()
    _write(spark, d, "lineitem", li, LI_SCHEMA, post=_li_dates)
    _write(spark, d, "part", part,
           "p_partkey long, p_name string, p_brand string, p_type string, "
           "p_size int, p_retailprice double")
    from bigdata_covid19_real_time_spark.plans import QUERIES

    out = {r["brand"]: r for r in
           QUERIES["brand_copurchase_communities"](spark, d).collect()}
    a_comms = {out[b]["community"] for b in ["A1", "A2", "A3"]}
    b_comms = {out[b]["community"] for b in ["B1", "B2", "B3"]}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms
    assert out["A1"]["community_size"] == 3


def test_lpa_local_and_distributed_paths_agree(spark, monkeypatch):
    """Round-15 hybrid-execution pin (the components-parity pattern):
    the driver-side LPA rounds and the distributed per-round plan must
    produce identical labels and community sizes.  Uses the
    two-cliques fixture plus a shared-popularity brand to exercise the
    weight-sum argmax tie-break on both paths."""
    import bigdata_covid19_real_time_spark.plans.stewardship as st

    li, okey = [], 0
    brands = ["A1", "A2", "A3", "B1", "B2", "B3", "C1"]
    part = [(i, f"p{i}", b, "t", 1, 1.0) for i, b in enumerate(brands)]
    brand_part = {b: i for i, b in enumerate(brands)}

    def order_with(bs):
        nonlocal okey
        okey += 1
        for j, b in enumerate(bs):
            li.append((okey, brand_part[b], 1, j + 1, 1.0, 10.0, 0.0, 0.0,
                       "N", "O", "1995-02-01"))

    for _ in range(7):
        order_with(["A1", "A2", "A3"])
        order_with(["B1", "B2", "B3"])
    for _ in range(3):
        order_with(["C1", "A1"])
        order_with(["C1", "B1"])  # C1 tied between the cliques
    order_with(["A1", "B1"])
    d = tempfile.mkdtemp()
    _write(spark, d, "lineitem", li, LI_SCHEMA, post=_li_dates)
    _write(spark, d, "part", part,
           "p_partkey long, p_name string, p_brand string, p_type string, "
           "p_size int, p_retailprice double")
    from bigdata_covid19_real_time_spark.plans import QUERIES

    local = sorted(
        map(tuple, QUERIES["brand_copurchase_communities"](spark, d).collect())
    )
    monkeypatch.setattr(st, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
    dist = sorted(
        map(tuple, QUERIES["brand_copurchase_communities"](spark, d).collect())
    )
    assert local == dist
    assert len(local) == len(brands)
