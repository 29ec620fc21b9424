"""Hand-built-fixture tests for the experimentation batch (MMR,
walk-forward folds, Poisson-bootstrap CI, CUPED)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F


def _write(spark, d, name, rows, schema, post=None):
    df = spark.createDataFrame(rows, schema)
    if post is not None:
        df = post(df)
    df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))


def test_mmr_prefers_diverse_over_near_duplicate(spark):
    """d1 and d2 point the SAME direction (cos=0.95 to q, cos=1 to
    each other); d3 has cos 0.8 to q but only ~0.573 to d1.  Pure
    cosine ranks d2 second; MMR (lambda=0.7) must rank d3 second:
    0.7*0.8 - 0.3*0.573 = 0.388 > 0.7*0.95 - 0.3*1 = 0.365.  d4 is the
    zero vector: its cosine is 0.0 (ANSI mode would otherwise stop the
    query with DIVIDE_BY_ZERO), so it joins the pool but is never
    picked."""
    vecs = [
        (0, [1.0, 0.0, 0.0], 0),            # query
        (1, [0.95, 0.31225, 0.0], 0),       # d1: cos(q) = 0.95
        (2, [1.9, 0.6245, 0.0], 0),         # d2 = 2*d1: same direction
        (3, [0.8, -0.6, 0.0], 0),           # d3: cos(q)=0.8, far from d1
        (4, [0.0, 0.0, 0.0], 0),            # d4: zero norm
    ]
    d = tempfile.mkdtemp()
    _write(spark, d, "embeddings", vecs,
           "vec_id long, embedding array<float>, label int")
    import duckdb

    from bigdata_covid19_real_time_spark.plans import ORACLES, QUERIES

    got = {r["rank"]: r for r in
           QUERIES["embedding_mmr_topk"](spark, d).collect()}
    assert got[1]["vec_id"] == 1  # cosine tie with d2 broken by id
    assert got[2]["vec_id"] == 3  # diversity beats the near-duplicate
    assert got[3]["vec_id"] == 2
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'embeddings.parquet', '*.parquet')}')"
    )
    want = sorted(con.execute(ORACLES["embedding_mmr_topk"]).fetchall())
    con.close()
    assert sorted(tuple(r) for r in got.values()) == want


def test_walkforward_fold_boundaries_and_counts(spark):
    """One event per day for 30 days: fold 3 tests on the last 5 days
    (25 train), fold 2 on days 21-25 (20 train), fold 1 on days 16-20
    (15 train)."""
    rows = [(i, f"2024-01-{i:02d} 12:00:00", 1, "view", 1.0)
            for i in range(1, 31)]
    d = tempfile.mkdtemp()
    _write(
        spark, d, "events", rows,
        "event_id long, ts_s string, user_id long, event_type string, value double",
        post=lambda df: df.select(
            "event_id", F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value",
        ),
    )
    from bigdata_covid19_real_time_spark.plans import QUERIES

    got = {r["fold"]: r for r in
           QUERIES["events_walkforward_folds"](spark, d).collect()}
    assert (got[3]["n_train"], got[3]["n_test"]) == (25, 5)
    assert (got[2]["n_train"], got[2]["n_test"]) == (20, 5)
    assert (got[1]["n_train"], got[1]["n_test"]) == (15, 5)
    assert got[3]["test_end"].isoformat() == "2024-01-30"
    assert got[1]["test_start"].isoformat() == "2024-01-16"
    assert got[2]["train_end"].isoformat() == "2024-01-20"


def test_bootstrap_ci_degenerate_constant_sample(spark):
    """All values identical: every resample mean is exactly the value,
    so the CI collapses to a point and the bootstrap SE is 0."""
    rows = [(i, "2024-01-01 10:00:00", i % 3, "buy", 5.0)
            for i in range(40)]
    d = tempfile.mkdtemp()
    _write(
        spark, d, "events", rows,
        "event_id long, ts_s string, user_id long, event_type string, value double",
        post=lambda df: df.select(
            "event_id", F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value",
        ),
    )
    from bigdata_covid19_real_time_spark.plans import QUERIES

    [row] = QUERIES["events_value_bootstrap_ci"](spark, d).collect()
    assert row["mean_value"] == 5.0
    assert row["ci_lo"] == 5.0 and row["ci_hi"] == 5.0
    assert row["boot_se"] == 0.0
    assert row["n_events"] == 40


def test_cuped_perfect_covariate_removes_all_variance(spark):
    """y = 2x exactly across 5 users: theta = 2, the CUPED-adjusted
    variance is 0, and the reduction is 100%."""
    rows = []
    for u in range(1, 6):
        rows.append((u * 10, "2024-01-02 10:00:00", u, "buy", float(u)))
        rows.append((u * 10 + 1, "2024-01-20 10:00:00", u, "buy", 2.0 * u))
    d = tempfile.mkdtemp()
    _write(
        spark, d, "events", rows,
        "event_id long, ts_s string, user_id long, event_type string, value double",
        post=lambda df: df.select(
            "event_id", F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value",
        ),
    )
    from bigdata_covid19_real_time_spark.plans import QUERIES

    [row] = QUERIES["events_cuped_adjustment"](spark, d).collect()
    assert row["theta"] == 2.0
    assert row["var_cuped"] == 0.0
    assert row["reduction_pct"] == 100.0
    assert row["n_users"] == 5
