"""Batch source readers + partitioned sink layout tests."""

from __future__ import annotations

from bigdata_covid19_real_time_spark.functions.cleaning import clean_observations
from bigdata_covid19_real_time_spark.schema import RAW_FIELDS
from bigdata_covid19_real_time_spark.sinks import FileSink
from bigdata_covid19_real_time_spark.sources.batch import read_raw_csv, read_raw_jsonl
from tests.conftest import frozen_clock, jobs_launched_by, make_raw, obs


def test_read_raw_csv_all_string_schema(spark, tmp_path):
    row = obs("Egypt", "2021-03-15")
    csv = tmp_path / "in.csv"
    csv.write_text(
        ",".join(RAW_FIELDS) + "\n" + ",".join(row[f] for f in RAW_FIELDS) + "\n"
    )
    df = read_raw_csv(spark, str(csv))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 19
    got = df.collect()[0]
    assert got["location"] == "Egypt"
    assert got["total_cases"] == "187000"
    # flows straight into the cleaning stage
    cleaned = clean_observations(df, clock=frozen_clock()).collect()[0]
    assert cleaned["total_cases"] == 187000.0


def test_read_raw_jsonl_malformed_line_is_all_null(spark, tmp_path):
    import json

    p = tmp_path / "in.jsonl"
    p.write_text(json.dumps(obs("Egypt", "2021-03-15")) + "\n{oops\n")
    df = read_raw_jsonl(spark, str(p))
    rows = df.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["location"] is None][0]
    assert all(bad[f] is None for f in RAW_FIELDS)


def test_load_table_pins_utc_against_hostile_session_tz(spark):
    """Correctness must not depend on the caller's session timezone (the
    driver's session is not get_spark()'s): load_table re-pins UTC."""
    from bigdata_covid19_real_time_spark.sources.batch import load_table

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        from pyspark.sql import functions as F

        first = df.orderBy("event_id").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
        ).first()["s"]
        assert first == "2024-01-01 00:09:58"  # UTC rendering, not EST
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_load_table_repeat_launches_no_job(spark):
    """A table's schema is inferred once per session and file set: a
    repeat load reads through the cached schema and runs no Spark job,
    and its frame equals the first load's (events takes the nanos
    path, whose ``ts`` is rebuilt on every load)."""
    from bigdata_covid19_real_time_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    for name in ("orders", "events"):
        first = load_table(spark, sf, name)
        again, jobs = jobs_launched_by(spark, lambda: load_table(spark, sf, name))
        assert jobs == [], name
        # StructType equality covers names, types and nullability
        assert again.schema == first.schema, name
        assert sorted(again.collect()) == sorted(first.collect()), name


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    """Rewriting a table's file changes its (file, size, mtime) key, so
    the next load infers the new schema instead of reusing the old."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_covid19_real_time_spark.sources.batch import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int32())}), path)
    old = load_table(spark, str(tmp_path), "t")
    assert old.dtypes == [("id", "int")]
    assert sorted(r["id"] for r in old.collect()) == [1, 2]

    pq.write_table(
        pa.table({"id": pa.array([3, 4, 5], pa.int64()), "tag": ["a", "b", "c"]}),
        path,
    )
    new = load_table(spark, str(tmp_path), "t")
    assert new.dtypes == [("id", "bigint"), ("tag", "string")]
    assert sorted((r["id"], r["tag"]) for r in new.collect()) == [
        (3, "a"), (4, "b"), (5, "c"),
    ]


def test_file_sink_formats_round_trip(spark, tmp_path):
    """FileSink writes every built-in format; read-back preserves the
    cleaned rows (ORC/parquet typed; JSON/CSV via schema-on-read)."""
    raw = make_raw(spark, [obs("Egypt", "2021-03-15"), obs("France", "2021-03-16")])
    cleaned = clean_observations(raw, clock=frozen_clock()).select(
        "location", "date", "total_cases", "death_rate"
    )
    expect = sorted((r.location, str(r.date), r.total_cases) for r in cleaned.collect())

    for fmt in ["parquet", "orc", "json"]:
        FileSink(str(tmp_path / fmt), fmt=fmt).write(cleaned, 0, "t")
        back = spark.read.format(fmt).load(str(tmp_path / fmt / "t"))
        got = sorted(
            (r["location"], str(r["date"])[:10], float(r["total_cases"]))
            for r in back.collect()
        )
        assert got == expect, fmt

    FileSink(str(tmp_path / "csv"), fmt="csv").write(cleaned, 0, "t")
    back = spark.read.option("header", True).csv(str(tmp_path / "csv" / "t"))
    assert sorted(r["location"] for r in back.collect()) == ["Egypt", "France"]


class TestMergeUpsert:
    def _seed(self, spark, path):
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
            "id long, val string, part string",
        ).write.partitionBy("part").parquet(path)

    def test_upsert_replaces_and_appends_touching_only_affected_partitions(
        self, spark, tmp_path
    ):
        import glob as _glob
        import os as _os

        from bigdata_covid19_real_time_spark.sinks.maintenance import merge_upsert

        path = str(tmp_path / "t")
        self._seed(spark, path)
        untouched_files = sorted(_glob.glob(f"{path}/part=p3/*.parquet"))
        before_mtimes = [_os.path.getmtime(f) for f in untouched_files]

        updates = spark.createDataFrame(
            [(2, "B2", "p1"), (5, "e", "p2")], "id long, val string, part string"
        )
        stats = merge_upsert(spark, path, updates, ["id"], partition_col="part")
        assert stats["partitions_rewritten"] == 2  # p1 (id=2), p2 (id=5)

        got = {
            (r["id"], r["val"], r["part"])
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            (1, "a", "p1"), (2, "B2", "p1"), (3, "c", "p2"),
            (4, "d", "p3"), (5, "e", "p2"),
        }
        # p3 files untouched byte-for-byte (same paths, same mtimes)
        after = sorted(_glob.glob(f"{path}/part=p3/*.parquet"))
        assert after == untouched_files
        assert [_os.path.getmtime(f) for f in after] == before_mtimes

    def test_upsert_moves_key_across_partitions(self, spark, tmp_path):
        from bigdata_covid19_real_time_spark.sinks.maintenance import merge_upsert

        path = str(tmp_path / "t2")
        self._seed(spark, path)
        # id=3 moves p2 -> p3: stale p2 row must disappear
        updates = spark.createDataFrame(
            [(3, "c3", "p3")], "id long, val string, part string"
        )
        merge_upsert(spark, path, updates, ["id"], partition_col="part")
        got = {
            (r["id"], r["part"]) for r in spark.read.parquet(path).collect()
        }
        assert got == {(1, "p1"), (2, "p1"), (3, "p3"), (4, "p3")}

    def test_duplicate_update_keys_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from bigdata_covid19_real_time_spark.sinks.maintenance import merge_upsert

        path = str(tmp_path / "t3")
        self._seed(spark, path)
        updates = spark.createDataFrame(
            [(2, "x", "p1"), (2, "y", "p1")], "id long, val string, part string"
        )
        with _pytest.raises(ValueError, match="duplicate key"):
            merge_upsert(spark, path, updates, ["id"], partition_col="part")

    def test_upsert_without_partition_col_rewrites_whole_table(self, spark, tmp_path):
        from bigdata_covid19_real_time_spark.sinks.maintenance import merge_upsert

        path = str(tmp_path / "flat")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, val string"
        ).write.parquet(path)
        updates = spark.createDataFrame([(2, "B"), (9, "z")], "id long, val string")
        stats = merge_upsert(spark, path, updates, ["id"])
        assert stats == {"partitions_rewritten": 1, "rows_written": 3}
        got = {(r["id"], r["val"]) for r in spark.read.parquet(path).collect()}
        assert got == {(1, "a"), (2, "B"), (9, "z")}

    def test_upsert_on_date_partitions_and_escaped_strings(self, spark, tmp_path):
        """Partition values whose directory encoding differs from
        str(val) — DATE columns and strings Spark URL-escapes — must
        still swap the right directories (the dir names are taken from
        Spark's own paths, never reformatted from Python values)."""
        import datetime

        from bigdata_covid19_real_time_spark.sinks.maintenance import merge_upsert

        path = str(tmp_path / "dated")
        d1, d2 = datetime.date(2021, 3, 1), datetime.date(2021, 3, 2)
        spark.createDataFrame(
            [(1, "a", d1), (2, "b", d2)], "id long, val string, day date"
        ).write.partitionBy("day").parquet(path)
        updates = spark.createDataFrame(
            [(2, "B2", d2)], "id long, val string, day date"
        )
        stats = merge_upsert(spark, path, updates, ["id"], partition_col="day")
        assert stats["partitions_rewritten"] == 1
        got = {(r["id"], r["val"], r["day"]) for r in spark.read.parquet(path).collect()}
        assert got == {(1, "a", d1), (2, "B2", d2)}

        # a partition value needing URL-escaping in the dir name
        path2 = str(tmp_path / "escaped")
        spark.createDataFrame(
            [(1, "a", "us east"), (2, "b", "eu:west")],
            "id long, val string, zone string",
        ).write.partitionBy("zone").parquet(path2)
        updates2 = spark.createDataFrame(
            [(2, "B", "eu:west"), (3, "c", "ap south")],
            "id long, val string, zone string",
        )
        stats2 = merge_upsert(spark, path2, updates2, ["id"], partition_col="zone")
        assert stats2["partitions_rewritten"] == 2  # eu:west rewritten, ap south new
        got2 = {(r["id"], r["val"], r["zone"]) for r in spark.read.parquet(path2).collect()}
        assert got2 == {
            (1, "a", "us east"), (2, "B", "eu:west"), (3, "c", "ap south"),
        }


def test_evolving_parquet_merges_schemas_null_filling_old_files(spark, tmp_path):
    from bigdata_covid19_real_time_spark.sources.batch import read_evolving_parquet

    base = str(tmp_path / "corpus")
    # v1 writer: (doc_id, text); v2 adds quality_score
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(
        base + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 0.9)], "doc_id long, text string, quality_score double"
    ).write.parquet(base + "/batch=2")
    df = read_evolving_parquet(spark, base)
    assert "quality_score" in df.columns
    rows = {r["doc_id"]: r["quality_score"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 0.9
