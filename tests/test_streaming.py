"""Streaming runner tests: file-source micro-batches through the full
fan-out, checkpoint restart, cross-batch dedup, idempotent sink replay,
and the stateful cumulative operator.

The file JSON-lines source stands in for Kafka (one file = one epoch via
maxFilesPerTrigger=1); the parse stage and everything downstream is
identical to the Kafka path (streaming/sources.py).
"""

from __future__ import annotations

import json
import sys
import time

import pytest
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.sinks import IdempotentParquetSink, MemorySink
from bigdata_covid19_real_time_spark.streaming import (
    CONTINENT_TABLE,
    HOTSPOTS_TABLE,
    PREDICTIONS_TABLE,
    REALTIME_TABLE,
    CovidPipeline,
    cumulative_location_stats,
    dedup_within_watermark,
    read_jsonl_stream,
    to_json_value,
)
from bigdata_covid19_real_time_spark.streaming.runner import WINDOWED_TABLE
from tests.conftest import frozen_clock, make_raw, obs


def write_jsonl(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def drain(queries):
    for q in queries:
        q.awaitTermination(120)
        assert not q.isActive


BATCH1 = [
    obs("Egypt", "2021-03-15", new_cases="20000", is_hotspot="false"),
    obs("Egypt", "2021-03-15", new_cases="20000", is_hotspot="false"),  # in-batch dup
    obs("France", "2021-03-15", timestamp="2021-03-15T10:31:00",
        new_cases="100", total_deaths="0", is_hotspot="false"),
]
BATCH2 = [
    obs("Egypt", "2021-03-16", timestamp="2021-03-16T09:00:00", new_cases="500",
        total_deaths="0", is_hotspot="false"),
    obs("France", "2021-03-15", timestamp="2021-03-15T10:31:00",  # cross-batch dup
        new_cases="100", total_deaths="0", is_hotspot="false"),
]


def test_fanout_pipeline_parity(spark, tmp_path):
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, clock=frozen_clock())
    stream = read_jsonl_stream(spark, str(tmp_path / "in"))
    drain(pipe.run(stream, str(tmp_path / "ckpt"), trigger={"availableNow": True}))

    # realtime: in-batch dedup on (location, date) -> 2 rows
    rt = sink.rows(REALTIME_TABLE)
    assert sorted(r["location"] for r in rt) == ["Egypt", "France"]

    # hotspots: Egypt passes new_cases>10000; France's death_rate=0
    hs = sink.rows(HOTSPOTS_TABLE)
    assert [r["location"] for r in hs] == ["Egypt"]

    # predictions exist for both locations, next-day dated
    pr = sink.rows(PREDICTIONS_TABLE)
    assert {(r["location"], str(r["prediction_date"])) for r in pr} == {
        ("Egypt", "2021-03-16"),
        ("France", "2021-03-16"),
    }

    # continent rollup: one 5-min window per continent here
    ct = sink.rows(CONTINENT_TABLE)
    assert {r["continent"] for r in ct} == {"Africa"}
    by_cont = {r["continent"]: r for r in ct}
    # Egypt deduped row (20000) + France (100) share continent Africa
    assert by_cont["Africa"]["countries_count"] == 2


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, clock=frozen_clock())
    drain(pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                   str(tmp_path / "ckpt"), trigger={"availableNow": True}))
    n_first = len(sink.rows(REALTIME_TABLE))

    # restart with the same checkpoint after a new file lands
    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    sink2 = MemorySink()
    pipe2 = CovidPipeline(sink=sink2, clock=frozen_clock())
    drain(pipe2.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                    str(tmp_path / "ckpt"), trigger={"availableNow": True}))

    # only BATCH2 rows processed on restart (b1 offsets are committed)
    assert n_first == 2
    assert sorted(r["location"] for r in sink2.rows(REALTIME_TABLE)) == [
        "Egypt",
        "France",
    ]
    assert {str(r["date"]) for r in sink2.rows(REALTIME_TABLE)} == {
        "2021-03-16",
        "2021-03-15",
    }


def test_kafka_source_options_match_reference():
    """S1/T7 pin (no broker in env): the option set the Kafka reader is
    built from matches the reference's (covid_streaming.py:206-212 —
    subscribe topic, earliest offsets, tolerate data loss) plus the
    engine's consumer-side backpressure knob."""
    from bigdata_covid19_real_time_spark.streaming.sources import (
        kafka_source_options,
    )

    opts = kafka_source_options("kafka:9092", "covid_data")
    assert opts == {
        "kafka.bootstrap.servers": "kafka:9092",
        "subscribe": "covid_data",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    capped = kafka_source_options(
        "kafka:9092", "covid_data", max_offsets_per_trigger=5000
    )
    assert capped["maxOffsetsPerTrigger"] == "5000"


@pytest.mark.parametrize("sink", ["parquet", "orc", "jsonl", "csv"])
def test_cli_entry_point_smoke(spark, tmp_path, sink):
    """`python -m bigdata_covid19_real_time_spark` wiring: drain a jsonl
    dir with availableNow and materialize all four sink tables in each
    file format, with their columns named (CSV by its header row)."""
    from bigdata_covid19_real_time_spark.__main__ import main
    from bigdata_covid19_real_time_spark.schema import SINK_SCHEMAS

    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    rc = main(
        [
            "--source", "jsonl", "--source-path", str(tmp_path / "in"),
            "--sink", sink, "--sink-dir", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert rc == 0
    fmt = {"jsonl": "json"}.get(sink, sink)
    for table in (REALTIME_TABLE, PREDICTIONS_TABLE, CONTINENT_TABLE, HOTSPOTS_TABLE):
        df = spark.read.format(fmt).option("header", True).load(str(tmp_path / "out" / table))
        assert df.count() >= 1, table
        # JSON schema inference sorts the fields
        assert sorted(df.columns) == sorted(SINK_SCHEMAS[table].fieldNames()), table


class TimedQuery:
    """A started query that sleeps through each wait it is given."""

    def __init__(self) -> None:
        self.waits: list[float] = []
        self.stopped = False

    def awaitTermination(self, timeout=None):
        assert timeout is not None and timeout > 0, timeout
        self.waits.append(timeout)
        time.sleep(timeout)
        return False

    def stop(self) -> None:
        self.stopped = True


def test_cli_timeout_is_one_deadline_for_all_queries(spark, tmp_path, monkeypatch):
    """`--timeout N` bounds the whole run at N seconds, not N per query,
    and stops every query once it passes."""
    from bigdata_covid19_real_time_spark.__main__ import main

    queries = [TimedQuery() for _ in range(3)]
    monkeypatch.setattr(CovidPipeline, "run", lambda self, *a, **k: queries)
    rc = main(
        [
            "--source", "rate", "--sink", "console", "--mode", "streaming",
            "--checkpoint", str(tmp_path / "ckpt"), "--timeout", "1",
        ]
    )
    assert rc == 0
    assert sum(w for q in queries for w in q.waits) <= 1.0
    assert all(q.stopped for q in queries)


def test_streaming_mode_watermarked_rollup(spark, tmp_path):
    """streaming mode: the continent rollup runs as a true streaming agg
    (update mode, incremental state) instead of per-batch recompute."""
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, mode="streaming", clock=frozen_clock())
    stream = read_jsonl_stream(spark, str(tmp_path / "in"))
    drain(pipe.run(stream, str(tmp_path / "ckpt"), trigger={"availableNow": True}))

    ct = sink.rows(CONTINENT_TABLE)
    assert ct, "streaming rollup produced no rows"
    # state accumulated across batches: the Africa window covering
    # 2021-03-15 10:30 must count BOTH Egypt rows and France
    key = {}
    for r in ct:  # update mode may emit a window more than once; last wins
        key[(str(r["continent_window_start"]), r["continent"])] = r
    w = key[("2021-03-15 10:30:00", "Africa")]
    assert w["countries_count"] == 2
    # streaming agg sees raw rows across both batches: Egypt 20000*2
    # (batch1) + France 100 (batch1) + France's batch-2 duplicate 100
    assert w["continent_new_cases"] == pytest.approx(40200.0)


def test_dedup_within_watermark_cross_batch(spark, tmp_path):
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    stream = dedup_within_watermark(
        read_jsonl_stream(spark, str(tmp_path / "in")),
        keys=["location", "date"],
    )
    rows: list = []

    def collect(df, epoch_id):
        rows.extend(df.collect())

    q = (
        stream.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # 5 input rows, 3 distinct (location, date): France's batch-2
    # duplicate is suppressed by the cross-batch state
    assert len(rows) == 3
    assert sorted((r["location"], r["date"]) for r in rows) == [
        ("Egypt", "2021-03-15"),
        ("Egypt", "2021-03-16"),
        ("France", "2021-03-15"),
    ]


def test_idempotent_sink_replay_overwrites_epoch(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "tbl"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sink.write(df, 7, "t")
    sink.write(df, 7, "t")  # replayed epoch
    sink.write(df.limit(1), 8, "t")
    out = spark.read.parquet(str(tmp_path / "tbl" / "t"))
    assert out.count() == 3  # epoch 7 written once (2 rows) + epoch 8 (1)
    assert out.filter(F.col("epoch") == 7).count() == 2


def test_cumulative_location_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-location state across epochs."""
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    from bigdata_covid19_real_time_spark.functions.cleaning import clean_observations

    stream = clean_observations(
        read_jsonl_stream(spark, str(tmp_path / "in")), clock=frozen_clock()
    )
    out = cumulative_location_stats(stream, alpha=0.5)
    emitted: list = []

    def collect(df, epoch_id):
        emitted.extend((epoch_id, r) for r in df.collect())

    q = (
        out.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {}
    for _epoch, r in emitted:
        final[r["location"]] = r  # later epochs overwrite
    egypt = final["Egypt"]
    # 2 rows in batch1 + 1 in batch2, cumulative across epochs
    assert egypt["rows_seen"] == 3
    assert egypt["total_new_cases"] == pytest.approx(40500.0)
    # EWMA(0.5) over [20000, 20000, 500] = 10250
    assert egypt["ewma_new_cases"] == pytest.approx(10250.0)
    assert final["France"]["rows_seen"] == 2


def test_producer_roundtrip_wire_format(spark):
    """to_json(struct(*)) -> from_json roundtrips the RAW shape (the
    producer/consumer codec, covid_producer.py:11 vs covid_streaming.py:216)."""
    from bigdata_covid19_real_time_spark.streaming import parse_json_value

    raw = make_raw(spark, [obs("Egypt", "2021-03-15")])
    wire = to_json_value(raw)
    assert wire.columns == ["value"]
    back = parse_json_value(wire)
    assert back.columns == raw.columns
    assert back.collect() == raw.collect()


def test_cumulative_state_survives_restart(spark, tmp_path):
    """State restores from the checkpoint: a second run (new query, same
    checkpoint) continues per-location counters instead of restarting."""
    from bigdata_covid19_real_time_spark.functions.cleaning import clean_observations

    def run_once():
        stream = clean_observations(
            read_jsonl_stream(spark, str(tmp_path / "in")), clock=frozen_clock()
        )
        out = cumulative_location_stats(stream, alpha=0.5)
        emitted: list = []
        q = (
            out.writeStream.foreachBatch(lambda df, eid: emitted.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return emitted

    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    first = {r["location"]: r for r in run_once()}
    assert first["Egypt"]["rows_seen"] == 2

    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    second = {r["location"]: r for r in run_once()}
    # batch-2 Egypt row lands on top of restored state (2 + 1)
    assert second["Egypt"]["rows_seen"] == 3
    assert second["France"]["rows_seen"] == 2


def test_streaming_mode_cross_batch_dedup_in_fanout(spark, tmp_path):
    """streaming mode pre-dedups the fan-out input across micro-batches:
    France's batch-2 duplicate must not reach the realtime sink twice."""
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    write_jsonl(tmp_path / "in" / "b2.jsonl", BATCH2)
    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, mode="streaming", clock=frozen_clock())
    drain(pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                   str(tmp_path / "ckpt"), trigger={"availableNow": True}))
    rt = sorted((r["location"], str(r["date"])) for r in sink.rows(REALTIME_TABLE))
    assert rt == [
        ("Egypt", "2021-03-15"),
        ("Egypt", "2021-03-16"),
        ("France", "2021-03-15"),
    ]


def test_streaming_mode_populates_windowed_location_table(spark, tmp_path):
    """A6 (windowed_covid_stats — declared in the reference DDL, never
    written by its code) is populated as a true streaming agg."""
    from bigdata_covid19_real_time_spark.streaming import runner as R

    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, mode="streaming", clock=frozen_clock())
    drain(pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                   str(tmp_path / "ckpt"), trigger={"availableNow": True}))
    rows = sink.rows(R.WINDOWED_TABLE)
    assert rows, "windowed stats table empty"
    by_loc = {r["location"]: r for r in rows}
    assert by_loc["Egypt"]["total_new_cases_window"] == pytest.approx(40000.0)
    assert by_loc["France"]["max_total_cases"] == pytest.approx(187000.0)


def test_rate_stream_through_pipeline(spark, tmp_path):
    """The rate-source load generator drives the full fan-out without a
    broker or files (one short micro-batch)."""
    from bigdata_covid19_real_time_spark.streaming.sources import read_rate_stream

    sink = MemorySink()
    pipe = CovidPipeline(sink=sink, clock=frozen_clock())
    stream = read_rate_stream(spark, rows_per_second=50)
    queries = pipe.run(stream, str(tmp_path / "ckpt"), trigger={"availableNow": True})
    for q in queries:
        q.awaitTermination(120)
    # availableNow over rate drains whatever accrued; schema contract is
    # the assertion (rows may be 0 if the trigger fired instantly)
    rt = sink.rows(REALTIME_TABLE)
    if rt:
        assert {"location", "date", "total_cases"} <= set(rt[0].asDict())


class PredictionsDownSink(MemorySink):
    """Fails every ``covid_predictions`` write; the other tables land."""

    def __init__(self) -> None:
        super().__init__()
        self.error = RuntimeError("covid_predictions sink is down")

    def write(self, df, epoch_id, table):
        if table == PREDICTIONS_TABLE:
            raise self.error
        super().write(df, epoch_id, table)


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("fail_fast", [True, False])
def test_failed_table_write_joins_every_write_before_failing(spark, fail_fast):
    """The epoch's table writes run concurrently.  One failed write
    surfaces as itself under fail_fast (and is logged otherwise), but only
    after every other write has finished, and the epoch's persisted scan
    is released either way."""
    sink = PredictionsDownSink()
    pipe = CovidPipeline(sink=sink, clock=frozen_clock(), fail_fast=fail_fast)
    raw = make_raw(spark, BATCH1)
    before = persistent_rdd_ids(spark)
    if fail_fast:
        with pytest.raises(RuntimeError) as info:
            pipe.process_batch(raw, 7)
        assert info.value is sink.error
    else:
        pipe.process_batch(raw, 7)

    assert sorted(r["location"] for r in sink.rows(REALTIME_TABLE)) == ["Egypt", "France"]
    assert [r["location"] for r in sink.rows(HOTSPOTS_TABLE)] == ["Egypt"]
    assert sink.rows(CONTINENT_TABLE)
    assert sink.rows(PREDICTIONS_TABLE) == []
    assert sink.epochs[REALTIME_TABLE] == sink.epochs[HOTSPOTS_TABLE] == [7]
    assert persistent_rdd_ids(spark) - before == set()


class LocalPropertiesSink(MemorySink):
    """Notes the Spark local properties each table's write runs under."""

    def __init__(self, spark) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self.props: dict[str, set[tuple]] = {}

    def write(self, df, epoch_id, table):
        seen = (
            self.sc.getLocalProperty("sql.streaming.queryId"),
            self.sc.getLocalProperty("spark.jobGroup.id"),
        )
        self.props.setdefault(table, set()).add(seen)
        super().write(df, epoch_id, table)


@pytest.mark.parametrize("mode", ["parity", "streaming"])
def test_table_writes_carry_their_query_local_properties(spark, tmp_path, mode):
    """Every table write runs under its query's id and run-id job group,
    the properties query.stop() cancels by, although the fan-out writes
    each table from its own thread."""
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    sink = LocalPropertiesSink(spark)
    pipe = CovidPipeline(sink=sink, mode=mode, clock=frozen_clock())
    queries = pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                       str(tmp_path / "ckpt"), trigger={"availableNow": True})
    drain(queries)

    writer = {REALTIME_TABLE: 0, PREDICTIONS_TABLE: 0, HOTSPOTS_TABLE: 0, CONTINENT_TABLE: 0}
    if mode == "streaming":
        writer.update({CONTINENT_TABLE: 1, WINDOWED_TABLE: 2})
    assert set(sink.props) == set(writer)
    for table, q in writer.items():
        assert sink.props[table] == {(queries[q].id, queries[q].runId)}, table


def test_streaming_topology(spark, tmp_path):
    """Streaming mode starts the fan-out, continent and windowed queries
    in that order, each under its name and its own checkpoint
    subdirectory; the benchmark maps tables to queries by these."""
    write_jsonl(tmp_path / "in" / "b1.jsonl", BATCH1)
    pipe = CovidPipeline(sink=MemorySink(), mode="streaming", clock=frozen_clock())
    ckpt = tmp_path / "ckpt"
    queries = pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                       str(ckpt), trigger={"availableNow": True})
    drain(queries)

    assert [q.name for q in queries] == [
        "covid-pipeline", "covid-pipeline-continent", "covid-pipeline-windowed",
    ]
    subdirs = ["fanout", "continent", "windowed"]
    assert sorted(p.name for p in ckpt.iterdir()) == sorted(subdirs)
    for q, sub in zip(queries, subdirs):
        assert json.loads((ckpt / sub / "metadata").read_text())["id"] == q.id, sub


def compiled_classes(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def epoch_file(k: int) -> list[dict]:
    """20 rows of new locations, all at one event time, so the watermark
    stands still from the first epoch on."""
    return [
        obs(f"Loc{k}-{i}", continent=["Africa", "Asia", "Europe"][i % 3], new_cases=str(100 * k + i))
        for i in range(20)
    ]


def test_streaming_epochs_reuse_compiled_classes(spark, tmp_path):
    """A streaming epoch whose plans only repeat earlier epochs' compiles
    nothing: the codegen class cache (session.CODEGEN_CACHE_MAX_ENTRIES)
    holds the pipeline's working set.  After three epochs, a restart on
    the same checkpoint runs a fourth at the same event time, and the
    JVM's compile count does not rise (0 in each of three repeats).  At
    Spark's default of 100 entries each epoch evicts what the next one
    needs, and the restarted run compiled 26, 58 and 50 classes."""
    for k in range(3):
        write_jsonl(tmp_path / "in" / f"b{k}.jsonl", epoch_file(k))

    def run() -> MemorySink:
        sink = MemorySink()
        pipe = CovidPipeline(sink=sink, mode="streaming", clock=frozen_clock())
        drain(pipe.run(read_jsonl_stream(spark, str(tmp_path / "in")),
                       str(tmp_path / "ckpt"), trigger={"availableNow": True}))
        return sink

    assert len(run().rows(REALTIME_TABLE)) == 60
    write_jsonl(tmp_path / "in" / "b3.jsonl", epoch_file(3))
    before = compiled_classes(spark)
    sink = run()
    assert compiled_classes(spark) - before == 0
    assert len(sink.rows(REALTIME_TABLE)) == 20


def test_console_sink_keeps_each_preview_under_its_header(spark, capsys):
    """Concurrent table writes print whole blocks: the column header
    under each ``=== epoch`` line is that table's."""
    from bigdata_covid19_real_time_spark.schema import SINK_SCHEMAS
    from bigdata_covid19_real_time_spark.sinks import ConsoleSink

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, to let lines interleave
    try:
        CovidPipeline(sink=ConsoleSink(), clock=frozen_clock()).process_batch(make_raw(spark, BATCH1), 3)
    finally:
        sys.setswitchinterval(interval)
    blocks = capsys.readouterr().out.split("=== epoch 3 -> ")[1:]
    assert len(blocks) == 4
    for block in blocks:
        table, border, header = block.splitlines()[:3]
        assert border.startswith("+")
        columns = [c.strip() for c in header.strip("|").split("|")]
        assert columns == SINK_SCHEMAS[table].fieldNames(), table


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Watermarked stream-stream join: purchases attribute to the click
    that preceded them within the delay bound; out-of-bound and
    unmatched rows drop (inner)."""
    import json as _json

    from bigdata_covid19_real_time_spark.streaming.joins import (
        interval_join_streams,
    )

    clicks = [
        {"user": "u1", "click_ts": "2024-01-01T10:00:00", "page": "p1"},
        {"user": "u2", "click_ts": "2024-01-01T10:05:00", "page": "p2"},
        {"user": "u3", "click_ts": "2024-01-01T10:00:00", "page": "p3"},
    ]
    purchases = [
        {"user": "u1", "buy_ts": "2024-01-01T10:04:00", "amount": 5.0},   # in bound
        {"user": "u2", "buy_ts": "2024-01-01T10:30:00", "amount": 7.0},   # > max_delay
        {"user": "u4", "buy_ts": "2024-01-01T10:01:00", "amount": 9.0},   # no click
    ]
    (tmp_path / "clicks").mkdir()
    (tmp_path / "buys").mkdir()
    (tmp_path / "clicks" / "c.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in clicks)
    )
    (tmp_path / "buys" / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in purchases)
    )
    click_schema = "user string, click_ts string, page string"
    buy_schema = "user string, buy_ts string, amount double"
    cs = (
        spark.readStream.schema(click_schema).json(str(tmp_path / "clicks"))
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    bs = (
        spark.readStream.schema(buy_schema).json(str(tmp_path / "buys"))
        .withColumn("buy_ts", F.to_timestamp("buy_ts"))
    )
    joined = interval_join_streams(
        cs, bs, key="user", left_time="click_ts", right_time="buy_ts",
        max_delay="10 minutes", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain([q])
    rows = spark.sql("SELECT user, page, amount FROM ssjoin").collect()
    assert [(r["user"], r["page"], r["amount"]) for r in rows] == [("u1", "p1", 5.0)]


def test_stream_stream_interval_join_with_shared_column_names(spark, tmp_path):
    """Two feeds sharing column names ('ts' on both, a shared payload
    column) must join unambiguously: every right column is prefix-
    renamed pre-join, colliding names come back as right_<name>."""
    import json as _json

    from bigdata_covid19_real_time_spark.streaming.joins import (
        interval_join_streams,
    )

    lrows = [{"user": "u1", "ts": "2024-01-01T10:00:00", "site": "L"}]
    rrows = [
        {"user": "u1", "ts": "2024-01-01T10:04:00", "site": "R"},  # in bound
        {"user": "u1", "ts": "2024-01-01T09:00:00", "site": "X"},  # before left
    ]
    (tmp_path / "l").mkdir()
    (tmp_path / "r").mkdir()
    (tmp_path / "l" / "l.jsonl").write_text("\n".join(map(_json.dumps, lrows)))
    (tmp_path / "r" / "r.jsonl").write_text("\n".join(map(_json.dumps, rrows)))
    schema = "user string, ts string, site string"
    ls = (
        spark.readStream.schema(schema).json(str(tmp_path / "l"))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    rs = (
        spark.readStream.schema(schema).json(str(tmp_path / "r"))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    joined = interval_join_streams(
        ls, rs, key="user", left_time="ts", right_time="ts",
        max_delay="10 minutes", watermark="10 minutes",
    )
    assert sorted(joined.columns) == ["right_site", "right_ts", "site", "ts", "user"]
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_shared")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    drain([q])
    rows = spark.sql(
        "SELECT user, site, right_site FROM ssjoin_shared"
    ).collect()
    assert [(r["user"], r["site"], r["right_site"]) for r in rows] == [
        ("u1", "L", "R")
    ]


def test_streaming_session_window_merges_across_batches(spark, tmp_path):
    """Native session_window under Structured Streaming: events within
    the gap merge into one session (stateful merge across micro-batches);
    the closed session emits once in append mode after the watermark."""
    import json as _json

    rows_b1 = [
        {"user": "u1", "ts": "2024-01-01T10:00:00", "v": 1.0},
        {"user": "u1", "ts": "2024-01-01T10:10:00", "v": 2.0},
    ]
    rows_b2 = [
        {"user": "u1", "ts": "2024-01-01T10:20:00", "v": 3.0},  # merges (gap 30m)
        {"user": "u1", "ts": "2024-01-01T14:00:00", "v": 9.0},  # advances watermark
    ]
    src = tmp_path / "sess"
    src.mkdir()
    (src / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in rows_b1))
    (src / "b2.jsonl").write_text("\n".join(_json.dumps(r) for r in rows_b2))
    stream = (
        spark.readStream.schema("user string, ts string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "1 minute")
    )
    sessions = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .select(
            "user", F.col("session_window.start").cast("string").alias("start"),
            "n", "total",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessagg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain([q])
    rows = {
        (r["user"], r["start"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM sessagg").collect()
    }
    # the three morning events merged into ONE session despite arriving
    # across two micro-batches
    assert rows[("u1", "2024-01-01 10:00:00")] == (3, 6.0)


def test_stream_stream_interval_left_outer_emits_after_watermark(spark, tmp_path):
    """leftOuter interval join: unmatched left rows emit null-padded —
    but only once the watermark provably passes their join window.  A
    second batch far in the future advances the watermark so the
    unmatched clicks flush from state."""
    import json as _json

    from bigdata_covid19_real_time_spark.streaming.joins import (
        interval_join_streams,
    )

    (tmp_path / "clicks").mkdir()
    (tmp_path / "buys").mkdir()
    (tmp_path / "clicks" / "c1.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user": "u1", "click_ts": "2024-01-01T10:00:00", "page": "p1"},
                {"user": "u2", "click_ts": "2024-01-01T10:05:00", "page": "p2"},
            ]
        )
    )
    (tmp_path / "buys" / "b1.jsonl").write_text(
        _json.dumps({"user": "u1", "buy_ts": "2024-01-01T10:04:00", "amount": 5.0})
    )
    # watermark pushers: far-future rows on BOTH feeds, non-matching users
    (tmp_path / "clicks" / "c2.jsonl").write_text(
        _json.dumps({"user": "w1", "click_ts": "2024-01-01T12:00:00", "page": "px"})
    )
    (tmp_path / "buys" / "b2.jsonl").write_text(
        _json.dumps({"user": "w2", "buy_ts": "2024-01-01T12:00:00", "amount": 0.0})
    )
    cs = (
        spark.readStream.schema("user string, click_ts string, page string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "clicks"))
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    bs = (
        spark.readStream.schema("user string, buy_ts string, amount double")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "buys"))
        .withColumn("buy_ts", F.to_timestamp("buy_ts"))
    )
    joined = interval_join_streams(
        cs, bs, key="user", left_time="click_ts", right_time="buy_ts",
        max_delay="10 minutes", watermark="10 minutes", how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_lo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain([q])
    rows = {
        (r["user"], r["page"]): r["amount"]
        for r in spark.sql("SELECT user, page, amount FROM ssjoin_lo").collect()
    }
    assert rows[("u1", "p1")] == 5.0          # matched
    assert rows[("u2", "p2")] is None         # unmatched, watermark passed
    assert ("w1", "px") not in rows           # still inside its window


def test_stream_replay_gates_are_not_vacuous(spark):
    """The round-7 streaming replay gates certify CROSS-batch state:
    the dedup feed must actually contain next-day duplicate copies, and
    the interval-join output must contain cross-midnight attributions
    (pairs whose purchase arrives one micro-batch after its click) —
    otherwise a within-batch-only implementation would pass (the
    vacuous-gate trap)."""
    import duckdb

    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.plans.stream_replay import (
        HORIZON_END,
        N_EPOCHS,
    )

    sf = "/root/testdata/sf0.001"
    # cross-batch dup supply exists in the raw horizon
    [(n_crossdup,)] = duckdb.sql(
        f"""SELECT COUNT(*) FROM read_parquet('{sf}/events.parquet')
        WHERE ts < TIMESTAMP '{HORIZON_END}' AND event_id % 5 = 1
          AND datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              < {N_EPOCHS} - 1"""
    ).fetchall()
    assert n_crossdup > 10

    rows = QUERIES["events_stream_interval_join_replay"](spark, sf).collect()
    assert len(rows) > 0
    cross_midnight = [
        r for r in rows if r["click_ts"].date() != r["purchase_ts"].date()
    ]
    assert cross_midnight, "no cross-batch pair — gate would be vacuous"


def test_dedup_within_watermark_boundary_regimes(spark, tmp_path):
    """The watermark boundary behaviors the round-7 replay GATES
    deliberately avoid (their margin regime makes the oracle exact) are
    pinned here instead, under Spark's TWO-watermark model for stateful
    operators (SPARK-40925): during batch N the LATE-record filter uses
    the PREVIOUS batch's watermark (wm_late = maxts through N-2 minus
    delay) while state EVICTION at the end of batch N uses the current
    one (wm_evict = maxts through N-1 minus delay).  Pinned: (1) a
    fresh-key row older than wm_late is dropped as LATE, never emitted;
    (2) a fresh-key row BETWEEN wm_late and wm_evict is ADMITTED — the
    late filter lags one batch behind eviction; (3) a key whose dedup
    state was EVICTED by the advancing watermark is re-admitted when it
    reappears with a fresh event time; (4) eviction is END-of-batch, so
    a same-batch lookup still hits expired state."""
    import os as _os
    import time as _time

    feed = tmp_path / "feed"
    feed.mkdir(parents=True)
    epochs = [
        # b1: A and B admitted; state expires at ts+10min = 10:10
        [("A", "2024-01-01 10:00:00"), ("B", "2024-01-01 10:00:00")],
        # b2 (wm_late = none, wm_evict = 09:50): C admitted and
        # advances max event time to 10:30; A@10:02 is a live-state
        # duplicate -> dropped
        [("C", "2024-01-01 10:30:00"), ("A", "2024-01-01 10:02:00")],
        # b3 (wm_late = 09:50, wm_evict = 10:20): B@10:05 >= wm_late so
        # it is NOT late — it reaches the state lookup, hits B's
        # still-present entry (expiry 10:10 < wm_evict, but eviction
        # runs at END of batch) and drops as a DUPLICATE.  F@10:05 is a
        # FRESH key in the same lagged window (>= wm_late 09:50,
        # < wm_evict 10:20) -> ADMITTED: the late filter lags one
        # batch behind eviction.  D admitted.  At the END of this
        # batch every entry with expiry < wm_evict 10:20 is evicted:
        # A and B (expiry 10:10) and F's fresh entry (expiry 10:15).
        [
            ("D", "2024-01-01 10:35:00"),
            ("B", "2024-01-01 10:05:00"),
            ("F", "2024-01-01 10:05:00"),
        ],
        # b4 (wm_late = 10:20, wm_evict = 10:25): A's state is gone;
        # A@10:28 >= wm_late with no state -> RE-ADMITTED.  E@10:15 is
        # a FRESH key but < wm_late -> LATE, silently dropped (never
        # emitted, never stored).
        [("A", "2024-01-01 10:28:00"), ("E", "2024-01-01 10:15:00")],
    ]
    base_t = _time.time() - 600
    for i, rows in enumerate(epochs):
        stage = str(tmp_path / f"stage_{i}")
        spark.createDataFrame(rows, "k string, ts_s string").selectExpr(
            "k", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        import glob as _glob

        [part] = _glob.glob(stage + "/part-*.parquet")
        dst = str(feed / f"e{i:02d}.parquet")
        _os.replace(part, dst)
        _os.utime(dst, (base_t + i, base_t + i))

    from bigdata_covid19_real_time_spark.streaming.runner import (
        dedup_within_watermark,
    )

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    out = dedup_within_watermark(
        stream, ["k"], event_time_col="ts", watermark="10 minutes"
    )
    rows: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["k"], str(r["ts"])) for r in rows)
    assert got == [
        ("A", "2024-01-01 10:00:00"),
        ("A", "2024-01-01 10:28:00"),  # re-admitted after eviction
        ("B", "2024-01-01 10:00:00"),  # B's replay dup-dropped, not re-emitted
        ("C", "2024-01-01 10:30:00"),
        ("D", "2024-01-01 10:35:00"),
        ("F", "2024-01-01 10:05:00"),  # fresh key in the lagged window
        # E@10:15 (< wm_late 10:20) is absent: genuinely LATE
    ]


def test_evict_replay_gate_is_not_vacuous(spark):
    """The round-8 eviction-regime gate must actually exercise all
    three boundary behaviors at gate SFs: live-state duplicates exist
    (id%7==0 supply), re-admissions exist AND make the expected output
    differ from the margin-certain answer (id%7==1 keys emitted
    TWICE), and late rows exist but never leak (no LATE_ID_OFFSET key
    in the output)."""
    import duckdb

    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.plans.stream_replay import (
        CLOCK_ID_BASE,
        LATE_ID_OFFSET,
    )

    sf = "/root/testdata/sf0.001"
    counts = duckdb.sql(
        f"""SELECT
          SUM(CASE WHEN event_id % 7 = 0
               AND ts < TIMESTAMP '2024-01-06' THEN 1 ELSE 0 END),
          SUM(CASE WHEN event_id % 7 = 1
               AND ts < TIMESTAMP '2024-01-04' THEN 1 ELSE 0 END),
          SUM(CASE WHEN event_id % 7 = 2
               AND ts < TIMESTAMP '2024-01-04' THEN 1 ELSE 0 END)
        FROM read_parquet('{sf}/events.parquet')
        WHERE ts < TIMESTAMP '2024-01-07'"""
    ).fetchall()[0]
    assert all(c and c > 0 for c in counts), counts

    rows = QUERIES["events_stream_dedup_evict_replay"](spark, sf).collect()
    ids = [r["event_id"] for r in rows]
    from collections import Counter

    twice = [k for k, n in Counter(ids).items() if n == 2]
    assert twice, "no re-admitted key — gate equals the margin answer"
    assert all(k % 7 == 1 for k in twice)
    assert not [i for i in ids if LATE_ID_OFFSET <= i < CLOCK_ID_BASE], (
        "a late row leaked through the watermark filter"
    )
    assert len([i for i in ids if i >= CLOCK_ID_BASE]) == 6


def test_left_outer_replay_flushes_unmatched(spark):
    """The leftOuter replay gate must emit BOTH matched and
    null-padded rows (otherwise it degenerates to the inner gate), and
    the watermark-pusher sentinels must never leak into the output."""
    from bigdata_covid19_real_time_spark.plans import QUERIES

    rows = QUERIES["events_stream_interval_join_left_replay"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    matched = [r for r in rows if r["purchase_id"] is not None]
    padded = [r for r in rows if r["purchase_id"] is None]
    assert matched and padded
    assert all(r["purchase_ts"] is None for r in padded)
    assert not [r for r in rows if r["user_id"] < 0], "sentinel leaked"


def test_session_window_exact_gap_tie_merges(spark):
    """Adjudicates the round-8 advice claim that Spark's
    ``session_window`` uses [start, end) semantics and would START A
    NEW SESSION for an event exactly gap-duration after its
    predecessor, diverging from the oracles' ``ts - lag(ts) >
    INTERVAL '30 minutes'`` predicate (which merges the tie).

    Measured, the claim is wrong: Spark MERGES the exact-gap event
    (sessions coalesce when the new window's start equals an existing
    session's end), exactly like the oracle predicate — so the
    certified ``user_sessions`` / ``events_stream_sessions_replay``
    oracles are already aligned and an exact-gap tie in gate data
    cannot mismatch.  This test pins that agreement on both engines so
    a Spark- or DuckDB-side semantics change surfaces here, not as an
    opaque driver hash mismatch."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [
        ("2024-01-01 10:00:00",),
        ("2024-01-01 10:30:00",),  # exactly one 30-min gap after
        ("2024-01-01 10:59:59",),  # just under the gap after that
    ]
    df = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(1).cast("long").alias("user_id"),
                            F.lit(ts).cast("timestamp").alias("ts"),
                        )
                        for (ts,) in rows
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    sessions = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(sessions) == 1 and sessions[0]["n"] == 3

    values = ", ".join(f"(1, TIMESTAMP '{ts}')" for (ts,) in rows)
    [(n_sessions,)] = duckdb.connect().execute(
        f"""
        WITH horizon AS (SELECT * FROM (VALUES {values}) t(user_id, ts)),
        flagged AS (
          SELECT CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts)
                           > INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           IS NULL
                 THEN 1 ELSE 0 END AS new_session
          FROM horizon)
        SELECT SUM(new_session) FROM flagged
        """
    ).fetchall()
    assert n_sessions == 1


def test_right_outer_replay_flushes_unmatched(spark):
    """The rightOuter replay gate (round-9 direct gate replacing the
    fullOuter mirror argument) must emit BOTH matched and left-side
    null-padded rows, keep the right side fully populated, and never
    leak a sentinel."""
    from bigdata_covid19_real_time_spark.plans import QUERIES

    rows = QUERIES["events_stream_interval_join_right_replay"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    matched = [r for r in rows if r["click_id"] is not None]
    padded = [r for r in rows if r["click_id"] is None]
    assert matched and padded
    assert all(
        r["click_ts"] is None and r["click_value"] is None for r in padded
    )
    assert all(r["purchase_id"] is not None for r in rows)
    assert not [r for r in rows if r["user_id"] < 0], "sentinel leaked"


def test_stream_stream_interval_full_outer_both_sides(spark, tmp_path):
    """fullOuter interval join: BOTH sides null-pad — an unmatched
    click flushes once the watermark passes its join window, an
    unmatched purchase once the watermark passes its event time (no
    late click could still match it)."""
    import json as _json

    from bigdata_covid19_real_time_spark.streaming.joins import (
        interval_join_streams,
    )

    (tmp_path / "clicks").mkdir()
    (tmp_path / "buys").mkdir()
    (tmp_path / "clicks" / "c1.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user": "u1", "click_ts": "2024-01-01T10:00:00", "page": "p1"},
                {"user": "u2", "click_ts": "2024-01-01T10:05:00", "page": "p2"},
            ]
        )
    )
    # u3's purchase has no preceding click -> right-side null-pad
    (tmp_path / "buys" / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user": "u1", "buy_ts": "2024-01-01T10:04:00", "amount": 5.0},
                {"user": "u3", "buy_ts": "2024-01-01T10:06:00", "amount": 9.0},
            ]
        )
    )
    (tmp_path / "clicks" / "c2.jsonl").write_text(
        _json.dumps({"user": "w1", "click_ts": "2024-01-01T12:00:00", "page": "px"})
    )
    (tmp_path / "buys" / "b2.jsonl").write_text(
        _json.dumps({"user": "w2", "buy_ts": "2024-01-01T12:00:00", "amount": 0.0})
    )
    cs = (
        spark.readStream.schema("user string, click_ts string, page string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "clicks"))
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    bs = (
        spark.readStream.schema("user string, buy_ts string, amount double")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "buys"))
        .withColumn("buy_ts", F.to_timestamp("buy_ts"))
    )
    joined = interval_join_streams(
        cs, bs, key="user", left_time="click_ts", right_time="buy_ts",
        max_delay="10 minutes", watermark="10 minutes", how="fullOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_fo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain([q])
    rows = {
        (r["user"], r["page"], r["amount"])
        for r in spark.sql("SELECT user, page, amount FROM ssjoin_fo").collect()
    }
    assert ("u1", "p1", 5.0) in rows            # matched
    assert ("u2", "p2", None) in rows           # left null-pad
    assert ("u3", None, 9.0) in rows            # right null-pad
    assert not [r for r in rows if r[0] in ("w1", "w2")]  # pushers buffered


def test_full_outer_replay_covers_both_null_pads(spark):
    """The fullOuter replay gate must emit matched rows AND null-padded
    rows on BOTH sides (otherwise it degenerates to the leftOuter
    gate), with no sentinel leakage."""
    from bigdata_covid19_real_time_spark.plans import QUERIES

    rows = QUERIES["events_stream_interval_join_full_replay"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    matched = [
        r for r in rows
        if r["purchase_id"] is not None and r["click_id"] is not None
    ]
    left_pad = [r for r in rows if r["purchase_id"] is None]
    right_pad = [r for r in rows if r["click_id"] is None]
    assert matched and left_pad and right_pad
    assert all(r["click_ts"] is None for r in right_pad)
    assert not [r for r in rows if r["user_id"] < 0], "sentinel leaked"


def test_sessions_replay_merges_across_batches(spark):
    """The streaming sessionization gate is non-vacuous: the planted
    bridge sessions (rows in CONSECUTIVE epoch files, 20-minute gap)
    come back as ONE two-event session each — a within-batch-only
    sessionizer would emit two one-event rows — and the
    watermark-pusher sentinel never leaks."""
    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.plans.stream_replay import (
        BRIDGE_USER_BASE,
        N_EPOCHS,
    )

    rows = QUERIES["events_stream_sessions_replay"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    bridges = {
        r["user_id"]: r for r in rows if r["user_id"] <= BRIDGE_USER_BASE
    }
    assert len(bridges) == N_EPOCHS - 1
    for u, r in bridges.items():
        assert r["events_count"] == 2, (u, r)
        assert r["session_value"] == 3.0
        # the session genuinely spans midnight
        assert r["session_start"][:10] != r["session_end"][:10]
    assert not [r for r in rows if r["user_id"] == -1], "sentinel leaked"
    # natural sessions ride through the same operator
    assert len(rows) > len(bridges)


def test_stream_static_join_replay_enriches_and_null_pads(spark):
    """The stream-static dim-join gate is non-vacuous: events of
    dim-present users (c_custkey % 3 != 0) come back enriched with
    segment + nation, events of dropped users come back null-padded,
    every horizon event emits exactly once (the dim key is unique, so
    a leftOuter cannot fan out or drop), and the join is stateless —
    no row waits on a watermark."""
    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.plans.stream_replay import (
        _horizon_events,
    )

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_stream_static_join_replay"](spark, sf).collect()
    enriched = [r for r in rows if r["nation"] is not None]
    padded = [r for r in rows if r["nation"] is None]
    assert enriched and padded
    assert all(r["user_id"] % 3 != 0 for r in enriched)
    assert all(r["segment"] is not None for r in enriched)
    assert all(
        r["user_id"] % 3 == 0 and r["segment"] is None for r in padded
    )
    assert len(rows) == _horizon_events(spark, sf).count()
    assert len({r["event_id"] for r in rows}) == len(rows)


def test_enrich_stream_with_dim_rejects_unplannable_how(spark):
    """Right/full outer against a static right side would need
    unbounded state (which dim rows never match is unknowable while
    the stream lives); the helper rejects them with a clear message
    instead of Spark's plan-time error."""
    import pytest as _pytest

    from bigdata_covid19_real_time_spark.streaming.joins import (
        enrich_stream_with_dim,
    )

    df = spark.range(1)
    for how in ("rightOuter", "fullOuter", "cross"):
        with _pytest.raises(ValueError, match="not plannable"):
            enrich_stream_with_dim(df, df, key="id", how=how)


def test_enrich_stream_with_dim_batch_degradation_is_documented(spark):
    """Batch degradation contract (round-10 verdict item #4): given a
    BATCH frame the helper does not raise — it degrades to a plain
    broadcast-hash join with identical row semantics (what makes the
    batch/streaming twin tests comparable), and the result is a batch
    frame the caller can detect via ``isStreaming``.  The docstring
    must keep saying so, since callers needing a streaming guarantee
    are told to assert ``stream.isStreaming`` themselves."""
    from bigdata_covid19_real_time_spark.streaming.joins import (
        enrich_stream_with_dim,
    )

    stream = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, payload string"
    )
    dim = spark.createDataFrame([(1, "gold"), (3, "free")], "id int, tier string")
    out = enrich_stream_with_dim(stream, dim, key="id")
    assert not out.isStreaming  # batch in -> batch out, silently
    expected = stream.join(F.broadcast(dim), on="id", how="leftOuter")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # the degradation is a documented contract, not an accident
    assert "Batch degradation" in enrich_stream_with_dim.__doc__
    assert "isStreaming" in enrich_stream_with_dim.__doc__


def test_stream_decontam_replay_drops_by_content_not_id(spark):
    """The streaming decontamination gate is non-vacuous in both
    directions: the planted contaminated COPIES (blocklist texts under
    fresh doc_ids — an id-based filter would keep them) are absent,
    the planted NOVEL probes survive, every blocklist doc is dropped,
    and clean originals ride through untouched."""
    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.plans.stream_replay import (
        COPY_ID_OFFSET,
        N_EPOCHS,
        NOVEL_ID_BASE,
    )

    rows = QUERIES["docs_stream_decontam_replay"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    ids = {r["doc_id"] for r in rows}
    assert not [i for i in ids if COPY_ID_OFFSET <= i < NOVEL_ID_BASE], (
        "a contaminated copy survived — the filter matched on id, not content"
    )
    novel = [r for r in rows if r["doc_id"] >= NOVEL_ID_BASE]
    assert len(novel) == N_EPOCHS
    assert all(r["source"] == "probe" for r in novel)
    originals = [r for r in rows if r["doc_id"] < COPY_ID_OFFSET]
    assert originals, "no clean originals survived"
    assert not [r for r in originals if r["doc_id"] % 10 == 3], (
        "a blocklist doc leaked through"
    )
