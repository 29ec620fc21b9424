"""Streaming sources + the Kafka wire codec.

Mirrors the reference's edges (SURVEY.md §2.1):

- S1 Kafka stream source (covid_streaming.py:206-212): subscribe,
  earliest offsets, tolerate data loss.  Declared here verbatim; the
  test environment has no broker or kafka connector jar, so tests use
  the file source below — the parse stage after ``load()`` is identical
  either way.
- S3 producer (covid_producer.py:9-12,31-33): the reference JSON-encodes
  rows in Python and paces with ``time.sleep(0.1)``; the engine encodes
  JVM-side with ``to_json(struct(*))`` and paces with
  ``maxOffsetsPerTrigger`` (back-pressure where it belongs — at the
  consumer).
- P1-P3 parse stage (covid_streaming.py:215-217): binary value ->
  string -> ``from_json`` (PERMISSIVE: malformed line -> all-NULL row)
  -> flatten.

The file JSON-lines source is the broker-free twin used by tests and
local runs: same wire format, same parse stage, same downstream plan.
``maxFilesPerTrigger=1`` gives deterministic micro-batch boundaries
(one file = one epoch) the way ``maxOffsetsPerTrigger`` bounds a Kafka
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata_covid19_real_time_spark.schema import RAW_SCHEMA


def parse_json_value(
    df: DataFrame, schema: StructType = RAW_SCHEMA, value_col: str = "value"
) -> DataFrame:
    """P1-P3: ``CAST(value AS STRING)`` -> ``from_json(schema)`` ->
    flatten.  Works on batch or streaming frames; malformed payloads
    become all-NULL rows (PERMISSIVE), never errors."""
    return (
        df.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", schema).alias("data"))
        .select("data.*")
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The S1/T7 option set, as data — testable without a broker or the
    kafka connector jar (the env has neither, so ``load()`` can never
    run here; this pins subscribe/offsets/failOnDataLoss against
    regression instead).  Data loss is tolerated, as in the reference
    (T7: ``failOnDataLoss=false``)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1: the reference's Kafka source (covid_streaming.py:206-212),
    plus ``maxOffsetsPerTrigger`` for consumer-side rate control.

    Requires the ``spark-sql-kafka`` connector on the classpath; in
    broker-less environments use ``read_jsonl_stream`` — everything
    downstream of ``load()`` is identical.
    """
    reader = spark.readStream.format("kafka")
    for key, value in kafka_source_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(key, value)
    return parse_json_value(reader.load())


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType = RAW_SCHEMA,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-based JSON-lines stream: the broker-free S1 twin.

    Reads raw text (NOT ``format("json")``) so malformed lines flow
    through the same PERMISSIVE ``from_json`` path as Kafka payloads.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return parse_json_value(reader.load(path), schema)


def to_json_value(df: DataFrame) -> DataFrame:
    """S3 producer encode: every column JSON-packed into a single
    ``value`` string — the Kafka wire shape (``to_json(struct(*))``),
    computed JVM-side instead of the reference's per-row Python
    ``json.dumps`` (covid_producer.py:11)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def write_kafka_batch(
    df: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """S3: batch DataFrame -> Kafka topic (the producer path,
    covid_producer.py:26-39, minus the sleep-based pacing)."""
    (
        to_json_value(df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_jsonl_batch(df: DataFrame, path: str, mode: str = "append") -> None:
    """Broker-free producer twin: encode to the wire format and append
    JSON-lines files that ``read_jsonl_stream`` can tail."""
    to_json_value(df).write.mode(mode).text(path)


def read_rate_stream(
    spark: SparkSession, rows_per_second: int = 10
) -> DataFrame:
    """Rate source -> RAW-shaped synthetic observation stream: the
    load-generator twin of the reference's sleeping producer
    (covid_producer.py:33 paces ~10 rows/s; here the source itself is
    rated).  Useful for soak-testing the pipeline without a broker or
    files."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    v = F.col("value")
    return rate.select(
        v.cast("string").alias("uuid"),
        F.lit("Africa").alias("continent"),
        F.concat(F.lit("loc"), (v % 20).cast("string")).alias("location"),
        F.concat(F.lit("L"), (v % 20).cast("string")).alias("iso_code"),
        F.date_format("timestamp", "yyyy-MM-dd").alias("date"),
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        (v * 1000 + 1).cast("string").alias("total_cases"),
        (v * 10).cast("string").alias("new_cases"),
        (v % 97).cast("string").alias("total_deaths"),
        (v % 11).cast("string").alias("new_deaths"),
        (v * 7 % 1000).cast("string").alias("active_cases"),
        F.lit("1000000").alias("population"),
        F.lit("").alias("recovery_rate"),
        F.lit("").alias("death_rate"),
        F.lit("").alias("cases_per_million"),
        F.lit("").alias("deaths_per_million"),
        F.lit("").alias("new_cases_ratio"),
        F.lit("").alias("cases_to_population_ratio"),
        F.when(v % 13 == 0, F.lit("true")).otherwise(F.lit("false")).alias("is_hotspot"),
    )
