"""Runnable pipeline entry point: ``python -m bigdata_covid19_real_time_spark``.

The twin of the reference's launchable streaming app
(/root/reference/spark/covid_streaming.py:200-226 ``main`` +
/root/reference/spark/Dockerfile:40-47 CMD): builds the session, wires a
source, the ``CovidPipeline`` fan-out, and sinks from CLI flags, then
blocks on the started queries.

Examples
--------
Drain a directory of JSON-lines files once and exit (broker-free smoke)::

    python -m bigdata_covid19_real_time_spark \
        --source jsonl --source-path /data/in \
        --sink parquet --sink-dir /data/out \
        --checkpoint /data/ckpt --available-now

The reference's deployment shape (Kafka in, JDBC out, 30 s cadence)::

    python -m bigdata_covid19_real_time_spark \
        --source kafka --brokers kafka:9092 --topic covid_data \
        --sink jdbc --jdbc-url jdbc:mysql://mysql:3306/covid \
        --jdbc-user root --jdbc-password example \
        --checkpoint /tmp/ckpt --trigger "30 seconds" --mode parity

Soak-test without a broker or files (rate source, console sink)::

    python -m bigdata_covid19_real_time_spark \
        --source rate --rate-rows-per-second 50 \
        --sink console --checkpoint /tmp/ckpt --mode streaming
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m bigdata_covid19_real_time_spark",
        description="Run the COVID streaming pipeline (clean -> fan out to "
        "realtime/predictions/continent/hotspots sink tables, plus "
        "windowed stats in streaming mode).",
    )
    src = p.add_argument_group("source")
    src.add_argument(
        "--source",
        choices=["jsonl", "kafka", "rate"],
        default="jsonl",
        help="input stream: jsonl directory (broker-free twin), kafka topic, "
        "or the synthetic rate generator",
    )
    src.add_argument("--source-path", help="directory of JSON-lines files (jsonl)")
    src.add_argument("--brokers", help="kafka bootstrap servers (kafka)")
    src.add_argument("--topic", default="covid_data", help="kafka topic (kafka)")
    src.add_argument(
        "--starting-offsets", default="earliest", help="kafka starting offsets"
    )
    src.add_argument(
        "--max-offsets-per-trigger",
        type=int,
        default=None,
        help="kafka per-batch row cap (consumer-side backpressure)",
    )
    src.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=1,
        help="jsonl files per micro-batch (deterministic epochs)",
    )
    src.add_argument(
        "--rate-rows-per-second", type=int, default=10, help="rate source speed"
    )

    snk = p.add_argument_group("sink")
    snk.add_argument(
        "--sink",
        choices=["parquet", "jsonl", "csv", "orc", "jdbc", "console"],
        default="parquet",
        help="where the pipeline tables land (four in parity mode, five in "
        "streaming mode); file sinks write each epoch to its own epoch=N "
        "partition, so a replayed epoch replaces its output",
    )
    snk.add_argument("--sink-dir", help="output base directory (file sinks)")
    snk.add_argument("--jdbc-url", help="JDBC url (jdbc sink)")
    snk.add_argument("--jdbc-user", default="root")
    snk.add_argument("--jdbc-password", default="")
    snk.add_argument(
        "--jdbc-driver", default="com.mysql.cj.jdbc.Driver", help="JDBC driver class"
    )

    run = p.add_argument_group("run")
    run.add_argument(
        "--pipeline",
        choices=["covid", "corpus"],
        default="covid",
        help="covid = the reference pipeline fan-out; corpus = the "
        "streaming training-corpus builder (quality gate + fingerprint "
        "dedup; jsonl source + --sink-dir only)",
    )
    run.add_argument("--checkpoint", required=True, help="checkpoint directory")
    run.add_argument(
        "--mode",
        choices=["parity", "streaming"],
        default="parity",
        help="parity = reference semantics (per-batch windows); streaming = "
        "true watermarked streaming aggregations + cross-batch dedup",
    )
    run.add_argument(
        "--trigger", default="30 seconds", help="processing-time trigger cadence"
    )
    run.add_argument(
        "--available-now",
        action="store_true",
        help="drain all available input once, then stop (smoke/backfill runs)",
    )
    run.add_argument(
        "--window", default="5 minutes", help="rollup window duration"
    )
    run.add_argument("--watermark", default="10 minutes", help="lateness budget")
    run.add_argument(
        "--no-fail-fast",
        action="store_true",
        help="reproduce the reference's log-and-continue epoch error policy",
    )
    run.add_argument("--master", default=None, help="spark master override")
    run.add_argument(
        "--timeout",
        type=float,
        default=None,
        help="stop after N seconds (soak runs); default: run until terminated",
    )
    return p


def _build_source(args: argparse.Namespace, spark: SparkSession):
    from bigdata_covid19_real_time_spark.streaming.sources import (
        read_jsonl_stream,
        read_kafka_stream,
        read_rate_stream,
    )

    if args.source == "jsonl":
        if not args.source_path:
            raise SystemExit("--source jsonl requires --source-path")
        return read_jsonl_stream(
            spark, args.source_path, max_files_per_trigger=args.max_files_per_trigger
        )
    if args.source == "kafka":
        if not args.brokers:
            raise SystemExit("--source kafka requires --brokers")
        return read_kafka_stream(
            spark,
            args.brokers,
            args.topic,
            starting_offsets=args.starting_offsets,
            max_offsets_per_trigger=args.max_offsets_per_trigger,
        )
    return read_rate_stream(spark, args.rate_rows_per_second)


def _build_sink(args: argparse.Namespace):
    from bigdata_covid19_real_time_spark.sinks.registry import (
        ConsoleSink,
        FileSink,
        JdbcSink,
    )

    if args.sink == "console":
        return ConsoleSink()
    if args.sink == "jdbc":
        if not args.jdbc_url:
            raise SystemExit("--sink jdbc requires --jdbc-url")
        return JdbcSink(
            args.jdbc_url,
            {
                "user": args.jdbc_user,
                "password": args.jdbc_password,
                "driver": args.jdbc_driver,
            },
        )
    if not args.sink_dir:
        raise SystemExit(f"--sink {args.sink} requires --sink-dir")
    fmt = {"jsonl": "json"}.get(args.sink, args.sink)
    return FileSink(args.sink_dir, fmt=fmt)


def _await_then_stop(queries: list[StreamingQuery], timeout: float | None) -> None:
    """Block until every query ends, ``timeout`` seconds pass (one
    deadline for all of them, not one per query) or the user interrupts;
    then stop every query."""
    deadline = None if timeout is None else time.monotonic() + timeout
    try:
        for q in queries:
            if deadline is None:
                q.awaitTermination()
                continue
            left = deadline - time.monotonic()
            if left <= 0:  # awaitTermination rejects a wait <= 0
                break
            q.awaitTermination(left)
    except KeyboardInterrupt:
        pass
    finally:
        for q in queries:
            q.stop()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from bigdata_covid19_real_time_spark.session import get_spark
    from bigdata_covid19_real_time_spark.streaming.runner import CovidPipeline

    if args.pipeline == "corpus":
        from bigdata_covid19_real_time_spark.streaming.corpus import CorpusIngest

        if args.source != "jsonl" or not args.source_path:
            raise SystemExit("--pipeline corpus requires --source jsonl --source-path")
        if not args.sink_dir:
            raise SystemExit("--pipeline corpus requires --sink-dir")
        spark = get_spark(app_name="corpus-ingest", master=args.master)
        q = CorpusIngest(args.sink_dir).run(
            spark, args.source_path, args.checkpoint,
            available_now=args.available_now,
        )
        _await_then_stop([q], args.timeout)
        return 0

    spark = get_spark(app_name="covid-pipeline", master=args.master)
    stream = _build_source(args, spark)
    pipeline = CovidPipeline(
        sink=_build_sink(args),
        mode=args.mode,
        window_duration=args.window,
        watermark=args.watermark,
        fail_fast=not args.no_fail_fast,
    )
    trigger = (
        {"availableNow": True}
        if args.available_now
        else {"processingTime": args.trigger}
    )
    queries = pipeline.run(stream, checkpoint_dir=args.checkpoint, trigger=trigger)
    _await_then_stop(queries, args.timeout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
