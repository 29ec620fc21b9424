"""The streaming pipeline runner: one source, four derived tables.

Re-expresses the reference's ``process_batch`` + ``main``
(covid_streaming.py:111-226) Spark-first:

- the per-epoch fan-out (realtime / predictions / continent / hotspots)
  runs inside one ``foreachBatch``, like the reference — but the cleaned
  frame is **persisted once per epoch** instead of re-derived per branch
  (the reference re-reads the Kafka batch up to ~10x per epoch:
  SURVEY.md §4 "caching / reuse"), and the table writes run
  **concurrently**, one thread per table, where the reference writes
  them one after another.  The epoch still commits once, after every
  write has returned; the first failed write fails the epoch;
- no ``rdd.isEmpty()`` / ``count()`` probes (6+1 extra jobs per epoch in
  the reference, covid_streaming.py:53,56,65,...) — writing an empty
  DataFrame is a no-op task set, strictly cheaper than probing first;
- the sink is pluggable (sinks/registry.py) instead of hard-wired MySQL;
  one sink receives every table, like the reference's one MySQL;
- two windowing modes:
  * ``parity``   — the reference's semantics: every operator (including
    the "7-day" row-frame forecaster and the 5-minute rollup) sees only
    the current micro-batch; the watermark is omitted because on a batch
    frame it is inert anyway (SURVEY.md §2.5 A2);
  * ``streaming`` — the corrected semantics: the continent rollup runs
    as a *true* streaming aggregation with ``withWatermark`` + UPDATE
    output mode (incremental state, late-data eviction; each window
    emits a refreshed row per batch that touches it, so results appear
    before the window closes).  Durable sinks therefore see multiple
    partials per window: ``FileSink`` tags each with its ``epoch``, and
    a reader takes last-wins per (window_start, key) —
    ``max(epoch)`` identifies the final row.
    Realtime-row dedup uses ``dropDuplicatesWithinWatermark`` instead
    of per-batch ``dropDuplicates``.

Scale: each epoch shuffles at most three times (dedup key, forecaster's
location window, rollup key) over one persisted scan of the batch.  Then
the table writes run concurrently, so an epoch takes about as long as its
slowest write, not the sum of them; their jobs share the cores, and the
persisted scan is still computed once.  The sinks receive
partition-parallel writes; nothing collects to the driver.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdata_covid19_real_time_spark.functions.cleaning import clean_observations
from bigdata_covid19_real_time_spark.operators.aggregate import (
    continent_window_stats,
    windowed_location_stats,
)
from bigdata_covid19_real_time_spark.operators.hotspot import detect_hotspots
from bigdata_covid19_real_time_spark.operators.predict import (
    PREDICTION_COLUMNS,
    predict_future_trends,
)
from bigdata_covid19_real_time_spark.schema import validate_sink_schema
from bigdata_covid19_real_time_spark.sinks.registry import Sink

logger = logging.getLogger(__name__)

#: Sink table names (covid_streaming.py:154,159,182,193).
REALTIME_TABLE = "covid_realtime_stats"
PREDICTIONS_TABLE = "covid_predictions"
CONTINENT_TABLE = "continent_covid_stats"
HOTSPOTS_TABLE = "covid_hotspots"
#: A6 — declared in the reference DDL (init.sql:42-54) but never
#: populated by its code; the streaming mode populates it for real.
WINDOWED_TABLE = "windowed_covid_stats"
#: The fan-out query's name; the streaming rollups append their suffix.
QUERY_NAME = "covid-pipeline"


@dataclass
class CovidPipeline:
    """Clean -> fan out to four sink tables, per micro-batch.

    ``sink`` receives every table; every frame is checked against
    schema.SINK_SCHEMAS (the init.sql DDL twin) before it reaches the
    sink — a driver-side metadata compare, no job.  ``clock`` freezes
    audit columns for deterministic tests.
    """

    sink: Sink
    mode: str = "parity"  # "parity" | "streaming"
    window_duration: str = "5 minutes"
    watermark: str = "10 minutes"
    clock: Column | None = None
    #: True (default): a failing epoch fails the stream — right for
    #: anything feeding downstream jobs.  False reproduces the
    #: reference's log-and-continue policy (covid_streaming.py:112-198
    #: wraps the whole batch in try/except — X4 in SURVEY.md §2.10),
    #: where batch failures are logged and data silently dropped.  It is
    #: the pipeline's one error switch: no sink swallows errors itself.
    fail_fast: bool = True

    def _write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        validate_sink_schema(df, table)
        self.sink.write(df, epoch_id, table)

    # ------------------------------------------------------------------
    # the per-epoch fan-out (foreachBatch body)
    # ------------------------------------------------------------------

    def process_batch(self, raw: DataFrame, epoch_id: int) -> None:
        """The reference's ``process_batch`` (covid_streaming.py:111-198)
        minus its per-branch recomputation and probe jobs."""
        try:
            self._process_batch(raw, epoch_id)
        except Exception:
            if self.fail_fast:
                raise
            logger.exception("epoch %s failed; continuing (fail_fast=False)", epoch_id)

    def _process_batch(self, raw: DataFrame, epoch_id: int) -> None:
        cleaned = clean_observations(raw, clock=self.clock).persist()

        def realtime() -> DataFrame:
            return cleaned.dropDuplicates(["location", "date"])

        builders: dict[str, Callable[[], DataFrame]] = {
            REALTIME_TABLE: realtime,
            PREDICTIONS_TABLE: lambda: (
                predict_future_trends(realtime(), clock=self.clock)
                .dropDuplicates(["location", "prediction_date"])
            ),
        }
        if self.mode == "parity":
            # continent rollup per batch (watermark inert, omitted)
            builders[CONTINENT_TABLE] = lambda: continent_window_stats(
                cleaned, self.window_duration, clock=self.clock
            )
        builders[HOTSPOTS_TABLE] = lambda: detect_hotspots(cleaned, clock=self.clock)

        errors: dict[str, BaseException] = {}

        def build_and_write(table: str, build: Callable[[], DataFrame]) -> None:
            try:
                self._write(build(), epoch_id, table)
            except BaseException as exc:  # noqa: BLE001 -- re-raised below
                errors[table] = exc

        # One thread per table: the epoch commits once, after every write,
        # so their order is free.  InheritableThread hands each write the
        # stream thread's local properties (query id, run-id job group),
        # so query.stop() still cancels a write in flight.
        threads: list[InheritableThread] = []
        try:
            for table, build in builders.items():
                thread = InheritableThread(
                    target=build_and_write, args=(table, build), name=f"epoch-{epoch_id}-{table}"
                )
                thread.start()
                threads.append(thread)
        finally:
            for thread in threads:
                thread.join()
            cleaned.unpersist()
        for table in builders:
            if table in errors:
                raise errors[table]

    # ------------------------------------------------------------------
    # stream wiring
    # ------------------------------------------------------------------

    def run(
        self,
        parsed_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> list[StreamingQuery]:
        """Start the pipeline on a parsed (RAW_SCHEMA-shaped) stream.

        ``trigger`` passes through to ``DataStreamWriter.trigger`` —
        ``{"availableNow": True}`` for drain-and-stop test runs,
        ``{"processingTime": "30 seconds"}`` for the reference cadence.

        In ``streaming`` mode three queries start, in this order: the
        foreachBatch fan-out (with the per-batch rollup removed) plus true
        streaming aggregations for the continent rollup and per-location
        windowed stats — watermarked, UPDATE output mode, so every batch that
        touches a window re-emits that window's refreshed row.  With a
        durable sink, dedup on read with last-wins per (window_start,
        key): ``FileSink`` writes the ``epoch`` column; take ``max(epoch)``.
        The queries are named ``QUERY_NAME`` plus ``-continent`` /
        ``-windowed`` and checkpoint under ``checkpoint_dir`` in
        ``fanout`` / ``continent`` / ``windowed``.  Returns the started
        queries; callers own ``awaitTermination``.
        """
        trigger = trigger or {"processingTime": "30 seconds"}
        queries: list[StreamingQuery] = []

        fanout_input = parsed_stream
        if self.mode == "streaming":
            # cross-batch dedup on the realtime natural key BEFORE the
            # fan-out: the reference's per-batch dropDuplicates lets
            # duplicates spanning micro-batches reach every sink
            # (SURVEY.md §2.7); watermark-bounded state closes that gap
            fanout_input = dedup_within_watermark(
                parsed_stream, keys=["location", "date"], watermark=self.watermark
            )

        fanout = (
            fanout_input.writeStream.foreachBatch(self.process_batch)
            .outputMode("append")
            .option("checkpointLocation", f"{checkpoint_dir}/fanout")
            .trigger(**trigger)
            .queryName(QUERY_NAME)
            .start()
        )
        queries.append(fanout)

        if self.mode == "streaming":
            cleaned = clean_observations(parsed_stream, clock=self.clock)
            rollups = [
                # exact distinct cannot run incrementally: approx=True
                (CONTINENT_TABLE, "continent", continent_window_stats(
                    cleaned, self.window_duration, clock=self.clock,
                    watermark=self.watermark, approx=True,
                )),
                # A6: the per-location windowed stats table the reference
                # declares but never writes
                (WINDOWED_TABLE, "windowed", windowed_location_stats(
                    cleaned, self.window_duration, clock=self.clock,
                    watermark=self.watermark,
                )),
            ]
            for table, suffix, rollup in rollups:
                queries.append(
                    rollup.writeStream.foreachBatch(partial(self._write, table=table))
                    .outputMode("update")
                    .option("checkpointLocation", f"{checkpoint_dir}/{suffix}")
                    .trigger(**trigger)
                    .queryName(f"{QUERY_NAME}-{suffix}")
                    .start()
                )
        return queries


def dedup_within_watermark(
    parsed_stream: DataFrame,
    keys: list[str],
    event_time_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Cross-batch streaming dedup (the reference's D1-D4 are
    within-batch only; duplicates spanning micro-batches reach the sink —
    SURVEY.md §2.7).  ``dropDuplicatesWithinWatermark`` keeps per-key
    state until the watermark passes, bounding state while catching any
    duplicate arriving within the lateness budget.

    The event-time column must be TIMESTAMP for watermarking; a raw
    (still-string) frame gets it typed in place first."""
    if dict(parsed_stream.dtypes).get(event_time_col) == "string":
        parsed_stream = parsed_stream.withColumn(
            event_time_col, F.try_to_timestamp(F.col(event_time_col))
        )
    return parsed_stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(keys)
