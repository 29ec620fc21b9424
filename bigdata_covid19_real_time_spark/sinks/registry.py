"""Pluggable sinks for the streaming runner.

The reference hard-wires one sink: JDBC append to MySQL inside
``write_to_mysql`` (covid_streaming.py:51-61) — at-least-once, silently
swallowing errors, with ``rdd.isEmpty()``/``count()`` probes costing two
extra jobs per write (SURVEY.md §2.10).  Here one sink receives all of a
pipeline's tables, and:

- a ``Sink`` is anything callable as ``write(df, epoch_id, table)``;
  the pipeline calls it for an epoch's tables from concurrent threads,
  one table per thread;
- ``JdbcSink`` is the parity sink (append); a failed write raises, and
  the reference's log-and-continue policy is the pipeline's
  ``fail_fast=False``, the one error switch;
- ``FileSink`` appends files in any built-in format, parquet by default
  (the cluster-native sink);
- ``IdempotentParquetSink`` solves the reference's replay problem
  (SURVEY.md §4 "sink idempotency"): writes land in an ``epoch=N``
  partition with dynamic partition overwrite, so a replayed epoch
  *replaces* its own previous output instead of duplicating it —
  exactly-once per epoch on top of Spark's at-least-once replay;
- ``MemorySink`` collects to the driver for tests only.

None of the sinks run ``isEmpty``/``count`` probes: writing an empty
DataFrame is cheaper than probing for emptiness first (the probe is a
full extra job; the empty write is a no-op task set).  Nothing counts
the rows a sink writes yet: no engine code registers a listener or calls
``DataFrame.observe`` (ROADMAP item 4, "Row accounting", is open).  A
count added there must not cost an extra action either.
"""

from __future__ import annotations

import threading
from typing import Protocol

from pyspark.sql import DataFrame, functions as F


class Sink(Protocol):
    def write(self, df: DataFrame, epoch_id: int, table: str) -> None: ...


class MemorySink:
    """Driver-side collected tables — tests only (unbounded memory)."""

    def __init__(self) -> None:
        self.tables: dict[str, list] = {}
        self.epochs: dict[str, list[int]] = {}

    def write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        self.tables.setdefault(table, []).extend(df.collect())
        self.epochs.setdefault(table, []).append(epoch_id)

    def rows(self, table: str) -> list:
        return self.tables.get(table, [])


class FileSink:
    """Plain append to a columnar/row file format: one directory per
    table.  At-least-once on replay (same caveat as the reference's JDBC
    append).  ``fmt`` is any built-in DataSource: parquet (default),
    orc, json, csv — parquet/orc for analytics (column pruning +
    predicate pushdown on read-back), json/csv for interchange.  CSV
    files carry a header row, so a reader can name their columns."""

    def __init__(self, base_dir: str, fmt: str = "parquet") -> None:
        self.base_dir = base_dir
        self.fmt = fmt

    def write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        (
            df.write.mode("append")
            .format(self.fmt)
            .option("header", "true")  # read by the csv writer only
            .save(f"{self.base_dir}/{table}")
        )


class IdempotentParquetSink:
    """Exactly-once per epoch: append into an ``epoch=N`` partition with
    dynamic partition overwrite.  A replayed epoch overwrites only its own
    partition; other epochs are untouched.  Readers see the table as the
    union of epoch partitions (partition pruning applies on epoch)."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir

    def write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        (
            df.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(f"{self.base_dir}/{table}")
        )


class JdbcSink:
    """Reference-parity JDBC append (covid_streaming.py:51-61).

    A failed write raises.  The reference's log-and-continue policy is
    the pipeline's ``CovidPipeline(fail_fast=False)``, applied once per
    epoch, not a switch on each sink.
    """

    def __init__(self, url: str, properties: dict[str, str]) -> None:
        self.url = url
        self.properties = properties

    def write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        writer = (
            df.write.mode("append")
            .format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
        )
        for k, v in self.properties.items():
            writer = writer.option(k, v)
        writer.save()


class ConsoleSink:
    """Show a bounded preview (20 rows) per epoch — debugging.

    The pipeline writes an epoch's tables concurrently; one lock, shared
    by every instance (they share stdout), keeps each table's header and
    preview together."""

    _stdout_lock = threading.Lock()

    def write(self, df: DataFrame, epoch_id: int, table: str) -> None:
        with self._stdout_lock:
            print(f"=== epoch {epoch_id} -> {table}")
            df.show(20, truncate=False)
