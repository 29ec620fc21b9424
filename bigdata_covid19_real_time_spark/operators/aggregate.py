"""Aggregation operators: windowed rollups, dashboard views, rankings.

Covers SURVEY.md §2.5 A1-A7 and the two MySQL analytical views
(/root/reference/init-db/init.sql:92-110), re-homed as Spark queries so no
external RDBMS is needed for analytics.

Scale notes (all operators):
- every groupBy here is a hash aggregate with map-side partial
  aggregation — one shuffle on the grouping key;
- ``countDistinct`` is exact (parity with covid_streaming.py:169 /
  init.sql:95); ``continent_window_stats(approx=True)`` swaps in HLL
  ``approx_count_distinct`` — at 100 TB the exact distinct forces a
  second expand+shuffle, HLL does not;
- top-k is ``orderBy().limit(k)`` which Spark plans as
  TakeOrderedAndProject: per-partition heap of k rows then a driver merge
  of #partitions * k rows — no global sort at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def continent_window_stats(
    df: DataFrame,
    window_duration: str = "5 minutes",
    clock: Column | None = None,
    watermark: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Tumbling-window continent rollup (A1, covid_streaming.py:162-180).

    In the reference the ``withWatermark`` is semantically inert (applied
    to a batch DF inside foreachBatch).  Here: pass ``watermark=None`` for
    parity-mode batch use, or e.g. ``"10 minutes"`` when ``df`` is a
    *streaming* DataFrame to get true incremental state + late-data
    eviction.

    ``approx=True`` swaps the exact ``countDistinct`` for HLL
    ``approx_count_distinct`` — required on streaming frames (exact
    distinct needs a second expand+shuffle Spark cannot run
    incrementally) and the right trade at 100 TB anyway.

    The trailing ``dropDuplicates`` of the reference (:179) is a no-op
    after groupBy (keys already unique) and is intentionally omitted.
    """
    clock = clock if clock is not None else F.current_timestamp()
    if watermark:
        df = df.withWatermark("timestamp", watermark)
    count_countries = (
        F.approx_count_distinct("location") if approx else F.countDistinct("location")
    )
    return (
        df.groupBy(F.window(F.col("timestamp"), window_duration), "continent")
        .agg(
            F.sum("new_cases").alias("continent_new_cases"),
            F.sum("new_deaths").alias("continent_new_deaths"),
            F.avg("death_rate").alias("continent_avg_death_rate"),
            count_countries.alias("countries_count"),
            F.sum("total_cases").alias("continent_total_cases"),
        )
        .select(
            F.col("window.start").alias("continent_window_start"),
            F.col("window.end").alias("continent_window_end"),
            "continent",
            "continent_new_cases",
            "continent_new_deaths",
            "continent_avg_death_rate",
            "countries_count",
            "continent_total_cases",
            clock.alias("processed_at"),
        )
    )


def windowed_location_stats(
    df: DataFrame,
    window_duration: str = "5 minutes",
    clock: Column | None = None,
    watermark: str | None = None,
    latest_by: Column | None = None,
) -> DataFrame:
    """Per-location windowed stats (A6, declared at init.sql:42-54, never
    populated by the reference code — implemented here as capability).

    ``latest_active_cases`` ("latest" per the DDL name) is computed with
    ``max_by(active_cases, timestamp)`` — deterministic up to timestamp
    ties, unlike a naive ``last()`` over an unordered group.  Pass
    ``latest_by`` (any totally-ordered column, e.g. a monotone event id)
    to make it fully deterministic under ties.
    """
    clock = clock if clock is not None else F.current_timestamp()
    if watermark:
        df = df.withWatermark("timestamp", watermark)
    latest_key = latest_by if latest_by is not None else F.col("timestamp")
    return (
        df.groupBy(F.window(F.col("timestamp"), window_duration), "location", "iso_code")
        .agg(
            F.sum("new_cases").alias("total_new_cases_window"),
            F.sum("new_deaths").alias("total_new_deaths_window"),
            F.avg("death_rate").alias("avg_death_rate_window"),
            F.max("total_cases").alias("max_total_cases"),
            F.max_by("active_cases", latest_key).alias("latest_active_cases"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "location",
            "iso_code",
            "total_new_cases_window",
            "total_new_deaths_window",
            "avg_death_rate_window",
            "max_total_cases",
            "latest_active_cases",
            clock.alias("processed_at"),
        )
    )


def dashboard_summary(df: DataFrame) -> DataFrame:
    """Global per-day dashboard rollup (A3, init.sql:92-103), with the
    view's exact ``COUNT(DISTINCT location)``.

    The MySQL view compares the *stringified* boolean (``is_hotspot =
    'true'``); on the engine's typed frame that is ``is_hotspot == true``.
    """
    return (
        df.groupBy(F.to_date("timestamp").alias("report_date"))
        .agg(
            F.countDistinct("location").alias("countries_count"),
            F.sum("total_cases").alias("global_total_cases"),
            F.sum("new_cases").alias("global_new_cases"),
            F.sum("total_deaths").alias("global_total_deaths"),
            F.sum("new_deaths").alias("global_new_deaths"),
            F.avg("death_rate").alias("global_avg_death_rate"),
            F.count(F.when(F.col("is_hotspot") == True, 1)).alias("hotspot_count"),  # noqa: E712
        )
    )


def top_affected_countries(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-k countries by max total_cases (A4+D5, init.sql:105-110).

    Ties broken by location for determinism (the MySQL view's LIMIT is
    nondeterministic under ties).
    """
    return (
        df.groupBy("location", "iso_code")
        .agg(F.max("total_cases").alias("total_cases"))
        .orderBy(F.desc("total_cases"), F.asc("location"))
        .limit(k)
    )


def country_rankings(df: DataFrame, clock: Column | None = None) -> DataFrame:
    """Country-level aggregates + dense ranking position (A7,
    init.sql:81-90 — declared table the reference never populates).

    The ranking is a global window (single-partition exchange of the
    ~#countries aggregated rows, not the raw data — cheap because it runs
    *after* the groupBy collapses cardinality).
    """
    clock = clock if clock is not None else F.current_timestamp()
    ranked = Window.orderBy(F.desc("max_cases_country"), F.asc("location"))
    return (
        df.groupBy("location", "iso_code")
        .agg(
            F.max("total_cases").alias("max_cases_country"),
            F.sum("new_cases").alias("total_new_cases_country"),
            F.avg("death_rate").alias("avg_death_rate_country"),
        )
        .withColumn("ranking_position", F.row_number().over(ranked))
        .withColumn("updated_at", clock)
    )
