"""Hotspot detection: compound predicate + dedup + projection.

Semantics match /root/reference/spark/covid_streaming.py:185-191 (P6, C11,
D4 in SURVEY.md §2):

- predicate: ``new_cases > 10000 OR death_rate > 0.05 OR is_hotspot``
  (NULL ``is_hotspot`` passes only via the numeric disjuncts — SQL
  three-valued logic, same as the reference);
- ``detected_date = to_date(timestamp)`` used as the dedup key with
  ``location``;
- 8-column projection with a ``detected_at`` audit column.

Scale note: the filter is a narrow op Catalyst pushes toward the scan
(on Parquet sources the numeric predicates reach the reader as
PushedFilters).  The dedup shuffles on (location, detected_date) only the
*surviving* rows — filter-before-shuffle matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOTSPOT_COLUMNS = [
    "location",
    "iso_code",
    "total_cases",
    "new_cases",
    "death_rate",
    "active_cases",
    "timestamp",
]


def detect_hotspots(
    df: DataFrame,
    clock: Column | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """Filter cleaned observations down to hotspot rows, one per
    (location, detected_date).

    ``deterministic=True`` swaps the reference's arbitrary-survivor
    ``dropDuplicates`` for a keep-latest ``row_number`` dedup (ordered by
    timestamp desc with value tie-breaks) so repeated runs — and
    cross-engine oracles — agree on which row survives.
    """
    clock = clock if clock is not None else F.current_timestamp()
    out = df.filter(
        (F.col("new_cases") > 10000)
        | (F.col("death_rate") > 0.05)
        | (F.col("is_hotspot") == True)  # noqa: E712 — null-safe 3VL like the reference
    ).withColumn("detected_date", F.to_date("timestamp"))
    if deterministic:
        from bigdata_covid19_real_time_spark.operators.dedup import dedup_latest

        out = dedup_latest(
            out,
            ["location", "detected_date"],
            [
                F.desc("timestamp"),
                F.desc("total_cases"),
                F.desc("active_cases"),
            ],
        )
    else:
        out = out.dropDuplicates(["location", "detected_date"])
    return out.select(*HOTSPOT_COLUMNS, clock.alias("detected_at"))
