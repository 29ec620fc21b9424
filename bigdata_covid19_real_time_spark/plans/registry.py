"""Registry mapping query names to (Spark callable, DuckDB oracle SQL).

The driver's correctness gate runs each Spark query and its oracle SQL
side-by-side and compares row count + schema + order-insensitive value
hash.  Registration rules that keep that comparison meaningful:

- alias every computed column identically in Spark and SQL;
- wrap every floating-point output in ``round(...)`` at a scale where
  cross-engine accumulation-order noise (~1e-12 relative) cannot flip the
  rounded value;
- cast SQL integer aggregates to BIGINT (DuckDB SUM(int) is HUGEINT,
  Spark's is long);
- emit timestamps as formatted strings (cross-engine timezone semantics
  differ); DATE columns are safe as-is;
- make every query deterministic: explicit tie-breaks on sorts/limits,
  ``row_number``-based dedup instead of ``dropDuplicates`` where the
  surviving row matters.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bigdata_covid19_real_time_spark.schema import ROUND_EPS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def stable_round(col, scale: int):
    """Cross-engine-stable rounding for final projections (see ROUND_EPS)."""
    from pyspark.sql import Column, functions as F

    c = F.col(col) if not isinstance(col, Column) else col
    return F.round(c + F.lit(ROUND_EPS), scale)


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks a non-SQL-expressible op
    (the driver then records a weaker rows-only check)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
