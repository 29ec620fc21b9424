"""Schemas: the input contract and sink-table schemas.

The input contract mirrors the reference's ``RAW_SCHEMA``
(/root/reference/spark/covid_streaming.py:29-49): 19 fields, all nullable
strings — typing is deferred to the cleaning stage
(functions/cleaning.py).  Sink schemas mirror the MySQL DDL
(/root/reference/init-db/init.sql:9-90) minus auto-increment surrogate ids
(an RDBMS-ism; Spark sinks are append-only files/tables keyed by natural
keys instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

RAW_FIELDS = [
    "uuid",
    "continent",
    "location",
    "iso_code",
    "date",
    "timestamp",
    "total_cases",
    "new_cases",
    "total_deaths",
    "new_deaths",
    "active_cases",
    "population",
    "recovery_rate",
    "death_rate",
    "cases_per_million",
    "deaths_per_million",
    "new_cases_ratio",
    "cases_to_population_ratio",
    "is_hotspot",
]

#: Input contract: 19 nullable strings (cf. covid_streaming.py:29-49).
RAW_SCHEMA = StructType([StructField(name, StringType(), True) for name in RAW_FIELDS])

#: Numeric columns normalized by the cleaning stage (covid_streaming.py:121-132).
NUMERIC_RAW_COLUMNS = [
    "total_cases",
    "new_cases",
    "total_deaths",
    "new_deaths",
    "active_cases",
    "population",
]

#: Rate columns recomputed by the engine; input values discarded
#: (covid_streaming.py:133-145).
DERIVED_RATE_COLUMNS = [
    "death_rate",
    "cases_per_million",
    "deaths_per_million",
    "new_cases_ratio",
    "cases_to_population_ratio",
    "recovery_rate",
]

#: Epsilon added inside every engine ``round``: double divisions of
#: low-decimal inputs land *exactly* on round-half boundaries (dyadic
#: rationals like 29/128 = 0.2265625), where rounding direction depends
#: on the engine's algorithm (Spark: HALF_UP on the shortest decimal
#: repr; DuckDB/C: half-away-from-zero on the binary value) — the same
#: logical value can round differently in different engines.  The shift
#: makes rounding reproducible everywhere; 1e-9 is far above double
#: accumulation noise (~1e-12 relative) and far below any data scale we
#: round at.  Oracles add the same constant: ROUND(x + 1e-9, n).
#: Divergence from the reference is confined to exact decimal ties at
#: the rounding digit (and negative ties round toward zero instead of
#: away).
ROUND_EPS = 1e-9

#: Natural keys used for dedup per sink (covid_streaming.py:153,159,179,188).
DEDUP_KEYS = {
    "covid_realtime_stats": ["location", "date"],
    "covid_predictions": ["location", "prediction_date"],
    "continent_covid_stats": ["continent_window_start", "continent"],
    "covid_hotspots": ["location", "detected_date"],
}


# ---------------------------------------------------------------------------
# Sink-table output contracts: the machine-readable twin of the MySQL DDL
# (/root/reference/init-db/init.sql:9-90).  Differences from the DDL, all
# deliberate and each a typing *refinement*:
#
# - no ``id BIGINT AUTO_INCREMENT`` surrogate keys (RDBMS-ism; file/table
#   sinks key on the natural keys in DEDUP_KEYS instead);
# - MySQL ``FLOAT`` (single precision) -> DoubleType: every number here is
#   computed in 64-bit; narrowing to float32 at the sink would discard
#   precision the DDL only has because MySQL's FLOAT was the path of least
#   resistance;
# - ``is_hotspot VARCHAR(10)`` -> BooleanType (C10 types it; the DDL keeps
#   the producer's stringly-typed form);
# - ``countries_count INT`` -> LongType (Spark count aggregates are long);
# - ``covid_predictions`` gets a contract the reference never DDL'd (its
#   predictions table is created implicitly by JDBC append).
# ---------------------------------------------------------------------------


def _struct(fields: list[tuple[str, DataType]]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


_S, _D, _T, _DT, _B, _I, _L = (
    StringType(),
    DoubleType(),
    TimestampType(),
    DateType(),
    BooleanType(),
    IntegerType(),
    LongType(),
)

#: Output schema per sink table (init.sql:9-90 + the predictions table).
SINK_SCHEMAS: dict[str, StructType] = {
    # init.sql:9-35 (cleaned observations; the five NiFi enrichment
    # columns are optional — see SINK_OPTIONAL_COLUMNS)
    "covid_realtime_stats": _struct(
        [
            ("uuid", _S),
            ("continent", _S),
            ("location", _S),
            ("iso_code", _S),
            ("date", _DT),
            ("timestamp", _T),
            ("total_cases", _D),
            ("new_cases", _D),
            ("total_deaths", _D),
            ("new_deaths", _D),
            ("active_cases", _D),
            ("population", _D),
            ("recovery_rate", _D),
            ("death_rate", _D),
            ("cases_per_million", _D),
            ("deaths_per_million", _D),
            ("new_cases_ratio", _D),
            ("cases_to_population_ratio", _D),
            ("is_hotspot", _B),
            ("processing_time", _T),
        ]
    ),
    # init.sql:42-54
    "windowed_covid_stats": _struct(
        [
            ("window_start", _T),
            ("window_end", _T),
            ("location", _S),
            ("iso_code", _S),
            ("total_new_cases_window", _D),
            ("total_new_deaths_window", _D),
            ("avg_death_rate_window", _D),
            ("max_total_cases", _D),
            ("latest_active_cases", _D),
            ("processed_at", _T),
        ]
    ),
    # init.sql:56-67
    "continent_covid_stats": _struct(
        [
            ("continent_window_start", _T),
            ("continent_window_end", _T),
            ("continent", _S),
            ("continent_new_cases", _D),
            ("continent_new_deaths", _D),
            ("continent_avg_death_rate", _D),
            ("countries_count", _L),
            ("continent_total_cases", _D),
            ("processed_at", _T),
        ]
    ),
    # init.sql:69-79
    "covid_hotspots": _struct(
        [
            ("location", _S),
            ("iso_code", _S),
            ("total_cases", _D),
            ("new_cases", _D),
            ("death_rate", _D),
            ("active_cases", _D),
            ("timestamp", _T),
            ("detected_at", _T),
        ]
    ),
    # init.sql:81-90
    "country_rankings": _struct(
        [
            ("location", _S),
            ("iso_code", _S),
            ("max_cases_country", _D),
            ("total_new_cases_country", _D),
            ("avg_death_rate_country", _D),
            ("ranking_position", _I),
            ("updated_at", _T),
        ]
    ),
    # un-DDL'd in the reference: implicit table from JDBC append
    # (covid_streaming.py:159); pinned here from operators/predict.py
    "covid_predictions": _struct(
        [
            ("location", _S),
            ("iso_code", _S),
            ("continent", _S),
            ("date", _DT),
            ("total_cases", _D),
            ("new_cases", _D),
            ("total_deaths", _D),
            ("new_deaths", _D),
            ("avg_new_cases_7d", _D),
            ("avg_new_cases_14d", _D),
            ("avg_new_deaths_7d", _D),
            ("daily_growth_rate", _D),
            ("avg_growth_rate_7d", _D),
            ("predicted_new_cases_next_day", _D),
            ("predicted_total_cases_next_day", _D),
            ("predicted_new_deaths_next_day", _D),
            ("trend_direction", _S),
            ("prediction_confidence", _S),
            ("prediction_date", _DT),
            ("predicted_at", _T),
        ]
    ),
}

#: Columns a table MAY additionally carry (init.sql:30-34 — the NiFi
#: enrichment stage's five columns, computed by functions/enrich.py when
#: that stage is wired in).
SINK_OPTIONAL_COLUMNS: dict[str, dict[str, DataType]] = {
    "covid_realtime_stats": {
        "recovery_rate_calculated": _D,
        "fatality_rate": _D,
        "active_cases_ratio": _D,
        "severity_level": _S,
        "growth_rate": _D,
    },
}


class SchemaContractError(TypeError):
    """A frame offered to a sink violates that table's output contract."""


def validate_sink_schema(df: DataFrame, table: str) -> None:
    """Check ``df`` against ``SINK_SCHEMAS[table]``; raise on violation.

    Driver-side metadata comparison only — no job, safe per epoch.
    Compares names and data types; nullability is deliberately ignored
    (Spark's nullability flag is an optimizer hint that flips under
    ``lit()``/aggregation rewrites, not a stable contract surface — and
    every DDL column is nullable anyway).  Unknown tables pass (custom
    tables need no registered contract).
    """
    contract = SINK_SCHEMAS.get(table)
    if contract is None:
        return
    expected = {f.name: f.dataType for f in contract.fields}
    optional = SINK_OPTIONAL_COLUMNS.get(table, {})
    actual = {f.name: f.dataType for f in df.schema.fields}

    problems = []
    for name, dtype in expected.items():
        if name not in actual:
            problems.append(f"missing column {name!r} ({dtype.simpleString()})")
        elif actual[name] != dtype:
            problems.append(
                f"column {name!r}: expected {dtype.simpleString()}, "
                f"got {actual[name].simpleString()}"
            )
    for name, dtype in actual.items():
        if name in expected:
            continue
        if name in optional:
            if dtype != optional[name]:
                problems.append(
                    f"optional column {name!r}: expected "
                    f"{optional[name].simpleString()}, got {dtype.simpleString()}"
                )
        else:
            problems.append(f"unexpected column {name!r} ({dtype.simpleString()})")
    if problems:
        raise SchemaContractError(
            f"{table}: output violates the sink contract "
            f"(schema.SINK_SCHEMAS, the init.sql twin): " + "; ".join(problems)
        )
