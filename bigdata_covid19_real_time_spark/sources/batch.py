"""Batch file sources.

The reference's only batch source is a CSV scan in the producer
(producer/covid_producer.py:26-27).  The engine generalizes: parquet/csv/
json readers with explicit schemas where the format needs one.

Scale notes: Parquet scans get predicate pushdown + column pruning from
Catalyst for free *if* callers express filters/projections on the
DataFrame (verify via ``.explain`` -> PushedFilters/ReadSchema).  Never
collect a table to the driver here.

Catalog rule: a table's schema is inferred once per session and per
file set.  ``spark.read.parquet(path)`` runs a one-task
schema-inference job on every call (72-128 ms at 4 cores, most of a
light query's build), so ``load_table`` keeps each inferred
``StructType`` in ``_SCHEMAS`` and a repeat load reads through
``spark.read.schema(cached)``, which launches no job.  The key is the
session (its JVM handle, as ``operators/fanout.py::_PROBE_MEMO`` keys
it), the table path and the sorted (file, size, mtime_ns) of every file
under that path, read with ``os.stat``: a table rewritten in place gets
a new key and a fresh inference.  A hit is still a fresh read, with its
own attribute ids, so self-joins stay unambiguous; the UTC and
``nanosAsLong`` pins run before every read, hit or miss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata_covid19_real_time_spark.schema import RAW_SCHEMA

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: The catalog (module docstring): ``_catalog_key`` -> the schema
#: ``spark.read.parquet`` inferred.  The key reads no conf: the only one
#: the inferred schema depends on is ``nanosAsLong``, which
#: ``load_table`` sets itself.  Bounded like ``_PROBE_MEMO``.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 4096


def _catalog_key(spark: SparkSession, path: str) -> tuple | None:
    """(session, path, sorted (file, size, mtime_ns) under ``path``), or
    ``None`` when the path is not a local file or directory or the
    session has no JVM handle (Spark Connect): the caller then takes the
    plain read, and Spark reports what is wrong with the path."""
    session = getattr(spark, "_jsparkSession", None)
    if session is None:
        return None
    if os.path.isfile(path):
        paths = [path]
    elif os.path.isdir(path):
        paths = [os.path.join(r, f) for r, _dirs, fs in os.walk(path) for f in fs]
    else:
        return None
    files = []
    for p in paths:
        st = os.stat(p)
        files.append((p, st.st_size, st.st_mtime_ns))
    return (session._target_id, path, tuple(sorted(files)))  # noqa: SLF001


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on a
    catalog miss."""
    key = _catalog_key(spark, path)
    schema = _SCHEMAS.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        if len(_SCHEMAS) >= _SCHEMAS_MAX:
            _SCHEMAS.clear()
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic-corpus table from a scale-factor directory.

    The events table carries TIMESTAMP(NANOS) parquet columns, which
    Spark's reader rejects outright; we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a microsecond
    timestamp (integer division — a double division would lose precision
    above 2^53 ns).  The schema comes from the session's catalog (module
    docstring), so only a table's first load runs a Spark job.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Correctness must not depend on the caller's session conf (the
    # driver's session is not get_spark()'s): every timestamp-rendering
    # expression (date_format/to_date/window) evaluates in the session
    # timezone, and the DuckDB oracles are timezone-naive — pin UTC at
    # the single load chokepoint so both engines agree anywhere.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, path)


def read_raw_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV -> RAW_SCHEMA frame (the producer's input shape,
    covid_producer.py:26-27).  All columns read as nullable strings; typing
    happens in the cleaning stage."""
    return spark.read.option("header", True).schema(RAW_SCHEMA).csv(path)


def read_raw_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines -> RAW_SCHEMA frame (the Kafka wire format without the
    broker; covid_streaming.py:215-217 parse semantics: malformed line ->
    all-NULL row, PERMISSIVE)."""
    return (
        spark.read.text(path)
        .select(F.from_json(F.col("value"), RAW_SCHEMA).alias("data"))
        .select("data.*")
    )


def read_evolving_parquet(
    spark: SparkSession, path: str, merge_schema: bool = True
) -> DataFrame:
    """Parquet read across files written at different schema versions
    (a corpus accumulated over months grows columns): ``mergeSchema``
    unions the per-file schemas, older files surface NULL for columns
    they predate.

    Scale note: schema merging reads every file FOOTER at planning time
    — O(files) driver work, no data scan.  On tables with millions of
    files, pin the schema explicitly (``spark.read.schema(...)``) or
    keep it in a catalog, as ``load_table`` does (module docstring), and
    skip the merge; this helper is for the exploratory/ingest path where
    the union schema is the point.
    """
    return spark.read.option("mergeSchema", merge_schema).parquet(path)
