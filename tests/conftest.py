from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_covid19_real_time_spark.schema import RAW_FIELDS, RAW_SCHEMA
from bigdata_covid19_real_time_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        driver_memory="2g",
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


def frozen_clock():
    """Frozen clock Column for deterministic audit columns in golden tests.

    A function (not a module constant) because Column construction needs an
    active SparkContext.
    """
    return F.to_timestamp(F.lit("2021-06-01 00:00:00"))


def make_raw(spark, rows: list[dict]):
    """Build a RAW_SCHEMA DataFrame from partial dicts (missing keys -> NULL)."""
    filled = [tuple(r.get(f) for f in RAW_FIELDS) for r in rows]
    return spark.createDataFrame(filled, RAW_SCHEMA)


def obs(location="Egypt", date="2021-03-15", **kw) -> dict:
    """A plausible raw observation row; override any field via kwargs."""
    base = {
        "uuid": f"{location}-{date}",
        "continent": "Africa",
        "location": location,
        "iso_code": "EGY",
        "date": date,
        "timestamp": f"{date}T10:30:00",
        "total_cases": "187000",
        "new_cases": "650",
        "total_deaths": "11000",
        "new_deaths": "32",
        "active_cases": "14000",
        "population": "102000000",
        "recovery_rate": "0.86",
        "death_rate": "0.058",
        "cases_per_million": "1833.3",
        "deaths_per_million": "107.8",
        "new_cases_ratio": "0.0035",
        "cases_to_population_ratio": "0.0018",
        "is_hotspot": "false",
    }
    base.update(kw)
    return base


def jobs_launched_by(spark, call):
    """Run ``call()`` under a fresh job group; return its result and the
    ids of the Spark jobs it launched.  The status tracker is fed by the
    listener bus, so drain the bus before reading it."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count under test")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
