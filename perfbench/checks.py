"""Correctness checks, run after the timed section and independent of the
engine: the expected rows come from DuckDB over the generated input
(parsed here in Python), never from Spark.  Only the streaming
pipeline is checked here; ``queries.check_results`` checks the mix.

Each check returns a list of problems ``(file_or_None, message)``; a
problem names the epoch file it is charged to so it counts toward the
failed operations.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

from feed import EPOCH_EVENT_SECONDS, FIELDS, WATERMARK_EPOCHS

NUMS = ["total_cases", "new_cases", "total_deaths", "new_deaths", "active_cases", "population"]

CLEANED_SQL = """
CREATE TABLE cleaned AS
WITH num AS (
  SELECT file, fidx, uuid, continent, location, iso_code,
         CAST(TRY_CAST(date AS TIMESTAMP) AS DATE) AS date,
         TRY_CAST("timestamp" AS TIMESTAMP) AS ts,
         {nums},
         TRY_CAST(is_hotspot AS BOOLEAN) AS is_hotspot
  FROM raw
)
SELECT *,
  CASE WHEN total_cases > 0 THEN ROUND(total_deaths / total_cases + 1e-9, 6) ELSE 0.0 END AS death_rate,
  CASE WHEN population > 0 THEN ROUND(total_cases / population * 1000000 + 1e-9, 2) ELSE 0.0 END AS cases_per_million,
  CASE WHEN population > 0 THEN ROUND(total_deaths / population * 1000000 + 1e-9, 2) ELSE 0.0 END AS deaths_per_million,
  CASE WHEN total_cases > 0 THEN ROUND(new_cases / total_cases + 1e-9, 6) ELSE 0.0 END AS new_cases_ratio,
  CASE WHEN population > 0 THEN ROUND(total_cases / population + 1e-9, 6) ELSE 0.0 END AS cases_to_population_ratio,
  CASE WHEN total_cases > 0 THEN ROUND((total_cases - active_cases - total_deaths) / total_cases + 1e-9, 6) ELSE 0.0 END AS recovery_rate
FROM num
""".format(
    nums=",\n         ".join(
        f"CASE WHEN trim({c}) IN ('', 'null', 'NULL') THEN 0.0 "
        f"ELSE TRY_CAST(trim({c}) AS DOUBLE) END AS {c}"
        for c in NUMS
    )
)

REALTIME_COLS = (
    "uuid, continent, location, iso_code, date, ts, total_cases, new_cases, total_deaths, "
    "new_deaths, active_cases, population, recovery_rate, death_rate, cases_per_million, "
    "deaths_per_million, new_cases_ratio, cases_to_population_ratio, is_hotspot"
)

CONTINENT_SQL = """
SELECT max(fidx) AS fidx, time_bucket(INTERVAL '5 minutes', ts) AS continent_window_start, continent,
       SUM(new_cases) AS continent_new_cases, SUM(new_deaths) AS continent_new_deaths,
       AVG(death_rate) AS continent_avg_death_rate, COUNT(DISTINCT location) AS countries_count,
       SUM(total_cases) AS continent_total_cases
FROM accepted_continent WHERE ts IS NOT NULL GROUP BY ALL
"""

WINDOWED_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, location, iso_code,
       SUM(new_cases) AS total_new_cases_window, SUM(new_deaths) AS total_new_deaths_window,
       AVG(death_rate) AS avg_death_rate_window, MAX(total_cases) AS max_total_cases,
       arg_max_null(active_cases, ts) AS latest_active_cases, max(fidx) AS fidx
FROM accepted_windowed WHERE ts IS NOT NULL GROUP BY ALL
"""


def parse_lines(files: list[bytes]) -> list[tuple]:
    """Input rows as the engine's PERMISSIVE parse sees them: a line that
    is not a JSON object becomes an all-NULL row."""
    rows = []
    for i, content in enumerate(files):
        for line in content.decode().splitlines():
            try:
                obj = json.loads(line)
                vals = [obj.get(f) for f in FIELDS] if isinstance(obj, dict) else [None] * len(FIELDS)
            except ValueError:
                vals = [None] * len(FIELDS)
            rows.append((f"epoch-{i:05d}.json", i, *vals))
    return rows


def _con(files: list[bytes]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    cols = ", ".join(f'"{f}" VARCHAR' for f in FIELDS)
    con.execute(f"CREATE TABLE raw (file VARCHAR, fidx INTEGER, {cols})")
    rows = parse_lines(files)
    if rows:
        con.executemany(f"INSERT INTO raw VALUES ({', '.join('?' * (len(FIELDS) + 2))})", rows)
    con.execute(CLEANED_SQL)
    return con


def _sink(con, out: str, table: str, cols: str, where: str = "") -> list[tuple]:
    path = os.path.join(out, table)
    if not os.path.isdir(path):
        return []
    return con.execute(
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true) {where}"
    ).fetchall()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def failed_files(problems: list[tuple[str | None, str]]) -> set[str]:
    return {f for f, _ in problems if f is not None}


def _batch_map(con, fb: dict) -> None:
    """``bmap(q, fidx, batch)``: the committed batch of each query that
    read each file (``fb``: file -> query -> (batch id, committed))."""
    con.execute("CREATE TABLE bmap (q VARCHAR, fidx INTEGER, batch INTEGER)")
    rows = [(q, int(n[6:11]), b) for n, qs in fb.items() for q, (b, c) in qs.items() if c]
    if rows:
        con.executemany("INSERT INTO bmap VALUES (?, ?, ?)", rows)


#: The streaming pipeline's queries: the fan-out to the realtime,
#: predictions and hotspot tables, and the two windowed aggregations.
STREAMING_QUERIES = ("fanout", "continent", "windowed")


def streaming_oracle(files: list[bytes], fb: dict) -> duckdb.DuckDBPyConnection:
    """``accepted_<query>``: the rows each stateful query keeps;
    ``exp_continent``/``exp_windowed``: the final row of every window."""
    con = _con(files)
    _batch_map(con, fb)
    # Watermark rule: a stateful operator drops a row older than the
    # watermark its batch filters late rows with -- the newest event time
    # of the batches before the previous one, minus the lateness budget.
    lateness = WATERMARK_EPOCHS * EPOCH_EVENT_SECONDS
    for q in STREAMING_QUERIES:
        con.execute(
            f"""
            CREATE TABLE accepted_{q} AS
            WITH fb AS (SELECT fidx, batch FROM bmap WHERE q = '{q}'),
            mx AS (SELECT fb.batch, max(c.ts) AS m FROM cleaned c JOIN fb USING (fidx) GROUP BY 1),
            wm AS (SELECT fb.fidx, (SELECT max(m) FROM mx WHERE mx.batch <= fb.batch - 2)
                                   - INTERVAL {lateness} SECOND AS w FROM fb)
            SELECT c.* FROM cleaned c JOIN wm USING (fidx)
            WHERE ts IS NOT NULL AND (w IS NULL OR ts >= w)
            """
        )
    con.execute(f"CREATE TABLE exp_continent AS {CONTINENT_SQL}")
    con.execute(f"CREATE TABLE exp_windowed AS {WINDOWED_SQL}")
    return con


def _last_wins(con, out: str, table: str, keys: str, cols: str) -> dict:
    rows = _sink(
        con, out, table, f"{keys}, {cols}",
        f"QUALIFY row_number() OVER (PARTITION BY {keys} ORDER BY epoch DESC) = 1",
    )
    nkey = keys.count(",") + 1
    return {r[:nkey]: r[nkey:] for r in rows}


def check_streaming(files: list[bytes], fb: dict, out: str) -> list[tuple[str | None, str]]:
    """Last-wins window rows equal the aggregation under the watermark
    rule; each (location, date) appears once in the realtime table."""
    con = streaming_oracle(files, fb)
    last = {int(n[6:11]): n for n in fb}
    problems: list[tuple[str | None, str]] = []

    for table, exp_table, nkey, approx in (
        ("continent_covid_stats", "exp_continent", 2, "countries_count"),
        ("windowed_covid_stats", "exp_windowed", 3, None),
    ):
        res = con.execute(f"SELECT * FROM {exp_table}")
        names = [d[0] for d in res.description]
        exp = res.fetchall()
        fcol = names.index("fidx")
        cols = [c for c in names if c != "fidx"]
        got_by = _last_wins(con, out, table, ", ".join(cols[:nkey]), ", ".join(cols[nkey:]))
        for e in exp:
            want = [v for i, v in enumerate(e) if i != fcol]
            got = got_by.pop(tuple(want[:nkey]), None)
            ok = got is not None
            for c, w, g in zip(cols[nkey:], want[nkey:], got or ()):
                if c == approx:
                    # approx_count_distinct: within three standard errors (rsd 0.05)
                    ok &= abs(g - w) <= max(1, math.ceil(0.15 * w))
                else:
                    ok &= _close(w, g)
            if not ok:
                problems.append((last.get(e[fcol]), f"{table} {tuple(want[:nkey])}: {got!r} expected {want[nkey:]!r}"))
        for key in got_by:
            problems.append((None, f"{table} {key}: not expected"))

    by_batch = {qs["fanout"][0]: n for n, qs in fb.items() if "fanout" in qs}
    for loc, date, n, b in _sink(
        con, out, "covid_realtime_stats", "location, date, count(*), max(epoch)",
        "WHERE location IS NOT NULL GROUP BY ALL HAVING count(*) > 1",
    ):
        problems.append((by_batch.get(b), f"covid_realtime_stats ({loc}, {date}) appears {n} times"))
    exp_keys = set(con.execute("SELECT DISTINCT location, date FROM accepted_fanout WHERE location IS NOT NULL").fetchall())
    got_keys = set(_sink(con, out, "covid_realtime_stats", "DISTINCT location, date", "WHERE location IS NOT NULL"))
    for key in sorted(exp_keys ^ got_keys, key=str)[:10]:
        problems.append((None, f"covid_realtime_stats key {key}: {'missing' if key in exp_keys else 'not expected'}"))
    con.close()
    return problems
