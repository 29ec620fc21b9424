"""The correctness checks are not vacuous: output built from the oracle
passes, and each corruption of it fails the check that guards it.

Run with ``python3 -m pytest perfbench -q`` (no Spark needed).
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

import checks
import feed
import queries

N = 6
FILES = feed.make_feed(11, N)


def _fb(stride: int = 1) -> dict:
    # a stride > 1 leaves batch ids with no file, as no-data batches do
    return {f"epoch-{i:05d}.json": {q: (i * stride, True) for q in checks.STREAMING_QUERIES} for i in range(N)}


def _write(con, out: str, table: str, sql: str) -> None:
    con.execute(f"COPY ({sql}) TO '{os.path.join(out, table)}' (FORMAT PARQUET, PARTITION_BY (epoch))")


def _streaming_sinks(out: str, fb: dict) -> None:
    con = checks.streaming_oracle(FILES, fb)
    con.execute("CREATE TABLE qb AS SELECT q, fidx, batch FROM bmap")
    for table, exp in (("continent_covid_stats", "exp_continent"), ("windowed_covid_stats", "exp_windowed")):
        q = "continent" if table.startswith("continent") else "windowed"
        final = (
            f"SELECT e.* EXCLUDE (fidx), b.batch AS epoch FROM {exp} e "
            f"JOIN (SELECT fidx, batch FROM qb WHERE q = '{q}') b USING (fidx)"
        )
        # an earlier, partial emission of every window that last-wins must skip
        partial = final.replace("b.batch AS epoch", "b.batch - 1 AS epoch")
        cols = [d[0] for d in con.execute(final).description]
        num = [c for c in cols if c not in ("epoch", "continent", "location", "iso_code", "window_start", "continent_window_start")]
        partial = f"SELECT {', '.join(c if c not in num else f'{c} / 2 AS {c}' for c in cols)} FROM ({partial})"
        _write(con, out, table, f"{final} UNION ALL {partial}")
    rt = checks.REALTIME_COLS.replace(" ts,", ' ts AS "timestamp",')
    _write(
        con, out, "covid_realtime_stats",
        f"SELECT DISTINCT ON (location, date) b.batch AS epoch, {rt} FROM accepted_fanout "
        "JOIN (SELECT fidx, batch FROM qb WHERE q = 'fanout') b USING (fidx)",
    )
    con.close()


def _corrupt(out: str, table: str, sql: str) -> None:
    """Rewrite one sink table through ``sql`` over a view ``t`` of it."""
    path = os.path.join(out, table)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)")
    con.execute(sql)
    shutil.rmtree(path)
    con.execute(f"COPY t TO '{path}' (FORMAT PARQUET, PARTITION_BY (epoch))")
    con.close()


STREAMING_CORRUPTIONS = {
    "continent final sum": ("continent_covid_stats", "UPDATE t SET continent_total_cases = continent_total_cases + 5 WHERE epoch = (SELECT max(epoch) FROM t)"),
    "continent distinct beyond error": ("continent_covid_stats", "UPDATE t SET countries_count = countries_count + 20 WHERE epoch = (SELECT max(epoch) FROM t)"),
    "continent final row dropped": ("continent_covid_stats", "DELETE FROM t WHERE epoch = (SELECT max(epoch) FROM t)"),
    "windowed latest": ("windowed_covid_stats", "UPDATE t SET latest_active_cases = coalesce(latest_active_cases, 0) + 1 WHERE rowid = (SELECT max(rowid) FROM t)"),
    "windowed avg": ("windowed_covid_stats", "UPDATE t SET avg_death_rate_window = avg_death_rate_window + 0.001 WHERE rowid = (SELECT max(rowid) FROM t)"),
    "late row kept": ("windowed_covid_stats", "INSERT INTO t SELECT * REPLACE (window_start - INTERVAL 1 HOUR AS window_start) FROM t WHERE rowid = 0"),
    "realtime key twice": ("covid_realtime_stats", "INSERT INTO t SELECT * REPLACE (epoch + 1 AS epoch) FROM t WHERE rowid = 4"),
    "realtime key missing": ("covid_realtime_stats", "DELETE FROM t WHERE rowid = 4"),
}


@pytest.mark.parametrize("stride", [1, 2])
def test_streaming_oracle_output_passes(tmp_path, stride):
    fb = _fb(stride)
    _streaming_sinks(str(tmp_path), fb)
    assert checks.check_streaming(FILES, fb, str(tmp_path)) == []


def test_streaming_watermark_drops_late_rows():
    con = checks.streaming_oracle(FILES, _fb())
    kept = con.execute("SELECT count(DISTINCT uuid) FROM accepted_windowed WHERE date < DATE '2020-03-01'").fetchone()[0]
    total = con.execute("SELECT count(DISTINCT uuid) FROM cleaned WHERE date < DATE '2020-03-01'").fetchone()[0]
    # only the first two batches run before the watermark exists
    assert total == N * feed.LATE_PER_EPOCH and kept == 2 * feed.LATE_PER_EPOCH


@pytest.mark.parametrize("name", sorted(STREAMING_CORRUPTIONS))
def test_streaming_corruption_fails(tmp_path, name):
    fb = _fb()
    _streaming_sinks(str(tmp_path), fb)
    _corrupt(str(tmp_path), *STREAMING_CORRUPTIONS[name])
    assert checks.check_streaming(FILES, fb, str(tmp_path))


def test_queries_check_catches_changed_and_missing_rows(tmp_path):
    import tables

    data = str(tmp_path)
    tables.make_tables(1, 0.0005, data)
    oracles = {"top_orders": "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 5"}
    con = duckdb.connect()
    rows = con.execute(oracles["top_orders"].replace("FROM orders", f"FROM '{data}/orders.parquet'")).fetchall()
    cols = ["o_orderkey", "o_totalprice"]
    assert queries.check_results({"top_orders": (cols, rows)}, oracles, data) == {}
    changed = [rows[0][:1] + (rows[0][1] + 0.5,)] + rows[1:]
    assert queries.check_results({"top_orders": (cols, changed)}, oracles, data)
    assert queries.check_results({"top_orders": (cols, rows[1:])}, oracles, data)
    assert queries.check_results({"top_orders": (cols[::-1], rows)}, oracles, data)
    assert queries.check_results({"top_orders": (None, "RuntimeError: boom")}, oracles, data)


def test_queries_check_fails_on_empty_oracle(tmp_path):
    import tables

    data = str(tmp_path)
    tables.make_tables(1, 0.0005, data)
    oracles = {"top_orders": "SELECT o_orderkey FROM orders WHERE o_orderkey < 0"}
    assert queries.check_results({"top_orders": (["o_orderkey"], [])}, oracles, data)
