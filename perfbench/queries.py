"""The ``queries_mix`` workload: registered queries over seeded tables.

Set-up starts the session, writes the tables from the seed and runs
every query once, collecting its rows (the warm-up; the rows are checked
against the registry's DuckDB oracle after the timed section).  The
timed section then runs whole passes over the list, each pass in an
order drawn from the seed, until ``--seconds`` have passed, so every
query runs equally often (twice, at this size, in 18 s).  One query's time is its build (the registered
function, including any eager jobs), plan (``executedPlan()``) and
noop-write wall time; a query's figure is the median of its runs.

The list holds three groups, by where each query's time went in traced
runs at this size (4 cores, sf 0.005, two seeds):

- construction: 9-46 eager jobs while the plan is built; the build is
  88-98% of the query's time;
- execution: the noop write is 68-89% of it;
- light: under 1 s in all, and ``load_table`` is 69-88% of the build
  (21-48% of the query, against 4-15% in the other groups).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import tracing as tr
from env import NPROC, WORK, peak_rss_mb, start_session, stop_session, versions
from tables import make_tables

#: query -> group
MIX = {
    "purchase_graph_pagerank": "construction",
    "brand_copurchase_communities": "construction",
    "docs_dedup_clusters": "construction",
    "events_sessionize_replay": "execution",
    "docs_bm25_topk": "execution",
    "events_ewma_state_replay": "execution",
    "top_orders": "light",
    "docs_exact_dedup": "light",
    "revenue_by_nation": "light",
    "shipping_priority": "light",
    "events_rollup": "light",
}
SF = 0.005


def normalize(rows, columns) -> list[tuple]:
    """Column-name-sorted, row-sorted, repr-normalized result set (the
    comparison the repo's oracle tests use)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.10g}")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def check_results(results: dict, oracles: dict, data: str) -> dict[str, str]:
    """query -> problem, for every query whose rows differ from its oracle
    or whose oracle returns no rows."""
    import duckdb

    from bigdata_covid19_real_time_spark.sources.batch import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    problems = {}
    for q, (cols, rows) in results.items():
        if isinstance(rows, str):
            problems[q] = rows
            continue
        res = con.execute(oracles[q])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if not orows:
            # an empty result would match any empty output: check nothing
            problems[q] = "oracle returns no rows"
        elif sorted(cols) != sorted(ocols):
            problems[q] = f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
        elif len(rows) != len(orows):
            problems[q] = f"{len(rows)} rows vs oracle {len(orows)}"
        else:
            bad = [(a, b) for a, b in zip(normalize(rows, cols), normalize(orows, ocols)) if a != b]
            if bad:
                problems[q] = f"{len(bad)} rows differ; first {bad[0]}"
    con.close()
    return problems


def pass_order(seed: int, k: int) -> list[str]:
    names = sorted(MIX)
    random.Random(seed * 1_000_003 + k).shuffle(names)
    return names


def run(seed: int, seconds: int, trace: bool) -> dict:
    t_setup = time.perf_counter()
    spark, session_s = start_session(trace, NPROC)
    from bigdata_covid19_real_time_spark.plans import ORACLES, QUERIES

    data = os.path.join(WORK, "tables")
    sizes = make_tables(seed, SF, data)
    sc = spark.sparkContext
    wrap = tr.LoadTableTimer() if trace else None

    # warm-up: each query once, keeping its rows for the oracle check
    t_warm = time.perf_counter()
    results: dict = {}
    for q in pass_order(seed, 0):
        try:
            df = QUERIES[q](spark, data)
            results[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
            results[q] = (None, f"{type(exc).__name__}: {exc}"[:300])
    setup_s = time.perf_counter() - t_setup
    warmup_s = time.perf_counter() - t_warm

    # -- timed: queries that failed their warm-up run are not timed ---------
    samples: dict[str, list[dict]] = {q: [] for q in MIX if results[q][0] is not None}
    t0 = time.perf_counter()
    k = 0
    while samples and time.perf_counter() - t0 < seconds:
        k += 1
        for q in pass_order(seed, k):
            if q in samples:
                samples[q].append(run_one(spark, sc, QUERIES[q], q, data, len(samples[q]), wrap))
    window_s = time.perf_counter() - t0
    if wrap is not None:
        wrap.restore()
    rss = peak_rss_mb(spark)
    env_info = versions(spark)
    stop_session(spark)

    problems = check_results(results, ORACLES, data)
    per_query = {q: statistics.median(s["total_ms"] for s in runs) for q, runs in samples.items()}
    times = list(per_query.values())
    untimed = len(MIX) - len(samples)
    attempted = sum(len(r) for r in samples.values()) + untimed
    failed = sum(len(samples.get(q, ())) for q in problems) + untimed
    metrics = {
        "latency_p50_ms": statistics.median(times),
        "latency_geomean_ms": statistics.geometric_mean(times),
        "busy_ms_per_op": statistics.fmean(times),
        "setup_s": setup_s,
    } if times else {}
    detail = {
        "workload": "queries_mix",
        "seed": seed,
        "env": env_info,
        "peak_rss_mb": rss,
        "sf": SF,
        "rows": sizes,
        "session_start_s": session_s,
        "warmup_s": warmup_s,
        "passes": k,
        "window_s": window_s,
        "queries_total_s": sum(times) / 1000.0,
        "queries_geomean_s": metrics.get("latency_geomean_ms", 0.0) / 1000.0,
        "per_query_ms": {q: round(v, 1) for q, v in sorted(per_query.items())},
        "per_group_ms": {g: round(sum(v for q, v in per_query.items() if MIX[q] == g), 1) for g in sorted(set(MIX.values()))},
        "problems": problems,
    }
    layers = None
    if trace:
        layers = tr.query_layers(samples, session_s, warmup_s)
        layers["process.peak_rss_mb"] = rss
        detail["per_query_layers"] = {
            q: {key: statistics.median(s[key] for s in runs) for key in runs[0] if key != "groups"}
            for q, runs in samples.items()
        }
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": not problems,
        "metrics": metrics,
        "layers": layers,
        "detail": detail,
    }


def run_one(spark, sc, fn, q: str, data: str, i: int, wrap) -> dict:
    """Build, plan and execute one query; with tracing, label each phase's
    jobs with a job group and note ``load_table`` calls."""
    groups = {p: f"{p}:{q}:{i}" for p in ("build", "plan", "exec")}
    rec: dict = {"groups": groups}
    if wrap is not None:
        wrap.reset()
        sc.setJobGroup(groups["build"], q)
    t = time.perf_counter()
    df = fn(spark, data)
    rec["build_ms"] = (time.perf_counter() - t) * 1000.0
    if wrap is not None:
        rec["load_table_calls"], rec["load_table_ms"] = wrap.calls, wrap.ms
        sc.setJobGroup(groups["plan"], q)
    t = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    rec["plan_ms"] = (time.perf_counter() - t) * 1000.0
    if wrap is not None:
        sc.setJobGroup(groups["exec"], q)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    rec["exec_ms"] = (time.perf_counter() - t) * 1000.0
    if wrap is not None:
        sc.setJobGroup(f"idle:{q}:{i}", q)
    rec["total_ms"] = rec["build_ms"] + rec["plan_ms"] + rec["exec_ms"]
    return rec
