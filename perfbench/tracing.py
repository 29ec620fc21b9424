"""Per-layer collectors for the traced run (``--trace 1``).

All of it is driven from the benchmark's own files, from outside the
engine: Spark's event log, ``StreamingQueryListener`` progress events,
job groups, the recording sink wrapper and wrappers around the engine's
public functions.  Nothing here edits engine code.
"""

from __future__ import annotations

import glob
import json
import os
import time

from env import WORK

SINK_TABLES = [
    "covid_realtime_stats",
    "covid_predictions",
    "continent_covid_stats",
    "covid_hotspots",
    "windowed_covid_stats",
]

#: Every per-layer metric, with its unit.  Each workload reports all of
#: them; a layer a workload never enters reads 0.
LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_ms": "ms",
    "session.warmup_ms": "ms",
    "generator.lag_ms": "ms",
    "streaming.sources.offset_ms": "ms",
    "streaming.sources.input_rows": "count",
    "streaming.sources.backlog_max_files": "count",
    "streaming.runner.planning_ms": "ms",
    "streaming.runner.add_batch_ms": "ms",
    "streaming.runner.checkpoint_ms": "ms",
    "streaming.runner.jobs_per_epoch": "count",
    **{f"sinks.{t}.write_ms": "ms" for t in SINK_TABLES},
    **{f"sinks.{t}.rows": "count" for t in SINK_TABLES},
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "state.commit_ms": "ms",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "sources.batch.load_table_calls": "count",
    "sources.batch.load_table_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec.run_ms": "ms",
    "exec.jobs": "count",
    "exec.gap_ms": "ms",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_ms": "ms",
    "exec.shuffle_bytes": "bytes",
    "exec.gc_ms": "ms",
}


def as_metrics(values: dict[str, float]) -> dict:
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"unregistered layer metrics: {sorted(unknown)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}


class ProgressListener:
    """Collects every ``StreamingQueryProgress`` as a dict."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, stages and tasks from Spark's JSON event log."""

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        paths = glob.glob(os.path.join(WORK, "eventlog", "*"))
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.jobs[jid] = {
                "start": ev["Submission Time"],
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stages": ev.get("Stage IDs", []),
            }
            for s in ev.get("Stage IDs", []):
                self.stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                }
            )

    def select(self, jobs: set[int]) -> dict[str, float]:
        """exec.* totals over the given jobs' tasks."""
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len({t["stage"] for t in tasks}),
            "exec.tasks": len(tasks),
            "exec.task_ms": sum(t["run_ms"] for t in tasks),
            "exec.gc_ms": sum(t["gc_ms"] for t in tasks),
            "exec.shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        }

    def jobs_between(self, t0_ms: float, t1_ms: float) -> set[int]:
        return {j for j, info in self.jobs.items() if t0_ms <= info["start"] <= t1_ms}

    def jobs_in_group(self, prefix: str) -> set[int]:
        return {j for j, info in self.jobs.items() if (info["group"] or "").startswith(prefix)}

    def busy_ms(self, jobs: set[int]) -> float:
        from pipeline import union_ms

        return union_ms([(self.jobs[j]["start"], self.jobs[j]["end"] or self.jobs[j]["start"]) for j in jobs])


# ---------------------------------------------------------------------------
# pipeline_streaming
# ---------------------------------------------------------------------------


def pipeline_layers(progress, writes, out, wall_ms, lag, backlog, n_epochs,
                    session_s, warmup_s) -> dict[str, float]:
    """Per-layer totals over the timed window ``wall_ms`` (epoch ms),
    counting every batch that started in it, no-data batches included."""
    from pipeline import _iso_ms, _query_key, query_of

    prog = [p for p in progress if wall_ms[0] <= _iso_ms(p["timestamp"]) <= wall_ms[1]]
    batches = {(_query_key(p["name"]), p["batchId"]) for p in prog}
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    v: dict[str, float] = {
        "session.start_ms": session_s * 1000.0,
        "session.warmup_ms": warmup_s * 1000.0,
        "generator.lag_ms": max(lag, default=0.0),
        "streaming.sources.offset_ms": sum(dur(p, "latestOffset") + dur(p, "getBatch") for p in prog),
        "streaming.sources.input_rows": sum(p.get("numInputRows", 0) for p in prog),
        "streaming.sources.backlog_max_files": backlog,
        "streaming.runner.planning_ms": sum(dur(p, "queryPlanning") for p in prog),
        "streaming.runner.add_batch_ms": sum(dur(p, "addBatch") for p in prog),
        "streaming.runner.checkpoint_ms": sum(dur(p, "walCommit") + dur(p, "commitOffsets") for p in prog),
    }
    for table in SINK_TABLES:
        v[f"sinks.{table}.write_ms"] = sum(
            (t1 - t0) * 1000.0 for tb, b, t0, t1 in writes if tb == table and (query_of(tb), b) in batches
        )
    files = nbytes = 0
    import duckdb

    con = duckdb.connect()
    for table in SINK_TABLES:
        q = query_of(table)
        rows = 0
        for b in sorted(b for qq, b in batches if qq == q):
            part = os.path.join(out, table, f"epoch={b}")
            found = glob.glob(os.path.join(part, "*.parquet"))
            files += len(found)
            nbytes += sum(os.path.getsize(p) for p in found)
            if found:
                rows += con.execute(f"SELECT count(*) FROM read_parquet('{part}/*.parquet')").fetchone()[0]
        v[f"sinks.{table}.rows"] = rows
    con.close()
    v["sinks.files_written"] = files
    v["sinks.bytes_written"] = nbytes
    last: dict[str, dict] = {}
    for p in prog:
        last[p["name"]] = p
    ops = [op for p in prog for op in p.get("stateOperators", [])]
    v["state.rows_total"] = sum(op.get("numRowsTotal", 0) for p in last.values() for op in p.get("stateOperators", []))
    v["state.memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for p in last.values() for op in p.get("stateOperators", []))
    v["state.rows_dropped_by_watermark"] = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    v["state.commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
    log = EventLog()
    jobs = log.jobs_between(*wall_ms)
    v.update(log.select(jobs))
    v["streaming.runner.jobs_per_epoch"] = len(jobs) / max(1, n_epochs)
    return v


# ---------------------------------------------------------------------------
# queries_mix
# ---------------------------------------------------------------------------


class LoadTableTimer:
    """Wraps ``sources.batch.load_table`` wherever an engine module bound
    it, counting calls and their wall time."""

    PACKAGE = "bigdata_covid19_real_time_spark"

    def __init__(self) -> None:
        import sys

        from bigdata_covid19_real_time_spark.sources import batch

        original = self.original = batch.load_table
        self.calls, self.ms = 0, 0.0

        def load_table(*args, **kwargs):
            t = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.calls += 1
                self.ms += (time.perf_counter() - t) * 1000.0

        self.bound = [
            m for name, m in list(sys.modules.items())
            if name.startswith(self.PACKAGE) and getattr(m, "load_table", None) is original
        ]
        for m in self.bound:
            m.load_table = load_table

    def reset(self) -> None:
        self.calls, self.ms = 0, 0.0

    def restore(self) -> None:
        for m in self.bound:
            m.load_table = self.original


def query_layers(samples: dict[str, list[dict]], session_s: float, warmup_s: float) -> dict[str, float]:
    """Per-layer totals for one pass: each query's median over its runs,
    summed over the queries.  Adds each run's job-derived figures to its
    record as a side effect."""
    import statistics

    log = EventLog()
    for runs in samples.values():
        for rec in runs:
            g = rec["groups"]
            rec["build_jobs"] = len(log.jobs_in_group(g["build"]))
            exec_jobs = log.jobs_in_group(g["exec"])
            rec.update(log.select(exec_jobs))
            rec["gap_ms"] = max(0.0, rec["exec_ms"] - log.busy_ms(exec_jobs))
    keys = {
        "plans.build_ms": "build_ms",
        "plans.build_jobs": "build_jobs",
        "sources.batch.load_table_calls": "load_table_calls",
        "sources.batch.load_table_ms": "load_table_ms",
        "catalyst.plan_ms": "plan_ms",
        "exec.run_ms": "exec_ms",
        "exec.gap_ms": "gap_ms",
        **{k: k for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms", "exec.shuffle_bytes", "exec.gc_ms")},
    }
    v = {
        metric: sum(statistics.median(r[key] for r in runs) for runs in samples.values())
        for metric, key in keys.items()
    }
    v["session.start_ms"] = session_s * 1000.0
    v["session.warmup_ms"] = warmup_s * 1000.0
    return v
