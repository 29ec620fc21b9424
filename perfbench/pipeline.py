"""The ``pipeline_streaming`` workload: ``CovidPipeline(mode="streaming")``
under an open-loop feed.

Set-up starts the session, precomputes every epoch file, starts the
pipeline, publishes the warm-up epochs at once and waits until they
commit.  Then one publisher thread moves one file into the watched
directory per interval (atomic rename), whatever the pipeline is doing,
for ``--seconds`` seconds.

An epoch's freshness runs from its file's scheduled publish time to the
return of the last sink write holding its rows, across all the
pipeline's three queries.  Files are mapped to batches through each query's
checkpoint (offset log -> file-source log), never by assuming that batch
id equals file index, since a query may run batches with no new data.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import sys
import threading
import time

import checks
import tracing as tr
from env import WORK, peak_rss_mb, start_session, stop_session, versions
from feed import make_feed

#: Publish interval, from the capacity measured on 4 cores when this
#: benchmark was written: a warm epoch keeps the fan-out query busy ~1.9 s,
#: so 3.0 s offers ~60% of capacity (six epochs fit an 18 s run).
INTERVAL_S = 3.0
#: Warm-up epochs, published at once before any timing: the first epochs
#: run while the JVM still compiles the hot paths.
WARMUP = 6
#: An epoch is a few hundred rows, and every stateful operator keeps one
#: state store per shuffle partition: one partition is the right size.
SHUFFLE_PARTITIONS = 1
#: No batches without new data: in streaming mode each one would run the
#: fan-out with an empty frame -- three empty table writes -- and collide
#: with the next epoch, which made freshness swing by a whole epoch.
PIPELINE_CONF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
#: How long after the last publish an epoch may still commit.
DRAIN_S = 15.0

TABLE_QUERY = {"continent_covid_stats": "continent", "windowed_covid_stats": "windowed"}


def query_of(table: str) -> str:
    return TABLE_QUERY.get(table, "fanout")


class RecordingSink:
    """Wraps the real sink; notes when each write returns."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.writes: list[tuple[str, int, float, float]] = []

    def write(self, df, epoch_id: int, table: str) -> None:
        t0 = time.perf_counter()
        self.inner.write(df, epoch_id, table)
        self.writes.append((table, int(epoch_id), t0, time.perf_counter()))


def _read_log(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().splitlines()


def batch_files(ckpt: str) -> tuple[dict[int, list[str]], set[int]]:
    """Map each batch of one query to the files it read, from its
    checkpoint; also return the committed batch ids."""
    log_batch: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        try:
            lines = _read_log(p)
        except OSError:
            continue
        for line in lines[1:]:
            entry = json.loads(line)
            log_batch[os.path.basename(entry["path"])] = int(entry["batchId"])
    offsets: dict[int, int] = {}
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        try:
            lines = _read_log(p)
        except OSError:
            continue
        if len(lines) >= 3 and lines[2] not in ("", "-"):
            offsets[int(name)] = int(json.loads(lines[2])["logOffset"])
    by_batch: dict[int, list[str]] = {}
    prev = -1
    for b in sorted(offsets):
        hi = offsets[b]
        by_batch[b] = sorted(f for f, lb in log_batch.items() if prev < lb <= hi)
        prev = max(prev, hi)
    commits = {
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if os.path.basename(p).isdigit()
    }
    return by_batch, commits


def file_batches(ckpt_root: str) -> dict[str, dict[str, tuple[int, bool]]]:
    """file name -> query -> (batch id, committed)."""
    out: dict[str, dict[str, tuple[int, bool]]] = {}
    for q in checks.STREAMING_QUERIES:
        by_batch, commits = batch_files(os.path.join(ckpt_root, q))
        for b, files in by_batch.items():
            for f in files:
                out.setdefault(f, {})[q] = (b, b in commits)
    return out


def done_files(ckpt_root: str) -> set[str]:
    nq = len(checks.STREAMING_QUERIES)
    return {
        f for f, qs in file_batches(ckpt_root).items()
        if len(qs) == nq and all(c for _, c in qs.values())
    }


def file_name(i: int) -> str:
    return f"epoch-{i:05d}.json"


class Publisher(threading.Thread):
    """Open loop: file ``i`` is due at ``start + i * interval``."""

    def __init__(self, files: list[bytes], first: int, src: str, stage: str, interval: float, start: float):
        super().__init__(daemon=True)
        self.files, self.first, self.src, self.stage = files, first, src, stage
        self.interval, self.start_at = interval, start
        self.due: dict[str, float] = {}
        self.lag: dict[str, float] = {}

    def run(self) -> None:
        for j, content in enumerate(self.files):
            due = self.start_at + j * self.interval
            time.sleep(max(0.0, due - time.perf_counter()))
            name = file_name(self.first + j)
            publish(content, name, self.src, self.stage)
            self.due[name] = due
            self.lag[name] = time.perf_counter() - due


def publish(content: bytes, name: str, src: str, stage: str) -> None:
    tmp = os.path.join(stage, name)
    with open(tmp, "wb") as fh:
        fh.write(content)
    os.rename(tmp, os.path.join(src, name))


def wait_done(ckpt_root: str, names: set[str], deadline: float) -> bool:
    while time.perf_counter() < deadline:
        if names <= done_files(ckpt_root):
            return True
        time.sleep(0.05)
    return names <= done_files(ckpt_root)


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def run(seed: int, seconds: int, trace: bool) -> dict:
    from bigdata_covid19_real_time_spark.sinks.registry import IdempotentParquetSink
    from bigdata_covid19_real_time_spark.streaming import CovidPipeline
    from bigdata_covid19_real_time_spark.streaming.sources import read_jsonl_stream

    t_setup = time.perf_counter()
    spark, session_s = start_session(trace, SHUFFLE_PARTITIONS, PIPELINE_CONF)
    interval = INTERVAL_S
    n_timed = max(1, int(seconds / interval))
    first = WARMUP
    feed = make_feed(seed, first + n_timed)
    src, stage = os.path.join(WORK, "source"), os.path.join(WORK, "stage")
    ckpt, out = os.path.join(WORK, "checkpoint"), os.path.join(WORK, "sink")
    for d in (src, stage):
        os.makedirs(d)

    listener = tr.ProgressListener(spark) if trace else None
    sink = RecordingSink(IdempotentParquetSink(out))
    pipeline = CovidPipeline(sink=sink, mode="streaming")
    stream = read_jsonl_stream(spark, src)
    queries = pipeline.run(stream, ckpt, trigger={"processingTime": "0 seconds"})
    names_warm = [file_name(i) for i in range(first)]
    t_warm = time.perf_counter()
    try:
        # the warm-up backlog drains as fast as the pipeline goes
        for i, name in enumerate(names_warm):
            publish(feed[i], name, src, stage)
        if not wait_done(ckpt, set(names_warm), time.perf_counter() + 150):
            raise RuntimeError("warm-up epochs did not commit")
        setup_s = time.perf_counter() - t_setup
        warmup_s = time.perf_counter() - t_warm

        # -- timed, open loop --------------------------------------------
        start = time.perf_counter() + 0.05
        wall0_ms = time.time() * 1000.0
        pub = Publisher(feed[first:first + n_timed], first, src, stage, interval, start)
        pub.start()
        pub.join()
        timed = [file_name(first + j) for j in range(n_timed)]
        wait_done(ckpt, set(timed), time.perf_counter() + DRAIN_S)
        t_end = time.perf_counter()
        wall1_ms = time.time() * 1000.0
        progress = [p for q in queries for p in q.recentProgress]
    finally:
        for q in queries:
            q.stop()
    rss = peak_rss_mb(spark)
    env_info = versions(spark)
    if listener is not None:
        progress = listener.events
    stop_session(spark)

    # -- freshness: due time to the last sink write holding the epoch ------
    fb = file_batches(ckpt)
    done_at: dict[tuple[str, int], float] = {}
    first_write: dict[tuple[str, int], float] = {}
    for table, b, t0, t1 in sink.writes:
        key = (query_of(table), b)
        done_at[key] = max(done_at.get(key, 0.0), t1)
        first_write[key] = min(first_write.get(key, t0), t0)
    finish = {name: finished_at(fb.get(name, {}), done_at) for name in timed}
    unfinished = {name for name, t in finish.items() if t is None}
    fresh = [(t - pub.due[name]) * 1000.0 for name, t in finish.items() if t is not None]

    # -- capacity: timed rows over the union of trigger executions ---------
    batch_of = {(q, b) for name in timed for q, (b, _) in fb.get(name, {}).items()}
    intervals = []
    for p in progress:
        q = _query_key(p["name"])
        if (q, p["batchId"]) in batch_of:
            s = _iso_ms(p["timestamp"])
            intervals.append((s, s + p["durationMs"].get("triggerExecution", 0)))
    timed_rows = sum(feed[first + j].count(b"\n") for j in range(n_timed))
    busy_ms = union_ms(intervals)

    # -- correctness, outside the timed section ----------------------------
    problems = checks.check_streaming(feed[:first + n_timed], fb, out)
    lag = [v * 1000.0 for v in pub.lag.values()]
    queue = backlog(pub.due, finish)
    valid = open_loop_valid(lag, interval, queue, unfinished)
    if not valid:
        print(f"open loop not valid: lag {max(lag, default=0.0):.0f} ms, backlog {queue}, "
              f"{len(unfinished)} epochs unfinished", file=sys.stderr)
    metrics = {}
    if fresh:
        metrics = {
            "latency_p50_ms": statistics.median(fresh),
            "latency_geomean_ms": statistics.geometric_mean(fresh),
            "busy_ms_per_op": busy_ms / len(fresh),
            "setup_s": setup_s,
        }
    detail = {
        "workload": "pipeline_streaming",
        "seed": seed,
        "env": env_info,
        "peak_rss_mb": rss,
        "session_start_s": session_s,
        "epochs_timed": n_timed,
        "epochs_fresh": len(fresh),
        "freshness_ms": [round(x, 1) for x in fresh],
        # per epoch and query: its sink writes' first start and last end, ms after due
        "epoch_writes_ms": {
            name: {
                q: [round((first_write[(q, b)] - pub.due[name]) * 1000), round((done_at[(q, b)] - pub.due[name]) * 1000)]
                for q, (b, _) in fb.get(name, {}).items() if (q, b) in done_at
            }
            for name in timed
        },
        "trigger_ms": sorted(round(b - a) for a, b in intervals),
        "capacity_rows_per_s": timed_rows / (busy_ms / 1000.0) if busy_ms else 0.0,
        "interval_s": interval,
        "timed_rows": timed_rows,
        "generator_lag_max_ms": max(lag, default=0.0),
        "backlog_files": queue,
        "open_loop_valid": valid,
        "window_s": t_end - start,
        "problems": problems[:20],
    }
    layers = None
    if trace:
        layers = tr.pipeline_layers(
            progress, sink.writes, out, (wall0_ms, wall1_ms), lag, max(queue), n_timed,
            session_s, warmup_s,
        )
        layers["process.peak_rss_mb"] = rss
    # an epoch fails when it did not commit in time or its rows are wrong;
    # in a run that was not open loop, no epoch's freshness is valid
    bad = set(timed) if not valid else unfinished | (checks.failed_files(problems) & set(timed))
    return {
        "attempted": n_timed,
        "failed": len(bad) or int(bool(problems)),
        "correct": not problems,
        "metrics": metrics,
        "layers": layers,
        "detail": detail,
    }


def _query_key(name: str) -> str:
    if name.endswith("-continent"):
        return "continent"
    if name.endswith("-windowed"):
        return "windowed"
    return "fanout"


def finished_at(qs: dict, done_at: dict) -> float | None:
    """When the last query's sink write for one file returned; None if a
    query has not committed the batch holding it."""
    ends = [done_at.get((q, qs[q][0])) for q in checks.STREAMING_QUERIES if q in qs and qs[q][1]]
    if len(ends) < len(checks.STREAMING_QUERIES) or None in ends:
        return None
    return max(ends)


def backlog(due: dict, finish: dict) -> list[int]:
    """Files published but not yet fully processed, seen at each publish
    instant of the timed window."""
    inf = float("inf")
    return [sum(1 for n in due if due[n] <= t < (finish[n] or inf)) for t in sorted(due.values())]


def open_loop_valid(lag_ms: list[float], interval_s: float, queue: list[int], unfinished: set) -> bool:
    """The generator kept its schedule (no publish later than 10% of the
    interval), every timed epoch committed, and the backlog did not grow
    over the window (the last publish saw at most one file more waiting
    than the first)."""
    slipped = max(lag_ms, default=0.0) > 0.1 * interval_s * 1000.0
    return not slipped and not unfinished and (not queue or queue[-1] <= queue[0] + 1)
