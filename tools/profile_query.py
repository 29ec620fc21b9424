#!/usr/bin/env python3
"""Per-stage profiler for one registered query (optimization round 14).

Runs one query in a fresh JVM with the Spark event log enabled, timed
by bench.bench_session + bench.run_query, then parses the event log
into a compact per-job/per-stage cost breakdown:

    python tools/profile_query.py docs_minhash_lsh
    python tools/profile_query.py docs_minhash_lsh --runs 2 --json out.json

For each job of the TIMED run it reports wall duration, the stages with
their task counts, task-time sums, shuffle read/write bytes, and the
"gap" before the job started (driver-side planning/analysis time between
jobs — invisible in stage metrics but real wall-clock).  This is the
guide §1 "where does the time actually go" step for a host with no
Spark UI.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVENT_DIR = "/tmp/spark-events-profile"


def run_and_profile(name: str, sf_dir: str, runs: int) -> dict:
    """Time ``name`` with bench.run_query under an event log, marking
    each timed run's wall-clock window for the log parser."""
    import shutil

    from bench import bench_session, run_query

    from bigdata_covid19_real_time_spark.plans import QUERIES

    shutil.rmtree(EVENT_DIR, ignore_errors=True)
    os.makedirs(EVENT_DIR, exist_ok=True)
    spark = bench_session(
        f"profile-{name}",
        sf_dir,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENT_DIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    # Each timed run starts when run_query builds the query at sf_dir;
    # it ends where the next one starts, or where run_query returns.
    build = QUERIES[name]
    marks: list[dict] = []

    def marked(spark_, at_dir):
        t0 = time.perf_counter()
        t0_ms = int(time.time() * 1000)
        df = build(spark_, at_dir)
        if at_dir == sf_dir:
            if marks:
                marks[-1]["t1_ms"] = t0_ms
            marks.append(
                {"t0_ms": t0_ms, "build_sec": round(time.perf_counter() - t0, 3)}
            )
        return df

    QUERIES[name] = marked
    try:
        run_query(spark, name, sf_dir, runs)
    finally:
        QUERIES[name] = build
    marks[-1]["t1_ms"] = int(time.time() * 1000)
    spark.stop()

    # Spark 4 rolling format: a directory per app containing events_* files
    logs = [
        p
        for p in glob.glob(f"{EVENT_DIR}/**/*", recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ] or [p for p in glob.glob(f"{EVENT_DIR}/*") if os.path.isfile(p)]
    assert logs, f"no event log under {EVENT_DIR}"
    timings = [round((m["t1_ms"] - m["t0_ms"]) / 1000, 3) for m in marks]
    return parse_log(sorted(logs), marks, timings)


def parse_log(paths: list[str], marks: list[dict], timings: list[float]) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    lines = []
    for path in paths:
        with open(path) as fh:
            lines.extend(fh)
    for line in lines:
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )[:80],
                "stage_ids": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            acc = {
                a["Name"]: a.get("Value")
                for a in si.get("Accumulables", [])
            }

            def num(key):
                v = acc.get(key)
                try:
                    return int(v)
                except (TypeError, ValueError):
                    return 0

            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "tasks": si["Number of Tasks"],
                "submit": si.get("Submission Time"),
                "complete": si.get("Completion Time"),
                "shuffle_write_b": num("internal.metrics.shuffleWrite.bytesWritten"),
                "shuffle_read_b": num("internal.metrics.shuffleRead.remoteBytesRead")
                + num("internal.metrics.shuffleRead.localBytesRead"),
                "task_time_ms": num("internal.metrics.executorRunTime"),
                "cpu_ms": num("internal.metrics.executorCpuTime") // 1_000_000,
            }

    out_runs = []
    for mi, m in enumerate(marks):
        run_jobs = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if "end" in j and m["t0_ms"] <= j["start"] <= m["t1_ms"]
        ]
        prev_end = m["t0_ms"]
        jl = []
        total_job_ms = 0
        for jid, j in run_jobs:
            gap = j["start"] - prev_end
            dur = j["end"] - j["start"]
            prev_end = j["end"]
            total_job_ms += dur
            sl = []
            for sid in sorted(j["stage_ids"]):
                s = stages.get(sid)
                if s and s.get("submit") and j["start"] <= s["submit"] <= j["end"]:
                    sl.append(
                        {
                            "stage": sid,
                            "name": s["name"],
                            "tasks": s["tasks"],
                            "wall_ms": s["complete"] - s["submit"],
                            "task_time_ms": s["task_time_ms"],
                            "cpu_ms": s["cpu_ms"],
                            "shuf_w_kb": s["shuffle_write_b"] // 1024,
                            "shuf_r_kb": s["shuffle_read_b"] // 1024,
                        }
                    )
            jl.append(
                {
                    "job": jid,
                    "gap_before_ms": gap,
                    "wall_ms": dur,
                    "desc": j["desc"],
                    "stages": sl,
                }
            )
        tail_gap = m["t1_ms"] - prev_end
        out_runs.append(
            {
                "run": mi,
                "elapsed_sec": timings[mi],
                "build_sec": m.get("build_sec"),
                "n_jobs": len(run_jobs),
                "sum_job_wall_ms": total_job_ms,
                "sum_gaps_ms": sum(x["gap_before_ms"] for x in jl) + tail_gap,
                "tail_gap_ms": tail_gap,
                "jobs": jl,
            }
        )
    return {"runs": out_runs}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    # bench.run_query's rule: a second run only when the first takes > 3 s
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--json", help="also dump full JSON here")
    args = ap.parse_args()

    res = run_and_profile(args.query, args.sf_dir, args.runs)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(res, f, indent=1)
    for r in res["runs"]:
        print(
            f"== run {r['run']}: {r['elapsed_sec']}s (build {r['build_sec']}s) jobs={r['n_jobs']} "
            f"job_wall={r['sum_job_wall_ms']}ms gaps={r['sum_gaps_ms']}ms "
            f"(tail {r['tail_gap_ms']}ms)"
        )
        for j in r["jobs"]:
            print(
                f"  job {j['job']:>4} gap={j['gap_before_ms']:>5}ms "
                f"wall={j['wall_ms']:>6}ms  {j['desc']}"
            )
            for s in j["stages"]:
                print(
                    f"    s{s['stage']:>4} {s['tasks']:>3}t wall={s['wall_ms']:>6}ms "
                    f"task={s['task_time_ms']:>6}ms cpu={s['cpu_ms']:>6}ms "
                    f"w={s['shuf_w_kb']:>6}K r={s['shuf_r_kb']:>6}K  {s['name']}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())
