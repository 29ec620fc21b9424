#!/usr/bin/env python3
"""Interleaved two-sample A/B for query optimizations (round-14).

Runs each query N times ALTERNATING between two repo checkouts (the
baseline worktree and the working tree), each sample in its own fresh
JVM timed by this checkout's bench.bench_session + bench.run_query
with runs=1 — every sample is one timed run so the two arms see
identical treatment and host drift hits both arms alike.  This is
the repo's r7 adjudication standard: a candidate ships only if the arms
separate (no overlap / clear mean gap), not on a single-run delta.

    python tools/ab_isolated.py --queries q1 q2 --samples 3 \
        --a /root/repo_baseline --b /root/repo --out /tmp/ab.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "bench.py")

#: One sample: the arm's engine, timed by THIS checkout's bench.py, so
#: a pinned baseline worktree (which may predate bench.run_query) is
#: timed by the same code as the working tree.  The engine package is
#: imported before bench.py loads, so every engine module comes from
#: the arm.
CHILD = r"""
import importlib.util, json, sys
repo, bench_path, name, sf_dir = sys.argv[1:5]
sys.path.insert(0, repo)
import bigdata_covid19_real_time_spark
spec = importlib.util.spec_from_file_location("bench", bench_path)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
spark = bench.bench_session("ab-" + name, sf_dir)
print(json.dumps({"sec": bench.run_query(spark, name, sf_dir, runs=1)}))
spark.stop()
"""


def one(repo: str, name: str, sf_dir: str) -> float | None:
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, repo, BENCH, name, sf_dir],
        capture_output=True, text=True, timeout=900, cwd=repo,
    )
    line = next((ln for ln in reversed(proc.stdout.splitlines())
                 if ln.startswith("{")), None)
    if proc.returncode != 0 or line is None:
        print(f"  FAIL rc={proc.returncode}: {(proc.stderr or '')[-300:]}",
              flush=True)
        return None
    return json.loads(line)["sec"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--a", default="/root/repo_baseline")
    ap.add_argument("--b", default=os.path.dirname(HERE))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    results: dict[str, dict] = {}
    for name in args.queries:
        a_runs, b_runs = [], []
        for i in range(args.samples):
            # alternate arm order per sample so slow drift cancels
            order = [("a", args.a, a_runs), ("b", args.b, b_runs)]
            if i % 2:
                order.reverse()
            for tag, repo, sink in order:
                sec = one(repo, name, args.sf_dir)
                print(f"{name} [{tag}] sample {i}: {sec}", flush=True)
                if sec is not None:
                    sink.append(sec)
        rec = {"a": a_runs, "b": b_runs}
        if a_runs and b_runs:
            rec["a_mean"] = round(statistics.mean(a_runs), 3)
            rec["b_mean"] = round(statistics.mean(b_runs), 3)
            rec["ratio_b_over_a"] = round(rec["b_mean"] / rec["a_mean"], 3)
            rec["overlap"] = not (max(b_runs) < min(a_runs)
                                  or max(a_runs) < min(b_runs))
        results[name] = rec
        print(f"== {name}: A {rec.get('a_mean')} vs B {rec.get('b_mean')} "
              f"ratio {rec.get('ratio_b_over_a')} overlap={rec.get('overlap')}",
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
