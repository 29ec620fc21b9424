#!/usr/bin/env python3
"""Timing series for the bench-EXCLUDED gate-only fixtures (round-9
verdict task 3).

The headline bench excludes the streaming replay harnesses (their wall
time is ~all fixed micro-batch/tempdir overhead, not operator cost) and
the degenerate-corpus near-dup gate — the right call for the headline,
but it left their wall clock untracked round-over-round, so a real
regression in a replay gate's PLAN would stay invisible until the
correctness gate timed out.  This tool gives the excluded set its own
per-round series: bench.py's session and run_query timing,
timed at the correctness-gate SF (sf0.01 — the SF the driver actually
runs them at), bracketed by the same frozen drift probes at sf0.1 so
totals are probe-normalizable across rounds.

    python tools/replay_bench.py --round 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLAY_DIR = "/root/testdata/sf0.01"
PROBE_DIR = "/root/testdata/sf0.1"


def vs_prior_round(current_norm: dict, prior: dict) -> dict:
    """Round-over-round delta block (round-10 verdict task 3).

    Like-for-like totals (round-11 advice #2): if the EXCLUDED set
    gained/lost a fixture between rounds, whole-file totals are not
    comparable — the ratio is computed over the INTERSECTION of query
    names, and any key-set change is flagged explicitly so a reader
    never mistakes a fixture-set change for a perf delta.
    """
    prior_norm = prior.get("queries_sec_normalized", {})
    common = sorted(set(current_norm) & set(prior_norm))
    common_cur = sum(current_norm[n] for n in common)
    common_prior = sum(prior_norm[n] for n in common)
    # A prior total of exactly 0.0 over a NON-empty intersection is
    # legitimate data, not "no prior" — flag it distinctly instead of
    # letting the ratio's None conflate the two (round-13 advice #3).
    prior_total_zero = bool(common) and common_prior == 0
    ratio = common_cur / common_prior if common and not prior_total_zero else None
    worst = max(
        (
            (n, round(current_norm[n] / prior_norm[n], 3))
            for n in common
            if prior_norm[n]
        ),
        key=lambda kv: kv[1],
        default=None,
    )
    return {
        "prior_round": prior["round"],
        # `is not None` (round-12 advice): a legitimate 0.0 ratio must
        # not be conflated with "no prior data"
        "normalized_total_ratio": round(ratio, 3) if ratio is not None else None,
        "compared_fixtures": len(common),
        "empty_intersection": not common,
        "prior_total_zero": prior_total_zero,
        "fixture_set_changed": set(current_norm) != set(prior_norm),
        "only_in_current": sorted(set(current_norm) - set(prior_norm)),
        "only_in_prior": sorted(set(prior_norm) - set(current_norm)),
        "worst_query": worst[0] if worst else None,
        "worst_query_ratio": worst[1] if worst else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out_path = args.out or os.path.join(REPO, f"REPLAY_BENCH_r{args.round}.json")

    from bench import (
        EXCLUDED,
        PROBE_BASELINE_SEC,
        bench_session,
        probe_pass,
        run_query,
    )

    spark = bench_session("replay-bench", PROBE_DIR)
    probes = [probe_pass(spark, PROBE_DIR, 0)]
    timings = {}
    for name in sorted(EXCLUDED):
        timings[name] = run_query(spark, name, REPLAY_DIR)
        print(f"{name}: {timings[name]}s", flush=True)
    probes.append(probe_pass(spark, PROBE_DIR, len(timings)))

    probe_ratios = [
        got / PROBE_BASELINE_SEC[n] for p in probes for n, got in p["timings"].items()
    ]
    probe_factor = round(statistics.median(probe_ratios), 3)
    total = round(sum(timings.values()), 3)

    payload = {
        "method": (
            "bench.bench_session + bench.run_query (sf0.001 warm-up, "
            "noop write, min of 2 only for runs over 3 s); "
            "excluded fixtures timed at the correctness-gate SF "
            f"({REPLAY_DIR}); probe pass (sf0.1 frozen probes) before "
            "and after, probe_factor = median ratio vs committed "
            "baselines; compare normalized_total_sec across rounds"
        ),
        "round": args.round,
        "sf_dir": REPLAY_DIR,
        "probe_factor": probe_factor,
        "queries_sec": timings,
        "queries_sec_normalized": {
            n: round(s / probe_factor, 3) for n, s in timings.items()
        },
        "total_sec": total,
        "normalized_total_sec": round(total / probe_factor, 3),
    }
    # Round-over-round delta (round-10 verdict task 3): compare against
    # the newest prior-round artifact so a replay-gate plan regression
    # is visible in the artifact itself, not just by diffing rounds.
    prior = None
    for r in range(args.round - 1, 9, -1):
        p = os.path.join(REPO, f"REPLAY_BENCH_r{r}.json")
        if os.path.exists(p):
            with open(p) as fh:
                prior = json.load(fh)
            break
    if prior and prior.get("normalized_total_sec"):
        payload["vs_prior_round"] = vs_prior_round(
            payload["queries_sec_normalized"], prior
        )
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(f"wrote {out_path}: {len(timings)} fixtures, "
          f"total {total}s (probe {probe_factor})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
