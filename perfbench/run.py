"""The repo benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:

- ``pipeline_streaming``: seeded JSON-lines epochs through
  ``CovidPipeline(mode="streaming")`` into ``IdempotentParquetSink``;
- ``queries_mix``: a fixed list of registered queries over seeded tables,
  in an order set by the seed.

With ``--trace 0`` the last line of stdout carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics.  The line
before it is a detail record (environment, sample counts, open-loop
validity, correctness problems); each run also appends both lines to
``.perfbench_results.jsonl`` at the checkout root, and a traced run
reports its overhead against the untraced runs found there of the same
code (engine package and benchmark files).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from env import ROOT, code_version, fresh_work_dir

WORKLOADS = ["pipeline_streaming", "queries_mix"]
RESULTS = os.path.join(ROOT, ".perfbench_results.jsonl")


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


E2E_UNITS = {
    "latency_p50_ms": "ms",
    "latency_geomean_ms": "ms",
    "busy_ms_per_op": "ms",
    "setup_s": "s",
}


def overhead(workload: str, code: str, traced: dict[str, float]) -> dict[str, float]:
    """Traced / untraced median, per end-to-end metric, against the
    untraced runs of this workload and this code recorded in this checkout."""
    base: dict[str, list[float]] = {}
    try:
        with open(RESULTS) as fh:
            for line in fh:
                rec = json.loads(line)
                if (rec.get("workload"), rec.get("code")) == (workload, code) and not rec.get("trace") and rec.get("correct"):
                    for k, v in rec.get("e2e", {}).items():
                        base.setdefault(k, []).append(v)
    except OSError:
        return {}
    return {k: traced[k] / statistics.median(base[k]) for k in traced if base.get(k) and statistics.median(base[k])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    fresh_work_dir()
    if args.workload == "pipeline_streaming":
        import pipeline

        res = pipeline.run(args.seed, args.seconds, trace)
    else:
        import queries

        res = queries.run(args.seed, args.seconds, trace)

    e2e = res["metrics"]
    if set(e2e) != set(E2E_UNITS):
        print(f"no end-to-end metrics measured: {res['detail']}", file=sys.stderr)
        return 1
    code = code_version()
    detail = dict(res["detail"], trace=trace, correct=res["correct"], code=code, e2e=e2e)
    if trace:
        detail["trace_overhead"] = overhead(args.workload, code, e2e)
        detail["layers"] = res["layers"]
    with open(RESULTS, "a") as fh:
        fh.write(json.dumps(detail) + "\n")
    print(json.dumps(detail))
    if trace:
        from tracing import as_metrics

        metrics = as_metrics(res["layers"])
    else:
        metrics = _metrics(e2e, E2E_UNITS)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
