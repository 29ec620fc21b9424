#!/usr/bin/env python3
"""Physical-plan audit over every registered query.

tests/test_plans.py pins named plan properties for representative
queries; this tool is the WIDE net: it builds the executed plan of all
registered queries at one SF and greps each for anti-patterns, writing
a per-query table plus a flag list to PLAN_AUDIT.md.

Flags (conservative — a flag is a review prompt, not a verdict):
- CARTESIAN: an unbroadcast CartesianProduct node (all-pairs shuffle).
  Broadcast cross joins plan as BroadcastNestedLoopJoin and do not flag.
- NO_CODEGEN: no WholeStageCodegen span anywhere (the whole plan runs
  interpreted — expected only for pure-Python `mapInPandas` pipelines).
- ROWUDF: a row-at-a-time PythonUDF node (BatchEvalPython).  Arrow
  kernels (MapInPandas/ArrowEvalPython) are the sanctioned boundary and
  do not flag.
- WIDE_SCAN: a lineitem/events scan reading every column (ReadSchema
  lists >9 fields) — projection pruning failed.

Exchange-count regression guard (round-3 verdict task 7): the committed
``PLAN_BASELINE.json`` pins every query's shuffle/broadcast exchange
count.  A run FAILS if any query's count GROWS versus the baseline — a
silent extra shuffle is exactly the class of change that should never
land unreviewed.  Counts that shrink are reported and accepted (update
the baseline to lock in the improvement).  After an intentional plan
change, re-pin with ``--update-baseline`` and say why in the commit.

``--dump DIR`` also writes each query's static executed plan to
``DIR/<query>.txt`` with expression ids (``#123``), codegen stage ids
(``*(4)``), exchange plan ids, lambda-variable suffixes (``x_17``, a
JVM-wide counter) and the random suffix of the temporary directories
some queries write (``/tmp/prefix_ab12cd34``) normalised, so two
checkouts' dumps diff line for line: run the tool from each checkout
with the same ``--sf-dir`` and ``diff -r`` the two directories.  The
Expand group ids of a query with several distinct aggregates, which
Spark numbers in a session-dependent order, are renumbered
canonically (``_canonical_gids``), and so are the columns that order
moves.

Usage: python tools/plan_audit.py [--sf-dir DIR] [--out PLAN_AUDIT.md]
                                  [--update-baseline] [--dump DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def audit_plan(plan: str) -> dict:
    # codegen spans appear as `*(n)` operator prefixes in the static
    # plan string (the WholeStageCodegen wrapper's short form); count
    # DISTINCT span ids, not prefixed operators
    codegen_ids = set(re.findall(r"\*\((\d+)\)", plan))
    info = {
        "exchanges": plan.count("Exchange "),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "codegen": len(codegen_ids),
        "python": plan.count("MapInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas"),
        "flags": [],
    }
    if "CartesianProduct" in plan:
        info["flags"].append("CARTESIAN")
    # A plan whose every operator is a driver-local literal relation
    # (plus trivial projections) has no per-row work to compile —
    # harnesses that assemble a bounded result driver-side return it
    # as a LocalTableScan; flagging those as "whole plan runs
    # interpreted" would be a false positive.  Scoped tightly (round-8
    # advice): at least one LocalTableScan must be present, a
    # `Scan ExistingRDD` (a genuinely interpreted RDD-backed plan —
    # the exact shape NO_CODEGEN exists to catch) disqualifies, and an
    # empty operator list is NOT local-only.
    op_lines = [
        ln2
        for ln in plan.splitlines()
        if ln.strip()
        for ln2 in [re.sub(r"^[\s:+\-*()\d]*", "", ln)]
        if ln2
    ]
    local_only = (
        bool(op_lines)
        and any(ln.startswith("LocalTableScan") for ln in op_lines)
        and all(
            ln.startswith(("LocalTableScan", "Project")) for ln in op_lines
        )
    )
    if info["codegen"] == 0 and info["python"] == 0 and not local_only:
        info["flags"].append("NO_CODEGEN")
    if "BatchEvalPython" in plan:
        info["flags"].append("ROWUDF")
    # same-line match only: Spark truncates long schema strings without
    # a closing `>`, and a multi-line match swallows unrelated operators
    for m in re.finditer(r"ReadSchema: struct<([^>\n]*)", plan):
        fields = m.group(1).split(",")
        if len(fields) > 9 and any(
            f.strip().startswith(("l_", "event_")) for f in fields
        ):
            info["flags"].append("WIDE_SCAN")
            break
    return info


def normalize_plan(plan: str) -> str:
    """The plan text with its per-session counters blanked: expression
    ids, codegen stage ids, exchange plan ids, lambda variable suffixes
    and temporary directory suffixes; Expand group ids are renumbered
    (``_canonical_gids``)."""
    plan = re.sub(r"(lambda \w+?)_\d+(?=#|\.\.\.)", r"\1_N", plan)
    plan = re.sub(r"(/tmp/[^/\]\s,]*?)[a-z0-9_]{8}(?=[/\],\s])", r"\1X", plan)
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return _canonical_gids(plan)


def _split_top(s: str) -> list[str]:
    """``s`` split on the commas outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _depth(line: str) -> int:
    """Column at which a plan-tree line's operator starts."""
    return len(re.match(r"[ :+\-]*", line)[0])


def _gid_scope(lines: list[str], n: int) -> list[int]:
    """Indices of the Expand at line ``n``'s ancestors, nearest first,
    up to the next Expand that carries a ``gid`` (whose rewrite the
    lines above it belong to)."""
    scope, cur = [], _depth(lines[n])
    for i in range(n - 1, -1, -1):
        d = _depth(lines[i])
        if d >= cur:
            continue
        if "Expand [" in lines[i] and "gid#N" in lines[i]:
            break
        scope.append(i)
        cur = d
    return scope


def _canonical_gids(plan: str) -> str:
    """Renumber the distinct-aggregate groups of each Expand.

    Spark's distinct-aggregate rewrite numbers the groups of a query
    with several distinct aggregates (``gid`` 1..n; 0 is the group of
    the plain aggregates) in the iteration order of a hash map keyed by
    expressions.  The hash depends on expression ids, so the same query
    can number the groups, and order the distinct-argument columns
    they add, differently in another session.  Canonical form, per
    Expand and applied only to it and the operators above it up to the
    next such Expand: groups numbered in the order they first appear in
    the ``FILTER (WHERE (gid#N = k))`` list, whose function order is
    the query's own; distinct-argument columns ordered by the first
    group that uses them; Expand projections listed in gid order."""
    lines = plan.split("\n")
    for n, line in enumerate(lines):
        m = re.match(r"(.*?Expand )\[(.*)\], \[([^\[\]]*)\]$", line)
        if not m or "gid#N" not in _split_top(m[3]):
            continue
        scope = sorted(_gid_scope(lines, n))
        seen: list[str] = []
        for i in scope:
            for g in re.findall(r"\(gid#N = (\d+)\)", lines[i]):
                if g != "0" and g not in seen:
                    seen.append(g)
        mapping = dict(zip(seen, sorted(seen, key=int)))
        for i in scope:
            lines[i] = re.sub(
                r"\(gid#N = (\d+)\)",
                lambda g: f"(gid#N = {mapping.get(g[1], g[1])})",
                lines[i],
            )
        out = _split_top(m[3])
        gi = out.index("gid#N")
        projs = [_split_top(p[1:-1]) for p in _split_top(m[2])]
        for items in projs:
            items[gi] = mapping.get(items[gi], items[gi])
        # distinct-argument columns: null in some projection
        cols = [j for j in range(gi) if any(p[j] == "null" for p in projs)]
        first_use = {
            j: min(
                (int(p[gi]) for p in projs if p[j] != "null" and p[gi].isdigit()),
                default=0,
            )
            for j in cols
        }
        order = sorted(cols, key=lambda j: (first_use[j], j))
        if order != cols:
            old = ", ".join(out[j] for j in cols) + ", gid#N"
            new = ", ".join(out[j] for j in order) + ", gid#N"
            for items in [out, *projs]:
                items[cols[0] : cols[-1] + 1] = [items[j] for j in order]
            # the same columns, in the same order, lead the gid in every
            # aggregate key list and exchange above the Expand
            for i in scope:
                lines[i] = lines[i].replace(old, new)
        projs.sort(key=lambda items: int(items[gi]) if items[gi].isdigit() else -1)
        body = ", ".join("[" + ", ".join(items) + "]" for items in projs)
        lines[n] = f"{m[1]}[{body}], [{', '.join(out)}]"
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(REPO, "PLAN_AUDIT.md"))
    ap.add_argument(
        "--update-baseline",
        action="store_true",
        help="re-pin PLAN_BASELINE.json to the current exchange counts",
    )
    ap.add_argument(
        "--dump",
        metavar="DIR",
        help="also write each query's normalised executed plan to DIR/<query>.txt",
    )
    ap.add_argument(
        "--round",
        default="unspecified",
        help="round number stamped into the output's freshness line",
    )
    args = ap.parse_args()
    baseline_path = os.path.join(REPO, "PLAN_BASELINE.json")

    from bigdata_covid19_real_time_spark.plans import QUERIES
    from bigdata_covid19_real_time_spark.session import get_spark

    spark = get_spark(
        app_name="plan-audit", master="local[4]", shuffle_partitions=4,
        driver_memory="4g",
        # AQE wraps everything in AdaptiveSparkPlan and defers codegen
        # to runtime query stages — the pre-execution plan then shows
        # zero WholeStageCodegen spans for EVERY query.  The audit wants
        # the static physical plan, codegen wrappers included.
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows, flagged, errors = [], [], []
    for name in sorted(QUERIES):
        try:
            plan = (
                QUERIES[name](spark, args.sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001 — audit records, not raises
            errors.append((name, f"{type(exc).__name__}: {exc}"[:160]))
            continue
        if args.dump:
            os.makedirs(args.dump, exist_ok=True)
            with open(os.path.join(args.dump, f"{name}.txt"), "w") as f:
                f.write(normalize_plan(plan) + "\n")
        info = audit_plan(plan)
        rows.append((name, info))
        if info["flags"]:
            flagged.append((name, info["flags"]))
        spark.catalog.clearCache()

    # Self-certifying freshness (round-13 verdict task 4): stamp the
    # HEAD commit the audit ran at, so a future reader never has to
    # reconstruct "no plan-shaping code changed since" from git log.
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except Exception:
        head = "unknown"
    with open(args.out, "w") as f:
        f.write(
            "# PLAN_AUDIT — physical-plan anti-pattern sweep\n\n"
            f"All {len(rows)} registered queries planned at `{args.sf_dir}`"
            " (plan SHAPE is SF-independent; AQE may re-plan exchanges at"
            " runtime).  Generated by `tools/plan_audit.py`; flag semantics"
            " in its docstring.\n\n"
            f"**Generated at:** round {args.round}, HEAD `{head}`.\n\n"
        )
        f.write(f"**Flagged: {len(flagged)}**")
        if flagged:
            f.write("\n\n")
            for name, flags in flagged:
                f.write(f"- `{name}`: {', '.join(flags)}\n")
        else:
            f.write(" — no Cartesian products, no row-at-a-time Python"
                    " UDFs, no codegen-free plans, no unpruned wide scans.\n")
        if errors:
            f.write("\n**Plan build errors:**\n\n")
            for name, err in errors:
                f.write(f"- `{name}`: {err}\n")
        f.write(
            "\n\n| query | exchanges | broadcast joins | sort-merge joins |"
            " codegen spans | arrow-python nodes | flags |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, i in rows:
            f.write(
                f"| {name} | {i['exchanges']} | {i['bhj']} | {i['smj']} |"
                f" {i['codegen']} | {i['python']} |"
                f" {', '.join(i['flags']) or '—'} |\n"
            )
    # exchange-count regression guard vs the committed baseline
    counts = {name: i["exchanges"] for name, i in rows}
    regressions: list[str] = []
    improvements: list[str] = []
    new_queries: list[str] = []
    if args.update_baseline or not os.path.exists(baseline_path):
        with open(baseline_path, "w") as f:
            json.dump(
                {
                    "_note": (
                        "per-query exchange counts (plan shapes at "
                        "sf0.001, AQE off); plan_audit.py fails if any "
                        "count GROWS — re-pin with --update-baseline "
                        "after an intentional plan change"
                    ),
                    "exchanges": dict(sorted(counts.items())),
                },
                f,
                indent=1,
            )
        print(f"pinned {baseline_path}: {len(counts)} queries")
    else:
        with open(baseline_path) as f:
            base = json.load(f)["exchanges"]
        for name, n in sorted(counts.items()):
            if name not in base:
                new_queries.append(f"{name} ({n})")
            elif n > base[name]:
                regressions.append(f"{name}: {base[name]} -> {n}")
            elif n < base[name]:
                improvements.append(f"{name}: {base[name]} -> {n}")
        for line in regressions:
            print(f"EXCHANGE REGRESSION: {line}")
        if improvements:
            print(f"improved (re-pin to lock in): {', '.join(improvements)}")
        if new_queries:
            print(f"not in baseline (add via --update-baseline): "
                  f"{', '.join(new_queries)}")

    print(f"wrote {args.out}: {len(rows)} plans, {len(flagged)} flagged, "
          f"{len(errors)} errors, {len(regressions)} exchange regressions")
    return 1 if (errors or regressions) else 0


if __name__ == "__main__":
    raise SystemExit(main())
