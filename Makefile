# Developer entry points.  The tests run on a local[4] session.  bench.py,
# selfcheck, empty-check and scale-check run on local[$SPARK_GRAFT_CPUS]
# (default 32); SPARK_GRAFT_SF_DIR / SPARK_GRAFT_DRIVER_MEM override their
# data and heap.
# plan-audit runs on local[4], perf on local[nproc].

.PHONY: test bench perf selfcheck empty-check plan-audit scale-check

test:
	python -m pytest tests/ -x -q
	python -m pytest perfbench -q

bench:
	python bench.py

# One untraced run of each repo-benchmark workload (BENCHMARK.json);
# each prints a detail line and a result line.
perf:
	python3 perfbench/run.py --workload pipeline_streaming --seed 101 --seconds 18 --trace 0
	python3 perfbench/run.py --workload queries_mix --seed 101 --seconds 18 --trace 0

# Full driver-gate replication: every registered query vs its DuckDB
# oracle at sf0.01 AND sf0.1, artifact written to SELFCHECK.json
# (per-round copies are committed as SELFCHECK_r{N}.json).
selfcheck:
	python tools/selfcheck.py

# The same sweep on zero-row twins of every table (written to
# $$EMPTY_DIR, default /tmp/sf_empty); artifact written to EMPTYCHECK.json.
empty-check:
	python tools/empty_check.py

# Physical-plan anti-pattern sweep over every registered query;
# artifact written to PLAN_AUDIT.md (flag semantics in the tool).
# `tools/plan_audit.py --dump DIR` also writes each normalised plan,
# to diff two checkouts.
plan-audit:
	python tools/plan_audit.py

# sf1-scale near-dup family audit (generates a 50k-doc/20k-vector
# corpus locally); artifact written to SF1CHECK.json.  The other sets:
# tools/scale_check.py --help.
scale-check:
	python tools/scale_check.py --set neardup
