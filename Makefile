# Developer entry points.  Everything runs on the local[32] test session;
# SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR / SPARK_GRAFT_DRIVER_MEM override.

.PHONY: test bench selfcheck plan-audit scale-check

test:
	python -m pytest tests/ -x -q
	python -m pytest perfbench -q

bench:
	python bench.py

# Full driver-gate replication: every registered query vs its DuckDB
# oracle at sf0.01 AND sf0.1, artifact written to SELFCHECK.json
# (per-round copies are committed as SELFCHECK_r{N}.json).
selfcheck:
	python tools/selfcheck.py

# Physical-plan anti-pattern sweep over every registered query;
# artifact written to PLAN_AUDIT.md (flag semantics in the tool).
plan-audit:
	python tools/plan_audit.py

# sf1-scale near-dup family audit (generates a 50k-doc/20k-vector
# corpus locally); artifact written to SF1CHECK.json.  The other sets:
# tools/scale_check.py --help.
scale-check:
	python tools/scale_check.py --set neardup
