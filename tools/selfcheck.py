#!/usr/bin/env python3
"""Reproducible all-queries correctness sweep — the driver gate, run
locally over EVERY registered query at one or more scale factors.

The driver's per-round `CORRECTNESS_r{N}.json` samples ~50 queries; this
script produces the same row format for all of them so the "every query
carries a verified oracle" claim is auditable from a committed artifact:

    python tools/selfcheck.py                      # sf0.01 + sf0.1
    python tools/selfcheck.py --sf-dirs /root/testdata/sf0.01
    python tools/selfcheck.py --out SELFCHECK_r3.json

Per query and SF: run the Spark plan and the DuckDB oracle on the same
parquet, compare row count, sorted column names, and a value hash over
repr-normalized sorted rows (floats at 10 significant digits;
tests/test_entry_contract.py imports this ``normalize``).  Queries with no oracle
(non-SQL-expressible ops) record a rows-only check, exactly like the
driver.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize(rows, columns):
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


def value_hash(norm_rows) -> str:
    h = hashlib.sha256()
    for row in norm_rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def check_query(spark, duck, queries, oracles, name, sf_dir) -> dict:
    rec = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
        "sec": None,
    }
    t0 = time.perf_counter()
    try:
        sdf = queries[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(srows)
        spark.catalog.clearCache()
        if name not in oracles:
            # rows-only check, like the driver's weaker gate
            rec.update(
                rows_match=len(srows) >= 0,
                schema_match=None,
                hash_match=None,
                oracle_rows=None,
            )
            return rec
        ores = duck.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        rec["oracle_rows"] = len(orows)
        rec["rows_match"] = len(srows) == len(orows)
        rec["schema_match"] = sorted(scols) == sorted(ocols)
        rec["hash_match"] = value_hash(normalize(srows, scols)) == value_hash(
            normalize(orows, ocols)
        )
    except Exception as exc:  # noqa: BLE001 — recorded, not raised
        rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        rec["sec"] = round(time.perf_counter() - t0, 2)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs",
        nargs="+",
        default=["/root/testdata/sf0.01", "/root/testdata/sf0.1"],
    )
    ap.add_argument("--out", default=os.path.join(REPO, "SELFCHECK.json"))
    ap.add_argument("--queries", nargs="*", help="subset of query names")
    ap.add_argument(
        "--driver-conf",
        action="store_true",
        help=(
            "run under DRIVER-PARITY session confs instead of the "
            "engine's b/session.py defaults: Arrow explicitly OFF and "
            "stock Spark defaults for everything b/session.py would "
            "otherwise set (shuffle partitions 200, no extra tuning) — "
            "only the local master, UTC timezone (matching this host's "
            "OS tz, which the driver's JVM inherits), and driver "
            "memory are pinned.  The round-8 gate failed on exactly "
            "this divergence: a precheck green under Arrow-on "
            "session.py confs did not predict the driver's Arrow-off "
            "session."
        ),
    )
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from bench import bench_session
    from bigdata_covid19_real_time_spark.sources.batch import TABLES

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = args.queries or sorted(queries)
    if args.driver_conf:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("selfcheck-driver-parity")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
            .config("spark.sql.execution.arrow.pyspark.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
            )
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = bench_session("selfcheck", args.sf_dirs[0])

    result: dict = {
        "n_queries": len(names),
        "sf_dirs": args.sf_dirs,
        "driver_conf": args.driver_conf,
        "runs": {},
    }
    fails = 0
    for sf_dir in args.sf_dirs:
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        per_sf: dict = {}
        for i, name in enumerate(names, 1):
            rec = check_query(spark, duck, queries, oracles, name, sf_dir)
            per_sf[name] = rec
            bad = rec["err"] or rec["rows_match"] is False or (
                rec["schema_match"] is False or rec["hash_match"] is False
            )
            if bad:
                fails += 1
            print(
                f"[{os.path.basename(sf_dir)} {i}/{len(names)}] {name}: "
                f"{'FAIL ' + str(rec['err'] or 'mismatch') if bad else 'ok'} "
                f"({rec['sec']}s)",
                flush=True,
            )
        duck.close()
        result["runs"][sf_dir] = per_sf
    result["failures"] = fails
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {args.out}: {fails} failures / {len(names)} queries "
          f"x {len(args.sf_dirs)} SFs")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
