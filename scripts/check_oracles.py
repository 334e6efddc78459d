"""Run every registered query against its DuckDB oracle at the given sf dir.

Each row runs under its own Spark job group; the line of a row prints the
jobs its construction started and its total jobs (construction plus the
compare), and the last line the sweep totals.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from earcrawler_spark.queries import ORACLES, QUERIES  # noqa: E402
from earcrawler_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_conn  # noqa: E402


def main() -> int:
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("check_oracles")
    con = duckdb_conn(sf_dir)
    print(f"duckdb {duckdb.__version__}; strict compare (raw repr + type)")
    sc, failed = spark.sparkContext, []
    build_jobs = total_jobs = 0
    for name in names:
        sc.setJobGroup(name, name)
        n_build = 0
        try:
            df = QUERIES[name](spark, sf_dir)
            n_build = len(sc.statusTracker().getJobIdsForGroup(name))
            if name in ORACLES:
                ok, msg = compare(df, con, ORACLES[name])
            else:
                ok, msg = True, f"rows-only: {df.count()} rows"
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {str(e)[:300]}"
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        build_jobs, total_jobs = build_jobs + n_build, total_jobs + n_jobs
        print(f"{name:32s} {'PASS' if ok else 'FAIL'} jobs {n_build}/{n_jobs} {msg}")
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} pass")
    print(f"jobs: {build_jobs} in construction, {total_jobs} in all, over {len(names)} rows")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
