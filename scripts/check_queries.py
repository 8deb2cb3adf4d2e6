"""Run a subset (or all) registered queries against their DuckDB oracles
at a given SF dir — the local twin of the driver's t2 gate. The session is
the engine's own (p6_spark.session.get_spark: AQE, Arrow, UTC), so the
sweep certifies the configuration the tests and benches run;
SPARK_GRAFT_CPUS sets its parallelism and P6_SPARK_DRIVER_MEM its heap.

Usage: python scripts/check_queries.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from oracle_utils import compare, run_oracle
    from p6_spark.materialize import release
    from p6_spark.plans.registry import QUERIES, _load_all
    from p6_spark.session import get_spark

    _load_all()
    spark = get_spark("check")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names or list(QUERIES)
    n_fail = 0
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.build(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = run_oracle(q.oracle, args.sf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"ok   {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        # the query is done — free its blocks before the next one
        release(spark)
    print(f"\n{len(names) - n_fail}/{len(names)} green")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
