"""Round-11 optimization profiler: per-query wall time + Spark job/stage
counts + optional formatted plan capture.

The sf0.1 harness tables are small (embeddings 2k rows, lineitem 600k),
so multi-second queries are dominated by ORCHESTRATION — number of jobs
(actions: collects, checkpoints, probe aggregates), shuffles, and plan
size — not data volume. Job/stage counts make that visible per query so
the optimization targets the right thing (guide §1: measure first).

Usage:
  python scripts/profile_r11.py q1 q2 ...          # profile named queries
  python scripts/profile_r11.py --plans q1 q2 ...  # also dump explain() to plans/r11/
  python scripts/profile_r11.py --top N            # top-N by r11 bench artifact
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--plans", action="store_true", help="dump explain() to plans/r11/")
    ap.add_argument("--plans-only", action="store_true", help="dump plans, skip timing")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2, help="timed runs (min kept) after 1 warmup")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from p6_spark.materialize import release
    from p6_spark.plans import get_queries
    from p6_spark.session import get_spark

    qs = get_queries()
    names = list(args.names)
    if args.top:
        with open(os.path.join(REPO, "benchdata", "r11_bench_all_sf0.1.json")) as f:
            prev = json.load(f)["queries"]
        names += [n for n, _ in sorted(prev.items(), key=lambda kv: -kv[1])[: args.top] if n not in names]
    if not names:
        ap.error("no queries named")

    spark = get_spark("p6_profile_r11")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    def dump_plan(name, fn):
        import contextlib
        import io

        os.makedirs(os.path.join(REPO, "plans", "r11"), exist_ok=True)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, args.sf).explain("formatted")
        with open(os.path.join(REPO, "plans", "r11", f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(buf.getvalue())

    if args.plans_only:
        for name in names:
            try:
                dump_plan(name, qs[name])
                print(f"plan dumped: {name}", flush=True)
            except Exception as e:  # noqa: BLE001
                print(f"plan FAILED: {name}: {e}", flush=True)
        return

    results = {}
    for name in names:
        fn = qs[name]
        # warmup (codegen+JIT), untimed — mirrors bench.py protocol
        try:
            fn(spark, args.sf).collect()
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": str(e)[:200]}
            continue
        spark._jvm.System.gc()
        best, best_jobs, best_stages = float("inf"), None, None
        for i in range(max(1, args.runs)):
            group = f"prof:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            dt = time.perf_counter() - t0
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is not None:
                    n_stages += len(ji.stageIds)
            if dt < best:
                best, best_jobs, best_stages = dt, len(job_ids), n_stages
            sc.setJobGroup(None, None)
            release(spark)
        results[name] = {
            "sec": round(best, 3),
            "jobs": best_jobs,
            "stages": best_stages,
        }
        print(f"{best:8.3f}s  {best_jobs:3d} jobs {best_stages:4d} stages  {name}", flush=True)
        if args.plans:
            dump_plan(name, fn)
    out_path = args.out or os.path.join(REPO, "benchdata", "r11_profile_last.json")
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(json.dumps({"n": len(results), "total_sec": round(sum(r.get("sec", 0) for r in results.values()), 2), "out": out_path}))


if __name__ == "__main__":
    main()
