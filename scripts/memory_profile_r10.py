"""Round-10 memory rehearsal (VERDICT r9 #6): run the end-to-end corpus
pipeline — exact dedup stats -> semantic dedup -> 13-gram decontam ->
leakage-safe split -> quality budget cut -> percentile prune ->
sequence packing — ONCE per panel (sf1.0 and skew1.0) with per-stage
peak-execution-memory capture from the Spark status REST API, and
record the memory-vs-rows curve the wall-time decades don't show.

peakExecutionMemory is the executor-side unsafe/execution memory high
watermark per stage (hash tables, sort buffers, joins) — exactly the
number that decides whether a partition fits an executor at 100 TB.

Usage:
  python scripts/memory_profile_r10.py
      [--panels localdata/sf1.0,localdata/skew1.0]
      [--out benchdata/r10_memory_profile.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6_spark.materialize import release  # noqa: E402
from p6_spark.session import get_spark  # noqa: E402

PIPELINE = [
    "dd_exact_stats",
    "dd_semantic_dedup",
    "dd_decontam_ngram13",
    "dd_leakage_safe_split",
    "pipe_quality_budget_cut",
    "pipe_percentile_prune",
    "pipe_sequence_packing",
]


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.loads(r.read())


def _stage_rows(base: str, app_id: str) -> dict[int, dict]:
    out = {}
    for s in _api(base, f"/applications/{app_id}/stages?status=complete"):
        out[s["stageId"]] = {
            "name": s["name"].split("\n")[0][:80],
            "peak_execution_memory": s.get("peakExecutionMemory", 0),
            "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
            "input_bytes": s.get("inputBytes", 0),
            "num_tasks": s.get("numCompleteTasks", 0),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--panels", default="localdata/sf1.0,localdata/skew1.0"
    )
    ap.add_argument("--out", default="benchdata/r10_memory_profile.json")
    args = ap.parse_args()

    spark = get_spark(
        "memory_profile_r10",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl + "/api/v1"
    app_id = _api(base, "/applications")[0]["id"]

    from p6_spark.plans.registry import QUERIES, _load_all

    _load_all()

    out: dict = {
        "_doc": __doc__.strip().splitlines()[0],
        "cpus": spark.sparkContext.defaultParallelism,
        "panels": {},
    }
    for sf_dir in args.panels.split(","):
        panel: dict = {"queries": {}}
        n_docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).count()
        panel["n_documents"] = n_docs
        seen: set[int] = set(_stage_rows(base, app_id))
        for name in PIPELINE:
            t0 = time.perf_counter()
            QUERIES[name].build(spark, sf_dir).collect()
            wall = time.perf_counter() - t0
            # status store updates asynchronously after job end
            time.sleep(0.5)
            stages = _stage_rows(base, app_id)
            mine = {k: v for k, v in stages.items() if k not in seen}
            seen = set(stages)
            top = sorted(
                mine.values(),
                key=lambda s: -s["peak_execution_memory"],
            )[:3]
            panel["queries"][name] = {
                "wall_s": round(wall, 2),
                "n_stages": len(mine),
                "peak_execution_memory_bytes": max(
                    (s["peak_execution_memory"] for s in mine.values()),
                    default=0,
                ),
                "total_shuffle_write_bytes": sum(
                    s["shuffle_write_bytes"] for s in mine.values()
                ),
                "total_input_bytes": sum(
                    s["input_bytes"] for s in mine.values()
                ),
                "top_stages": top,
            }
            release(spark)
        out["panels"][sf_dir] = panel

    # the cross-panel headline: top-3 memory queries and the
    # memory-vs-rows shape between the two panels
    for sf_dir, panel in out["panels"].items():
        ranked = sorted(
            panel["queries"].items(),
            key=lambda kv: -kv[1]["peak_execution_memory_bytes"],
        )
        panel["top3_memory_queries"] = [
            {
                "query": k,
                "peak_execution_memory_mb": round(
                    v["peak_execution_memory_bytes"] / 2**20, 1
                ),
            }
            for k, v in ranked[:3]
        ]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for sf_dir, panel in out["panels"].items():
        print(sf_dir, panel["top3_memory_queries"])
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
