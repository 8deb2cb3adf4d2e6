"""Token-skew stress measurement for the MinHash/LSH bucket-cap
discipline (round 6): the harness corpus draws ~uniformly from a tiny
vocabulary, so the round-4 sf1.0 sweep exercised DEGENERATE buckets but
not REALISTIC Zipf skew. The skew panels (localdata/skew*, generated by
gen_testdata.py's powerlaw mode: Zipf(1.1) over a 5000-word vocabulary)
answer the remaining question: on realistically skewed token
distributions, does the max_bucket=20 cap (a) still bind where it must
and (b) keep candidate pairs ~linear in corpus size?

Measured per panel: banded-bucket occupancy (max, #over-cap, fraction
of banded rows the cap drops), capped vs uncapped candidate-pair
counts, pairs/row. Writes benchdata/r06_skew_stress.json; the summary
table lives in BENCH_NOTES.md (round 6).

Usage: python scripts/skew_stress.py [--panel TAG DIR]... [--out PATH]
              [--no-uncapped]
  Default panels/out reproduce the round-6 measurement. --no-uncapped
  skips the deliberately-uncapped pair count (quadratic by design —
  pointless to materialize on the 50k-doc skew1.0 panel; the capped
  numbers are the discipline being certified).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6_spark.materialize import materialize  # noqa: E402
from p6_spark.session import get_spark  # noqa: E402

CAP = 20


def main() -> None:
    import argparse

    from pyspark.sql import functions as F

    from p6_spark.operators import dedup as dd

    ap = argparse.ArgumentParser()
    ap.add_argument("--panel", nargs=2, action="append", metavar=("TAG", "DIR"))
    ap.add_argument("--out", default="benchdata/r06_skew_stress.json")
    ap.add_argument("--no-uncapped", action="store_true")
    args = ap.parse_args()

    spark = get_spark("skew_stress", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")

    panels = [tuple(p) for p in args.panel] if args.panel else [
        ("uniform_sf0.01", "/root/testdata/sf0.01"),
        ("uniform_sf0.1", "/root/testdata/sf0.1"),
        ("zipf_sf0.01", "localdata/skew0.01"),
        ("zipf_sf0.1", "localdata/skew0.1"),
    ]
    results = []
    for tag, d in panels:
        docs = spark.read.parquet(f"{d}/documents.parquet")
        n = docs.count()
        sigs = materialize(dd.minhash_signatures(docs))
        # banded-bucket occupancy (the quantity the cap acts on)
        bands = F.array(
            *[
                F.concat_ws(
                    "_",
                    F.lit(b),
                    F.col(f"h{2 * b}").cast("string"),
                    F.col(f"h{2 * b + 1}").cast("string"),
                )
                for b in range(4)
            ]
        )
        occ = (
            sigs.select(F.explode(bands).alias("bkt"))
            .groupBy("bkt")
            .agg(F.count(F.lit(1)).alias("bn"))
        )
        stats = occ.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bn").alias("max_bucket"),
            F.sum(F.when(F.col("bn") > CAP, 1).otherwise(0)).alias("n_over_cap"),
            F.sum(F.when(F.col("bn") > CAP, F.col("bn"))).alias("rows_dropped"),
            F.sum("bn").alias("banded_rows"),
        ).collect()[0]
        capped = dd.lsh_candidate_pairs(sigs, max_bucket=CAP).count()
        uncapped = None if args.no_uncapped else dd.lsh_candidate_pairs(sigs).count()
        row = {
            "panel": tag,
            "docs": n,
            "n_buckets": stats["n_buckets"],
            "max_bucket": stats["max_bucket"],
            "n_over_cap": int(stats["n_over_cap"]),
            "banded_rows_dropped_pct": round(
                100.0 * (stats["rows_dropped"] or 0) / stats["banded_rows"], 2
            ),
            "capped_pairs": capped,
            "capped_pairs_per_row": round(capped / n, 3),
            "uncapped_pairs": uncapped,
            "uncapped_pairs_per_row": (
                round(uncapped / n, 3) if uncapped is not None else None
            ),
        }
        results.append(row)
        print(row)

    out = {"metric": "minhash_lsh_skew_stress", "cap": CAP, "panels": results}
    os.makedirs("benchdata", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
