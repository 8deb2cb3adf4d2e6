"""Measure the headline claim of dd_incremental_neardup /
incremental_probe_stream: probe cost is LINEAR in the increment and
INDEPENDENT of corpus size.

Method: hold the increment fixed (the sf0.01 batch quarter, 1,250
docs) and probe corpora of growing size (sf0.01's 3,750-doc corpus,
then sf0.1's 37,500-doc corpus — 10x). If the capped banded index does
its job, candidates per batch doc stay bounded by cap x bands (= 80)
and roughly FLAT across the corpus decade; wall time may grow with the
index-BUILD (one pass over the corpus, amortized across increments in
production) but the probe's candidate volume must not.

Writes benchdata/r06_incremental_probe.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from p6_spark.materialize import materialize  # noqa: E402
from p6_spark.session import get_spark  # noqa: E402
from p6_spark.sources.tables import load_table  # noqa: E402
from p6_spark.streaming.corpus import (  # noqa: E402
    corpus_band_index,
    incremental_probe_stream,
)


def main() -> int:
    spark = get_spark("inc_probe_scale", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    batch = materialize(
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .filter(F.col("doc_id") % 4 == 0)
    )
    n_batch = batch.count()

    out = {"n_batch": n_batch, "cap_x_bands": 20 * 4, "panels": []}
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        corpus = materialize(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 4 != 0)
            # shift ids so corpus never collides with the fixed batch ids
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        )
        n_corpus = corpus.count()

        t0 = time.time()
        index = materialize(corpus_band_index(corpus))
        n_index = index.count()
        t_build = time.time() - t0

        t0 = time.time()
        probed = materialize(incremental_probe_stream(batch, corpus))
        n_cand = probed.count()
        n_match = probed.filter("is_match").count()
        t_probe = time.time() - t0

        panel = {
            "corpus_dir": sf_dir,
            "n_corpus": n_corpus,
            "n_index_rows": n_index,
            "build_sec": round(t_build, 2),
            "probe_sec": round(t_probe, 2),
            "n_candidates": n_cand,
            "n_matches": n_match,
            "cand_per_batch_doc": round(n_cand / n_batch, 2),
        }
        out["panels"].append(panel)
        print(panel)

    small, big = out["panels"]
    out["corpus_growth"] = round(big["n_corpus"] / small["n_corpus"], 1)
    out["cand_growth"] = round(
        big["n_candidates"] / max(small["n_candidates"], 1), 2
    )
    with open("benchdata/r06_incremental_probe.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "panels"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
