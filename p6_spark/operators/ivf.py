"""IVF (inverted-file) approximate nearest neighbor — the centroid-
bucketed scale path, complementing the LSH variant in similarity.py.

Build: k-means over the corpus (deterministic init: the k vectors with
the smallest md5(vec_id); a few Lloyd rounds). Assignment is an argmin
over a broadcast-literal centroid table evaluated entirely in codegen —
no shuffle, no Python. The only driver-side data is the model itself
(k x dim floats), which is how every ANN index ships its centroids.

Search: each query probes its `n_probe` nearest centroid lists; the
exact cosine re-rank touches only corpus rows in the probed lists —
|corpus| * n_probe / k of the data instead of all of it. Recall vs
brute force is tested in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.operators.similarity import rank_cosine
from p6_spark.operators.text import md5_int


def _centroid_array(centroids: list[list[float]]) -> Column:
    """Literal array<struct<cid,cvec>> of the current model — rendered
    as ONE SQL expression: per-element F.lit() construction costs a py4j
    round-trip each (k x dim = hundreds per Lloyd step), which the
    round-4 profiling showed dominating plan build time."""
    import math

    for cid, vec in enumerate(centroids):
        for x in vec:
            if not math.isfinite(float(x)):
                # repr(nan)+'D' would render unparseable SQL ('nanD');
                # an empty/degenerate cluster mean must fail loudly here.
                raise ValueError(
                    f"non-finite centroid component {x!r} in centroid {cid}"
                )
    entries = ",".join(
        f"named_struct('cid', {cid}, 'cvec', array("
        + ",".join(f"{float(x)!r}D" for x in vec)
        + "))"
        for cid, vec in enumerate(centroids)
    )
    return F.expr(f"array({entries})")


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add `cid` = nearest centroid id. Pure column expressions: the
    distance scan over k centroids stays inside codegen."""
    carr = _centroid_array(centroids)
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    best = F.aggregate(
        carr,
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).alias("cid")
        ),
        lambda acc, c: F.when(
            _sq_dist(vecd, c["cvec"]) < acc["d"],
            F.struct(_sq_dist(vecd, c["cvec"]).alias("d"), c["cid"].alias("cid")),
        ).otherwise(acc),
    )
    return df.withColumn("cid", best["cid"])


def train_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means model. Init = the k corpus vectors with the
    smallest md5(id); each Lloyd round is one assignment pass (codegen)
    plus a (cid, dim)-grouped mean — k*dim rows to the driver."""
    seeds = (
        corpus.select(id_col, vec_col)
        .orderBy(md5_int(F.col(id_col)), F.col(id_col))
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    for _ in range(iters):
        assigned = _assign(corpus.select(vec_col), vec_col, centroids)
        means = (
            assigned.select("cid", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_cid[c][p] for p in sorted(by_cid[c])] if c in by_cid else centroids[c]
            for c in range(len(centroids))  # n < k: fewer seeds (r11 fix)
        ]
    return centroids


# ---------------------------------------------------------------------------
# Fixed-point (integer) IVF: the oracle-checkable variant.
#
# Distributed float averaging is summation-order-dependent, so the float
# k-means above can never be bit-identical to a replay in another engine.
# This variant quantizes every element x1e4 to bigint FIRST (the
# sim_centroid_stats trick): seeds, Lloyd assignment, centroid updates,
# probe selection, and the final re-rank are all associative integer
# arithmetic — hash-exact under any partitioning AND replayable in DuckDB
# SQL (see the sim_ivf_ann oracle in plans/llm_ops.py). Ranking is integer
# squared L2 (classic IVF metric); ties break on the smaller cid / match_id.
# ---------------------------------------------------------------------------

QUANT_SCALE = 10_000


def quantize(vec: Column) -> Column:
    """array<float> -> array<bigint>, elementwise round(x * 1e4)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("long"))


def _sq_dist_long(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — Spark `div` and DuckDB `//`
    semantics (Python's // floors, which differs on negatives)."""
    q = abs(s) // n
    return -q if s < 0 else q


def _centroid_array_long(centroids: list[list[int]]) -> Column:
    # single-expr rendering; see _centroid_array
    entries = ",".join(
        f"named_struct('cid', {cid}, 'cvec', array("
        + ",".join(f"{int(x)}L" for x in vec)
        + "))"
        for cid, vec in enumerate(centroids)
    )
    return F.expr(f"array({entries})")


def _assign_fixed(df: DataFrame, qv_col: str, centroids: list[list[int]]) -> DataFrame:
    """Add `cid` = argmin_c ||qv - c||^2, ties to the smaller cid (the fold
    scans cids in order and only replaces on strictly smaller distance).
    Pure integer column expressions — stays inside codegen."""
    carr = _centroid_array_long(centroids)
    best = F.aggregate(
        carr,
        F.struct(F.lit(2**62).cast("long").alias("d"), F.lit(-1).alias("cid")),
        lambda acc, c: F.when(
            _sq_dist_long(F.col(qv_col), c["cvec"]) < acc["d"],
            F.struct(
                _sq_dist_long(F.col(qv_col), c["cvec"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        ).otherwise(acc),
    )
    return df.withColumn("cid", best["cid"])


def train_centroids_fixed(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
    init: list[list[int]] | None = None,
) -> list[list[int]]:
    """Deterministic integer k-means. Init = the k corpus vectors with the
    smallest (md5_int(id), id); each Lloyd round assigns (codegen argmin)
    and recomputes centroids as trunc-div means of the quantized vectors.
    Only k*dim integers ever reach the driver. Empty clusters keep their
    previous centroid.

    Round-11 (guide §1.2/§2.4 — fewer corpus passes, identical model):
    ``pre_quantized=True`` declares ``vec_col`` already holds the x1e4
    quantized array<bigint> (callers materialize the quantized
    projection once and feed the seed scan + every Lloyd round from it
    instead of re-reading parquet + re-quantizing per job), and
    ``init`` supplies the seed centroids directly — the
    (md5_int(id), id) seed order is one fixed total order, so a single
    k_max seed collect serves every smaller k as a prefix
    (ml_kmeans_elbow trains k=2,4,8 from one collect)."""
    q = corpus.select(
        F.col(id_col).alias("_id"),
        (F.col(vec_col) if pre_quantized else quantize(F.col(vec_col))).alias("qv"),
    )
    if init is not None:
        centroids = [[int(x) for x in vec] for vec in init[:k]]
    else:
        seeds = q.orderBy(md5_int(F.col("_id")), F.col("_id")).limit(k).collect()
        centroids = [[int(x) for x in r["qv"]] for r in seeds]
    # A corpus smaller than k yields len(centroids) = n < k (exactly the
    # oracle's `WHERE cid < k` semantics). Rebuilding over range(k) here
    # used to IndexError on that shape — caught by the r11 fuzz sweep
    # (tests/test_fuzz_retrieval_r11.py shape 0) while the DuckDB twin
    # computed happily; iterate over the centroids that exist.
    for _ in range(iters):
        assigned = _assign_fixed(q.select("qv"), "qv", centroids)
        sums = (
            assigned.select("cid", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = _trunc_div(r["s"], r["n"])
        centroids = [
            [by_cid[c][p] for p in sorted(by_cid[c])] if c in by_cid else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-exact IVF ANN top-k: probe the n_probe nearest centroid
    lists per query, exact integer-L2 re-rank inside the probed lists.
    Every emitted value (dist2, rnk) is a bigint/int — hash-exact across
    engines, which is what lets sim_ivf_ann carry a full DuckDB oracle."""
    # Quantize ONCE and materialize: the seed scan, both Lloyd rounds,
    # and the index assignment all read the same quantized projection
    # (round-11; previously each of those jobs re-read parquet and
    # re-ran the quantize transform). Identical arithmetic, 1 corpus
    # scan instead of iters+2.
    q = materialize(
        corpus.select(
            F.col(id_col).alias("match_id"), quantize(F.col(vec_col)).alias("mqv")
        )
    )
    model = train_centroids_fixed(
        q, k=num_centroids, iters=iters, id_col="match_id", vec_col="mqv",
        pre_quantized=True,
    )
    indexed = _assign_fixed(q, "mqv", model)
    carr = _centroid_array_long(model)
    dists = F.transform(
        carr,
        lambda c: F.struct(
            _sq_dist_long(F.col("qqv"), c["cvec"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    probes = F.slice(F.array_sort(dists), 1, n_probe)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qqv")
        ).withColumn("cid", F.explode(F.transform(probes, lambda p: p["cid"])))
    )
    scored = (
        indexed.join(q, "cid")
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", _sq_dist_long(F.col("qqv"), F.col("mqv")).alias("dist2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF probing: equi-join query probes to corpus
    centroid lists, exact cosine re-rank inside the probed lists."""
    model = train_centroids(corpus, k=num_centroids, id_col=id_col, vec_col=vec_col)
    indexed = _assign(
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")),
        "cvec",
        model,
    )
    # per query: the n_probe nearest centroid ids
    carr = _centroid_array(model)
    qvecd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    dists = F.transform(
        carr,
        lambda c: F.struct(_sq_dist(qvecd, c["cvec"]).alias("d"), c["cid"].alias("cid")),
    )
    probes = F.slice(F.array_sort(dists), 1, n_probe)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
        .withColumn("cid", F.explode(F.transform(probes, lambda p: p["cid"])))
    )
    return rank_cosine(
        indexed.join(q, "cid").filter(F.col("match_id") != F.col("query_id")), k
    )
