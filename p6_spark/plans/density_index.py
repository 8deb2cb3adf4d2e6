"""Density clustering, optimizer statistics, and index-shaped search:
DBSCAN core/border/noise labeling inside blocked neighborhoods, the
equi-depth histogram (the optimizer's selectivity table), and
trigram-postings LIKE acceleration — the pg_trgm pattern — each with an
exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import sql_adaptive_cand
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# DBSCAN core/border/noise inside label blocks
# ---------------------------------------------------------------------------

_DB_EPS2 = 1_600_000  # eps^2 in x1e3-quantized integer units (cos ~ 0.2)
_DB_MINPTS = 3


def _sql_dbscan_oracle() -> str:
    return f"""
WITH {sql_adaptive_cand()},
q AS (
  SELECT vec_id, label,
         list_transform(embedding::double[],
                        x -> cast(round(x * 1000, 0) AS bigint)) AS qv
  FROM embeddings
),
sym AS (SELECT id_a AS u, id_b AS w FROM cand
        UNION ALL SELECT id_b, id_a FROM cand),
nbr AS (
  SELECT u AS vec_id, count(*) AS n_nbrs
  FROM sym JOIN q a ON a.vec_id = u JOIN q b ON b.vec_id = w
  WHERE list_sum(list_transform(a.qv, (x, i) -> (x - b.qv[i]) * (x - b.qv[i])))
          <= {_DB_EPS2}
  GROUP BY u
),
cls AS (
  SELECT q.vec_id, q.label,
         CASE WHEN coalesce(n.n_nbrs, 0) >= {_DB_MINPTS} THEN 'core'
              WHEN coalesce(n.n_nbrs, 0) >= 1 THEN 'border'
              ELSE 'noise' END AS role
  FROM q LEFT JOIN nbr n ON n.vec_id = q.vec_id
)
SELECT label, role, cast(count(*) AS bigint) AS n_points
FROM cls GROUP BY label, role
ORDER BY label, role
"""


@register(
    "ml_dbscan_core",
    oracle=_sql_dbscan_oracle(),
    doc="DBSCAN density roles over CAPPED ADAPTIVE-LSH neighborhoods: "
    "core (>= minPts eps-neighbors), border (some), noise (none), "
    "reported per label. Neighbor CANDIDATES come from the same capped "
    "adaptive-LSH blocking as dd_embedding_neardup (signature width "
    "grows with log2(corpus), buckets capped at 20), so the neighbor "
    "count is a lower bound restricted to LSH-colliding pairs and the "
    "pairwise work grows O(n) — replacing the round-5 label-blocked "
    "variant whose fixed-cardinality key was quadratic in corpus size. "
    "eps^2 is an integer threshold over x1e3-quantized squared L2, so "
    "membership is exact and the DuckDB twin replays signatures, "
    "buckets, cap, and roles bit-identically. "
    ".. versionchanged:: round 6 — blocking key and (eps2, minPts) "
    "recalibrated to the LSH neighborhood (1.6e6, 3); role counts are "
    "not comparable with rounds <= 5.",
    tags=("ml", "clustering", "density", "fixed-point", "lsh"),
)
def ml_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.similarity import lsh_candidate_vec_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
    )
    e = emb.select("vec_id", "label", qv.alias("qv"))
    # the sym union below references cand TWICE — without a lineage cut
    # the whole 4-table signature + bucket-cap subtree executes twice
    # (r6 verdict finding 2; ml_dbscan_clusters applies the same cut)
    cand = materialize(lsh_candidate_vec_pairs(emb))
    sym = cand.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("w")
    ).unionAll(cand.select(F.col("id_b").alias("u"), F.col("id_a").alias("w")))
    d2 = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nbr = (
        sym.join(e.select(F.col("vec_id").alias("u"), F.col("qv")).alias("a"), "u")
        .join(
            e.select(F.col("vec_id").alias("w"), F.col("qv")).alias("b"), "w"
        )
        .filter(d2 <= _DB_EPS2)
        .groupBy(F.col("u").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_nbrs"))
    )
    cls = e.join(nbr, "vec_id", "left").select(
        "label",
        F.when(F.coalesce(F.col("n_nbrs"), F.lit(0)) >= _DB_MINPTS, "core")
        .when(F.coalesce(F.col("n_nbrs"), F.lit(0)) >= 1, "border")
        .otherwise("noise")
        .alias("role"),
    )
    return (
        cls.groupBy("label", "role")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("label", "role")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (optimizer selectivity stats)
# ---------------------------------------------------------------------------

_ED_BUCKETS = 10


@register(
    "q_equidepth_hist",
    oracle=f"""
WITH v AS (
  SELECT cast(round(o_totalprice * 100, 0) AS bigint) AS cents FROM orders
),
per AS (SELECT cents, cast(count(*) AS bigint) AS c FROM v GROUP BY cents),
cum AS (
  SELECT cents, c,
         sum(c) OVER (ORDER BY cents) AS cum_n,
         sum(c) OVER () AS n_tot
  FROM per
),
b AS (
  SELECT ((cum_n - 1) * {_ED_BUCKETS}) // n_tot AS bucket, cents, c
  FROM cum
)
SELECT cast(bucket AS bigint) AS bucket,
       cast(min(cents) AS bigint) AS lo_cents,
       cast(max(cents) AS bigint) AS hi_cents,
       cast(sum(c) AS bigint) AS n_rows,
       cast(count(*) AS bigint) AS n_distinct
FROM b GROUP BY bucket ORDER BY bucket
""",
    doc="Equi-depth histogram of order value (10 buckets, ~equal row "
    "mass): bucket of a value = floor((cum_rank-1)*B / N) over the "
    "collapsed per-value table — the selectivity statistic every "
    "optimizer keeps (equi-WIDTH q_histogram answers 'what does the "
    "distribution look like'; equi-DEPTH answers 'how many rows does "
    "BETWEEN a AND b touch' with bounded error). The cumulative pass "
    "runs over distinct values, not rows — but distinct ORDER VALUES "
    "grow with the data (measured 1.5k -> 150k across the sf0.001 -> "
    "sf0.1 decade), so the cumsum is a distributed two-phase prefix "
    "sum (operators/ranking), not a single-partition window; n_tot is "
    "a broadcast 1-row aggregate.",
    tags=("stats", "optimizer", "window", "fixed-point"),
)
def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank

    orders = load_table(spark, sf_dir, "orders")
    per = (
        orders.select(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = two_phase_rank(per, [F.asc("cents")], F.col("cents"), cum_cols=["c"])
    cum = ranked.crossJoin(
        F.broadcast(per.agg(F.sum("c").alias("n_tot")))
    ).select("cents", "c", F.col("cum_c").alias("cum_n"), "n_tot")
    b = cum.select(
        F.expr(f"((cum_n - 1) * {_ED_BUCKETS}) div n_tot").alias("bucket"),
        "cents",
        "c",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Trigram-postings LIKE acceleration (the pg_trgm pattern)
# ---------------------------------------------------------------------------

_TRGM_NEEDLE = "green"


def _trgms(s: str) -> list[str]:
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


@register(
    "q_trigram_search",
    oracle=f"""
WITH names AS (SELECT p_partkey, p_name FROM part),
post AS (
  SELECT p_partkey,
         unnest(list_distinct(
           list_transform(generate_series(1, length(p_name) - 2),
                          i -> substr(p_name, i, 3)))) AS trgm
  FROM names
),
cand AS (
  SELECT p_partkey FROM post
  WHERE trgm IN {tuple(_trgms(_TRGM_NEEDLE))!r}
  GROUP BY p_partkey
  HAVING count(DISTINCT trgm) = {len(_trgms(_TRGM_NEEDLE))}
),
verified AS (
  SELECT c.p_partkey FROM cand c JOIN names n ON n.p_partkey = c.p_partkey
  WHERE n.p_name LIKE '%{_TRGM_NEEDLE}%'
)
SELECT (SELECT cast(count(*) AS bigint) FROM names) AS n_rows,
       (SELECT cast(count(*) AS bigint) FROM cand) AS n_candidates,
       (SELECT cast(count(*) AS bigint) FROM verified) AS n_matches,
       (SELECT cast(count(*) AS bigint) FROM names
        WHERE p_name LIKE '%{_TRGM_NEEDLE}%') AS n_direct_scan
""",
    doc="Trigram-postings acceleration of LIKE '%green%' over part "
    "names — the pg_trgm / search-index pattern: candidates must "
    "contain EVERY trigram of the needle (posting-list intersection "
    "via one grouped count), then only candidates are verified with "
    "the real substring test; n_matches == n_direct_scan proves zero "
    "false negatives in-query. At 100 TB the postings table is the "
    "materialized index and the full-scan column is the cost being "
    "avoided — candidates are needle-selectivity-sized, not "
    "corpus-sized.",
    tags=("index", "text", "search"),
)
def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_partkey", "p_name")
    needles = _trgms(_TRGM_NEEDLE)
    post = names.select(
        "p_partkey",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(p_name) - 2),"
                    " i -> substring(p_name, i, 3))"
                )
            )
        ).alias("trgm"),
    )
    cand = (
        post.filter(F.col("trgm").isin(needles))
        .groupBy("p_partkey")
        .agg(F.countDistinct("trgm").alias("nt"))
        .filter(F.col("nt") == len(needles))
        .select("p_partkey")
    )
    verified = cand.join(names, "p_partkey").filter(
        F.col("p_name").contains(_TRGM_NEEDLE)
    )
    n_rows = names.agg(F.count(F.lit(1)).alias("n_rows"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_match = verified.agg(F.count(F.lit(1)).alias("n_matches"))
    n_direct = names.filter(F.col("p_name").contains(_TRGM_NEEDLE)).agg(
        F.count(F.lit(1)).alias("n_direct_scan")
    )
    return (
        n_rows.crossJoin(F.broadcast(n_cand))  # 1-row scalar attaches
        .crossJoin(F.broadcast(n_match))
        .crossJoin(F.broadcast(n_direct))
    )


# ---------------------------------------------------------------------------
# Full DBSCAN labeling: core CC + border attachment
# ---------------------------------------------------------------------------


def _sql_dbscan_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE {sql_adaptive_cand()},
q AS (
  SELECT vec_id,
         list_transform(embedding::double[],
                        x -> cast(round(x * 1000, 0) AS bigint)) AS qv
  FROM embeddings
),
eedges AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand JOIN q a ON a.vec_id = id_a JOIN q b ON b.vec_id = id_b
  WHERE list_sum(list_transform(a.qv, (x, i) -> (x - b.qv[i]) * (x - b.qv[i])))
          <= {_DB_EPS2}
),
sym AS (SELECT id_a AS u, id_b AS w FROM eedges
        UNION ALL SELECT id_b, id_a FROM eedges),
core AS MATERIALIZED (
  SELECT u AS vec_id FROM sym GROUP BY u HAVING count(*) >= {_DB_MINPTS}
),
cce AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM eedges
  WHERE id_a IN (SELECT vec_id FROM core) AND id_b IN (SELECT vec_id FROM core)
),
edges2 AS (SELECT u, v FROM cce UNION SELECT v, u FROM cce),
reach AS (
  SELECT u AS node, u AS label FROM edges2
  UNION
  SELECT e.u, r.label FROM edges2 e JOIN reach r ON r.node = e.v
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
allcore AS MATERIALIZED (
  SELECT c.vec_id, coalesce(comp.component, c.vec_id) AS component
  FROM core c LEFT JOIN comp ON comp.node = c.vec_id
),
bord AS MATERIALIZED (
  SELECT s.u AS vec_id, min(a.component) AS component
  FROM sym s JOIN allcore a ON a.vec_id = s.w
  WHERE s.u NOT IN (SELECT vec_id FROM core)
  GROUP BY s.u
)
SELECT cluster_id, role, n_points FROM (
  SELECT component AS cluster_id, 'core' AS role,
         cast(count(*) AS bigint) AS n_points
  FROM allcore GROUP BY component
  UNION ALL
  SELECT component, 'border', cast(count(*) AS bigint)
  FROM bord GROUP BY component
  UNION ALL
  SELECT cast(-1 AS bigint), 'noise', cast(count(*) AS bigint)
  FROM q WHERE vec_id NOT IN (SELECT vec_id FROM core)
            AND vec_id NOT IN (SELECT vec_id FROM bord)
)
ORDER BY cluster_id, role
"""


@register(
    "ml_dbscan_clusters",
    oracle=_sql_dbscan_clusters_oracle(),
    doc="FULL DBSCAN labeling (completes ml_dbscan_core's role counts): "
    "eps-edges come from the same capped adaptive-LSH candidate graph "
    "and integer eps^2 threshold; cores (>= minPts eps-neighbors) are "
    "clustered by connected components over CORE-CORE eps-edges "
    "(operators/graph.py min-label propagation, cluster id = smallest "
    "core vec_id; isolated cores form singletons), and borders attach "
    "to the SMALLEST component among their core eps-neighbors — the "
    "deterministic tie-break for the classic DBSCAN border ambiguity. "
    "Standard-DBSCAN semantics: a non-core point with only non-core "
    "neighbors is noise (ml_dbscan_core's looser 'border' = any "
    "neighbor). Output is (cluster_id, role, n_points) + one noise "
    "row. Scale: pair work is the capped-LSH candidate volume (O(n)), "
    "CC is bounded-round min-label over the core subgraph, border "
    "attach is one aggregate; the DuckDB twin replays everything via "
    "a recursive min-label closure.",
    tags=("ml", "clustering", "density", "graph", "iterative", "lsh"),
)
def ml_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.graph import connected_components
    from p6_spark.operators.similarity import lsh_candidate_vec_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
    )
    e = emb.select("vec_id", qv.alias("qv"))
    cand = lsh_candidate_vec_pairs(emb)
    d2 = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # feeds sym, core filter, and the CC subgraph
    eedges = materialize(
        cand.join(e.select(F.col("vec_id").alias("id_a"), "qv").alias("a"), "id_a")
        .join(e.select(F.col("vec_id").alias("id_b"), "qv").alias("b"), "id_b")
        .filter(d2 <= _DB_EPS2)
        .select("id_a", "id_b")
    )
    sym = eedges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("w")
    ).unionAll(eedges.select(F.col("id_b").alias("u"), F.col("id_a").alias("w")))
    core = materialize(
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _DB_MINPTS)
        .select(F.col("u").alias("vec_id"))
    )
    cce = eedges.join(
        core.select(F.col("vec_id").alias("id_a")), "id_a", "left_semi"
    ).join(core.select(F.col("vec_id").alias("id_b")), "id_b", "left_semi")
    comp = connected_components(cce)
    allcore = core.join(
        comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id", F.coalesce("component", F.col("vec_id")).alias("component")
    )
    bord = materialize(
        sym.join(core.select(F.col("vec_id").alias("u")), "u", "left_anti")
        .join(
            allcore.select(
                F.col("vec_id").alias("w"), F.col("component")
            ),
            "w",
        )
        .groupBy(F.col("u").alias("vec_id"))
        .agg(F.min("component").alias("component"))
    )
    core_rows = allcore.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_points")
    ).select("cluster_id", F.lit("core").alias("role"), "n_points")
    bord_rows = bord.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_points")
    ).select("cluster_id", F.lit("border").alias("role"), "n_points")
    noise_rows = (
        e.select("vec_id")
        .join(core, "vec_id", "left_anti")
        .join(bord.select("vec_id"), "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            F.lit(-1).cast("long").alias("cluster_id"),
            F.lit("noise").alias("role"),
            "n_points",
        )
    )
    return core_rows.unionAll(bord_rows).unionAll(noise_rows).orderBy(
        "cluster_id", "role"
    )
