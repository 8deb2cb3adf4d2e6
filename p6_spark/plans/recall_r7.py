"""Round-7 recall operators: multi-probe LSH ANN and the in-engine
blocking-quality audit.

The round-7 theme is candidate RECALL at scale (the r6 verdict's
16-plane cliff): tests/test_lsh_recall.py gates it offline with planted
duplicates, and these two queries operationalize the same discipline
INSIDE the engine — multi-probe as the recall/cost dial that doesn't
multiply index size, and a continuously runnable audit that measures
what fraction of true near-duplicate pairs the production blocking
actually surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.operators import similarity as sim
from p6_spark.plans.registry import register
from p6_spark.plans.twins import sql_adaptive_cand, sql_cosine_rerank, sql_lsh_sig
from p6_spark.sources.tables import load_table

_MP_TABLES = 2
_MP_PLANES = 8


def _mp_probe_list_sql(sig: str = "sig") -> str:
    """DuckDB probe list: the exact bucket plus each 1-bit flip."""
    flips = ", ".join(f"xor({sig}, {1 << b})" for b in range(_MP_PLANES))
    return f"[{sig}, {flips}]"


@register(
    "sim_multiprobe_lsh",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v,
         {sql_lsh_sig(0, _MP_PLANES)} AS s0,
         {sql_lsh_sig(1, _MP_PLANES)} AS s1
  FROM e
),
b AS (
  SELECT vec_id, unnest([0, 1]) AS tbl, unnest([s0, s1]) AS sig
  FROM sigs
),
qp AS (
  SELECT vec_id, tbl, unnest({_mp_probe_list_sql()}) AS sig
  FROM b WHERE vec_id < 3
),
cand AS (
  SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS match_id
  FROM qp JOIN b c ON c.tbl = qp.tbl AND c.sig = qp.sig
  WHERE c.vec_id <> qp.vec_id
),
{sql_cosine_rerank(5)}""",
    doc="Multi-probe LSH ANN (Lv et al.'s dial, 1-bit probe ring): each "
    "query probes its exact bucket PLUS the 8 buckets one Hamming flip "
    "away, in only 2 OR-amplified tables — recall comparable to "
    "sim_lsh_ann's 4 exact-probe tables at HALF the index size, because "
    "a near-neighbor that misses the exact bucket most often differs in "
    "exactly one low-margin plane. The probe fan-out multiplies only "
    "the broadcast QUERY side (9 probes x queries x tables — bounded), "
    "never the corpus index: at 100 TB that is the difference between "
    "re-signing the corpus per extra table and re-probing a tiny query "
    "set. Exact cosine re-rank, 6-dp rounding, total-order top-5; the "
    "DuckDB twin replays signatures, the probe ring, and the re-rank.",
    tags=("similarity", "lsh", "ann"),
)
def sim_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = F.array(
        *[sim.lsh_signature("embedding", _MP_PLANES, t) for t in range(_MP_TABLES)]
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cvec"),
        F.posexplode(sigs).alias("tbl", "sig"),
    )
    probes = F.array(
        F.col("sig"), *[F.expr(f"sig ^ {1 << b}") for b in range(_MP_PLANES)]
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.posexplode(sigs).alias("tbl", "sig"),
        )
        .select("query_id", "qvec", "tbl", F.explode(probes).alias("sig"))
    )
    scored = (
        c.join(q, ["tbl", "sig"])
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", "qvec", "cvec")
        .dropDuplicates(["query_id", "match_id"])
        .select(
            "query_id",
            "match_id",
            F.round(sim.cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


_AUDIT_PANEL = 500
_AUDIT_MIN_COS = 0.3


@register(
    "dd_blocking_quality_audit",
    oracle=f"""
WITH {sql_adaptive_cand()},
p AS (SELECT vec_id, v FROM e WHERE vec_id < {_AUDIT_PANEL}),
truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM p a JOIN p b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_AUDIT_MIN_COS}
),
cp AS (
  SELECT id_a, id_b FROM cand
  WHERE id_a < {_AUDIT_PANEL} AND id_b < {_AUDIT_PANEL}
),
hit AS (SELECT t.id_a FROM truth t JOIN cp USING (id_a, id_b))
SELECT (SELECT cast(count(*) AS bigint) FROM truth) AS n_truth,
       (SELECT cast(count(*) AS bigint) FROM cp) AS n_candidates,
       (SELECT cast(count(*) AS bigint) FROM hit) AS n_hit,
       cast((1000000 * (SELECT count(*) FROM hit))
            // greatest((SELECT count(*) FROM truth), 1) AS bigint) AS recall_x1e6
""",
    doc="Blocking-quality audit — the in-engine twin of the planted-"
    "duplicate recall gate (tests/test_lsh_recall.py): on a bounded "
    f"{_AUDIT_PANEL}-id panel, compute the TRUE near-duplicate pairs "
    f"(exact cosine >= {_AUDIT_MIN_COS}) by brute force, intersect with "
    "the production capped-adaptive-LSH candidate pairs restricted to "
    "the panel, and emit candidate recall as an exact x1e6 integer "
    "ratio. This is how a 100 TB pipeline MONITORS the r6 recall-cliff "
    "class continuously: the panel brute force is O(panel^2) — fixed "
    "cost at any corpus size — while the candidate side is the real "
    "blocking output, so a silent recall collapse (buckets all over "
    "the cap, signature width stopped scaling) shows up as a falling "
    "recall_x1e6 long before anyone inspects dedup output. The DuckDB "
    "twin replays signatures, cap, panel truth, and the division.",
    tags=("dedup", "similarity", "lsh", "audit", "fixed-point"),
)
def dd_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < _AUDIT_PANEL).select(
        "vec_id", "embedding"
    )
    a = panel.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = panel.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(sim.cosine(F.col("va"), F.col("vb")), 6) >= _AUDIT_MIN_COS
        )
        .select("id_a", "id_b")
    )
    # Panel restriction pushed INTO the candidate self-join
    # (pair_id_below): bucket sizes/caps still computed over the full
    # corpus, each join side then filtered to panel members — exactly
    # the pairs the old post-filter kept (both ids < _AUDIT_PANEL),
    # but the pair join and distinct run on panel-sized input instead
    # of corpus-sized (guide §2.2). Oracle unchanged.
    cp = sim.lsh_candidate_vec_pairs(emb, pair_id_below=_AUDIT_PANEL)
    # Round-11 A/B note: two restructures were tried here and BOTH
    # measured slower (sf0.1 min-of-3): (a) a tagged full-outer join
    # producing all three counts in one aggregate (1.33x), (b)
    # localCheckpointing the tiny panel-filtered frames first (1.14x).
    # AQE's runtime exchange reuse already dedups the expensive
    # full-corpus LSH subtree across the n_candidates and semi-join
    # consumers, so both rewrites only added join/materialization
    # overhead. The three-aggregate crossJoin shape stays.
    hit = truth.join(cp, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cp.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_cand))  # 1-row scalar attaches
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.expr("cast((1000000 * n_hit) div greatest(n_truth, 1) as bigint)").alias(
                "recall_x1e6"
            ),
        )
    )
