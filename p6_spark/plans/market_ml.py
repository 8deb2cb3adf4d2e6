"""Market-basket mining, model-lift evaluation, product-quantization
codes, and LSH band tuning — the second ring of in-engine ML/sketch
operators: not just running a structure, but MEASURING it so the 100 TB
configuration is chosen from data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.operators.similarity import pq_adc_lut, pq_code_array
from p6_spark.plans.registry import register
from p6_spark.plans.twins import sql_minhash_sig, sql_pq_codes, sql_pq_lut
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Market-basket co-occurrence
# ---------------------------------------------------------------------------


@register(
    "q_market_basket",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n_orders AS (SELECT count(DISTINCT ok) AS n FROM items),
item_n AS (SELECT pk, count(*) AS n_item FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS item_a, b.pk AS item_b, count(*) AS n_pair
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
)
SELECT p.item_a, p.item_b, p.n_pair,
       ia.n_item AS n_a, ib.n_item AS n_b,
       cast((p.n_pair::HUGEINT * o.n * 1000000) // (ia.n_item::HUGEINT * ib.n_item) AS bigint)
         AS lift_x1e6
FROM pairs p
JOIN item_n ia ON p.item_a = ia.pk
JOIN item_n ib ON p.item_b = ib.pk
CROSS JOIN n_orders o
ORDER BY p.n_pair DESC, lift_x1e6 DESC, p.item_a, p.item_b
LIMIT 20
""",
    doc="Market-basket pair mining (the a-priori support/lift core): "
    "distinct (order, part) items self-joined on the order key with "
    "a < b orientation — pair blowup is bounded by basket size squared, "
    "never corpus squared. Lift cross-multiplied to x1e6 integers "
    "(P(ab)*N / (P(a)P(b))). Item marginals join back; the 1-row order "
    "count attaches by broadcast. Top-20 by (support, lift) with full "
    "tiebreak.",
    tags=("mining", "join", "fixed-point"),
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n_orders = items.agg(F.countDistinct("ok").alias("n"))
    item_n = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    # Round-11 restructure (guide §2.4 — remove the join outright): the
    # basket self-join is replaced by sorted-adjacency pair explosion,
    # the q_graph_link_predict shape. One groupBy(ok) builds each
    # basket's distinct sorted item array, then posexplode + slice
    # emits each a < b pair once — each intermediate row carries an
    # O(basket) array, never an O(basket^2) cell, matching the old
    # sort-merge join's per-key buffer bound, and the corpus is
    # shuffled once by basket key instead of twice for the join sides.
    # Same-session alternating A/B (benchdata/r11_market_basket_ab.json,
    # identical 20 rows asserted): min 2.37 s vs 3.01 s for the join
    # (0.79x; per-round results are noisy on this box, the minima and
    # the shuffle count favor this form).
    baskets = items.groupBy("ok").agg(
        F.array_sort(F.collect_list("pk")).alias("ps")
    )
    pairs = (
        baskets.select(F.posexplode("ps").alias("i", "item_a"), "ps")
        .select(
            "item_a",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("item_b"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ia = item_n.select(F.col("pk").alias("item_a"), F.col("n_item").alias("n_a"))
    ib = item_n.select(F.col("pk").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar attach
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "n_a",
            "n_b",
            F.expr(
                "cast((cast(n_pair as decimal(38,0)) * n * 1000000)"
                " div (cast(n_a as decimal(38,0)) * n_b) as bigint)"
            ).alias("lift_x1e6"),
        )
        .orderBy(F.desc("n_pair"), F.desc("lift_x1e6"), "item_a", "item_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Decile lift table
# ---------------------------------------------------------------------------


@register(
    "ml_lift_deciles",
    oracle="""
WITH users AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
deciled AS (
  SELECT score, converted,
         ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM users
),
per_dec AS (
  SELECT decile, count(*) AS n_users, sum(converted) AS n_conv
  FROM deciled GROUP BY decile
),
cum AS (
  SELECT decile, n_users, n_conv,
         sum(n_users) OVER (ORDER BY decile) AS cum_users,
         sum(n_conv) OVER (ORDER BY decile) AS cum_conv,
         sum(n_users) OVER () AS tot_users,
         sum(n_conv) OVER () AS tot_conv
  FROM per_dec
)
SELECT decile,
       cast(n_users AS bigint) AS n_users,
       cast(n_conv AS bigint) AS n_conv,
       cast((n_conv * 1000000) // n_users AS bigint) AS conv_rate_x1e6,
       cast((cum_conv::HUGEINT * tot_users * 1000000) // (cum_users::HUGEINT * tot_conv) AS bigint)
         AS cum_lift_x1e6
FROM cum
ORDER BY decile
""",
    doc="Model-lift decile table: users ranked by a score (click count) "
    "with a (score, user_id) total order, ntile(10) SEMANTICS, "
    "conversion rate and CUMULATIVE lift per decile — the "
    "did-the-model-rank-well chart every targeting pipeline prints. "
    "Lift cross-multiplied to x1e6 (cum_conv*N / (cum_users*C)). The "
    "r4-flagged global ntile window is gone: a distributed two-phase "
    "rank (operators/ranking) fed through the exact ntile bucket-size "
    "formula reproduces the oracle's ntile(10) bit-for-bit; the "
    "cumulative pass runs as a triangular self-join on the 10-row "
    "decile table — no single-partition stage anywhere.",
    tags=("ml", "evaluation", "window", "fixed-point"),
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import ntile_from_rank, two_phase_rank

    ev = load_table(spark, sf_dir, "events")
    # lineage cut + single bounds aggregate: the rank's internal min/max
    # subtree and the n_tot attach would otherwise each re-execute the
    # events scan + groupBy (the q_rfm_segments round-5 regression class)
    users = materialize(
        ev.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            ),
        )
    )
    stats = materialize(
        users.agg(
            F.min("score").alias("_tpr_lo"),
            F.max("score").alias("_tpr_hi"),
            F.count(F.lit(1)).alias("n_tot"),
        )
    )
    ranked = two_phase_rank(
        users,
        [F.desc("score"), F.asc("user_id")],
        F.col("score"),
        descending=True,
        bounds=stats,
    )
    deciled = ranked.crossJoin(F.broadcast(stats.select("n_tot"))).select(
        "score",
        "converted",
        ntile_from_rank(F.col("rn"), F.col("n_tot"), 10).alias("decile"),
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv")
    )
    a = per_dec.alias("a")
    b = per_dec.alias("b")
    # cumulative + grand totals over the ≤10-row decile table via a
    # triangular self-join (a bounded window would still print the
    # single-partition WindowExec shape the sweep gate bans)
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(
            F.first(F.col("a.n_users")).alias("n_users"),
            F.first(F.col("a.n_conv")).alias("n_conv"),
            F.sum(F.col("b.n_users")).alias("cum_users"),
            F.sum(F.col("b.n_conv")).alias("cum_conv"),
        )
        .crossJoin(
            F.broadcast(
                per_dec.agg(
                    F.sum("n_users").alias("tot_users"),
                    F.sum("n_conv").alias("tot_conv"),
                )
            )
        )
    )
    return cum.select(
        "decile",
        "n_users",
        "n_conv",
        F.expr("cast((n_conv * 1000000) div n_users as bigint)").alias(
            "conv_rate_x1e6"
        ),
        F.expr(
            "cast((cast(cum_conv as decimal(38,0)) * tot_users * 1000000)"
            " div (cast(cum_users as decimal(38,0)) * tot_conv) as bigint)"
        ).alias("cum_lift_x1e6"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Product-quantization sign codes
# ---------------------------------------------------------------------------


@register(
    "sim_pq_codes",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
{sql_pq_codes()},
per_code AS (
  SELECT sub, code, count(*) AS n FROM codes GROUP BY sub, code
),
ranked AS (
  SELECT sub, code, n,
         row_number() OVER (PARTITION BY sub ORDER BY n DESC, code) AS rnk,
         count(*) OVER (PARTITION BY sub) AS n_codes_used
  FROM per_code
)
SELECT sub AS subspace,
       cast(n_codes_used AS bigint) AS n_codes_used,
       cast(code AS bigint) AS top_code,
       cast(n AS bigint) AS top_code_n
FROM ranked WHERE rnk = 1
ORDER BY subspace
""",
    doc="Product-quantization code assignment over the embedding "
    "column: 64 dims split into 8 subspaces, each vector's subvector "
    "coded by its 8 sign bits (a fixed sign-grid codebook — "
    "deterministic, so the code table is certifiable; a learned "
    "codebook swaps in per-centroid argmin the same way sim_ivf_ann "
    "does). Reports per-subspace codebook occupancy and the dominant "
    "code — the index-compression audit before sharding an ANN index. "
    "Map-side code computation, one (sub, code) aggregate.",
    tags=("similarity", "quantization", "fixed-point"),
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    codes = e.select(F.explode(pq_code_array(F.col("v"))).alias("c")).select(
        F.col("c.sub").alias("sub"), F.col("c.code").alias("code")
    )
    per_code = codes.groupBy("sub", "code").agg(F.count(F.lit(1)).alias("n"))
    wr = W.partitionBy("sub").orderBy(F.desc("n"), "code")
    ws = W.partitionBy("sub")
    ranked = per_code.select(
        "sub",
        "code",
        "n",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(ws).alias("n_codes_used"),
    )
    return (
        ranked.filter(F.col("rnk") == 1)
        .select(
            F.col("sub").alias("subspace"),
            F.col("n_codes_used").cast("long").alias("n_codes_used"),
            F.col("code").cast("long").alias("top_code"),
            F.col("n").cast("long").alias("top_code_n"),
        )
        .orderBy("subspace")
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search over the sign-grid codes
# ---------------------------------------------------------------------------


@register(
    "sim_pq_search",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
{sql_pq_codes()},
{sql_pq_lut()},
scored AS (
  SELECT l.qid AS query_id, c.vec_id AS match_id,
         cast(sum(l.adc) AS bigint) AS adc_x1000
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  WHERE c.vec_id <> l.qid
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, match_id, adc_x1000,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_x1000 DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, rnk, match_id, adc_x1000
FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
""",
    doc="Asymmetric-distance (ADC) top-k search over the sign-grid PQ "
    "codes (Jegou et al., 'Product Quantization for Nearest Neighbor "
    "Search'): each query precomputes an 8x256 lookup table of exact "
    "subspace inner products against the code book (x1000-quantized "
    "longs, so the ADC score is an exact integer), and the corpus scan "
    "touches ONLY the 8 codes per vector — the memory-compression "
    "pattern that lets a 100 TB float corpus be searched from a few "
    "hundred GB of codes. The LUT (|q| x 8 x 256 rows) broadcasts; "
    "scoring is one equi-join on (sub, code) + a (query, vector) "
    "hash aggregate — linear in corpus size. Top-k avoids the "
    "per-query window funnel via two_phase_rank(partition_cols), with "
    "analytic score bounds (+-max sum|q_i|) computed from the query "
    "set alone, so no extra pass over the corpus-sized score table. "
    "The sign-grid codebook keeps the whole chain certifiable; a "
    "learned codebook swaps in per-centroid argmin the same way "
    "sim_ivf_ann does.",
    tags=("similarity", "quantization", "ann", "two-phase", "fixed-point"),
)
def sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))

    # corpus side: 8 (sub, code) rows per vector — the only thing the
    # scan carries (at 100 TB this is the codes file, not the floats)
    codes = e.select(
        "vec_id", F.explode(pq_code_array(F.col("v"))).alias("c")
    ).select("vec_id", F.col("c.sub").alias("sub"), F.col("c.code").alias("code"))

    # query side: x1000-quantized int vectors -> 8x256 ADC lookup table
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.expr(
            "transform(v, x -> cast(round(x * 1000, 0) as bigint))"
        ).alias("qi"),
    )
    lut = pq_adc_lut(spark, q)
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy(F.col("qid").alias("query_id"), F.col("vec_id").alias("match_id"))
        .agg(F.sum("adc").cast("long").alias("adc_x1000"))
    )
    # analytic bucket bounds from the query set alone: |ADC| <= sum|q_i|
    bounds = (
        q.select(
            F.expr(
                "aggregate(qi, cast(0 as bigint), (acc, x) -> acc + abs(x))"
            ).alias("s")
        )
        .agg(F.max("s").alias("_tpr_hi"))
        .select((-F.col("_tpr_hi")).alias("_tpr_lo"), "_tpr_hi")
    )
    ranked = two_phase_rank(
        scored,
        order=[F.desc("adc_x1000"), F.asc("match_id")],
        range_expr=F.col("adc_x1000"),
        descending=True,
        bounds=bounds,
        partition_cols=["query_id"],
        buckets=16,
        rn_name="rnk",
    )
    return (
        ranked.filter(F.col("rnk") <= 5)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "match_id", "adc_x1000")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# LSH band-configuration tuning sweep
# ---------------------------------------------------------------------------


def _sql_band_pairs(band_size: int) -> str:
    """Candidate-pair CTE body for one (band_size) config over the 8
    minhash components h0..h7."""
    n_bands = 8 // band_size
    selects = []
    for b in range(n_bands):
        cols = " || '_' || ".join(
            f"cast(h{b * band_size + j} AS varchar)" for j in range(band_size)
        )
        selects.append(f"SELECT doc_id, {b} AS band_idx, {cols} AS band_val FROM sig")
    bands = "\n  UNION ALL ".join(selects)
    return f"""(
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ({bands}) a JOIN ({bands}) b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)"""


@register(
    "dd_lsh_tuning",
    oracle=f"""
WITH {sql_minhash_sig("doc_id < 1000").lstrip().lstrip(chr(10))},
est AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
        + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
        + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
        + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)
         ) * 125000 AS est_x1e6
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
),
c1 AS MATERIALIZED (SELECT * FROM {_sql_band_pairs(1)}),
c2 AS MATERIALIZED (SELECT * FROM {_sql_band_pairs(2)}),
c4 AS MATERIALIZED (SELECT * FROM {_sql_band_pairs(4)}),
c8 AS MATERIALIZED (SELECT * FROM {_sql_band_pairs(8)}),
stats AS (
  SELECT 1 AS band_size, 8 AS n_bands,
         (SELECT count(*) FROM c1) AS n_pairs,
         (SELECT coalesce(sum(e.est_x1e6), 0) FROM c1 p JOIN est e ON p.id_a = e.id_a AND p.id_b = e.id_b) AS est_sum
  UNION ALL
  SELECT 2, 4, (SELECT count(*) FROM c2),
         (SELECT coalesce(sum(e.est_x1e6), 0) FROM c2 p JOIN est e ON p.id_a = e.id_a AND p.id_b = e.id_b)
  UNION ALL
  SELECT 4, 2, (SELECT count(*) FROM c4),
         (SELECT coalesce(sum(e.est_x1e6), 0) FROM c4 p JOIN est e ON p.id_a = e.id_a AND p.id_b = e.id_b)
  UNION ALL
  SELECT 8, 1, (SELECT count(*) FROM c8),
         (SELECT coalesce(sum(e.est_x1e6), 0) FROM c8 p JOIN est e ON p.id_a = e.id_a AND p.id_b = e.id_b)
)
SELECT band_size, n_bands,
       cast(n_pairs AS bigint) AS n_pairs,
       cast(CASE WHEN n_pairs = 0 THEN 0 ELSE est_sum // n_pairs END AS bigint)
         AS mean_est_jaccard_x1e6
FROM stats
ORDER BY band_size
""",
    doc="LSH band-configuration tuning sweep: the same 8 minhash "
    "components banded as 8x1, 4x2, 2x4, and 1x8, reporting candidate-"
    "pair volume and mean estimated Jaccard per config — the recall/"
    "cost curve that picks (bands, rows) BEFORE the 100 TB run, "
    "measured on a FIXED 1000-doc panel (doc_id < 1000) instead of "
    "guessed from the s-curve formula — tuning needs a bounded sample, "
    "not the corpus; the round-4 sf1.0 sweep caught the unbounded "
    "version going quadratic (band_size=1 buckets are the densest). "
    "Signatures computed once and reused across all four configs "
    "(cached on the Spark side); pair estimation joins signatures back "
    "by id. NOTE the oracle's est CTE is an all-pairs signature join — "
    "fine at gate SF; the Spark side only ever joins candidates.",
    tags=("dedup", "sketch", "tuning"),
)
def dd_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    # fixed tuning panel — see the oracle doc note
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sigs = dd.minhash_signatures(docs).cache()
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    )
    frames = []
    for band_size in (1, 2, 4, 8):
        pairs = dd.lsh_candidate_pairs(sigs, band_size=band_size)
        est = (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .select((matches * 125000).alias("est_x1e6"))
        )
        frames.append(
            est.agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.coalesce(F.sum("est_x1e6"), F.lit(0)).alias("est_sum"),
            ).select(
                F.lit(band_size).alias("band_size"),
                F.lit(8 // band_size).alias("n_bands"),
                F.col("n_pairs"),
                F.expr(
                    "cast(CASE WHEN n_pairs = 0 THEN 0"
                    " ELSE est_sum div n_pairs END as bigint)"
                ).alias("mean_est_jaccard_x1e6"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("band_size")
