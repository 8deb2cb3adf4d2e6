"""Round-9 measurement-trust + leakage-safe-curation operators: the
numbers a retrieval / eval / curation team needs to be CONFIDENT in a
decision, not just to compute a point estimate — graded ranking quality
(nDCG@5), first-hit metrics (MRR / hit@k / recall@5) with a streaming
ledger twin, chance-corrected annotator agreement (Fleiss' kappa),
the DeLong standard error of ROC-AUC (is this AUC significantly above
chance?), a deterministic Poisson-bootstrap confidence interval (the
one-pass bootstrap that actually works on 100 TB), a cluster-aware
train/val split that provably leaks zero near-duplicate pairs, and a
per-domain quantile prune.

Exactness strategy (house conventions):
- fixed-point x1e6 integers with trunc division on both engines
  (Spark ``div`` == DuckDB ``//`` — both truncate toward zero,
  verified including negatives);
- transcendental-free ranking discounts: the nDCG 1/log2(r+1) weights
  are PRECOMPUTED Python literals embedded identically in both plans
  (a 5-entry lookup), so the Spark-vs-DuckDB log ulp landmine
  (similarity.py's r8 lesson) structurally cannot occur;
- sqrt follows the Wilson convention (rigor_r9): exact-integer inputs
  below 2^53 into IEEE-754 correctly-rounded sqrt, identical text on
  both engines, one final round;
- wide products staged decimal(38,0) / HUGEINT (the r8
  pipe_domain_mixture discipline), with documented per-panel ceilings;
- degenerate inputs raise IDENTICALLY on both engines
  (raise_error / error — the pipe_sequence_packing discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.pipelines.llm_corpus import percentile_prune_report
from p6_spark.plans.registry import register
from p6_spark.plans.twins import (
    SQL_LANG_QUALITY_CUM,
    SQL_MD5INT,
    SQL_TOKENS,
    sql_bounded_cc,
    sql_minhash_sig,
)
from p6_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared ranked-retrieval panel: query = customer, candidates = their
# orders ranked by totalprice, graded relevance from order priority.
# gain = 2^grade - 1 for grades 3/2/1/0 -> 7/3/1/0 (the standard
# exponential-gain DCG form); "relevant" for the binary metrics means
# grade >= 2, i.e. gain >= 3.
# ---------------------------------------------------------------------------

_K = 5  # metric depth: nDCG@5, recall@5

# round(1e9 / log2(r + 1)) for r = 1.._K — Python-precomputed literals,
# embedded verbatim in BOTH engines: no runtime log anywhere.
_NDCG_W = [1000000000, 630929754, 500000000, 430676558, 386852807]

_SQL_RANKED = """
ranked AS (
  SELECT o_custkey AS q,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
         CASE o_orderpriority WHEN '1-URGENT' THEN 7 WHEN '2-HIGH' THEN 3
              WHEN '3-MEDIUM' THEN 1 ELSE 0 END AS gain
  FROM orders
)"""


def _ranked_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q, rnk, gain): per-query ranked candidates with graded gains.
    The window partitions by query — bounded groups (a customer's order
    count), never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        F.col("o_custkey").alias("q"),
        F.row_number().over(w).alias("rnk"),
        F.expr(
            "CASE o_orderpriority WHEN '1-URGENT' THEN 7 WHEN '2-HIGH' THEN 3"
            " WHEN '3-MEDIUM' THEN 1 ELSE 0 END"
        ).alias("gain"),
    )


# ---------------------------------------------------------------------------
# ml_ndcg_at_5 — graded ranking quality with literal discount weights
# ---------------------------------------------------------------------------

_SQL_W_LIST = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"


@register(
    "ml_ndcg_at_5",
    oracle=f"""
WITH {_SQL_RANKED.strip()},
g AS (
  SELECT q, rnk, gain,
         row_number() OVER (PARTITION BY q ORDER BY gain DESC, rnk) AS irnk
  FROM ranked
),
per_q AS (
  SELECT q,
         cast(sum(CASE WHEN rnk <= {_K}
                       THEN cast(gain AS bigint) * {_SQL_W_LIST}[rnk]
                       ELSE 0 END) AS bigint) AS dcg,
         cast(sum(CASE WHEN irnk <= {_K}
                       THEN cast(gain AS bigint) * {_SQL_W_LIST}[irnk]
                       ELSE 0 END) AS bigint) AS idcg
  FROM g GROUP BY q
)
SELECT cast(count(*) AS bigint) AS n_queries,
       cast(count(*) FILTER (WHERE idcg > 0) AS bigint) AS n_scored,
       CASE WHEN count(*) FILTER (WHERE idcg > 0) = 0 THEN 0
            ELSE cast(sum(CASE WHEN idcg > 0 THEN (dcg * 1000000) // idcg END)
                      // (count(*) FILTER (WHERE idcg > 0)) AS bigint)
       END AS mean_ndcg_x1e6,
       cast(count(*) FILTER (WHERE idcg > 0
                             AND (dcg * 1000000) // idcg = 1000000)
            AS bigint) AS n_perfect
FROM per_q
""",
    doc=f"nDCG@{_K} over the ranked-retrieval panel (query = customer, "
    "candidates = orders by price, graded relevance from priority, "
    "gain = 2^grade - 1): per query DCG@5 = sum of gain x a LITERAL "
    "discount weight round(1e9/log2(r+1)) — the five weights are "
    "Python-precomputed constants embedded identically in both plans, "
    "so the Spark-vs-DuckDB log-ulp divergence (the r8 adaptive_planes "
    "landmine) structurally cannot occur — and IDCG from the per-query "
    "ideal reordering (gain DESC window, deterministic rnk tie-break). "
    "ndcg = (dcg * 1e6) // idcg, exact trunc; all-zero-gain queries are "
    "excluded from the mean and reported (n_queries - n_scored). Scale "
    "shape: both windows partition by QUERY (bounded candidate lists, "
    "never a global sort), then one hash aggregate per query and one "
    "1-row rollup — 100 TB of ranked results reduce map-side. DCG "
    "ceiling: gain <= 7, weight <= 1e9, 5 terms -> 3.5e10; x1e6 -> "
    "3.5e16, int64-safe at any corpus size (per-query bounded).",
    tags=("ml", "eval", "ranking", "retrieval", "fixed-point", "window"),
)
def ml_ndcg_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _ranked_panel(spark, sf_dir)
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    iw = W.partitionBy("q").orderBy(F.desc("gain"), F.asc("rnk"))
    g = ranked.withColumn("irnk", F.row_number().over(iw))
    per_q = g.groupBy("q").agg(
        F.sum(
            F.when(
                F.col("rnk") <= _K,
                F.col("gain").cast("long") * F.element_at(w_arr, F.col("rnk")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg"),
        F.sum(
            F.when(
                F.col("irnk") <= _K,
                F.col("gain").cast("long") * F.element_at(w_arr, F.col("irnk")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg"),
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("idcg") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_scored"),
        F.expr(
            "CASE WHEN sum(CASE WHEN idcg > 0 THEN 1 ELSE 0 END) = 0 THEN 0"
            " ELSE cast(sum(CASE WHEN idcg > 0"
            "                THEN (dcg * cast(1000000 as bigint)) div idcg END)"
            " div sum(CASE WHEN idcg > 0 THEN 1 ELSE 0 END) AS bigint) END"
        ).alias("mean_ndcg_x1e6"),
        F.sum(
            F.when(
                (F.col("idcg") > 0)
                & (F.expr("(dcg * cast(1000000 as bigint)) div idcg") == 1000000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_perfect"),
    )


# ---------------------------------------------------------------------------
# ml_mrr_recall — first-hit metrics + per-query ledger (streaming twin
# in streaming/evals.py runs the SAME retrieval_ledger function)
# ---------------------------------------------------------------------------


def retrieval_ledger(ranked: DataFrame, extra_keys: tuple = ()) -> DataFrame:
    """Per-query retrieval ledger: first relevant rank, relevant count,
    relevant-in-top-_K count. ONE aggregation keyed by query — exactly
    the shape Structured Streaming allows as its single stateful
    aggregation (streaming/evals.retrieval_ledger_stream runs this very
    function on a stream; the parity test pins stream == batch).

    ``extra_keys``: prepended grouping columns — the TTL'd streaming
    twin groups by (event-time window, q) so watermark expiry can evict
    stale query keys (streaming/evals.retrieval_ledger_stream_ttl)."""
    rel = F.col("gain") >= 3
    return ranked.groupBy(*extra_keys, "q").agg(
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel_rank"),
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_rel"),
        F.sum(F.when(rel & (F.col("rnk") <= _K), 1).otherwise(0))
        .cast("long")
        .alias(f"rel{_K}"),
    )


def mrr_rollup(led: DataFrame) -> DataFrame:
    """Cross-query rollup of a retrieval ledger (batch side, or a
    consumer rollup of the streaming sink): queries with >= 1 relevant
    candidate only — MRR, hit@1, hit@3, mean recall@_K, all exact."""
    rel = led.filter(F.col("n_rel") > 0)
    return rel.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr(
            "cast(sum(cast(1000000 as bigint) div first_rel_rank)"
            " div count(1) AS bigint)"
        ).alias("mrr_x1e6"),
        F.sum(F.when(F.col("first_rel_rank") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hit1"),
        F.sum(F.when(F.col("first_rel_rank") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_hit3"),
        F.expr(
            f"cast(sum((rel{_K} * cast(1000000 as bigint)) div n_rel)"
            " div count(1) AS bigint)"
        ).alias(f"mean_recall{_K}_x1e6"),
    )


@register(
    "ml_mrr_recall",
    oracle=f"""
WITH {_SQL_RANKED.strip()},
led AS (
  SELECT q,
         min(CASE WHEN gain >= 3 THEN rnk END) AS first_rel_rank,
         cast(count(*) FILTER (WHERE gain >= 3) AS bigint) AS n_rel,
         cast(count(*) FILTER (WHERE gain >= 3 AND rnk <= {_K}) AS bigint)
           AS rel{_K}
  FROM ranked GROUP BY q
),
rel AS (SELECT * FROM led WHERE n_rel > 0)
SELECT cast(count(*) AS bigint) AS n_queries,
       cast(sum(1000000 // first_rel_rank) // count(*) AS bigint) AS mrr_x1e6,
       cast(count(*) FILTER (WHERE first_rel_rank = 1) AS bigint) AS n_hit1,
       cast(count(*) FILTER (WHERE first_rel_rank <= 3) AS bigint) AS n_hit3,
       cast(sum((rel{_K} * 1000000) // n_rel) // count(*) AS bigint)
         AS mean_recall{_K}_x1e6
FROM rel
""",
    doc="MRR / hit@1 / hit@3 / mean recall@5 over the shared ranked-"
    "retrieval panel (relevant = grade >= 2, i.e. gain >= 3): per query "
    "ONE ledger aggregation (first relevant rank, relevant count, "
    "relevant-in-top-5) — the function itself (retrieval_ledger) is the "
    "streaming twin's single stateful aggregation, so batch and stream "
    "cannot drift — then the cross-query rollup over queries with any "
    "relevant candidate: reciprocal ranks are exact (1e6 // rank), "
    "recall@5 an exact trunc division, means trunc-divided sums. Scale "
    "shape: the ledger is one hash aggregate keyed by query (state "
    "bounded by |queries|, not results); the rollup is 1-row. 100 TB "
    "of retrieval logs reduce map-side; no window at all on this path "
    "(ranks arrive from the panel).",
    tags=("ml", "eval", "ranking", "retrieval", "fixed-point", "streaming"),
)
def ml_mrr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mrr_rollup(retrieval_ledger(_ranked_panel(spark, sf_dir)))


# ---------------------------------------------------------------------------
# ml_fleiss_kappa — chance-corrected multi-rater agreement
# ---------------------------------------------------------------------------


@register(
    "ml_fleiss_kappa",
    oracle="""
WITH r3 AS (
  SELECT l_orderkey,
         CASE WHEN l_quantity < 17 THEN 'low'
              WHEN l_quantity < 34 THEN 'mid' ELSE 'high' END AS cat
  FROM lineitem WHERE l_linenumber <= 3
),
items AS (
  SELECT l_orderkey FROM r3 GROUP BY l_orderkey HAVING count(*) = 3
),
cells AS (
  SELECT r3.l_orderkey, cat, count(*) AS cnt
  FROM r3 JOIN items USING (l_orderkey)
  GROUP BY 1, 2
),
s AS (
  SELECT cast(count(DISTINCT l_orderkey) AS bigint) AS n_items,
         cast(sum(cnt * cnt) AS bigint) AS s2
  FROM cells
),
c AS (
  SELECT cast(sum(csum * csum) AS bigint) AS c2
  FROM (SELECT cast(sum(cnt) AS bigint) AS csum FROM cells GROUP BY cat)
),
x AS (
  SELECT n_items, s2, c2,
         3 * n_items::HUGEINT * (s2 - 3 * n_items) - 2 * c2::HUGEINT AS knum,
         2 * (9 * n_items::HUGEINT * n_items - c2) AS kden
  FROM s, c
)
SELECT n_items, s2, c2,
       cast(((s2 - 3 * n_items)::HUGEINT * 1000000) // (6 * n_items)
            AS bigint) AS pbar_x1e6,
       cast((c2::HUGEINT * 1000000) // (9 * n_items::HUGEINT * n_items)
            AS bigint) AS pe_x1e6,
       CASE WHEN kden = 0 THEN 0
            ELSE cast((knum * 1000000) // kden AS bigint) END AS kappa_x1e6
FROM x
""",
    doc="Fleiss' kappa — chance-corrected agreement among a FIXED panel "
    "of raters per item, the reliability number every labeling / "
    "preference-data pipeline reports before trusting its annotations "
    "(Cohen's kappa, ml_cohens_kappa, covers exactly two raters; this "
    "is the n-rater generalization). Panel: item = order with >= 3 "
    "lineitems, raters = its first three lineitems, category = "
    "quantity tercile (ml_macro_f1's cuts). With n = 3 raters the "
    "whole statistic reduces to two integers — S2 = sum over "
    "(item, category) cells of count^2, C2 = sum over categories of "
    "column-total^2 — giving the exact rational kappa = "
    "(3N(S2 - 3N) - 2 C2) / (2(9N^2 - C2)) after clearing denominators "
    "(P_bar = (S2 - 3N)/6N, P_e = C2/9N^2). All products staged "
    "HUGEINT/decimal(38,0); one trunc division lands kappa_x1e6 "
    "(negative kappa — worse than chance — truncates identically on "
    "both engines, verified: Spark div and DuckDB // both round toward "
    "zero). kden = 0 (every rating in one category) defined 0. Scale "
    "shape: two hash aggregates (per-cell, per-category) + 1-row "
    "arithmetic — billions of items reduce map-side.",
    tags=("ml", "eval", "agreement", "fixed-point"),
)
def ml_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r3 = li.filter(F.col("l_linenumber") <= 3).select(
        "l_orderkey",
        F.expr(
            "CASE WHEN l_quantity < 17 THEN 'low'"
            " WHEN l_quantity < 34 THEN 'mid' ELSE 'high' END"
        ).alias("cat"),
    )
    items = (
        r3.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_nr"))
        .filter(F.col("_nr") == 3)
        .select("l_orderkey")
    )
    # small; feeds two independent rollups
    cells = materialize(
        r3.join(items, "l_orderkey")
        .groupBy("l_orderkey", "cat")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = cells.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_items"),
        F.sum(F.expr("cnt * cnt")).cast("long").alias("s2"),
    )
    c = (
        cells.groupBy("cat")
        .agg(F.sum("cnt").cast("long").alias("csum"))
        .agg(F.sum(F.expr("csum * csum")).cast("long").alias("c2"))
    )
    x = s.crossJoin(F.broadcast(c)).select(
        "n_items",
        "s2",
        "c2",
        F.expr(
            "3 * cast(n_items as decimal(38,0)) * (s2 - 3 * n_items)"
            " - 2 * cast(c2 as decimal(38,0))"
        ).alias("knum"),
        F.expr(
            "2 * (9 * cast(n_items as decimal(38,0)) * n_items - c2)"
        ).alias("kden"),
    )
    return x.select(
        "n_items",
        "s2",
        "c2",
        F.expr(
            "cast((cast(s2 - 3 * n_items as decimal(38,0)) * 1000000)"
            " div (6 * n_items) AS bigint)"
        ).alias("pbar_x1e6"),
        F.expr(
            "cast((cast(c2 as decimal(38,0)) * 1000000)"
            " div (9 * cast(n_items as decimal(38,0)) * n_items) AS bigint)"
        ).alias("pe_x1e6"),
        F.expr(
            "CASE WHEN kden = 0 THEN cast(0 as bigint)"
            " ELSE cast((knum * 1000000) div kden AS bigint) END"
        ).alias("kappa_x1e6"),
    )


# ---------------------------------------------------------------------------
# ml_auc_delong — the standard error of ROC-AUC (DeLong 1988)
# ---------------------------------------------------------------------------

_DELONG_GUARD = "ml_auc_delong: need >= 2 positives and >= 2 negatives"


@register(
    "ml_auc_delong",
    oracle=f"""
WITH vals AS (
  SELECT cast(round(o_totalprice * 100, 0) AS bigint) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS y
  FROM orders
),
per_v AS (
  SELECT v, cast(count(*) AS bigint) AS cnt, cast(sum(y) AS bigint) AS cnt1
  FROM vals GROUP BY v
),
ranked AS (
  SELECT cnt1, cnt - cnt1 AS cnt0,
         coalesce(sum(cnt - cnt1) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_prior,
         coalesce(sum(cnt1) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_prior,
         sum(cnt1) OVER () AS n1,
         sum(cnt - cnt1) OVER () AS n0
  FROM per_v
),
pl AS (
  SELECT cnt1, cnt0, n1, n0,
         2 * neg_prior + cnt0 AS a,
         2 * (n1 - pos_prior - cnt1) + cnt1 AS b
  FROM ranked
),
agg AS (
  SELECT cast(min(n1) AS bigint) AS n1, cast(min(n0) AS bigint) AS n0,
         sum(cnt1::HUGEINT * a) AS asum,
         sum(cnt0::HUGEINT * b) AS bsum,
         sum(cnt1::HUGEINT * a * a) AS ss1,
         sum(cnt0::HUGEINT * b * b) AS ss0
  FROM pl
),
chk AS (
  SELECT CASE WHEN n1 <= 1 OR n0 <= 1 THEN error('{_DELONG_GUARD}')
              ELSE n1 END AS n1,
         n0, asum, bsum, ss1, ss0
  FROM agg
),
var AS (
  SELECT n1, n0,
         cast((asum * 1000000) // (2 * n1::HUGEINT * n0) AS bigint)
           AS auc_x1e6,
         cast((((n1 * ss1 - asum * asum) // (4 * n0::HUGEINT * n0))
               * 1000000000000)
              // (n1::HUGEINT * n1 * (n1 - 1)) AS bigint) AS var10_x1e12,
         cast((((n0 * ss0 - bsum * bsum) // (4 * n1::HUGEINT * n1))
               * 1000000000000)
              // (n0::HUGEINT * n0 * (n0 - 1)) AS bigint) AS var01_x1e12
  FROM chk
)
SELECT n1, n0, auc_x1e6, var10_x1e12, var01_x1e12,
       var10_x1e12 + var01_x1e12 AS var_x1e12,
       cast(round(sqrt(var10_x1e12 + var01_x1e12), 0) AS bigint) AS se_x1e6,
       CASE WHEN cast(round(sqrt(var10_x1e12 + var01_x1e12), 0) AS bigint) = 0
            THEN 0
            ELSE cast(((auc_x1e6 - 500000) * 1000000)
                      // cast(round(sqrt(var10_x1e12 + var01_x1e12), 0)
                              AS bigint) AS bigint)
       END AS z_vs_half_x1e6
FROM var
""",
    doc="DeLong (1988) standard error of ROC-AUC — the answer to 'is "
    "this AUC significantly above 0.5?', which a point AUC "
    "(ml_roc_auc / q_mannwhitney_u) cannot give. Tie-aware placement "
    "values kept exact by doubling (q_mannwhitney_u's convention): per "
    "distinct score, a = 2*neg_below + neg_ties (positive placements "
    "x2n0) and b = 2*pos_above + pos_ties; AUC = sum(cnt1*a) / "
    "(2*n1*n0) — and the internal identity sum(cnt0*b) = sum(cnt1*a) "
    "is a free cross-check (both equal 2*n1*n0*AUC). The variance "
    "components are the sample variances of the placements: S10/n1 = "
    "(n1*SS1 - A^2) / (4*n0^2 * n1^2 * (n1-1)), computed as a "
    "DOCUMENTED two-step trunc division ((T1 // 4n0^2) * 1e12 // "
    "n1^2(n1-1)) so every intermediate stays inside decimal(38,0)/"
    "HUGEINT up to billions of rows (single-division staging would "
    "overflow past ~3.4M rows; the stepwise spec is exact-identical on "
    "both engines and loses < 1 ulp of the x1e12 value). Engine-bound "
    "ceilings differ on the FIRST staged quotient (~ n1^2/4): Spark's "
    "div is IntegralDivide and returns BIGINT, so ANSI RAISES (loudly, "
    "never corrupts) once n1 exceeds ~6.07e9 positives "
    "(sqrt(4 * 2^63)), while the DuckDB HUGEINT twin carries it to "
    "~2.6e19; below that Spark ceiling the two texts are "
    "value-identical, and the decimal(38,0) aggregate itself bounds "
    "the pair at n1*n0 <= ~5e18 anyway. se_x1e6 = "
    "round(sqrt(var_x1e12)) — the Wilson convention: the input is an "
    "exact integer <= 2.5e11 < 2^53 and sqrt is IEEE-754 correctly "
    "rounded BY SPEC. Degenerate panels (n1 <= 1 or n0 <= 1) raise "
    "IDENTICALLY on both engines (the pipe_sequence_packing "
    "discipline). Scale shape: per-distinct-score pre-aggregation, a "
    "TWO-PHASE distributed prefix (q_mannwhitney_u's bucket rewrite — "
    "no global single-partition window), one 1-row reduce.",
    tags=("ml", "eval", "significance", "fixed-point", "window"),
)
def ml_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("v"),
        F.expr(
            "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
            " THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    per_v = vals.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("cnt1")
    )
    # Two-phase distributed prefix (q_mannwhitney_u's rewrite): coarse
    # value buckets -> tiny bucket-prefix window -> within-bucket windows
    # in parallel. Prefixes BOTH class counts in one pass.
    per_v = per_v.withColumn("bkt", F.expr("v div 16777216"))
    per_bucket = per_v.groupBy("bkt").agg(
        F.sum(F.expr("cnt - cnt1")).alias("b0"), F.sum("cnt1").alias("b1")
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wt = W.partitionBy()
    prefixes = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("b0").over(wb), F.lit(0)).alias("bprior0"),
        F.coalesce(F.sum("b1").over(wb), F.lit(0)).alias("bprior1"),
        F.sum("b1").over(wt).alias("n1"),
        F.sum("b0").over(wt).alias("n0"),
    )
    wv = W.partitionBy("bkt").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    pl = (
        per_v.join(F.broadcast(prefixes), "bkt")
        .select(
            "cnt1",
            F.expr("cnt - cnt1").alias("cnt0"),
            (
                F.coalesce(F.sum(F.expr("cnt - cnt1")).over(wv), F.lit(0))
                + F.col("bprior0")
            ).alias("neg_prior"),
            (
                F.coalesce(F.sum("cnt1").over(wv), F.lit(0)) + F.col("bprior1")
            ).alias("pos_prior"),
            "n1",
            "n0",
        )
        .select(
            "cnt1",
            "cnt0",
            "n1",
            "n0",
            F.expr("2 * neg_prior + cnt0").alias("a"),
            F.expr("2 * (n1 - pos_prior - cnt1) + cnt1").alias("b"),
        )
    )
    agg = pl.agg(
        F.min("n1").cast("long").alias("n1"),
        F.min("n0").cast("long").alias("n0"),
        F.sum(F.expr("cast(cnt1 as decimal(38,0)) * a")).alias("asum"),
        F.sum(F.expr("cast(cnt0 as decimal(38,0)) * b")).alias("bsum"),
        F.sum(F.expr("cast(cnt1 as decimal(38,0)) * a * a")).alias("ss1"),
        F.sum(F.expr("cast(cnt0 as decimal(38,0)) * b * b")).alias("ss0"),
    )
    chk = agg.select(
        F.when(
            (F.col("n1") <= 1) | (F.col("n0") <= 1),
            F.raise_error(F.lit(_DELONG_GUARD)).cast("long"),
        )
        .otherwise(F.col("n1"))
        .alias("n1"),
        "n0",
        "asum",
        "bsum",
        "ss1",
        "ss0",
    )
    var = chk.select(
        "n1",
        "n0",
        F.expr(
            "cast((asum * 1000000)"
            " div (2 * cast(n1 as decimal(38,0)) * n0) AS bigint)"
        ).alias("auc_x1e6"),
        F.expr(
            "cast((((n1 * ss1 - asum * asum)"
            " div (4 * cast(n0 as decimal(38,0)) * n0))"
            " * cast(1000000000000 as decimal(38,0)))"
            " div (cast(n1 as decimal(38,0)) * n1 * (n1 - 1)) AS bigint)"
        ).alias("var10_x1e12"),
        F.expr(
            "cast((((n0 * ss0 - bsum * bsum)"
            " div (4 * cast(n1 as decimal(38,0)) * n1))"
            " * cast(1000000000000 as decimal(38,0)))"
            " div (cast(n0 as decimal(38,0)) * n0 * (n0 - 1)) AS bigint)"
        ).alias("var01_x1e12"),
    )
    return var.select(
        "n1",
        "n0",
        "auc_x1e6",
        "var10_x1e12",
        "var01_x1e12",
        F.expr("var10_x1e12 + var01_x1e12").alias("var_x1e12"),
        F.expr(
            "cast(round(sqrt(var10_x1e12 + var01_x1e12), 0) AS bigint)"
        ).alias("se_x1e6"),
        F.expr(
            "CASE WHEN cast(round(sqrt(var10_x1e12 + var01_x1e12), 0)"
            " AS bigint) = 0 THEN cast(0 as bigint)"
            " ELSE cast(((auc_x1e6 - 500000) * cast(1000000 as bigint))"
            " div cast(round(sqrt(var10_x1e12 + var01_x1e12), 0) AS bigint)"
            " AS bigint) END"
        ).alias("z_vs_half_x1e6"),
    )


# ---------------------------------------------------------------------------
# ml_bootstrap_ci — deterministic one-pass Poisson bootstrap
# ---------------------------------------------------------------------------

_BOOT_B = 20

# Poisson(1) CDF thresholds scaled to 2^32 (md5_int's exact range):
# weight k iff t[k-1] <= h < t[k]; h >= t[8] -> 9. Python-precomputed
# literals, identical on both engines.
_POIS_T = [
    1580030169,
    3160060337,
    3950075422,
    4213413783,
    4279248374,
    4292415292,
    4294609778,
    4294923276,
    4294962463,
]


def _pois_case(h: str) -> str:
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 9 END"




@register(
    "ml_bootstrap_ci",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END AS y
  FROM orders
),
weighted AS (
  SELECT r.b, y,
         {_pois_case(SQL_MD5INT.format(x="'boot' || r.b || '_' || k"))} AS w
  FROM base CROSS JOIN range(0, {_BOOT_B}) r(b)
),
reps AS (
  SELECT b,
         cast((sum(cast(w AS bigint) * y) * 1000000)
              // greatest(sum(cast(w AS bigint)), 1) AS bigint) AS acc_x1e6
  FROM weighted GROUP BY b
),
ordered AS (
  SELECT acc_x1e6, row_number() OVER (ORDER BY acc_x1e6, b) AS rn FROM reps
),
pt AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast((sum(y)::HUGEINT * 1000000) // count(*) AS bigint)
           AS point_acc_x1e6
  FROM base
)
SELECT pt.n, pt.point_acc_x1e6,
       cast(sum(o.acc_x1e6) // {_BOOT_B} AS bigint) AS boot_mean_x1e6,
       cast(max(CASE WHEN rn = 2 THEN acc_x1e6 END) AS bigint) AS ci_lo_x1e6,
       cast(max(CASE WHEN rn = {_BOOT_B - 1} THEN acc_x1e6 END) AS bigint)
         AS ci_hi_x1e6,
       cast({_BOOT_B} AS bigint) AS n_replicas
FROM ordered o CROSS JOIN pt
GROUP BY pt.n, pt.point_acc_x1e6
""",
    doc="Deterministic Poisson bootstrap CI for a proportion — THE "
    "bootstrap that works on 100 TB: classic resampling needs n draws "
    "WITH replacement per replica (a global shuffle per replica, and "
    "un-reproducible across engines); the Poisson approximation gives "
    f"each row an independent Poisson(1) weight per replica, so all "
    f"{_BOOT_B} replicas reduce in ONE map-side-combined pass. The "
    "weights are derandomized: u = md5_int('boot' || b || '_' || key) "
    "is uniform over [0, 2^32) (the portable-hash primitive every "
    "sketch here certifies on), mapped through PYTHON-PRECOMPUTED "
    "Poisson(1) inverse-CDF thresholds embedded as literals in both "
    "engines — no runtime RNG, no transcendental, bit-identical "
    "weights everywhere. Per replica acc = (sum w*y * 1e6) // sum w; "
    "the CI is the 2nd / 19th order statistic of the 20 replica "
    "accuracies (the percentile bootstrap at B=20, a ~90% interval). "
    "Panel: sample = order, success = totalprice >= 250000. Scale "
    "shape: the explode is x20 but reduces immediately map-side to 20 "
    "groups; the order-statistic window runs on 20 rows.",
    tags=("ml", "eval", "uncertainty", "fixed-point", "sketch"),
)
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_totalprice") >= 250000, 1).otherwise(0).alias("y"),
    )
    drawn = base.withColumn(
        "b", F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)]))
    )
    h = md5_int(
        F.concat(
            F.lit("boot"),
            F.col("b").cast("string"),
            F.lit("_"),
            F.col("k").cast("string"),
        )
    )
    # build the CASE over a materialized hash column (expr strings
    # can't reference a Python Column, so attach h first)
    weighted = drawn.withColumn("__h__", h).select(
        "b", "y", F.expr(_pois_case("__h__")).alias("w")
    )
    reps = weighted.groupBy("b").agg(
        F.expr(
            "cast((sum(cast(w as bigint) * y) * 1000000)"
            " div greatest(sum(cast(w as bigint)), cast(1 as bigint))"
            " AS bigint)"
        ).alias("acc_x1e6")
    )
    ordered = reps.select(
        "acc_x1e6",
        F.row_number().over(W.orderBy("acc_x1e6", "b")).alias("rn"),
    )  # 20 rows — the unpartitioned window is constant-size by construction
    stats = ordered.agg(
        F.expr(f"cast(sum(acc_x1e6) div {_BOOT_B} AS bigint)").alias(
            "boot_mean_x1e6"
        ),
        F.expr("cast(max(CASE WHEN rn = 2 THEN acc_x1e6 END) AS bigint)").alias(
            "ci_lo_x1e6"
        ),
        F.expr(
            f"cast(max(CASE WHEN rn = {_BOOT_B - 1} THEN acc_x1e6 END)"
            " AS bigint)"
        ).alias("ci_hi_x1e6"),
    )
    pt = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "cast((cast(sum(y) as decimal(38,0)) * 1000000) div count(1)"
            " AS bigint)"
        ).alias("point_acc_x1e6"),
    )
    return (
        stats.crossJoin(F.broadcast(pt))
        .select(
            "n",
            "point_acc_x1e6",
            "boot_mean_x1e6",
            "ci_lo_x1e6",
            "ci_hi_x1e6",
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        )
    )


# ---------------------------------------------------------------------------
# dd_leakage_safe_split — cluster-aware split with zero near-dup leakage
# ---------------------------------------------------------------------------


@register(
    "dd_leakage_safe_split",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
bands AS (
  SELECT doc_id, 0 AS band_idx,
         cast(h0 AS varchar) || '_' || cast(h1 AS varchar) AS band_val FROM sig
  UNION ALL
  SELECT doc_id, 1, cast(h2 AS varchar) || '_' || cast(h3 AS varchar) FROM sig
  UNION ALL
  SELECT doc_id, 2, cast(h4 AS varchar) || '_' || cast(h5 AS varchar) FROM sig
  UNION ALL
  SELECT doc_id, 3, cast(h6 AS varchar) || '_' || cast(h7 AS varchar) FROM sig
),
small_buckets AS MATERIALIZED (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING count(*) <= 20
),
sb AS MATERIALIZED (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN small_buckets USING (band_idx, band_val)
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sb a JOIN sb b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
{sql_bounded_cc()},
comp_full AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
splits AS MATERIALIZED (
  SELECT doc_id, component,
         CASE WHEN {SQL_MD5INT.format(x="'split_' || component")} % 10 < 9
              THEN 'train' ELSE 'val' END AS split
  FROM comp_full
),
leak AS (
  SELECT cast(count(*) AS bigint) AS leaked_pairs
  FROM pairs p
  JOIN splits a ON a.doc_id = p.id_a
  JOIN splits b ON b.doc_id = p.id_b
  WHERE a.split <> b.split
)
SELECT s.split, cast(count(*) AS bigint) AS n_docs,
       cast(count(DISTINCT s.component) AS bigint) AS n_clusters,
       min(l.leaked_pairs) AS leaked_pairs
FROM splits s CROSS JOIN leak l
GROUP BY s.split
ORDER BY s.split
""",
    doc="Cluster-aware train/val split with PROVABLY zero near-duplicate "
    "leakage — the fix for the failure dd_split_leakage measures: "
    "hash-splitting documents independently (dd_hash_split) puts the "
    "two halves of a near-dup pair on opposite sides of the split, "
    "leaking eval signal into training. Here the split unit is the "
    "near-dup CLUSTER: MinHash-LSH candidate pairs (the capped, banded "
    "generator all dedup ops certify on) -> bounded-round connected "
    "components (operators/graph.py, the 25-round min-label loop; "
    "oracle = the identical bounded-round DuckDB twin) -> singleton "
    "docs are their own cluster -> the 90/10 assignment hashes the "
    "CLUSTER id (md5 % 10), so every member lands on the same side by "
    "construction. The leaked_pairs column re-checks the invariant "
    "honestly from the pair list (cross-split candidate pairs — 0 by "
    "construction, but COMPUTED, not asserted). Scale shape: pairs and "
    "CC are the certified linear-volume path; the split is a stateless "
    "hash; the audit join is |pairs| x 2 broadcast-friendly lookups. "
    "100 TB corpora split without any global structure beyond the "
    "already-certified component labels.",
    tags=("dedup", "split", "leakage", "graph", "pipeline"),
)
def dd_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.graph import connected_components
    from p6_spark.operators.text import md5_int

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = materialize(dd.lsh_candidate_pairs(sigs, max_bucket=20))
    cc = connected_components(pairs)
    comp_full = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    splits = materialize(
        comp_full.select(
            "doc_id",
            "component",
            F.when(
                md5_int(F.concat(F.lit("split_"), F.col("component").cast("string")))
                % 10
                < 9,
                F.lit("train"),
            )
            .otherwise(F.lit("val"))
            .alias("split"),
        )
    )  # feeds the rollup AND both sides of the audit join
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sbb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    leak = (
        pairs.join(sa, "id_a")
        .join(sbb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_pairs"))
    )
    return (
        splits.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_clusters", "leaked_pairs")
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# pipe_percentile_prune — per-domain bottom-quartile quality prune
# ---------------------------------------------------------------------------


@register(
    "pipe_percentile_prune",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) < 1
              THEN error('pipe_percentile_prune: empty document — the '
                         'quality score divides by the token count; '
                         'filter or repair before pruning')
              ELSE cast(len(t) AS bigint) END AS n_tok,
         (cast(len(list_distinct(t)) AS bigint) * 1000000)
           // greatest(len(t), 1) AS qs
  FROM (SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents)
),
{SQL_LANG_QUALITY_CUM}
SELECT lang,
       cast(max(nd) AS bigint) AS n_docs,
       cast(max(tok_total) AS bigint) AS tok_total,
       cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN qs END), -1)
            AS bigint) AS threshold_x1e6,
       cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_cnt END), 0)
            AS bigint) AS n_dropped,
       cast(max(nd)
            - coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_cnt END), 0)
            AS bigint) AS n_kept,
       cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_tok END), 0)
            AS bigint) AS tok_dropped
FROM cum
GROUP BY lang
ORDER BY lang
""",
    doc="Per-domain bottom-quartile quality prune — the DCLM-style "
    "percentile filter 'drop the worst X% of each domain by the "
    "quality score', applied per LANGUAGE so a low-resource domain "
    "is never starved by a global cut (the failure mode "
    "pipe_quality_budget_cut's report makes visible; this is the "
    "remediation). Score = exact distinct-token ratio x1e6 (the shared "
    "cheap proxy). Tie-groups are atomic: the threshold is the largest "
    "score whose CUMULATIVE ascending count still fits in floor(N/4) — "
    "a tie-group is dropped whole or kept whole, so the decision is a "
    "pure function of the score (deterministic under any partitioning, "
    "no tie-break lottery). threshold_x1e6 = -1 when the lowest "
    "tie-group already exceeds the budget (nothing dropped). Scale "
    "shape: per-doc scoring is one scan; the cumulative walk runs on "
    "the AGGREGATED (lang, score) table — at most 1e6+1 distinct "
    "scores per lang regardless of corpus size, so the per-lang window "
    "is bounded by construction, not by data; the report is one hash "
    "aggregate. Counts staged bigint before the x1e6 multiply (F.size "
    "is INT32 — the ADVICE r8 lesson).",
    tags=("pipeline", "curation", "quality", "fixed-point", "window"),
)
def pipe_percentile_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        docs.select("lang", tokens(F.col("text")).alias("t"))
        .select(
            "lang",
            # loud-failure guard (the pipe_sequence_packing discipline):
            # empty documents raise a NAMED error on both engines
            F.when(F.size("t") >= 1, F.size("t").cast("long"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "pipe_percentile_prune: empty document — the "
                        "quality score divides by the token count; "
                        "filter or repair before pruning"
                    )
                ).cast("long")
            )
            .alias("n_tok"),
            # bigint BEFORE the multiply: F.size is INT32 (ADVICE r8)
            F.expr("cast(size(array_distinct(t)) as bigint) * 1000000").alias(
                "_num"
            ),
        )
        .select(
            "lang",
            "n_tok",
            F.expr("_num div greatest(n_tok, cast(1 as bigint))").alias("qs"),
        )
    )
    return percentile_prune_report(scored).orderBy("lang")
