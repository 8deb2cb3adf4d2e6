"""Feature-engineering and experimentation-analysis operators: split-
gain feature ranking (the feature-selection pass before any tree
model), leakage-safe m-estimate target encoding, and CUPED variance-
adjusted experiment readouts — all in the exact cross-multiplied
integer style (decimal(38,0) / HUGEINT Gramians, trunc division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Split-gain feature importance
# ---------------------------------------------------------------------------

_FI_FEATURES = [
    ("qty", "cast(l_quantity AS bigint)"),
    ("disc_pct", "cast(round(l_discount * 100, 0) AS bigint)"),
    ("tax_pct", "cast(round(l_tax * 100, 0) AS bigint)"),
]


def _fi_sql_one(name: str, expr: str) -> str:
    return f"""
SELECT feature, threshold, gini_cost_x1e6, baseline_x1e6,
       baseline_x1e6 - gini_cost_x1e6 AS gain_x1e6
FROM (
  SELECT '{name}' AS feature, threshold, gini_cost_x1e6, baseline_x1e6,
         row_number() OVER (ORDER BY gini_cost_x1e6, threshold) AS rn
  FROM (
    SELECT v AS threshold,
           cast((pos_l::HUGEINT * (n_l - pos_l) * 1000000) // n_l
              + ((pos_tot - pos_l)::HUGEINT
                 * ((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)
                // (n_tot - n_l) AS bigint) AS gini_cost_x1e6,
           cast((pos_tot::HUGEINT * (n_tot - pos_tot) * 1000000) // n_tot
                AS bigint) AS baseline_x1e6
    FROM (
      SELECT v,
             sum(n_v) OVER (ORDER BY v) AS n_l,
             sum(pos_v) OVER (ORDER BY v) AS pos_l,
             sum(n_v) OVER () AS n_tot,
             sum(pos_v) OVER () AS pos_tot
      FROM (
        SELECT {expr} AS v, count(*) AS n_v,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos_v
        FROM lineitem GROUP BY 1
      )
    ) WHERE n_tot - n_l > 0
  )
) WHERE rn = 1"""


@register(
    "ml_feature_importance",
    oracle="\nUNION ALL\n".join(_fi_sql_one(n, e) for n, e in _FI_FEATURES)
    + "\nORDER BY feature",
    doc="Split-gain feature ranking: for each candidate feature "
    "(quantity, discount%, tax%) the best 'feature <= t' split for "
    "predicting returns, scored by the one-pass cumulative Gini cost "
    "of ml_decision_stump, plus the root-node baseline — gain = how "
    "much the feature is worth, the number a tree/GBM uses to pick its "
    "first split and a feature-selection pass uses to drop dead "
    "columns. One per-value aggregate + one cumulative window per "
    "feature; candidate thresholds never rescan the fact table.",
    tags=("ml", "feature", "window", "fixed-point"),
)
def ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = None
    for name, expr in _FI_FEATURES:
        per_v = (
            li.select(
                F.expr(expr.replace(" AS bigint", " as bigint")).alias("v"),
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
            )
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n_v"), F.sum("pos").alias("pos_v"))
        )
        wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
        wt = W.partitionBy()
        cum = per_v.select(
            "v",
            F.sum("n_v").over(wc).alias("n_l"),
            F.sum("pos_v").over(wc).alias("pos_l"),
            F.sum("n_v").over(wt).alias("n_tot"),
            F.sum("pos_v").over(wt).alias("pos_tot"),
        )
        scored = cum.filter(F.expr("n_tot - n_l > 0")).select(
            F.col("v").alias("threshold"),
            F.expr(
                "cast((cast(pos_l as decimal(38,0)) * (n_l - pos_l) * 1000000)"
                " div n_l"
                " + (cast(pos_tot - pos_l as decimal(38,0))"
                "    * ((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)"
                "   div (n_tot - n_l) as bigint)"
            ).alias("gini_cost_x1e6"),
            F.expr(
                "cast((cast(pos_tot as decimal(38,0)) * (n_tot - pos_tot)"
                " * 1000000) div n_tot as bigint)"
            ).alias("baseline_x1e6"),
        )
        best = (
            scored.withColumn(
                "rn",
                F.row_number().over(W.orderBy("gini_cost_x1e6", "threshold")),
            )
            .filter(F.col("rn") == 1)
            .select(
                F.lit(name).alias("feature"),
                "threshold",
                "gini_cost_x1e6",
                "baseline_x1e6",
                (F.col("baseline_x1e6") - F.col("gini_cost_x1e6")).alias(
                    "gain_x1e6"
                ),
            )
        )
        out = best if out is None else out.unionAll(best)
    return out.orderBy("feature")


# ---------------------------------------------------------------------------
# m-estimate target encoding
# ---------------------------------------------------------------------------


@register(
    "ml_target_encode",
    oracle="""
WITH labeled AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (SELECT cast(count(*) AS bigint) AS n_tot, cast(sum(pos) AS bigint) AS p_tot
      FROM labeled),
per AS (
  SELECT brand, cast(count(*) AS bigint) AS n, cast(sum(pos) AS bigint) AS p
  FROM labeled GROUP BY brand
)
SELECT brand, n, p,
       cast((p::HUGEINT * g.n_tot + 10 * g.p_tot) * 1000000
            // ((n + 10)::HUGEINT * g.n_tot) AS bigint) AS enc_x1e6,
       cast(g.p_tot::HUGEINT * 1000000 // g.n_tot AS bigint) AS prior_x1e6
FROM per, g
ORDER BY brand
""",
    doc="m-estimate target encoding (m=10) of part brand against the "
    "return label: enc = (pos + m*prior) / (n + m), the smoothed "
    "category-to-number feature that shrinks rare brands toward the "
    "global rate instead of memorizing them — evaluated as one exact "
    "cross-multiplied integer expression (prior = P/N never "
    "materializes as a float). One brand-keyed aggregate after a "
    "broadcast dim join; the 1-row global attaches to the encoding "
    "table, which then broadcasts back onto any training scan.",
    tags=("ml", "feature", "agg", "fixed-point"),
)
def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    labeled = li.join(
        F.broadcast(part.select("p_partkey", F.col("p_brand").alias("brand"))),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        "brand", F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos")
    )
    g = labeled.agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("pos").alias("p_tot")
    )
    per = labeled.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p")
    )
    return (
        per.crossJoin(F.broadcast(g))  # 1-row scalar attach
        .select(
            "brand",
            "n",
            "p",
            F.expr(
                "cast((cast(p as decimal(38,0)) * n_tot + 10 * p_tot) * 1000000"
                " div (cast(n + 10 as decimal(38,0)) * n_tot) as bigint)"
            ).alias("enc_x1e6"),
            F.expr(
                "cast(cast(p_tot as decimal(38,0)) * 1000000 div n_tot"
                " as bigint)"
            ).alias("prior_x1e6"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# CUPED-adjusted experiment readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT_DAY = "2024-01-15"


@register(
    "q_cuped_adjust",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         cast(sum(CASE WHEN ts < timestamp '{_CUPED_SPLIT_DAY} 00:00:00'
                  THEN cast(round(coalesce(value, 0) * 100, 0) AS bigint)
                  ELSE 0 END) AS bigint) AS x,
         cast(sum(CASE WHEN ts >= timestamp '{_CUPED_SPLIT_DAY} 00:00:00'
                  THEN cast(round(coalesce(value, 0) * 100, 0) AS bigint)
                  ELSE 0 END) AS bigint) AS y,
         ((user_id * 2654435761) % 4294967296) % 2 AS arm
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         sum(x * y)::HUGEINT AS sxy, sum(x * x)::HUGEINT AS sxx
  FROM per_user
),
theta AS (
  SELECT n, sx, (n * sxy - sx * sy) AS num, (n * sxx - sx * sx) AS den
  FROM pooled
),
arms AS (
  SELECT arm, count(*)::HUGEINT AS n_a, sum(x)::HUGEINT AS sx_a,
         sum(y)::HUGEINT AS sy_a
  FROM per_user GROUP BY arm
)
SELECT cast(a.arm AS bigint) AS arm,
       cast(a.n_a AS bigint) AS n_users,
       cast(a.sy_a * 1000000 // a.n_a AS bigint) AS mean_y_x1e6,
       cast((t.den * t.n * a.sy_a - t.num * (t.n * a.sx_a - a.n_a * t.sx))
            * 1000000 // (t.den * t.n * a.n_a) AS bigint) AS adj_mean_y_x1e6,
       cast(t.num * 1000000 // t.den AS bigint) AS theta_x1e6
FROM arms a, theta t
ORDER BY arm
""",
    doc="CUPED experiment readout: per-arm post-period means adjusted by "
    "the pre-period covariate, y_adj = y - theta*(x - mean x) with "
    "theta = cov(x,y)/var(x) — the industry-standard variance-reduction "
    "that makes small effects readable. Arms come from the SAME shipped "
    "Knuth hash q_srm_check audits; theta's numerator/denominator stay "
    "as exact HUGEINT/decimal(38,0) rationals and the adjusted mean is "
    "one cross-multiplied integer expression — no float covariance "
    "anywhere. One user rollup + a 1-row pooled Gramian; the classic "
    "'ML as associative sums' shape.",
    tags=("experiment", "stats", "fixed-point"),
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.coalesce(F.col("value"), F.lit(0)) * 100, 0).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < _CUPED_SPLIT_DAY, cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= _CUPED_SPLIT_DAY, cents).otherwise(0)).alias("y"),
    ).select(
        "x",
        "y",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296) % 2).alias("arm"),
    )
    pooled = per_user.agg(
        F.expr("cast(count(*) as decimal(38,0))").alias("n"),
        F.expr("cast(sum(x) as decimal(38,0))").alias("sx"),
        F.expr("cast(sum(y) as decimal(38,0))").alias("sy"),
        F.expr("cast(sum(x * y) as decimal(38,0))").alias("sxy"),
        F.expr("cast(sum(x * x) as decimal(38,0))").alias("sxx"),
    )
    theta = pooled.select(
        "n",
        "sx",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("den"),
    )
    arms = per_user.groupBy("arm").agg(
        F.expr("cast(count(*) as decimal(38,0))").alias("n_a"),
        F.expr("cast(sum(x) as decimal(38,0))").alias("sx_a"),
        F.expr("cast(sum(y) as decimal(38,0))").alias("sy_a"),
    )
    return (
        arms.crossJoin(F.broadcast(theta))  # 1-row scalar attach
        .select(
            F.col("arm").cast("long").alias("arm"),
            F.expr("cast(n_a as bigint)").alias("n_users"),
            F.expr("cast(sy_a * 1000000 div n_a as bigint)").alias("mean_y_x1e6"),
            F.expr(
                "cast((den * n * sy_a - num * (n * sx_a - n_a * sx)) * 1000000"
                " div (den * n * n_a) as bigint)"
            ).alias("adj_mean_y_x1e6"),
            F.expr("cast(num * 1000000 div den as bigint)").alias("theta_x1e6"),
        )
        .orderBy("arm")
    )
