"""Round-9 inference-you-can-ship operators: the guarantees and
corrections a team needs BEFORE acting on model outputs at scale —
split-conformal prediction thresholds (distribution-free coverage),
off-policy evaluation of a new policy from logged data (IPS/SNIPS),
the design effect of cluster randomization (how much an A/B's
effective sample size shrinks when you randomize by customer, not by
order), and isotonic (PAV) calibration fitted over the bounded
reliability ledger.

House conventions throughout: exact x1e6/x1e12 fixed-point with trunc
division identical on both engines, wide products staged
decimal(38,0)/HUGEINT, degenerate inputs raise identically
(raise_error / error), per-distinct-value pre-aggregation +
two-phase prefix instead of global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# ml_conformal_threshold — split-conformal quantiles + holdout coverage
# ---------------------------------------------------------------------------

# coverage levels as alpha x 100 (10% / 5% / 1% miscoverage)
_CONF_ALPHAS = [10, 5, 1]


@register(
    "ml_conformal_threshold",
    oracle=f"""
WITH scored AS (
  SELECT l_orderkey,
         abs(cast(round(l_extendedprice * 100, 0) AS bigint)
             - cast(l_quantity AS bigint) * 100000) AS score,
         l_orderkey % 2 = 0 AS is_cal
  FROM lineitem
),
per_s AS (
  SELECT score, cast(count(*) AS bigint) AS cnt
  FROM scored WHERE is_cal GROUP BY score
),
cum AS (
  SELECT score,
         sum(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_cnt,
         sum(cnt) OVER () AS n_cal
  FROM per_s
),
alphas AS (
  SELECT * FROM (VALUES {", ".join(f"({a})" for a in _CONF_ALPHAS)})
  AS a(alpha_x100)
),
ks AS (
  SELECT alpha_x100, n_cal,
         -- k = ceil((n_cal + 1) * (1 - alpha)) as pure integers:
         -- ceil(x/y) = (x + y - 1) // y
         ((n_cal + 1) * (100 - alpha_x100) + 99) // 100 AS k
  FROM alphas CROSS JOIN (SELECT min(n_cal) AS n_cal FROM cum)
),
chk AS (
  -- k IS NULL / n_cal IS NULL means the calibration split is EMPTY
  -- (min over zero rows) — without the IS NULL arms the CASE is
  -- NULL-skipped and NULL thresholds flow through silently.
  SELECT alpha_x100, n_cal,
         CASE WHEN k IS NULL OR n_cal IS NULL OR k > n_cal
              THEN error('ml_conformal_threshold: calibration set too '
                         'small for the requested coverage (k > n_cal)')
              ELSE k END AS k
  FROM ks
),
thr AS (
  SELECT alpha_x100, ks.n_cal, k,
         min(CASE WHEN cum_cnt >= k THEN score END) AS threshold
  FROM chk ks CROSS JOIN cum
  GROUP BY 1, 2, 3
),
hold AS (SELECT score FROM scored WHERE NOT is_cal)
SELECT t.alpha_x100, cast(t.n_cal AS bigint) AS n_cal,
       cast(t.k AS bigint) AS k, t.threshold,
       cast(count(*) AS bigint) AS n_holdout,
       cast((count(*) FILTER (WHERE h.score <= t.threshold) * 1000000)
            // count(*) AS bigint) AS coverage_x1e6,
       cast((100 - t.alpha_x100) * 10000 AS bigint) AS target_x1e6
FROM thr t CROSS JOIN hold h
GROUP BY 1, 2, 3, 4
ORDER BY alpha_x100 DESC
""",
    doc="Split-conformal prediction thresholds — the distribution-free "
    "coverage guarantee: for each miscoverage level alpha, the "
    "threshold is the k-th smallest calibration nonconformity score "
    "with k = ceil((n_cal + 1)(1 - alpha)) (pure integer ceiling "
    "division), and any holdout prediction whose score is <= that "
    "threshold is covered with probability >= 1 - alpha BY THEOREM, no "
    "matter how wrong the model is. Panel: model = 'price is $1000 per "
    "unit' (deliberately crude — conformal wraps ANY model), score = "
    "absolute error in exact cents, calibration = even orderkeys. The "
    "report pairs each threshold with its EMPIRICAL holdout coverage "
    "(x1e6) next to the x1e6 target, so the guarantee is checked, not "
    "asserted. k > n_cal (calibration set too small for the requested "
    "level) raises identically in both engines, and so does an EMPTY "
    "calibration split (NULL k/n_cal is caught explicitly — a bare "
    "k > n_cal comparison would be NULL-skipped). Scale shape: the order "
    "statistic comes from per-distinct-score pre-aggregation + a "
    "cumulative walk on that bounded table (the ml_auc_delong/"
    "q_mannwhitney_u family rewrite; Spark side buckets the prefix "
    "two-phase) — never a global sort of raw scores; coverage is one "
    "broadcast (3-row) theta-join + hash aggregate.",
    tags=("ml", "eval", "uncertainty", "fixed-point", "window"),
)
def ml_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.select(
        F.expr(
            "abs(cast(round(l_extendedprice * 100, 0) as bigint)"
            " - cast(l_quantity as bigint) * 100000)"
        ).alias("score"),
        (F.col("l_orderkey") % 2 == 0).alias("is_cal"),
    )
    per_s = (
        scored.filter("is_cal")
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bkt", F.expr("score div 16777216"))
    )
    per_bucket = per_s.groupBy("bkt").agg(F.sum("cnt").alias("bcnt"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    prefixes = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("bcnt").over(wb), F.lit(0)).alias("bprior"),
        F.sum("bcnt").over(W.partitionBy()).alias("n_cal"),
    )
    wv = W.partitionBy("bkt").orderBy("score").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = per_s.join(F.broadcast(prefixes), "bkt").select(
        "score",
        (F.sum("cnt").over(wv) + F.col("bprior")).alias("cum_cnt"),
        "n_cal",
    )
    alphas = spark.createDataFrame(
        [(a,) for a in _CONF_ALPHAS], "alpha_x100 int"
    )
    n_cal = cum.agg(F.min("n_cal").alias("n_cal"))
    ks = (
        alphas.crossJoin(F.broadcast(n_cal))
        .select(
            "alpha_x100",
            "n_cal",
            F.expr(
                "((n_cal + 1) * (100 - alpha_x100) + 99) div 100"
            ).alias("k"),
        )
        .select(
            "alpha_x100",
            "n_cal",
            F.when(
                F.col("k").isNull()
                | F.col("n_cal").isNull()
                | (F.col("k") > F.col("n_cal")),
                F.raise_error(
                    F.lit(
                        "ml_conformal_threshold: calibration set too "
                        "small for the requested coverage (k > n_cal)"
                    )
                ).cast("long"),
            )
            .otherwise(F.col("k"))
            .alias("k"),
        )
    )
    # Sentinel row keeps the cum side structurally non-empty so the
    # k/n_cal guard in `ks` is ALWAYS evaluated: with an EMPTY
    # calibration split AQE's empty-relation propagation would prune
    # this join before the raising projection ever materializes (the
    # DuckDB twin evaluates its CASE either way). cum_cnt = 0 never
    # reaches any k >= 1, so thresholds are unchanged on healthy data.
    sentinel = spark.range(1).select(
        F.lit(None).cast("long").alias("score"),
        F.lit(0).cast("long").alias("cum_cnt"),
    )
    thr = (
        F.broadcast(ks)
        .crossJoin(cum.drop("n_cal").unionByName(sentinel))
        .groupBy("alpha_x100", "n_cal", "k")
        .agg(
            F.min(
                F.when(F.col("cum_cnt") >= F.col("k"), F.col("score"))
            ).alias("threshold")
        )
    )
    hold = scored.filter(~F.col("is_cal")).select("score")
    return (
        hold.crossJoin(F.broadcast(thr))
        .groupBy("alpha_x100", "n_cal", "k", "threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holdout"),
            F.expr(
                "cast((sum(CASE WHEN score <= threshold THEN 1 ELSE 0 END)"
                " * cast(1000000 as bigint)) div count(1) AS bigint)"
            ).alias("coverage_x1e6"),
        )
        .withColumn(
            "target_x1e6",
            F.expr("cast((100 - alpha_x100) * 10000 AS bigint)"),
        )
        .orderBy(F.desc("alpha_x100"))
    )


# ---------------------------------------------------------------------------
# ml_ips_offpolicy — IPS / SNIPS off-policy evaluation from logged data
# ---------------------------------------------------------------------------


@register(
    "ml_ips_offpolicy",
    oracle="""
WITH logged AS (
  SELECT user_id % 10 AS ctx, event_type AS action,
         CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r
  FROM events
),
cells AS (
  SELECT ctx, action, cast(count(*) AS bigint) AS n_xa,
         cast(sum(r) AS bigint) AS r_xa
  FROM logged GROUP BY 1, 2
),
ctxs AS (
  SELECT ctx, cast(sum(n_xa) AS bigint) AS n_x,
         cast(count(*) AS bigint) AS n_actions
  FROM cells GROUP BY ctx
),
weighted AS (
  SELECT c.ctx, c.action, c.n_xa, c.r_xa,
         (x.n_x * 1000000) // (x.n_actions * c.n_xa) AS w_x1e6
  FROM cells c JOIN ctxs x USING (ctx)
),
t AS (
  SELECT cast(sum(n_xa) AS bigint) AS n,
         cast(sum(r_xa) AS bigint) AS n_rewarded,
         cast(sum(r_xa::HUGEINT * w_x1e6) AS bigint) AS sum_rw,
         cast(sum(n_xa::HUGEINT * w_x1e6) AS bigint) AS sum_w
  FROM weighted
)
SELECT n, n_rewarded,
       cast((n_rewarded * 1000000) // n AS bigint) AS logging_value_x1e6,
       cast(sum_rw // n AS bigint) AS ips_x1e6,
       cast((sum_rw::HUGEINT * 1000000) // sum_w AS bigint) AS snips_x1e6
FROM t
""",
    doc="Off-policy evaluation by inverse propensity scoring — 'what "
    "would a UNIFORM action policy have earned?' answered from logged "
    "data alone, the counterfactual arithmetic behind every bandit / "
    "RLHF policy comparison that cannot afford an online test. Logged "
    "panel: context = user bucket, action = event type, reward = "
    "value >= 50. Empirical logging propensity p_log(a|x) = n_xa/n_x; "
    "target = uniform over the context's observed actions (1/|A_x|); "
    "per-(ctx, action) cell weight w = p_tgt/p_log = n_x / (|A_x| * "
    "n_xa) as an exact x1e6 trunc division — the estimator aggregates "
    "over CELLS, not rows (rewards within a cell share the weight), so "
    "the whole computation is one |ctx| x |actions| table. IPS = "
    "sum(r * w)/n (unbiased, high variance); SNIPS = sum(r * w)/"
    "sum(w) (self-normalized — trades a vanishing bias for bounded "
    "variance; the sum_w it divides by is reported). The SNIPS "
    "denominator cannot be zero: at least one cell has n_xa <= "
    "n_x / n_actions (the minimum-mass cell), so its weight is >= 1e6 "
    "before truncation — sum_w >= 1e6 on ANY nonempty log, proven in "
    "tests/test_guards_r9b.py by brute force over random panels; a "
    "loud guard here would be dead code. Individual concentrated cells "
    "CAN truncate to zero in > 1e6-action spaces (underweighting them; "
    "the x1e6 scale is the documented resolution limit). The logged "
    "policy's own mean reward sits alongside for the lift read. Scale "
    "shape: ONE hash aggregate to the 50-cell table, broadcast "
    "context totals, 1-row arithmetic — 100 TB of logs reduce "
    "map-side.",
    tags=("ml", "eval", "counterfactual", "fixed-point"),
)
def ml_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    logged = ev.select(
        (F.col("user_id") % 10).alias("ctx"),
        F.col("event_type").alias("action"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("r"),
    )
    cells = logged.groupBy("ctx", "action").agg(
        F.count(F.lit(1)).cast("long").alias("n_xa"),
        F.sum("r").cast("long").alias("r_xa"),
    )
    ctxs = cells.groupBy("ctx").agg(
        F.sum("n_xa").cast("long").alias("n_x"),
        F.count(F.lit(1)).cast("long").alias("n_actions"),
    )
    weighted = cells.join(F.broadcast(ctxs), "ctx").select(
        "n_xa",
        "r_xa",
        F.expr("(n_x * 1000000) div (n_actions * n_xa)").alias("w_x1e6"),
    )
    t = weighted.agg(
        F.sum("n_xa").cast("long").alias("n"),
        F.sum("r_xa").cast("long").alias("n_rewarded"),
        F.sum(F.expr("cast(r_xa as decimal(38,0)) * w_x1e6"))
        .cast("long")
        .alias("sum_rw"),
        F.sum(F.expr("cast(n_xa as decimal(38,0)) * w_x1e6"))
        .cast("long")
        .alias("sum_w"),
    )
    return t.select(
        "n",
        "n_rewarded",
        F.expr(
            "cast((n_rewarded * cast(1000000 as bigint)) div n AS bigint)"
        ).alias("logging_value_x1e6"),
        F.expr("cast(sum_rw div n AS bigint)").alias("ips_x1e6"),
        F.expr(
            "cast((cast(sum_rw as decimal(38,0)) * 1000000) div sum_w"
            " AS bigint)"
        ).alias("snips_x1e6"),
    )


# ---------------------------------------------------------------------------
# ml_design_effect — intraclass correlation + cluster-randomization DEFF
# ---------------------------------------------------------------------------

_DEFF_GUARD = "ml_design_effect: need >= 2 clusters and n > k"

# Shared CTE chain (cluster sums -> guarded totals -> mean squares ->
# ICC -> deff): ml_design_effect reports it; ml_mde_power consumes it.
# One definition so the two cannot drift.
_SQL_DEFF_CTES = f"""obs AS (
  SELECT o_custkey AS cluster,
         cast(round(o_totalprice * 100, 0) AS bigint) AS y
  FROM orders
),
per_c AS (
  SELECT cluster, cast(count(*) AS bigint) AS n_j,
         cast(sum(y) AS bigint) AS s_j,
         cast(sum(y::HUGEINT * y) AS HUGEINT) AS ss_j
  FROM obs GROUP BY cluster
),
tot AS (
  SELECT cast(count(*) AS bigint) AS k,
         cast(sum(n_j) AS bigint) AS n,
         cast(sum(s_j) AS bigint) AS s,
         sum(ss_j) AS ssq,
         sum((s_j::HUGEINT * s_j) // n_j) AS ssb_part,
         cast(sum(n_j * n_j) AS bigint) AS sum_nj2
  FROM per_c
),
chk AS (
  SELECT CASE WHEN k < 2 OR n <= k THEN error('{_DEFF_GUARD}')
              ELSE k END AS k,
         n, s, ssq, ssb_part, sum_nj2
  FROM tot
),
ms AS (
  -- mean squares only: every quotient lands on a size-INDEPENDENT
  -- mean-square scale (fits bigint at any N); raw sums stay HUGEINT
  SELECT k, n,
         (n::HUGEINT * ssb_part - s::HUGEINT * s)
           // ((k - 1)::HUGEINT * n) AS msb,
         (ssq - ssb_part) // (n - k) AS msw,
         ((n - sum_nj2 // n) * 1000000) // (k - 1) AS n0_x1e6,
         (n * 1000000) // k AS mbar_x1e6
  FROM chk
),
icc AS (
  SELECT k, n, cast(msb AS bigint) AS msb, cast(msw AS bigint) AS msw,
         cast(n0_x1e6 AS bigint) AS n0_x1e6, cast(mbar_x1e6 AS bigint)
           AS mbar_x1e6,
         cast(((msb - msw)::HUGEINT * 1000000000000)
              // (msb::HUGEINT * 1000000
                  + (n0_x1e6 - 1000000)::HUGEINT * msw)
              AS bigint) AS icc_x1e6
  FROM ms
),
deff AS (
  SELECT k, n, msb, msw, n0_x1e6, mbar_x1e6, icc_x1e6,
         cast(1000000
              + ((mbar_x1e6 - 1000000)::HUGEINT * icc_x1e6) // 1000000
              AS bigint) AS deff_x1e6
  FROM icc
)"""


@register(
    "ml_design_effect",
    oracle=f"""
WITH {_SQL_DEFF_CTES}
SELECT * FROM deff
""",
    doc="Intraclass correlation + design effect for cluster-randomized "
    "experiments — the correction every A/B that randomizes by "
    "CUSTOMER but measures by ORDER must apply before quoting a "
    "p-value: observations inside a cluster are correlated, so the "
    "effective sample size shrinks by DEFF = 1 + (m_bar - 1) * ICC "
    "(Kish). Panel: cluster = customer, y = order total in exact "
    "cents. One-way ANOVA estimator, all integer: per-cluster "
    "(n_j, s_j, sum y^2), between-cluster part as the DOCUMENTED "
    "trunc division s_j^2 // n_j summed in HUGEINT/decimal, and MSB = "
    "(n * ssb_part - s^2) // ((k-1) * n) so every quotient lands on "
    "the size-INDEPENDENT mean-square scale — Spark's div returns "
    "BIGINT, so a quotient that grows with N (the naive s^2/n grand "
    "term) would overflow exactly where the data gets big; this "
    "formulation holds to decimal(38,0)'s ~1e38 on the raw sums. "
    "MSW one trunc division, the unbalanced-design n0 = "
    "(n - sum n_j^2 / n)/(k - 1) as x1e6, ICC = (MSB - MSW)/(MSB + "
    "(n0 - 1) MSW) cross-multiplied into one x1e6 trunc division "
    "(negative ICC — clusters LESS similar than chance — truncates "
    "identically on both engines). Degenerate panels (k < 2 or "
    "n <= k) raise identically. Scale shape: one hash aggregate per "
    "cluster, one 1-row reduce — no window, no join; 100 TB of "
    "observations with billions of clusters reduce map-side "
    "(decimal-staged sums hold to ~1e38).",
    tags=("ml", "eval", "experiment", "fixed-point"),
)
def ml_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deff = _deff_chain(spark, sf_dir)
    return deff


def _deff_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(chk, deff): the guarded ANOVA totals and the final one-row deff
    report — shared by ml_design_effect (reports deff) and ml_mde_power
    (consumes both), mirroring the shared _SQL_DEFF_CTES."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_custkey").alias("cluster"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("y"),
    )
    per_c = obs.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_j"),
        F.sum("y").cast("long").alias("s_j"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("ss_j"),
    )
    tot = per_c.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_j").cast("long").alias("n"),
        F.sum("s_j").cast("long").alias("s"),
        F.sum("ss_j").alias("ssq"),
        # inner trunc div fits bigint per cluster (bounded cluster mass);
        # the SUM re-stages decimal — it crossed int64 at sf0.01 already
        F.sum(
            F.expr(
                "cast((cast(s_j as decimal(38,0)) * s_j) div n_j"
                " as decimal(38,0))"
            )
        ).alias("ssb_part"),
        F.sum(F.expr("n_j * n_j")).cast("long").alias("sum_nj2"),
    )
    chk = tot.select(
        F.when(
            (F.col("k") < 2) | (F.col("n") <= F.col("k")),
            F.raise_error(F.lit(_DEFF_GUARD)).cast("long"),
        )
        .otherwise(F.col("k"))
        .alias("k"),
        "n",
        "s",
        "ssq",
        "ssb_part",
        "sum_nj2",
    )
    # mean squares only: Spark `div` returns BIGINT, so every quotient
    # must land on the size-independent mean-square scale — never divide
    # a grand sum-of-squares by a row count expecting a huge quotient
    ms = chk.select(
        "k",
        "n",
        F.expr(
            "(n * ssb_part - cast(s as decimal(38,0)) * s)"
            " div (cast(k - 1 as decimal(38,0)) * n)"
        ).alias("msb"),
        F.expr("(ssq - ssb_part) div (n - k)").alias("msw"),
        F.expr("((n - sum_nj2 div n) * cast(1000000 as bigint)) div (k - 1)").alias(
            "n0_x1e6"
        ),
        F.expr("(n * cast(1000000 as bigint)) div k").alias("mbar_x1e6"),
    )
    icc = ms.select(
        "k",
        "n",
        F.col("msb").cast("long").alias("msb"),
        F.col("msw").cast("long").alias("msw"),
        F.col("n0_x1e6").cast("long").alias("n0_x1e6"),
        F.col("mbar_x1e6").cast("long").alias("mbar_x1e6"),
        F.expr(
            "cast((cast(msb - msw as decimal(38,0)) * 1000000000000)"
            " div (cast(msb as decimal(38,0)) * 1000000"
            "      + cast(n0_x1e6 - 1000000 as decimal(38,0)) * msw)"
            " AS bigint)"
        ).alias("icc_x1e6"),
    )
    deff = icc.select(
        "k",
        "n",
        "msb",
        "msw",
        "n0_x1e6",
        "mbar_x1e6",
        "icc_x1e6",
        F.expr(
            "cast(1000000 + (cast(mbar_x1e6 - 1000000 as decimal(38,0))"
            " * icc_x1e6) div 1000000 AS bigint)"
        ).alias("deff_x1e6"),
    )
    return chk, deff


# ---------------------------------------------------------------------------
# ml_mde_power — minimum detectable effect for the next experiment
# ---------------------------------------------------------------------------

# z quantiles as x1e6 literals (Python-precomputed, embedded identically
# in both engines — the nDCG-weights convention): two-sided alpha = 5%,
# and power 80% / 90%.
_Z_ALPHA_X1E6 = 1_959_964
_POWERS = [(80, 841_621), (90, 1_281_552)]


@register(
    "ml_mde_power",
    oracle=f"""
WITH {_SQL_DEFF_CTES},
stats AS (
  SELECT cast((n::HUGEINT * ssq - s::HUGEINT * s)
              // (n::HUGEINT * (n - 1)) AS bigint) AS var_c2,
         cast(n // 2 AS bigint) AS n_arm,
         cast(s // n AS bigint) AS mean_cents
  FROM chk
),
powers AS (
  SELECT * FROM (VALUES {", ".join(f"({p}, {z})" for p, z in _POWERS)})
  AS p(power_x100, z_power_x1e6)
),
args AS (
  SELECT power_x100, z_power_x1e6, n_arm, mean_cents, var_c2, d.deff_x1e6,
         (2 * var_c2) // n_arm AS arg_srs,
         cast((2 * var_c2::HUGEINT * d.deff_x1e6) // (n_arm * 1000000)
              AS bigint) AS arg_deff
  FROM powers CROSS JOIN stats CROSS JOIN deff d
),
m AS (
  SELECT power_x100, n_arm, mean_cents, var_c2, deff_x1e6,
         cast(round((({_Z_ALPHA_X1E6} + z_power_x1e6) / 1000000.0)
                    * sqrt(arg_srs), 0) AS bigint) AS mde_cents,
         cast(round((({_Z_ALPHA_X1E6} + z_power_x1e6) / 1000000.0)
                    * sqrt(arg_deff), 0) AS bigint) AS mde_deff_cents
  FROM args
)
SELECT power_x100, n_arm, mean_cents, var_c2, deff_x1e6, mde_cents,
       mde_deff_cents,
       cast((mde_cents * 1000000) // mean_cents AS bigint) AS mde_rel_x1e6,
       cast((mde_deff_cents * 1000000) // mean_cents AS bigint)
         AS mde_deff_rel_x1e6
FROM m
ORDER BY power_x100
""",
    doc="Minimum detectable effect for the next experiment — the "
    "question a team asks BEFORE running an A/B ('what lift could we "
    "even see at this traffic?'), answered from the current data's own "
    "variance: MDE = (z_alpha/2 + z_power) * sqrt(2 s^2 / n_arm) for a "
    "two-arm test splitting today's volume, at 80% and 90% power, "
    "alpha 5% two-sided. The z quantiles are PYTHON-PRECOMPUTED x1e6 "
    "literals embedded identically in both engines (the nDCG-weights "
    "convention — no runtime inverse-normal anywhere); the variance is "
    "the exact integer sample variance on the mean-square scale "
    "((n*ssq - s^2) // (n(n-1)), the ml_design_effect overflow "
    "lesson); the sqrt arguments are exact integers < 2^53 into "
    "IEEE-correctly-rounded sqrt (the Wilson convention). Reported "
    "twice: simple random assignment, and DEFF-inflated for CLUSTER "
    "randomization — consuming the SAME deff CTE chain as "
    "ml_design_effect (one definition, cannot drift), which is the "
    "honest number when you randomize by customer. Relative MDE "
    "(vs the mean, x1e6) is the headline a planning doc quotes. Scale "
    "shape: everything reduces in the deff chain's per-cluster + 1-row "
    "aggregates; the MDE arithmetic is 2-row constant work.",
    tags=("ml", "eval", "experiment", "fixed-point"),
)
def ml_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    chk, deff = _deff_chain(spark, sf_dir)
    stats = chk.select(
        F.expr(
            "cast((n * ssq - cast(s as decimal(38,0)) * s)"
            " div (cast(n as decimal(38,0)) * (n - 1)) AS bigint)"
        ).alias("var_c2"),
        F.expr("cast(n div 2 AS bigint)").alias("n_arm"),
        F.expr("cast(s div n AS bigint)").alias("mean_cents"),
    )
    powers = spark.createDataFrame(
        _POWERS, "power_x100 int, z_power_x1e6 long"
    )
    args = (
        F.broadcast(powers)
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(deff.select("deff_x1e6")))
        .select(
            "power_x100",
            "z_power_x1e6",
            "n_arm",
            "mean_cents",
            "var_c2",
            "deff_x1e6",
            F.expr("(2 * var_c2) div n_arm").alias("arg_srs"),
            F.expr(
                "cast((2 * cast(var_c2 as decimal(38,0)) * deff_x1e6)"
                " div (n_arm * cast(1000000 as bigint)) AS bigint)"
            ).alias("arg_deff"),
        )
    )
    m = args.select(
        "power_x100",
        "n_arm",
        "mean_cents",
        "var_c2",
        "deff_x1e6",
        F.expr(
            f"cast(round((({_Z_ALPHA_X1E6} + z_power_x1e6) / 1000000.0)"
            " * sqrt(arg_srs), 0) AS bigint)"
        ).alias("mde_cents"),
        F.expr(
            f"cast(round((({_Z_ALPHA_X1E6} + z_power_x1e6) / 1000000.0)"
            " * sqrt(arg_deff), 0) AS bigint)"
        ).alias("mde_deff_cents"),
    )
    return m.select(
        "power_x100",
        "n_arm",
        "mean_cents",
        "var_c2",
        "deff_x1e6",
        "mde_cents",
        "mde_deff_cents",
        F.expr(
            "cast((mde_cents * cast(1000000 as bigint)) div mean_cents"
            " AS bigint)"
        ).alias("mde_rel_x1e6"),
        F.expr(
            "cast((mde_deff_cents * cast(1000000 as bigint)) div mean_cents"
            " AS bigint)"
        ).alias("mde_deff_rel_x1e6"),
    ).orderBy("power_x100")


# ---------------------------------------------------------------------------
# ml_tost_equivalence — two one-sided tests: "is it NO WORSE?"
# ---------------------------------------------------------------------------

_TOST_GUARD = "ml_tost_equivalence: need >= 2 samples per arm"
_TOST_SE2_GUARD = "ml_tost_equivalence: zero-variance arms (se2 = 0)"
_Z_ONESIDED_X1E6 = 1_644_854  # z_{0.95}, Python-precomputed literal


@register(
    "ml_tost_equivalence",
    oracle=f"""
WITH vals AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
         cast(round(value * 1000000, 0) AS bigint) AS v
  FROM events WHERE event_type IN ('click', 'purchase')
),
g AS (
  SELECT is_a, cast(count(*) AS bigint) AS n, cast(sum(v) AS bigint) AS s,
         sum(v::HUGEINT * v) AS ssq
  FROM vals GROUP BY is_a
),
w AS (
  SELECT max(CASE WHEN is_a = 1 THEN n END) AS n_a,
         max(CASE WHEN is_a = 1 THEN s END) AS s_a,
         max(CASE WHEN is_a = 1 THEN ssq END) AS ssq_a,
         max(CASE WHEN is_a = 0 THEN n END) AS n_b,
         max(CASE WHEN is_a = 0 THEN s END) AS s_b,
         max(CASE WHEN is_a = 0 THEN ssq END) AS ssq_b
  FROM g
),
chk2 AS (
  SELECT CASE WHEN n_a IS NULL OR n_b IS NULL OR n_a < 2 OR n_b < 2
              THEN error('{_TOST_GUARD}')
              ELSE n_a END AS n_a,
         s_a, ssq_a, n_b, s_b, ssq_b
  FROM w
),
stats AS (
  SELECT n_a, n_b,
         cast(s_a // n_a AS bigint) AS mean_a_x1e6,
         cast(s_b // n_b AS bigint) AS mean_b_x1e6,
         cast((n_a::HUGEINT * ssq_a - s_a::HUGEINT * s_a)
              // (n_a::HUGEINT * (n_a - 1)) AS bigint) AS var_a,
         cast((n_b::HUGEINT * ssq_b - s_b::HUGEINT * s_b)
              // (n_b::HUGEINT * (n_b - 1)) AS bigint) AS var_b,
         cast((s_a + s_b) // (n_a + n_b) AS bigint) AS pooled_mean_x1e6
  FROM chk2
),
z AS (
  SELECT n_a, n_b, mean_a_x1e6, mean_b_x1e6,
         (pooled_mean_x1e6 * 5) // 100 AS delta_x1e6,
         var_a // n_a + var_b // n_b AS se2
  FROM stats
),
chk3 AS (
  SELECT n_a, n_b, mean_a_x1e6, mean_b_x1e6, delta_x1e6,
         CASE WHEN se2 = 0 THEN error('{_TOST_SE2_GUARD}')
              ELSE se2 END AS se2
  FROM z
)
SELECT n_a, n_b, mean_a_x1e6, mean_b_x1e6,
       cast(delta_x1e6 AS bigint) AS delta_x1e6,
       cast(se2 AS bigint) AS se2,
       cast(round((mean_a_x1e6 - mean_b_x1e6 + delta_x1e6) * 1000000.0
                  / sqrt(se2), 0) AS bigint) AS z_lower_x1e6,
       cast(round((mean_a_x1e6 - mean_b_x1e6 - delta_x1e6) * 1000000.0
                  / sqrt(se2), 0) AS bigint) AS z_upper_x1e6,
       CASE WHEN round((mean_a_x1e6 - mean_b_x1e6 + delta_x1e6) * 1000000.0
                       / sqrt(se2), 0) >= {_Z_ONESIDED_X1E6}
             AND round((mean_a_x1e6 - mean_b_x1e6 - delta_x1e6) * 1000000.0
                       / sqrt(se2), 0) <= -{_Z_ONESIDED_X1E6}
            THEN 'equivalent' ELSE 'not_equivalent' END AS verdict
FROM chk3
""",
    doc="TOST equivalence test — the ship/no-ship question a "
    "significance test cannot answer: 'is the new variant NO WORSE "
    "than the old within a 5%-of-mean margin?' (absence of evidence "
    "of a difference is NOT evidence of equivalence; TOST is the "
    "correct frame). Two one-sided Welch z tests against the +-delta "
    "margin: equivalent iff the lower z clears +z_0.95 AND the upper "
    "clears -z_0.95 — the critical value a PYTHON-PRECOMPUTED x1e6 "
    "literal in both engines (no runtime inverse-normal). Panel: "
    "click vs purchase event values, margin = 5% of the pooled mean. "
    "Exactness: per-arm (n, sum, sum-of-squares) reduce as "
    "HUGEINT/decimal; means and the margin are x1e6 trunc divisions; "
    "variances land on the mean-square scale ((n*ssq - s^2) // "
    "(n(n-1)), the ml_design_effect formulation); se^2 = var_a/n_a + "
    "var_b/n_b is an exact integer < 2^53 into IEEE sqrt, and the z "
    "scores are one correctly-rounded float division each, identical "
    "text both engines. Arms with < 2 samples raise identically; so do "
    "zero-variance panels (se2 = 0 would otherwise be an "
    "engine-specific float division by zero). "
    "Scale shape: ONE map-side-combined aggregate to two rows, then "
    "1-row arithmetic — 100 TB of metric rows reduce in a single "
    "pass.",
    tags=("ml", "eval", "experiment", "fixed-point"),
)
def ml_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.expr("cast(round(value * 1000000, 0) as bigint)").alias("v"),
    )
    g = vals.groupBy("is_a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.expr("cast(v as decimal(38,0)) * v")).alias("ssq"),
    )
    w = g.agg(
        F.max(F.when(F.col("is_a") == 1, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("is_a") == 1, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("is_a") == 1, F.col("ssq"))).alias("ssq_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("is_a") == 0, F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("is_a") == 0, F.col("ssq"))).alias("ssq_b"),
    )
    chk2 = w.select(
        F.when(
            F.col("n_a").isNull()
            | F.col("n_b").isNull()
            | (F.col("n_a") < 2)
            | (F.col("n_b") < 2),
            F.raise_error(F.lit(_TOST_GUARD)).cast("long"),
        )
        .otherwise(F.col("n_a"))
        .alias("n_a"),
        "s_a",
        "ssq_a",
        "n_b",
        "s_b",
        "ssq_b",
    )
    stats = chk2.select(
        "n_a",
        "n_b",
        F.expr("cast(s_a div n_a AS bigint)").alias("mean_a_x1e6"),
        F.expr("cast(s_b div n_b AS bigint)").alias("mean_b_x1e6"),
        F.expr(
            "cast((n_a * ssq_a - cast(s_a as decimal(38,0)) * s_a)"
            " div (cast(n_a as decimal(38,0)) * (n_a - 1)) AS bigint)"
        ).alias("var_a"),
        F.expr(
            "cast((n_b * ssq_b - cast(s_b as decimal(38,0)) * s_b)"
            " div (cast(n_b as decimal(38,0)) * (n_b - 1)) AS bigint)"
        ).alias("var_b"),
        F.expr("cast((s_a + s_b) div (n_a + n_b) AS bigint)").alias(
            "pooled_mean_x1e6"
        ),
    )
    z = stats.select(
        "n_a",
        "n_b",
        "mean_a_x1e6",
        "mean_b_x1e6",
        F.expr("(pooled_mean_x1e6 * 5) div 100").alias("delta_x1e6"),
        F.expr("var_a div n_a + var_b div n_b").alias("se2"),
    )
    z = z.select(
        "n_a",
        "n_b",
        "mean_a_x1e6",
        "mean_b_x1e6",
        "delta_x1e6",
        F.when(
            F.col("se2") == 0,
            F.raise_error(F.lit(_TOST_SE2_GUARD)).cast("long"),
        )
        .otherwise(F.col("se2"))
        .alias("se2"),
    )
    return z.select(
        "n_a",
        "n_b",
        "mean_a_x1e6",
        "mean_b_x1e6",
        F.col("delta_x1e6").cast("long").alias("delta_x1e6"),
        F.col("se2").cast("long").alias("se2"),
        F.expr(
            "cast(round((mean_a_x1e6 - mean_b_x1e6 + delta_x1e6) * 1000000.0"
            " / sqrt(se2), 0) AS bigint)"
        ).alias("z_lower_x1e6"),
        F.expr(
            "cast(round((mean_a_x1e6 - mean_b_x1e6 - delta_x1e6) * 1000000.0"
            " / sqrt(se2), 0) AS bigint)"
        ).alias("z_upper_x1e6"),
        F.expr(
            f"CASE WHEN round((mean_a_x1e6 - mean_b_x1e6 + delta_x1e6)"
            f" * 1000000.0 / sqrt(se2), 0) >= {_Z_ONESIDED_X1E6}"
            f" AND round((mean_a_x1e6 - mean_b_x1e6 - delta_x1e6)"
            f" * 1000000.0 / sqrt(se2), 0) <= -{_Z_ONESIDED_X1E6}"
            " THEN 'equivalent' ELSE 'not_equivalent' END"
        ).alias("verdict"),
    )


# ---------------------------------------------------------------------------
# ml_isotonic_calibration — PAV fit over the bounded reliability ledger
# ---------------------------------------------------------------------------


@register(
    "ml_isotonic_calibration",
    oracle="""
WITH scored AS (
  SELECT least(1000000, greatest(0, cast(l_quantity AS bigint) * 20000))
           AS conf_x1e6,
         CASE WHEN l_extendedprice >= 30000 THEN 1 ELSE 0 END AS y
  FROM lineitem
),
binned AS (
  SELECT least(9, conf_x1e6 // 100000) AS bin, conf_x1e6, y FROM scored
),
per_bin AS (
  SELECT bin, cast(count(*) AS bigint) AS n,
         cast(sum(conf_x1e6) AS bigint) AS sum_conf,
         cast(sum(y) AS bigint) AS n_pos
  FROM binned GROUP BY bin
),
cum AS (
  SELECT bin, n, sum_conf, n_pos,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
  FROM per_bin
),
intervals AS (
  -- rate over bins [j..k]: cumulative differences, j-exclusive prefix
  -- carried as (cn_j - n_j, cp_j - n_pos_j) so no bin-1 lookup needed
  SELECT j.bin AS jb, k.bin AS kb,
         ((k.cp - (j.cp - j.n_pos))::HUGEINT * 1000000)
           // (k.cn - (j.cn - j.n)) AS avg_x1e6
  FROM cum j
  JOIN cum k ON k.bin >= j.bin
),
minimax AS (
  SELECT b.bin,
         max(mn.min_avg) AS iso_x1e6
  FROM per_bin b
  JOIN (
    SELECT i.jb, b2.bin,
           cast(min(i.avg_x1e6) AS bigint) AS min_avg
    FROM per_bin b2
    JOIN intervals i ON i.jb <= b2.bin AND i.kb >= b2.bin
    GROUP BY i.jb, b2.bin
  ) mn ON mn.bin = b.bin AND mn.jb <= b.bin
  GROUP BY b.bin
)
SELECT p.bin, p.n,
       cast(p.sum_conf // p.n AS bigint) AS mean_conf_x1e6,
       cast((p.n_pos::HUGEINT * 1000000) // p.n AS bigint) AS acc_x1e6,
       m.iso_x1e6
FROM per_bin p JOIN minimax m USING (bin)
ORDER BY p.bin
""",
    doc="Isotonic (PAV) calibration fitted over the reliability ledger — "
    "the nonparametric recalibration map every scored model ships with "
    "when Platt's sigmoid is too rigid: the isotonic fit at bin i is "
    "the minimax formula max over j <= i of (min over intervals "
    "[j, k] containing i of the interval's positive rate), which on "
    "the BOUNDED 10-bin ledger is an exact enumeration — 55 interval "
    "rates (cumulative-difference trunc divisions, x1e6), a 10 x 55 "
    "containment join, min-then-max. The trunc happens per interval "
    "rate, identically in both engines, so the fitted map is "
    "bit-identical (and monotone by construction — gated in tests "
    "against a pool-adjacent-violators reference). Shares the exact "
    "binning projection with ml_calibration_bins (same scored panel). "
    "Scale shape: ONE hash aggregate to 10 bins; everything after is "
    "constant-size (55-interval) arithmetic — the PAV itself never "
    "sees a row, which is the only way isotonic regression runs on "
    "100 TB.",
    tags=("ml", "eval", "calibration", "fixed-point"),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.plans.eval_r8 import _cal_binned

    li = load_table(spark, sf_dir, "lineitem")
    # <= 10 rows; feeds three constant-size joins
    per_bin = materialize(
        _cal_binned(li)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conf_x1e6").cast("long").alias("sum_conf"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("n_pos").over(wcum).alias("cp"),
    )  # 10 rows — unpartitioned window is constant-size by construction
    j = cum.select(
        F.col("bin").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn_jm"),
        (F.col("cp") - F.col("n_pos")).alias("cp_jm"),
    )
    k = cum.select(
        F.col("bin").alias("kb"), F.col("cn").alias("cn_k"), F.col("cp").alias("cp_k")
    )
    intervals = (
        j.crossJoin(k)
        .filter(F.col("kb") >= F.col("jb"))
        .select(
            "jb",
            "kb",
            F.expr(
                "(cast(cp_k - cp_jm as decimal(38,0)) * 1000000)"
                " div (cn_k - cn_jm)"
            ).alias("avg_x1e6"),
        )
    )
    bins = per_bin.select("bin")
    mins = (
        bins.crossJoin(intervals)
        .filter((F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")))
        .groupBy("jb", "bin")
        .agg(F.min("avg_x1e6").cast("long").alias("min_avg"))
    )
    minimax = (
        mins.filter(F.col("jb") <= F.col("bin"))
        .groupBy("bin")
        .agg(F.max("min_avg").alias("iso_x1e6"))
    )
    return (
        per_bin.join(minimax, "bin")
        .select(
            "bin",
            "n",
            F.expr("cast(sum_conf div n AS bigint)").alias("mean_conf_x1e6"),
            F.expr(
                "cast((cast(n_pos as decimal(38,0)) * 1000000) div n"
                " AS bigint)"
            ).alias("acc_x1e6"),
            "iso_x1e6",
        )
        .orderBy("bin")
    )
