"""Closing batch 4: inter-rater agreement (Cohen's kappa) and
gaps-and-islands over the order calendar — both exact-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


@register(
    "ml_cohens_kappa",
    oracle="""
WITH rated AS (
  SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS a,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b
  FROM lineitem
),
conf AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS bigint) AS n11,
         cast(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS bigint) AS n10,
         cast(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS bigint) AS n01,
         cast(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS bigint) AS n00
  FROM rated
),
chk AS (
  -- named loud failure (the r9b discipline): pe = 1 (all mass in one
  -- rater-margin product) makes kappa 0/0 — raise identically instead
  -- of a bare engine-specific DIVIDE_BY_ZERO. The guard rides on the
  -- n column every output row READS, so neither optimizer can prune it.
  SELECT CASE WHEN n::HUGEINT * n
                   - ((n11 + n10)::HUGEINT * (n11 + n01)
                      + (n01 + n00)::HUGEINT * (n10 + n00)) = 0
              THEN error('ml_cohens_kappa: degenerate confusion table '
                         '(pe = 1), kappa undefined')
              ELSE n END AS n,
         n11, n10, n01, n00
  FROM conf
)
SELECT n, n11, n10, n01, n00,
       cast((n::HUGEINT * (n11 + n00)
             - ((n11 + n10)::HUGEINT * (n11 + n01) + (n01 + n00)::HUGEINT * (n10 + n00)))
            * 1000000
            // (n::HUGEINT * n
                - ((n11 + n10)::HUGEINT * (n11 + n01) + (n01 + n00)::HUGEINT * (n10 + n00)))
            AS bigint) AS kappa_x1e6
FROM chk
""",
    doc="Cohen's kappa between two cheap labeling heuristics (high-"
    "quantity vs discounted) — the agreement-beyond-chance audit run "
    "before trusting any pair of weak raters in a labeling pipeline "
    "(same shape as comparing two quality classifiers on a corpus). "
    "kappa = (po - pe)/(1 - pe) cross-multiplied by n^2 into one exact "
    "integer ratio over the 2x2 confusion counts: (n*diag - sum of "
    "margin products) / (n^2 - sum of margin products), x1e6 trunc "
    "div. Degenerate tables (pe = 1: kappa 0/0) raise a NAMED error "
    "identically on both engines instead of a bare DIVIDE_BY_ZERO. "
    "ONE conditional aggregate over the fact table, map-side "
    "partials, single row — unchanged at any SF.",
    tags=("ml", "eval", "fixed-point"),
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = F.when(F.col("l_quantity") > 25, 1).otherwise(0)
    b = F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)
    conf = li.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("case when a = 1 and b = 1 then 1 else 0 end")).alias("n11"),
        F.sum(F.expr("case when a = 1 and b = 0 then 1 else 0 end")).alias("n10"),
        F.sum(F.expr("case when a = 0 and b = 1 then 1 else 0 end")).alias("n01"),
        F.sum(F.expr("case when a = 0 and b = 0 then 1 else 0 end")).alias("n00"),
    )
    pe_num = (
        "(cast(n11 + n10 as decimal(38,0)) * (n11 + n01)"
        " + cast(n01 + n00 as decimal(38,0)) * (n10 + n00))"
    )
    # named loud failure (the r9b discipline): pe = 1 makes kappa 0/0 —
    # the guard rides on the n column the output reads (prune-proof)
    conf = conf.select(
        F.expr(
            f"CASE WHEN cast(n as decimal(38,0)) * n - {pe_num} = 0"
            " THEN raise_error('ml_cohens_kappa: degenerate confusion"
            " table (pe = 1), kappa undefined') ELSE n END"
        ).alias("n"),
        "n11",
        "n10",
        "n01",
        "n00",
    )
    return conf.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"cast(((cast(n as decimal(38,0)) * (n11 + n00) - {pe_num}) * 1000000)"
            f" div (cast(n as decimal(38,0)) * n - {pe_num}) as bigint)"
        ).alias("kappa_x1e6"),
    )


@register(
    "q_islands_daily",
    oracle="""
WITH days AS (
  SELECT DISTINCT o_orderpriority AS prio,
         epoch_us(date_trunc('day', o_orderdate)) // 86400000000 AS day_num
  FROM orders
),
flagged AS (
  SELECT prio, day_num,
         CASE WHEN day_num - lag(day_num) OVER (PARTITION BY prio ORDER BY day_num) = 1
              THEN 0 ELSE 1 END AS new_island,
         day_num - lag(day_num) OVER (PARTITION BY prio ORDER BY day_num) - 1 AS gap_days
  FROM days
),
islands AS (
  SELECT prio, day_num, gap_days,
         sum(new_island) OVER (PARTITION BY prio ORDER BY day_num
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
per_island AS (
  SELECT prio, island, cast(count(*) AS bigint) AS len_days
  FROM islands GROUP BY 1, 2
)
SELECT p.prio,
       cast(count(*) AS bigint) AS n_islands,
       cast(max(p.len_days) AS bigint) AS longest_island_days,
       cast(g.total_days AS bigint) AS active_days,
       cast(coalesce(g.max_gap, 0) AS bigint) AS longest_gap_days
FROM per_island p
JOIN (SELECT prio, count(*) AS total_days, max(gap_days) AS max_gap
      FROM islands GROUP BY prio) g USING (prio)
GROUP BY p.prio, g.total_days, g.max_gap
ORDER BY p.prio
""",
    doc="Gaps-and-islands over the order calendar per priority: runs of "
    "CONSECUTIVE active days (lag-diff flags a new island, prefix sum "
    "labels it) with the longest streak and the longest dark gap — the "
    "classic continuity audit behind uptime streaks and feed-liveness "
    "checks, complementing q_missing_days (which counts holes) with "
    "run structure. Integer day numbers (epoch_us div 86.4e9); the "
    "fact table collapses to distinct (priority, day) FIRST, so the "
    "windows run over calendar-bounded partitions at any SF.",
    tags=("timeseries", "window", "gaps-islands"),
)
def q_islands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    days = (
        o.select(
            F.col("o_orderpriority").alias("prio"),
            F.expr(
                "unix_micros(cast(date_trunc('day', o_orderdate) as timestamp))"
                " div 86400000000"
            ).alias("day_num"),
        )
        .distinct()
    )
    w = W.partitionBy("prio").orderBy("day_num")
    flagged = days.select(
        "prio",
        "day_num",
        F.when(F.col("day_num") - F.lag("day_num").over(w) == 1, 0)
        .otherwise(1)
        .alias("new_island"),
        (F.col("day_num") - F.lag("day_num").over(w) - 1).alias("gap_days"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("prio", "island").agg(
        F.count(F.lit(1)).alias("len_days")
    )
    gaps = islands.groupBy("prio").agg(
        F.count(F.lit(1)).alias("total_days"), F.max("gap_days").alias("max_gap")
    )
    return (
        per_island.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.max("len_days").alias("longest_island_days"),
        )
        .join(gaps, "prio")
        .select(
            "prio",
            "n_islands",
            "longest_island_days",
            F.col("total_days").alias("active_days"),
            F.coalesce(F.col("max_gap"), F.lit(0)).cast("long").alias(
                "longest_gap_days"
            ),
        )
        .orderBy("prio")
    )
