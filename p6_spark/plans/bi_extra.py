"""BI staples rounding out the engine-parity surface: 2-D histograms,
cohort LTV matrices, latest-record-per-key dedup, and exact quartile
bands — the last mile of what a reference-engine user pulls into a
dashboard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# 2-D histogram (heatmap input)
# ---------------------------------------------------------------------------


@register(
    "q_histogram_2d",
    oracle="""
SELECT cast(l_quantity AS bigint) // 10 AS qty_bin,
       cast(round(l_discount * 100, 0) AS bigint) // 2 AS disc_bin,
       cast(count(*) AS bigint) AS n,
       cast(sum(cast(round(l_extendedprice * 100, 0) AS bigint)) AS bigint) AS revenue_x100
FROM lineitem
GROUP BY 1, 2
ORDER BY qty_bin, disc_bin
""",
    doc="2-D histogram over (quantity, discount) — the heatmap feed. "
    "Both bin edges are fixed integer grids (qty div 10, discount-pct "
    "div 2), so binning is map-side projection and the whole heatmap is "
    "ONE aggregate with map-side partials; cell revenue in exact x100 "
    "integers. Bin count is bounded by the grid, not the data.",
    tags=("bi", "histogram", "agg", "fixed-point"),
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.expr("cast(l_quantity as bigint) div 10").alias("qty_bin"),
            F.expr(
                "cast(round(l_discount * 100, 0) as bigint) div 2"
            ).alias("disc_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "revenue_x100"
            ),
        )
        .orderBy("qty_bin", "disc_bin")
    )


# ---------------------------------------------------------------------------
# Cohort LTV matrix
# ---------------------------------------------------------------------------


@register(
    "q_cohort_ltv",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, min(o_orderdate) AS first_order FROM orders GROUP BY o_custkey
),
cohorted AS (
  SELECT strftime(f.first_order, '%Y') AS cohort_year,
         cast(year(o.o_orderdate) - year(f.first_order) AS int) AS year_offset,
         cast(round(o.o_totalprice * 100, 0) AS bigint) AS rev_x100
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
),
cohort_sizes AS (
  SELECT strftime(first_order, '%Y') AS cohort_year, count(*) AS n_customers
  FROM firsts GROUP BY 1
)
SELECT c.cohort_year, c.year_offset,
       cast(count(*) AS bigint) AS n_orders,
       cast(sum(c.rev_x100) AS bigint) AS revenue_x100,
       cast(sum(c.rev_x100) // max(s.n_customers) AS bigint) AS ltv_per_customer_x100
FROM cohorted c JOIN cohort_sizes s ON c.cohort_year = s.cohort_year
GROUP BY c.cohort_year, c.year_offset
ORDER BY c.cohort_year, c.year_offset
""",
    doc="Cohort LTV matrix: customers cohorted by first-order year, "
    "revenue accumulated per (cohort, year-offset) cell, normalized per "
    "cohort member — the lifetime-value triangle finance reads. One "
    "min-per-customer aggregate joins back to the fact on the customer "
    "key (both sides shuffle once on o_custkey); the cohort-size table "
    "is years-bounded and broadcasts. Cent-scaled integers throughout.",
    tags=("bi", "cohort", "join", "fixed-point"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_order"))
    cohorted = orders.join(firsts, "o_custkey").select(
        F.date_format("first_order", "yyyy").alias("cohort_year"),
        (F.year("o_orderdate") - F.year("first_order")).cast("int").alias(
            "year_offset"
        ),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("rev_x100"),
    )
    cohort_sizes = firsts.groupBy(
        F.date_format("first_order", "yyyy").alias("cohort_year")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        cohorted.join(F.broadcast(cohort_sizes), "cohort_year")
        .groupBy("cohort_year", "year_offset")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("rev_x100").alias("revenue_x100"),
            F.expr(
                "cast(sum(rev_x100) div max(n_customers) as bigint)"
            ).alias("ltv_per_customer_x100"),
        )
        .orderBy("cohort_year", "year_offset")
    )


# ---------------------------------------------------------------------------
# Latest record per key
# ---------------------------------------------------------------------------


@register(
    "q_latest_per_key",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         cast(round(value * 1000000, 0) AS bigint) AS v_x1e6,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       v_x1e6 AS last_value_x1e6
FROM ranked WHERE rn = 1 AND user_id < 50
ORDER BY user_id, event_type
""",
    doc="Latest record per key — the ubiquitous CDC/state-table dedup "
    "(QUALIFY row_number() = 1 in warehouse dialects). One window over "
    "the (key) partitioning with a (ts, event_id) total order for "
    "deterministic tie-breaks; WindowGroupLimit prunes each map task to "
    "its per-key latest before the shuffle, so the exchange carries one "
    "row per (task, key) — the same plan a MERGE-based state refresh "
    "reads from.",
    tags=("dedup", "cdc", "window"),
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wr = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(wr))
        .filter((F.col("rn") == 1) & (F.col("user_id") < 50))
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias(
                "last_value_x1e6"
            ),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Exact quartile bands per group
# ---------------------------------------------------------------------------


@register(
    "q_quartile_bands",
    oracle="""
WITH per_v AS (
  SELECT o_orderpriority AS prio,
         cast(round(o_totalprice * 100, 0) AS bigint) AS v,
         count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT prio, v, cnt,
         sum(cnt) OVER (PARTITION BY prio ORDER BY v) AS cw,
         sum(cnt) OVER (PARTITION BY prio) AS tw
  FROM per_v
)
SELECT prio,
       cast(min(tw) AS bigint) AS n_orders,
       cast(min(CASE WHEN cw * 4 >= tw THEN v END) AS bigint) AS p25_x100,
       cast(min(CASE WHEN cw * 2 >= tw THEN v END) AS bigint) AS p50_x100,
       cast(min(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS bigint) AS p75_x100
FROM cum
GROUP BY prio
ORDER BY prio
""",
    doc="Exact quartile bands per order priority, as lower order "
    "statistics: the smallest value whose cumulative count reaches "
    "25/50/75% of the group — pure integer comparisons (cw*4 >= tw, no "
    "float percentile interpolation, so any two engines agree). "
    "Per-distinct-value pre-aggregation first; one cumulative window "
    "per group partition; all three bands fold into ONE conditional "
    "aggregate over the cumsum table.",
    tags=("stats", "percentile", "window", "fixed-point"),
)
def q_quartile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_v = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wc = W.partitionBy("prio").orderBy("v")
    wt = W.partitionBy("prio")
    cum = per_v.select(
        "prio",
        "v",
        F.sum("cnt").over(wc).alias("cw"),
        F.sum("cnt").over(wt).alias("tw"),
    )
    return (
        cum.groupBy("prio")
        .agg(
            F.min("tw").alias("n_orders"),
            F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("v"))).alias(
                "p25_x100"
            ),
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))).alias(
                "p50_x100"
            ),
            F.min(
                F.when(F.col("cw") * 4 >= F.col("tw") * 3, F.col("v"))
            ).alias("p75_x100"),
        )
        .orderBy("prio")
    )
