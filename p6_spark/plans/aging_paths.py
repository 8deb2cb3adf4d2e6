"""Receivables aging, Pareto concentration cuts, and weighted shortest
paths: the AR aging report every finance team runs, the explicit
80/20 revenue readout, and depth-bounded Bellman-Ford over the
similarity-weighted duplicate graph — exact integers with DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import sql_lsh_pairs, sql_minhash_sig
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Open-order aging report
# ---------------------------------------------------------------------------


@register(
    "q_order_aging",
    oracle="""
WITH as_of AS (SELECT max(o_orderdate) AS today FROM orders),
open_orders AS (
  SELECT datediff('day', o_orderdate, a.today) AS age_days,
         cast(round(o_totalprice * 100, 0) AS bigint) AS cents
  FROM orders, as_of a WHERE o_orderstatus = 'O'
),
bucketed AS (
  SELECT CASE WHEN age_days <= 30 THEN 0 WHEN age_days <= 60 THEN 1
              WHEN age_days <= 90 THEN 2 WHEN age_days <= 180 THEN 3
              ELSE 4 END AS bucket,
         age_days, cents
  FROM open_orders
)
SELECT bucket,
       CASE bucket WHEN 0 THEN '0-30' WHEN 1 THEN '31-60' WHEN 2 THEN '61-90'
                   WHEN 3 THEN '91-180' ELSE '180+' END AS age_band,
       cast(count(*) AS bigint) AS n_orders,
       cast(sum(cents) AS bigint) AS open_cents,
       cast(max(age_days) AS bigint) AS oldest_days
FROM bucketed GROUP BY bucket ORDER BY bucket
""",
    doc="Open-order aging (the AR aging report): orders still open "
    "('O') banded by age relative to the data's as-of date (max "
    "orderdate — no wall clock, so the result is rerun-stable), with "
    "open value per band — the 180+ band is the collections "
    "worklist. The 1-row as-of scalar broadcasts onto the scan; "
    "banding is map-side CASE; one bounded aggregate.",
    tags=("bi", "finance", "agg", "fixed-point"),
)
def q_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(F.max("o_orderdate").alias("today"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))  # 1-row scalar attach
        .select(
            F.datediff("today", "o_orderdate").alias("age_days"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, 0)
        .when(F.col("age_days") <= 60, 1)
        .when(F.col("age_days") <= 90, 2)
        .when(F.col("age_days") <= 180, 3)
        .otherwise(4)
    )
    band = (
        F.when(F.col("bucket") == 0, "0-30")
        .when(F.col("bucket") == 1, "31-60")
        .when(F.col("bucket") == 2, "61-90")
        .when(F.col("bucket") == 3, "91-180")
        .otherwise("180+")
    )
    return (
        open_orders.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("open_cents"),
            F.max("age_days").cast("long").alias("oldest_days"),
        )
        .select("bucket", band.alias("age_band"), "n_orders", "open_cents", "oldest_days")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Pareto concentration cut (80/20 readout)
# ---------------------------------------------------------------------------


@register(
    "q_pareto_cut",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
         count(*) OVER () AS n_cust,
         sum(cents) OVER () AS total
  FROM per_cust
),
cum AS (
  SELECT rn, n_cust, total,
         sum(cents) OVER (ORDER BY rn) AS cum_cents
  FROM ranked
)
SELECT cast(pct AS bigint) AS top_pct,
       cast(max(cum_cents)::HUGEINT * 1000000 // max(total) AS bigint) AS revenue_share_x1e6
FROM cum, (SELECT unnest([10, 20, 50]) AS pct)
WHERE rn * 100 <= pct * n_cust
GROUP BY pct
ORDER BY top_pct
""",
    doc="Pareto concentration cut: the revenue share held by the top "
    "10/20/50% of customers (by value, with custkey tiebreak) — the "
    "explicit 80/20 readout next to q_gini_concentration's single "
    "coefficient; 'top 20% hold X%' is the number executives quote. "
    "One customer rollup, then the ACTUAL two-phase prefix sum "
    "(operators/ranking.two_phase_rank: deterministic value-range "
    "buckets, bucket-local rank+cumsum, broadcast prefix offsets) — the "
    "r4-flagged global single-partition window is gone; n_cust/total "
    "come from a 1-row aggregate broadcast, same integers as the "
    "oracle's global windows.",
    tags=("bi", "concentration", "window", "fixed-point"),
)
def q_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    ranked = two_phase_rank(
        per_cust,
        [F.desc("cents"), F.asc("o_custkey")],
        F.col("cents"),
        descending=True,
        cum_cols=["cents"],
    )
    totals = per_cust.agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("cents").alias("total")
    )
    cum = ranked.crossJoin(F.broadcast(totals)).select(
        "rn", "n_cust", "total", F.col("cum_cents")
    )
    pcts = cum.sparkSession.createDataFrame([(10,), (20,), (50,)], "pct int")
    return (
        cum.crossJoin(F.broadcast(pcts))
        .filter(F.col("rn") * 100 <= F.col("pct") * F.col("n_cust"))
        .groupBy(F.col("pct").cast("long").alias("top_pct"))
        .agg(
            # decimal(38,0): cum_cents ~4e13 at sf1, x1e6 overflows int64
            F.expr(
                "cast(cast(max(cum_cents) as decimal(38,0)) * 1000000"
                " div max(total) as bigint)"
            ).alias("revenue_share_x1e6")
        )
        .orderBy("top_pct")
    )


# ---------------------------------------------------------------------------
# Depth-bounded Bellman-Ford over the similarity-weighted LSH graph
# ---------------------------------------------------------------------------

_BF_HOPS = 3


@register(
    "q_graph_cheapest_path",
    oracle=f"""
WITH RECURSIVE {sql_minhash_sig('doc_id < 500')},
{sql_lsh_pairs(cap=None, select="a.doc_id AS u, b.doc_id AS v")},
wpairs AS (
  SELECT p.u, p.v,
         1 + (CASE WHEN sa.h0 <> sb.h0 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h1 <> sb.h1 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h2 <> sb.h2 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h3 <> sb.h3 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h4 <> sb.h4 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h5 <> sb.h5 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h6 <> sb.h6 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h7 <> sb.h7 THEN 1 ELSE 0 END) AS w
  FROM pairs p JOIN sig sa ON sa.doc_id = p.u JOIN sig sb ON sb.doc_id = p.v
),
edges AS (SELECT u, v, w FROM wpairs UNION ALL SELECT v, u, w FROM wpairs),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach AS (
  SELECT node, 0 AS hops, cast(0 AS bigint) AS cost
  FROM nodes WHERE node % 10 = 0
  UNION
  SELECT e.v, r.hops + 1, r.cost + e.w
  FROM reach r JOIN edges e ON e.u = r.node
  WHERE r.hops < {_BF_HOPS}
),
best AS (SELECT node, min(cost) AS cost FROM reach GROUP BY node)
SELECT cast(b.cost AS bigint) AS cost,
       cast(count(*) AS bigint) AS n_nodes
FROM best b
GROUP BY b.cost ORDER BY cost
""",
    doc="Depth-bounded Bellman-Ford: cheapest <=3-hop path cost from "
    "the audited seed set over the LSH graph with DISSIMILARITY "
    "weights (1 + differing minhash components, 1..9) — 'how much "
    "similarity decay separates each doc from a seed', the weighted "
    "upgrade of q_graph_bfs's hop count. Each relax round is one "
    "shuffle of frontier-adjacent weighted edges; bounding hops bounds "
    "cost exactly like the BFS bound. Bounded id partition (doc_id < 500) so the recursive twin stays tractable. Output "
    "is the cost histogram (cost -> node count).",
    tags=("graph", "shortest-path", "iterative", "fixed-point"),
)
def q_graph_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sigs = materialize(dd.minhash_signatures(docs))
    pairs = dd.lsh_candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("u"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("v"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)]
    )
    wexpr = F.lit(1)
    for i in range(8):
        wexpr = wexpr + F.when(F.col(f"a{i}") != F.col(f"b{i}"), 1).otherwise(0)
    wpairs = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .join(sa, "u")
        .join(sb, "v")
        .select("u", "v", wexpr.cast("long").alias("w"))
    )
    # Eager cuts throughout (operators/graph.py round-12 discipline):
    # every relax round reads `dist` TWICE (the join probe and the
    # unionAll), so the round-11 lazy cuts + size-guarded broadcasts
    # left a multiply-referenced un-persisted frame racing the block
    # store — the exact scheme behind the driver's 32-core regression
    # (and what ADVICE r11 flagged here). Blocks land before any round
    # reads them; the per-round joins plan as plain exchange joins.
    edges = materialize(
        wpairs.select("u", "v", "w")
        .unionAll(wpairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    dist = materialize(
        nodes.filter(F.col("node") % 10 == 0).select(
            "node", F.lit(0).cast("long").alias("cost")
        )
    )
    for _ in range(_BF_HOPS):
        du = dist.select(F.col("node").alias("u"), "cost")
        relaxed = materialize(
            edges.join(du, "u")
            .select(F.col("v").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .unionAll(dist)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        dist = relaxed
    return (
        dist.groupBy("cost")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("cost")
    )
