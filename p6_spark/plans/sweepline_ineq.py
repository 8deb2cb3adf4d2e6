"""Closing batch 3: interval-union via a distributed sweep-line, and the
Theil inequality index in the repo's snapped-ln integer style.

Certification conventions: timestamps as epoch micros (unix_micros /
epoch_us), logs snapped per the x1e6 round(ln(int)) idiom established by
txt_tfidf / txt_token_entropy (both engines take ln of the SAME exact
integer, so the snapped value is bit-identical), ratios by trunc div.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Interval union (sweep-line): total covered time per user
# ---------------------------------------------------------------------------


@register(
    "q_interval_union",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + greatest(cast(round(value * 60 * 1000000, 0) AS bigint), 0) AS e
  FROM events
),
marked AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
per_island AS (
  SELECT user_id, island, max(e) - min(s) AS len_us
  FROM islands GROUP BY 1, 2
),
per_user AS (
  SELECT i.user_id,
         cast(count(*) AS bigint) AS n_islands,
         cast(sum(len_us) AS bigint) AS union_us,
         cast(u.span_us AS bigint) AS span_us,
         cast(u.n_events AS bigint) AS n_events
  FROM per_island i
  JOIN (SELECT user_id, max(e) - min(s) AS span_us, count(*) AS n_events
        FROM iv GROUP BY 1) u USING (user_id)
  GROUP BY i.user_id, u.span_us, u.n_events
)
SELECT user_id, n_events, n_islands, union_us, span_us,
       cast(union_us * 1000000 // span_us AS bigint) AS coverage_x1e6
FROM per_user
ORDER BY union_us DESC, user_id
LIMIT 25
""",
    doc="Interval union per user — total WALL time covered by overlapping "
    "activity intervals [ts, ts + value minutes), the classic sweep-line "
    "problem (SLA uptime, merged meeting time, device-on time). "
    "Declarative sweep-line: a row opens a new island when its start "
    "exceeds the running max END of all earlier intervals (window to "
    "1 PRECEDING), islands labeled by a prefix sum of the flags, union "
    "= sum over islands of max(end)-min(start). All epoch-micros "
    "integers; (s, event_id) total-orders the sweep under ts ties. "
    "Scale: both windows and the island rollup run per user key — the "
    "standard sessionize shuffle shape, no global sort anywhere. "
    "Top-25 by covered time under a total order.",
    tags=("timeseries", "window", "sweep-line"),
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.greatest(
                F.round(F.col("value") * 60 * 1000000, 0).cast("long"), F.lit(0)
            )
        ).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        ).otherwise(0),
    )
    # (s, event_id) — the SAME total order as the flag window; ordering by
    # (s, e) was only a partial order and could mislabel islands under
    # (ts, value) ties (ADVICE r3).
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = marked.withColumn("island", F.sum("new_island").over(w_cum))
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len_us")
    )
    per_user_span = iv.groupBy("user_id").agg(
        (F.max("e") - F.min("s")).alias("span_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    per_user = (
        per_island.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("len_us").alias("union_us"),
        )
        .join(per_user_span, "user_id")
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            "n_islands",
            "union_us",
            "span_us",
            F.expr("cast((union_us * 1000000) div span_us as bigint)").alias(
                "coverage_x1e6"
            ),
        )
        .orderBy(F.desc("union_us"), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Theil inequality index (snapped-ln integer arithmetic)
# ---------------------------------------------------------------------------


@register(
    "q_theil_index",
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS prio,
         cast(round(o_totalprice * 100, 0) AS bigint) AS cents
  FROM orders
),
rows_ln AS (
  SELECT prio, cents,
         cast(round(ln(cents) * 1000000, 0) AS bigint) AS l_x1e6
  FROM v
),
agg AS (
  SELECT prio,
         cast(count(*) AS bigint) AS n,
         cast(sum(cents) AS bigint) AS s,
         sum(cents::HUGEINT * l_x1e6) AS sl
  FROM rows_ln GROUP BY prio
)
SELECT prio, n,
       cast(s // n AS bigint) AS mean_cents,
       cast(sl // s
            - cast(round(ln(s) * 1000000, 0) AS bigint)
            + cast(round(ln(n) * 1000000, 0) AS bigint) AS bigint) AS theil_x1e6
FROM agg
ORDER BY prio
""",
    doc="Theil-T inequality index of order value per priority — the "
    "entropy-based Gini complement (0 = perfect equality, ln(n) = one "
    "order holds everything), decomposable across subgroups unlike "
    "Gini. Identity used: T = (1/S)*sum(x*ln x) - ln(S/n), so the only "
    "logs are ln of exact integers (per-row cents, then the aggregate "
    "S and n), snapped to x1e6 bigints per the txt_tfidf convention — "
    "both engines log the same integers, so the result hashes exactly. "
    "One aggregate over the fact table with map-side partials; the "
    "x*lnx weighted sum rides decimal(38,0)/HUGEINT. Pairs with "
    "q_gini_concentration (rank-based) as the two standard dispersion "
    "audits over corpus/source value distributions.",
    tags=("stats", "inequality", "fixed-point"),
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rows_ln = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    ).withColumn("l_x1e6", F.round(F.log(F.col("cents")) * 1000000, 0).cast("long"))
    agg = rows_ln.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.expr("cast(cents as decimal(38,0)) * l_x1e6")).alias("sl"),
    )
    return agg.select(
        "prio",
        "n",
        F.expr("s div n").alias("mean_cents"),
        F.expr(
            "cast(sl div s"
            " - cast(round(ln(s) * 1000000, 0) as bigint)"
            " + cast(round(ln(n) * 1000000, 0) as bigint) as bigint)"
        ).alias("theil_x1e6"),
    ).orderBy("prio")
