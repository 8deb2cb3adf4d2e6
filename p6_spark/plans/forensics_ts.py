"""Sequence forensics and streaming-adjacent audits: the Wald-Wolfowitz
runs test on the daily revenue direction, an event-lateness histogram
(the measurement behind choosing a watermark), and a sample-ratio-
mismatch guardrail over the deterministic experiment split — all in
exact integer arithmetic with DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue direction
# ---------------------------------------------------------------------------


@register(
    "q_runs_test",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS day,
         cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders GROUP BY o_orderdate
),
delta AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS d FROM daily
),
signs AS (
  SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM delta WHERE d IS NOT NULL AND d <> 0
),
runs AS (
  SELECT s, CASE WHEN s <> lag(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS brk
  FROM signs
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n_moves,
         cast(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS bigint) AS n_up,
         cast(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS bigint) AS n_down,
         cast(1 + sum(brk) AS bigint) AS n_runs
  FROM runs
)
SELECT n_moves, n_up, n_down, n_runs,
       cast((2 * n_up * n_down * 1000000) // (n_up + n_down) + 1000000 AS bigint)
         AS expected_runs_x1e6,
       cast((2 * n_up::HUGEINT * n_down * (2 * n_up * n_down - n_up - n_down)
             * 1000000)
            // ((n_up + n_down)::HUGEINT * (n_up + n_down) * (n_up + n_down - 1))
            AS bigint) AS var_runs_x1e6
FROM agg
""",
    doc="Wald-Wolfowitz runs test on the up/down direction of daily "
    "revenue: observed runs vs the exact expectation 2*n1*n2/(n1+n2)+1 "
    "and its variance, both pure rational integers x1e6 — too few runs "
    "means momentum/trend, too many means oscillation; the randomness "
    "check that complements q_benford_audit (digits), q_autocorr_lag1 "
    "(magnitude) and q_cusum_drift (level). The day table is calendar-"
    "bounded, so the ordered windows run over ~2.4k rows regardless of "
    "fact size — the same collapse-first shape as q_cumulative_adoption.",
    tags=("forensics", "stats", "window", "fixed-point"),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    wd = W.orderBy("day")
    delta = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(wd)).alias("d")
    )
    signs = delta.filter(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "day", F.when(F.col("d") > 0, 1).otherwise(-1).alias("s")
    )
    runs = signs.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(wd), 1).otherwise(0).alias("brk"),
    )
    agg = runs.agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n_down"),
        (F.lit(1) + F.sum("brk")).alias("n_runs"),
    )
    return agg.select(
        "n_moves",
        "n_up",
        "n_down",
        "n_runs",
        F.expr(
            "cast((2 * n_up * n_down * 1000000) div (n_up + n_down)"
            " + 1000000 as bigint)"
        ).alias("expected_runs_x1e6"),
        F.expr(
            "cast((2 * cast(n_up as decimal(38,0)) * n_down"
            " * (2 * n_up * n_down - n_up - n_down) * 1000000)"
            " div (cast(n_up + n_down as decimal(38,0)) * (n_up + n_down)"
            " * (n_up + n_down - 1)) as bigint)"
        ).alias("var_runs_x1e6"),
    )


# ---------------------------------------------------------------------------
# Event-lateness audit (watermark sizing)
# ---------------------------------------------------------------------------


@register(
    "q_lateness_audit",
    oracle="""
WITH base AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS sec,
         epoch_us(ts) // 1000000
           + ('0x' || substr(md5('lat_' || cast(event_id AS varchar)), 1, 8))::bigint % 600
           AS arrival
  FROM events
),
arr AS (
  SELECT user_id, event_id, sec,
         max(sec) OVER (
           PARTITION BY user_id ORDER BY arrival, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hw
  FROM base
),
late AS (
  SELECT CASE WHEN hw - sec <= 0 THEN 0
              WHEN hw - sec <= 60 THEN 1
              WHEN hw - sec <= 300 THEN 2
              WHEN hw - sec <= 1800 THEN 3
              ELSE 4 END AS bucket,
         hw - sec AS late_s
  FROM arr
)
SELECT bucket,
       CASE bucket WHEN 0 THEN 'in-order' WHEN 1 THEN '<=1m'
                   WHEN 2 THEN '<=5m' WHEN 3 THEN '<=30m'
                   ELSE '>30m' END AS label,
       cast(count(*) AS bigint) AS n_events,
       cast(count(*) * 1000000 // (SELECT count(*) FROM late) AS bigint)
         AS share_x1e6,
       cast(max(late_s) AS bigint) AS max_late_s
FROM late GROUP BY bucket ORDER BY bucket
""",
    doc="Event-lateness histogram: per ingest shard (user_id stands in "
    "for the source partition), lateness = the shard's event-time "
    "high-water mark at arrival minus the event's own timestamp — "
    "bucketed in-order / <=1m / <=5m / <=30m / >30m. This is THE "
    "measurement for sizing a streaming watermark: the smallest bucket "
    "bound covering ~all mass is the delay to configure, and the tail "
    "is exactly the data that watermark would drop. The testdata feed "
    "arrives perfectly sorted (0 inversions), so arrival = event time "
    "+ a deterministic md5 ingest jitter of 0-600s, standing in for "
    "the ingest timestamp column a production feed carries. One "
    "running-max window per shard, fixed-bucket map-side histogram.",
    tags=("streaming", "forensics", "window", "events"),
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
        (
            F.unix_timestamp("ts")
            + md5_int(F.concat(F.lit("lat_"), F.col("event_id").cast("string")))
            % 600
        ).alias("arrival"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("arrival", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    arr = base.select("sec", F.max("sec").over(w).alias("hw"))
    late = arr.select((F.col("hw") - F.col("sec")).alias("late_s")).select(
        "late_s",
        F.when(F.col("late_s") <= 0, 0)
        .when(F.col("late_s") <= 60, 1)
        .when(F.col("late_s") <= 300, 2)
        .when(F.col("late_s") <= 1800, 3)
        .otherwise(4)
        .alias("bucket"),
    )
    total = late.agg(F.count(F.lit(1)).alias("nt"))
    label = (
        F.when(F.col("bucket") == 0, "in-order")
        .when(F.col("bucket") == 1, "<=1m")
        .when(F.col("bucket") == 2, "<=5m")
        .when(F.col("bucket") == 3, "<=30m")
        .otherwise(">30m")
    )
    return (
        late.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_s").alias("max_late_s"),
        )
        .crossJoin(F.broadcast(total))  # 1-row scalar attach
        .select(
            "bucket",
            label.alias("label"),
            "n_events",
            F.expr("cast(n_events * 1000000 div nt as bigint)").alias(
                "share_x1e6"
            ),
            "max_late_s",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Sample-ratio mismatch over the deterministic experiment split
# ---------------------------------------------------------------------------


@register(
    "q_srm_check",
    oracle="""
WITH assign AS (
  SELECT DISTINCT user_id,
         ((user_id * 2654435761) % 4294967296) % 2 AS arm
  FROM events
),
counts AS (
  SELECT cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS bigint) AS n_a,
         cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS bigint) AS n_b
  FROM assign
)
SELECT n_a, n_b,
       cast(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) AS bigint)
         AS chisq_x1e6,
       cast(CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)
                      > 3841459 THEN 1 ELSE 0 END AS bigint) AS srm_flag
FROM counts
""",
    doc="Sample-ratio-mismatch guardrail: users assigned to arms A/B by "
    "the SAME Knuth multiplicative hash dd_hash_split ships (mod 2), "
    "then the 1-dof chi-square (nA-nB)^2/(nA+nB) against the intended "
    "50/50 in x1e6 integers; srm_flag trips above the 0.05 critical "
    "value 3.841459 (shared literal). SRM is the first thing to check "
    "before reading ANY experiment metric — a tripped flag means the "
    "assignment or logging pipeline lost users asymmetrically. One "
    "distinct-users aggregate; the hash is map-side.",
    tags=("forensics", "experiment", "fixed-point"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct().select(
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296) % 2).alias(
            "arm"
        )
    )
    counts = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
    )
    return counts.select(
        "n_a",
        "n_b",
        F.expr(
            "cast(((n_a - n_b) * (n_a - n_b) * 1000000) div (n_a + n_b)"
            " as bigint)"
        ).alias("chisq_x1e6"),
        F.expr(
            "cast(case when ((n_a - n_b) * (n_a - n_b) * 1000000)"
            " div (n_a + n_b) > 3841459 then 1 else 0 end as bigint)"
        ).alias("srm_flag"),
    )
