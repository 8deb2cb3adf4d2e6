"""Certified sketches, nonparametric tests, and model-evaluation
metrics: HyperLogLog with deterministic registers, sliding distinct
users, Mann-Whitney U, chi-square independence, and per-class
precision/recall/F1.

The sketch entries here differ from `q_approx_sketches` (rows-only, the
one uncertified registry row): by deriving every register/rank from the
engine-portable md5 hash and keeping the estimator arithmetic in scaled
integers, the SKETCH ITSELF becomes oracle-checkable — DuckDB replays
the identical registers bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.operators.text import lang_id, md5_int
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_LANGID_PRED, SQL_MD5INT
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# HyperLogLog with certified registers
# ---------------------------------------------------------------------------

_HLL_M = 256  # 2^8 buckets; 24-bit suffix -> rho in 1..25
# alpha_256 = 0.7213 / (1 + 1.079/256), x1e6 — identical literal both sides
_HLL_ALPHA_X1E6 = 718273


@register(
    "q_hll_registers",
    oracle=f"""
WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
hashed AS (
  SELECT key,
         {SQL_MD5INT.format(x="'hll_' || key")} // 16777216 AS bucket,
         {SQL_MD5INT.format(x="'hll_' || key")} % 16777216 AS w
  FROM keys
),
regs AS (
  SELECT bucket,
         max(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS r
  FROM hashed GROUP BY bucket
),
buckets AS (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket),
dense AS (
  SELECT b.bucket, coalesce(r.r, 0) AS r
  FROM buckets b LEFT JOIN regs r ON b.bucket = r.bucket
),
summed AS (
  SELECT cast(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS bigint) AS n_buckets_used,
         cast(sum(1::bigint << (25 - r)) AS bigint) AS inv_sum_x2e25
  FROM dense
),
exact AS (SELECT count(*) AS n_exact FROM keys)
SELECT n_buckets_used, inv_sum_x2e25,
       cast(({_HLL_ALPHA_X1E6}::HUGEINT * {_HLL_M} * {_HLL_M} * 33554432)
            // inv_sum_x2e25 // 1000000 AS bigint) AS hll_estimate,
       cast(n_exact AS bigint) AS n_exact
FROM summed, exact
""",
    doc="HyperLogLog with CERTIFIED registers: md5 hash split into an "
    "8-bit bucket and 24-bit suffix; rho = leading-zero rank via the "
    "bin() length (identical in Spark and DuckDB); per-bucket max, then "
    "the harmonic estimator evaluated in pure integers — sum(2^(25-r)) "
    "is exact, alpha is a shared x1e6 literal, divisions trunc. Unlike "
    "approx_count_distinct (engine-specific, rows-only checkable), this "
    "sketch is replayable bit for bit — the register table is the "
    "mergeable per-partition state a 1000-executor rollup would union "
    "with max().",
    tags=("sketch", "agg", "fixed-point"),
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("key")).distinct()
    h = md5_int(F.concat(F.lit("hll_"), F.col("key").cast("string")))
    hashed = keys.select(h.alias("h")).select(
        F.expr("h div 16777216").alias("bucket"), (F.col("h") % 16777216).alias("w")
    )
    regs = hashed.groupBy("bucket").agg(
        F.max(
            F.when(F.col("w") == 0, 25).otherwise(
                25 - F.length(F.bin(F.col("w")))
            )
        ).alias("r")
    )
    buckets = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    dense = buckets.join(F.broadcast(regs), "bucket", "left").select(
        F.coalesce(F.col("r"), F.lit(0)).alias("r")
    )
    summed = dense.agg(
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0)).alias("n_buckets_used"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 25 - r)")).alias(
            "inv_sum_x2e25"
        ),
    )
    exact = keys.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        summed.crossJoin(F.broadcast(exact))  # 1-row scalar attach
        .select(
            "n_buckets_used",
            "inv_sum_x2e25",
            F.expr(
                f"cast((cast({_HLL_ALPHA_X1E6} as decimal(38,0)) * {_HLL_M} * {_HLL_M}"
                " * 33554432) div inv_sum_x2e25 div 1000000 as bigint)"
            ).alias("hll_estimate"),
            "n_exact",
        )
    )


# ---------------------------------------------------------------------------
# Sliding 7-day distinct users
# ---------------------------------------------------------------------------


@register(
    "q_sliding_distinct_users",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
),
bounds AS (SELECT max(ts::DATE) AS dmax FROM events),
contrib AS (
  SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS wend
  FROM activity
),
dedup AS (SELECT DISTINCT user_id, wend FROM contrib)
SELECT strftime(wend, '%Y-%m-%d') AS window_end,
       cast(count(*) AS bigint) AS n_active_7d
FROM dedup, bounds
WHERE wend <= dmax
GROUP BY wend
ORDER BY window_end
""",
    doc="Exact 7-day sliding distinct users — the DAU/WAU rollup. "
    "COUNT(DISTINCT) over a sliding frame isn't a window aggregate in "
    "any engine; the scalable rewrite is contribution explode: dedup to "
    "(user, day) FIRST (the big cardinality cut), fan each activity out "
    "to the <=7 windows it can serve, dedup (user, window), count. "
    "Shuffle volume is 7x the deduped activity table, never 7x raw "
    "events; no self-join, no per-window rescan.",
    tags=("timeseries", "distinct", "window"),
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = ev.agg(F.max(F.to_date("ts")).alias("dmax"))
    contrib = activity.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wend"),
    ).distinct()
    return (
        contrib.crossJoin(F.broadcast(bounds))  # 1-row scalar attach
        .filter(F.col("wend") <= F.col("dmax"))
        .groupBy(F.date_format("wend", "yyyy-MM-dd").alias("window_end"))
        .agg(F.count(F.lit(1)).alias("n_active_7d"))
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------


@register(
    "q_mannwhitney_u",
    oracle="""
WITH vals AS (
  SELECT cast(round(value * 1000000, 0) AS bigint) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
),
per_v AS (
  SELECT v, count(*) AS cnt, sum(is_a) AS cnt_a FROM vals GROUP BY v
),
ranked AS (
  SELECT v, cnt, cnt_a,
         coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
         sum(cnt) OVER () AS n,
         sum(cnt_a) OVER () AS na
  FROM per_v
),
summed AS (
  SELECT cast(min(na) AS bigint) AS na,
         cast(min(n) - min(na) AS bigint) AS nb,
         cast(sum(cnt_a::HUGEINT * (2 * prior + cnt + 1)) AS bigint) AS ranksum_a_x2
  FROM ranked
),
chk AS (
  -- named loud failure (r9b discipline, extended r10): an empty group
  -- makes 2*na*nb zero, where DuckDB // yields NULL silently but Spark
  -- ANSI div raises — guard both engines identically. coalesce covers
  -- the zero-row panel (min over nothing is NULL).
  SELECT CASE WHEN coalesce(na, 0) = 0 OR coalesce(nb, 0) = 0
              THEN error('q_mannwhitney_u: empty group — need both '
                         'click and purchase values')
              ELSE na END AS na,
         nb, ranksum_a_x2
  FROM summed
)
SELECT na, nb, ranksum_a_x2,
       cast(ranksum_a_x2 - na * (na + 1) AS bigint) AS u_a_x2,
       cast(((ranksum_a_x2 - na * (na + 1))::HUGEINT * 1000000) // (2 * na * nb) AS bigint)
         AS auc_x1e6
FROM chk
""",
    doc="Mann-Whitney U between the click and purchase value "
    "distributions — the nonparametric are-these-the-same-distribution "
    "test (its normalization U/(na*nb) IS the AUC). Tie-averaged ranks "
    "kept exact by doubling: avg rank x2 = 2*prior + cnt + 1, an "
    "integer; the rank sum accumulates in HUGEINT/decimal(38,0). "
    "Per-distinct-value pre-aggregation bounds the input; the rank "
    "prefix is a TWO-PHASE distributed scan (per-bucket totals -> tiny "
    "bucket-prefix window -> within-bucket windows in parallel), so no "
    "global single-partition Window exists anywhere in the plan.",
    tags=("stats", "nonparametric", "window", "fixed-point"),
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.round(F.col("value") * 1000000, 0).cast("long").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    per_v = vals.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_a").alias("cnt_a")
    )
    # Two-phase distributed prefix sum: a global ORDER BY v window would
    # run single-partition. Instead: coarse value buckets -> per-bucket
    # totals (tiny table; its prefix window is cheap) -> within-bucket
    # prior (window partitioned by bucket, fully parallel) + the bucket
    # prefix offset. Exact same 'prior' as the global window.
    per_v = per_v.withColumn("bkt", F.expr("v div 16777216"))
    per_bucket = per_v.groupBy("bkt").agg(
        F.sum("cnt").alias("bcnt"), F.sum("cnt_a").alias("bcnt_a")
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wt = W.partitionBy()
    prefixes = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("bcnt").over(wb), F.lit(0)).alias("bprior"),
        F.sum("bcnt").over(wt).alias("n"),
        F.sum("bcnt_a").over(wt).alias("na"),
    )
    wv = W.partitionBy("bkt").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = per_v.join(F.broadcast(prefixes), "bkt").select(
        "cnt",
        "cnt_a",
        (
            F.coalesce(F.sum("cnt").over(wv), F.lit(0)) + F.col("bprior")
        ).alias("prior"),
        "n",
        "na",
    )
    summed = ranked.agg(
        F.min("na").alias("na"),
        (F.min("n") - F.min("na")).alias("nb"),
        F.sum(
            F.expr("cast(cnt_a as decimal(38,0)) * (2 * prior + cnt + 1)")
        )
        .cast("long")
        .alias("ranksum_a_x2"),
    )
    # named loud failure (r9b discipline, extended r10): see oracle chk
    summed = summed.select(
        F.when(
            (F.coalesce(F.col("na"), F.lit(0)) == 0)
            | (F.coalesce(F.col("nb"), F.lit(0)) == 0),
            F.raise_error(
                F.lit(
                    "q_mannwhitney_u: empty group — need both click "
                    "and purchase values"
                )
            ).cast("long"),
        )
        .otherwise(F.col("na"))
        .alias("na"),
        "nb",
        "ranksum_a_x2",
    )
    return summed.select(
        "na",
        "nb",
        "ranksum_a_x2",
        F.expr("cast(ranksum_a_x2 - na * (na + 1) as bigint)").alias("u_a_x2"),
        F.expr(
            "cast((cast(ranksum_a_x2 - na * (na + 1) as decimal(38,0)) * 1000000)"
            " div (2 * na * nb) as bigint)"
        ).alias("auc_x1e6"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence
# ---------------------------------------------------------------------------


@register(
    "q_chisq_independence",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS rp, o_orderstatus AS cs, count(*) AS o
  FROM orders GROUP BY 1, 2
),
margins AS (
  SELECT rp, cs, o,
         sum(o) OVER (PARTITION BY rp) AS rt,
         sum(o) OVER (PARTITION BY cs) AS ct,
         sum(o) OVER () AS n
  FROM cells
),
terms AS (
  SELECT rp, cs, cast(o AS bigint) AS observed,
         cast((rt::HUGEINT * ct * 100) // n AS bigint) AS expected_x100,
         cast((((o::HUGEINT * n - rt::HUGEINT * ct) * (o::HUGEINT * n - rt::HUGEINT * ct))
               // (rt::HUGEINT * ct)) * 1000000 // n // n AS bigint) AS term_x1e6
  FROM margins
)
SELECT rp AS priority, cs AS status, observed, expected_x100, term_x1e6,
       cast(sum(term_x1e6) OVER () AS bigint) AS chi2_total_x1e6
FROM terms
ORDER BY priority, status
""",
    doc="Chi-square independence audit of order priority vs status: "
    "per-cell (O*N - R*C)^2 / (R*C*N) with the float expectation "
    "cross-multiplied away — every term is HUGEINT/decimal(38,0) "
    "integer arithmetic with a fixed trunc order, so both engines agree "
    "exactly. Margins come from three windows over the tiny cell table "
    "(one fact aggregate underneath). The categorical-drift /"
    "association test for ingest monitoring.",
    tags=("stats", "quality", "window", "fixed-point"),
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("rp"), F.col("o_orderstatus").alias("cs")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = cells.select(
        "rp",
        "cs",
        "o",
        F.sum("o").over(W.partitionBy("rp")).alias("rt"),
        F.sum("o").over(W.partitionBy("cs")).alias("ct"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    terms = margins.select(
        "rp",
        "cs",
        F.col("o").cast("long").alias("observed"),
        F.expr(
            "cast((cast(rt as decimal(38,0)) * ct * 100) div n as bigint)"
        ).alias("expected_x100"),
        F.expr(
            "cast((((cast(o as decimal(38,0)) * n - cast(rt as decimal(38,0)) * ct)"
            " * (cast(o as decimal(38,0)) * n - cast(rt as decimal(38,0)) * ct))"
            " div (cast(rt as decimal(38,0)) * ct)) * 1000000 div n div n as bigint)"
        ).alias("term_x1e6"),
    )
    return terms.select(
        F.col("rp").alias("priority"),
        F.col("cs").alias("status"),
        "observed",
        "expected_x100",
        "term_x1e6",
        F.sum("term_x1e6").over(W.partitionBy()).alias("chi2_total_x1e6"),
    ).orderBy("priority", "status")


# ---------------------------------------------------------------------------
# Per-class precision / recall / F1
# ---------------------------------------------------------------------------


@register(
    "ml_prf_metrics",
    oracle=f"""
WITH {SQL_LANGID_PRED.lstrip()},
classes AS (
  SELECT actual_lang AS cls FROM pred
  UNION
  SELECT predicted_lang FROM pred
),
counts AS (
  SELECT c.cls,
         cast(coalesce(sum(CASE WHEN p.actual_lang = c.cls AND p.predicted_lang = c.cls THEN 1 ELSE 0 END), 0) AS bigint) AS tp,
         cast(coalesce(sum(CASE WHEN p.actual_lang <> c.cls AND p.predicted_lang = c.cls THEN 1 ELSE 0 END), 0) AS bigint) AS fp,
         cast(coalesce(sum(CASE WHEN p.actual_lang = c.cls AND p.predicted_lang <> c.cls THEN 1 ELSE 0 END), 0) AS bigint) AS fn
  FROM classes c CROSS JOIN pred p
  GROUP BY c.cls
),
prf AS (
  SELECT cls, tp, fp, fn,
         CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) // (tp + fp) END AS precision_x1e6,
         CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000000) // (tp + fn) END AS recall_x1e6
  FROM counts
)
SELECT cls, tp, fp, fn,
       cast(precision_x1e6 AS bigint) AS precision_x1e6,
       cast(recall_x1e6 AS bigint) AS recall_x1e6,
       cast(CASE WHEN precision_x1e6 + recall_x1e6 = 0 THEN 0
                 ELSE (2 * precision_x1e6 * recall_x1e6) // (precision_x1e6 + recall_x1e6)
            END AS bigint) AS f1_x1e6
FROM prf
ORDER BY cls
""",
    doc="Per-class precision/recall/F1 of the stopword language-ID "
    "heuristic against the labeled lang column — the model-evaluation "
    "rollup every classifier-in-the-pipeline needs. TP/FP/FN per class "
    "from one pass over (actual, predicted) pair counts; ratios as "
    "x1e6 trunc divisions with 0-denominator guards; F1 as the harmonic "
    "mean computed ON the x1e6 integers (same formula both engines). "
    "The class dimension is tiny — the Spark side aggregates the "
    "confusion pairs once and derives all classes from it, no "
    "classes-x-docs blowup.",
    tags=("ml", "evaluation", "fixed-point"),
)
def ml_prf_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual_lang"),
        lang_id(F.col("text")).alias("predicted_lang"),
    )
    pairs = pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    classes = (
        pairs.select(F.col("actual_lang").alias("cls"))
        .union(pairs.select("predicted_lang"))
        .distinct()
    )
    counts = (
        F.broadcast(classes)
        .crossJoin(pairs)
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("actual_lang") == F.col("cls"))
                    & (F.col("predicted_lang") == F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("actual_lang") != F.col("cls"))
                    & (F.col("predicted_lang") == F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("actual_lang") == F.col("cls"))
                    & (F.col("predicted_lang") != F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    prf = counts.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) div (tp + fp) END"
        ).alias("precision_x1e6"),
        F.expr(
            "CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000000) div (tp + fn) END"
        ).alias("recall_x1e6"),
    )
    return prf.select(
        "cls",
        "tp",
        "fp",
        "fn",
        "precision_x1e6",
        "recall_x1e6",
        F.expr(
            "cast(CASE WHEN precision_x1e6 + recall_x1e6 = 0 THEN 0"
            " ELSE (2 * precision_x1e6 * recall_x1e6)"
            " div (precision_x1e6 + recall_x1e6) END as bigint)"
        ).alias("f1_x1e6"),
    ).orderBy("cls")
