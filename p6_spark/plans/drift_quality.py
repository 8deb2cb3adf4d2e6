"""Temporal drift / completeness / sketch-calibration operators:
CUSUM change detection, lag-1 autocorrelation, calendar-gap audit, and
MinHash-vs-exact Jaccard calibration — the monitoring layer that runs
beside a production ingest.

Same fixed-point discipline as the rest of the registry: means are
never divided out early; everything is cross-multiplied into exact
integers (decimal(38,0)/HUGEINT where products can exceed 2^63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS, sql_lsh_pairs, sql_minhash_sig
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# CUSUM drift detection over daily event counts
# ---------------------------------------------------------------------------


@register(
    "q_cusum_drift",
    oracle="""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, day, x,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(x) OVER (PARTITION BY event_type) AS t
  FROM daily
),
cusum AS (
  SELECT event_type, day,
         sum(x * n - t) OVER (PARTITION BY event_type ORDER BY day) AS s_scaled,
         n, t
  FROM tot
)
SELECT event_type,
       cast(min(n) AS bigint) AS n_days,
       cast(min(t) AS bigint) AS total_events,
       cast(max(abs(s_scaled)) AS bigint) AS max_cusum_scaled,
       cast((max(abs(s_scaled)) * 1000) // min(t) AS bigint) AS drift_score_x1e3
FROM cusum
GROUP BY event_type
ORDER BY event_type
""",
    doc="CUSUM change-point score per event type over the daily count "
    "series: S_t = sum_{i<=t}(x_i - mean) tracked WITHOUT the float "
    "mean — cross-multiplied to sum(x_i*n - T) (scale n), so the "
    "running sum is exact integers. max|S_t| near 0 = stationary; "
    "large = a level shift somewhere (the ingest-volume drift alarm). "
    "One (type, day) aggregate, two windows on the same partitioning.",
    tags=("timeseries", "drift", "window", "fixed-point"),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    wt = W.partitionBy("event_type")
    wc = W.partitionBy("event_type").orderBy("day")
    tot = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("t"),
    )
    cusum = tot.withColumn(
        "s_scaled", F.sum(F.col("x") * F.col("n") - F.col("t")).over(wc)
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.min("n").alias("n_days"),
            F.min("t").alias("total_events"),
            F.max(F.abs("s_scaled")).alias("max_cusum_scaled"),
            F.expr(
                "cast((max(abs(s_scaled)) * 1000) div min(t) as bigint)"
            ).alias("drift_score_x1e3"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "q_autocorr_lag1",
    oracle="""
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS mo,
         sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS x
  FROM orders GROUP BY 1
),
stats AS (
  SELECT mo, x,
         count(*) OVER () AS n,
         sum(x) OVER () AS t,
         lag(x) OVER (ORDER BY mo) AS xp
  FROM daily
),
terms AS (
  SELECT n, t,
         (x::HUGEINT * n - t) AS dev,
         (xp::HUGEINT * n - t) AS devp
  FROM stats
)
SELECT cast(min(n) AS bigint) AS n_periods,
       cast(min(t) AS bigint) AS total_x100,
       cast((sum(CASE WHEN devp IS NOT NULL THEN dev * devp ELSE 0 END) * 1000000)
            // sum(dev * dev) AS bigint) AS autocorr_x1e6
FROM terms
""",
    doc="Lag-1 autocorrelation of monthly revenue — the seasonality / "
    "momentum probe. Deviations are cross-multiplied (x*n - T, scale n) "
    "so numerator sum(dev_t * dev_{t-1}) and denominator sum(dev^2) are "
    "exact HUGEINT/decimal(38,0) integers sharing the same scale — the "
    "n^2 factors cancel in the final x1e6 ratio. One month aggregate, "
    "one lag window, one rollup.",
    tags=("timeseries", "stats", "window", "fixed-point"),
)
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
    )
    wt = W.partitionBy()
    wl = W.orderBy("mo")
    stats = daily.select(
        "mo",
        "x",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("t"),
        F.lag("x").over(wl).alias("xp"),
    )
    terms = stats.select(
        "n",
        "t",
        F.expr("cast(x as decimal(38,0)) * n - t").alias("dev"),
        F.expr("cast(xp as decimal(38,0)) * n - t").alias("devp"),
    )
    return terms.agg(
        F.min("n").alias("n_periods"),
        F.min("t").alias("total_x100"),
        F.expr(
            "cast((sum(CASE WHEN devp IS NOT NULL THEN dev * devp ELSE 0 END)"
            " * 1000000) div sum(dev * dev) as bigint)"
        ).alias("autocorr_x1e6"),
    )


# ---------------------------------------------------------------------------
# Calendar-gap (missing days) audit
# ---------------------------------------------------------------------------


@register(
    "q_missing_days",
    oracle="""
WITH bounds AS (
  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
),
calendar AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
expected AS (SELECT t.event_type, c.day FROM types t CROSS JOIN calendar c),
observed AS (SELECT DISTINCT event_type, ts::DATE AS day FROM events),
missing AS (
  SELECT e.event_type, e.day
  FROM expected e LEFT JOIN observed o
    ON e.event_type = o.event_type AND e.day = o.day
  WHERE o.day IS NULL
)
SELECT t.event_type,
       (SELECT count(*) FROM calendar) AS n_calendar_days,
       cast(count(m.day) AS bigint) AS n_missing,
       coalesce(strftime(min(m.day), '%Y-%m-%d'), '') AS first_missing
FROM types t LEFT JOIN missing m ON t.event_type = m.event_type
GROUP BY t.event_type
ORDER BY t.event_type
""",
    doc="Calendar completeness audit: the full day range is generated "
    "from the observed min/max (sequence/generate_series — no calendar "
    "table needed), crossed with the event-type dimension (tiny, "
    "broadcast), and anti-joined against observed (type, day) pairs. "
    "Reports missing-day counts and the first gap per type — the "
    "did-yesterday's-partition-land check. The calendar side is "
    "|types| x |days| rows, never the fact table.",
    tags=("quality", "timeseries", "generator"),
)
def q_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    calendar = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    n_cal = calendar.agg(F.count(F.lit(1)).alias("n_calendar_days"))
    types = ev.select("event_type").distinct()
    expected = types.crossJoin(F.broadcast(calendar))
    observed = ev.select("event_type", F.to_date("ts").alias("day")).distinct()
    missing = expected.join(observed, ["event_type", "day"], "left_anti")
    per_type = types.join(
        missing.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_missing"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_missing"),
        ),
        "event_type",
        "left",
    )
    return (
        per_type.crossJoin(F.broadcast(n_cal))  # 1-row scalar attach
        .select(
            "event_type",
            "n_calendar_days",
            F.coalesce(F.col("n_missing"), F.lit(0)).alias("n_missing"),
            F.coalesce(F.col("first_missing"), F.lit("")).alias("first_missing"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# MinHash calibration: estimated vs exact Jaccard on candidate pairs
# ---------------------------------------------------------------------------


@register(
    "dd_minhash_calibration",
    oracle=f"""
WITH {sql_minhash_sig("doc_id < 1000").lstrip().lstrip(chr(10))},
{sql_lsh_pairs(cap=None, compact=True)},
est AS (
  SELECT p.id_a, p.id_b,
         ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
        + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
        + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
        + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)
         ) * 125000 AS est_x1e6
  FROM pairs p JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id
),
dtoks AS (SELECT doc_id, list_sort(list_distinct({SQL_TOKENS})) AS toks
          FROM documents WHERE doc_id < 1000),
exact AS (
  SELECT e.id_a, e.id_b, e.est_x1e6,
         cast((len(list_intersect(ta.toks, tb.toks))::HUGEINT * 1000000)
              // (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
           AS bigint) AS exact_x1e6
  FROM est e JOIN dtoks ta ON e.id_a = ta.doc_id JOIN dtoks tb ON e.id_b = tb.doc_id
)
SELECT est_x1e6 // 250000 AS est_bucket,
       cast(count(*) AS bigint) AS n_pairs,
       cast(sum(exact_x1e6) // count(*) AS bigint) AS mean_exact_x1e6,
       cast(min(exact_x1e6) AS bigint) AS min_exact_x1e6,
       cast(max(exact_x1e6) AS bigint) AS max_exact_x1e6
FROM exact
GROUP BY 1
ORDER BY est_bucket
""",
    doc="Sketch-calibration audit: for every LSH candidate pair, the "
    "MinHash-estimated Jaccard (matching signature components / 8, "
    "x1e6) is compared against the EXACT distinct-token Jaccard, "
    "bucketed by estimate quartile. The error profile tells you whether "
    "8 hashes are enough before you trust the sketch at 100x the data — "
    "measure the sketch, don't guess. Signatures join back by doc id "
    "(the sketch table is small); exact Jaccard runs only on candidate "
    "pairs, never all pairs. Calibration runs on a FIXED 1000-doc panel "
    "(doc_id < 1000): an s-curve estimate needs a bounded sample, not "
    "the corpus — the round-4 sf1.0 sweep caught the unbounded version "
    "going quadratic on this corpus's dense minhash buckets (~30-word "
    "vocabulary), and a fixed panel bounds the pair count at every SF.",
    tags=("dedup", "sketch", "calibration", "fixed-point"),
)
def dd_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.text import tokens

    # fixed calibration panel — see the oracle doc note
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs)
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
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (matches * 125000).alias("est_x1e6"))
    )
    dtoks = docs.select(
        "doc_id", F.array_sort(F.array_distinct(tokens(F.col("text")))).alias("toks")
    )
    ta = dtoks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = dtoks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    exact = (
        est.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "est_x1e6",
            F.expr(
                "cast((cast(size(array_intersect(ta, tb)) as decimal(38,0)) * 1000000)"
                " div (size(ta) + size(tb) - size(array_intersect(ta, tb))) as bigint)"
            ).alias("exact_x1e6"),
        )
    )
    return (
        exact.groupBy(F.expr("est_x1e6 div 250000").alias("est_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("cast(sum(exact_x1e6) div count(*) as bigint)").alias(
                "mean_exact_x1e6"
            ),
            F.min("exact_x1e6").alias("min_exact_x1e6"),
            F.max("exact_x1e6").alias("max_exact_x1e6"),
        )
        .orderBy("est_bucket")
    )


# ---------------------------------------------------------------------------
# Gap-fill with linear interpolation
# ---------------------------------------------------------------------------


@register(
    "q_gapfill_linear",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         cast(sum(cast(round(value * 100, 0) AS bigint)) AS bigint) AS v_x100
  FROM events WHERE user_id < 10 GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM hourly GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
),
joined AS (
  SELECT g.user_id, g.bucket,
         cast(epoch(g.bucket) // 3600 AS bigint) AS idx,
         h.v_x100
  FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
),
bracketed AS (
  SELECT user_id, bucket, idx, v_x100,
         last_value(v_x100 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v_x100 IS NOT NULL THEN idx END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pidx,
         first_value(v_x100 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY idx
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v_x100 IS NOT NULL THEN idx END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY idx
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nidx
  FROM joined
),
interp AS (
  SELECT user_id,
         CASE WHEN v_x100 IS NULL THEN 1 ELSE 0 END AS is_gap,
         CASE WHEN v_x100 IS NOT NULL THEN v_x100
              ELSE pv + ((nv - pv) * (idx - pidx)) // (nidx - pidx)
         END AS v_filled_x100
  FROM bracketed
)
SELECT user_id,
       count(*) AS n_buckets,
       cast(sum(is_gap) AS bigint) AS n_gaps,
       cast(sum(v_filled_x100) AS bigint) AS interp_sum_x100
FROM interp GROUP BY user_id ORDER BY user_id
""",
    doc="Gap-fill with LINEAR interpolation (TimescaleDB interpolate()): "
    "same per-user hourly grid as q_gapfill_locf, but each missing "
    "bucket takes prev + (next-prev)*(t-t0) div (t1-t0) — exact integer "
    "interpolation on cent-scaled values with epoch-hour indices. The "
    "prev/next brackets come from last_value/first_value IGNORE NULLS "
    "windows sharing the user_id partitioning; interior gaps always "
    "have both brackets because the grid spans each user's own "
    "[min, max] observation.",
    tags=("window", "timeseries", "gapfill", "fixed-point"),
)
def q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_x100"))
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    joined = grid.join(hourly, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        F.expr("unix_timestamp(bucket) div 3600").alias("idx"),
        "v_x100",
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = (
        W.partitionBy("user_id")
        .orderBy("idx")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_idx = F.when(F.col("v_x100").isNotNull(), F.col("idx"))
    bracketed = joined.select(
        "user_id",
        "v_x100",
        "idx",
        F.last("v_x100", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_idx, ignorenulls=True).over(wp).alias("pidx"),
        F.first("v_x100", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_idx, ignorenulls=True).over(wn).alias("nidx"),
    )
    interp = bracketed.select(
        "user_id",
        F.when(F.col("v_x100").isNull(), 1).otherwise(0).alias("is_gap"),
        F.when(F.col("v_x100").isNotNull(), F.col("v_x100"))
        .otherwise(
            F.expr("pv + ((nv - pv) * (idx - pidx)) div (nidx - pidx)")
        )
        .alias("v_filled_x100"),
    )
    return (
        interp.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("is_gap").alias("n_gaps"),
            F.sum("v_filled_x100").alias("interp_sum_x100"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Population Stability Index (PSI) drift
# ---------------------------------------------------------------------------


@register(
    "dd_psi_drift",
    oracle="""
WITH halves AS (
  SELECT cast(round(value * 1000000, 0) AS bigint) AS v,
         CASE WHEN ts < timestamp '2024-01-15 00:00:00' THEN 0 ELSE 1 END AS half
  FROM events
),
binned AS (
  SELECT half, least(greatest(v * 10 // 100000001, 0), 9) AS bin FROM halves
),
cells AS (
  SELECT bin,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS ca,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS cb
  FROM binned GROUP BY bin
),
shares AS (
  SELECT bin, ca, cb,
         (ca * 1000000) // (sum(ca) OVER ()) AS pa_x1e6,
         (cb * 1000000) // (sum(cb) OVER ()) AS pb_x1e6
  FROM cells
),
terms AS (
  SELECT bin, cast(pa_x1e6 AS bigint) AS pa_x1e6, cast(pb_x1e6 AS bigint) AS pb_x1e6,
         cast((pa_x1e6 - pb_x1e6)
              * cast(round((ln(pa_x1e6) - ln(pb_x1e6)) * 1000, 0) AS bigint) AS bigint)
           AS term_x1e9
  FROM shares
)
SELECT bin, pa_x1e6, pb_x1e6, term_x1e9,
       cast(sum(term_x1e9) OVER () AS bigint) AS psi_x1e9
FROM terms
ORDER BY bin
""",
    doc="Population Stability Index between the first and second half of "
    "the event stream — THE score-drift metric in ML ops (PSI > 0.2 = "
    "retrain). Values binned on a fixed equal-width grid (deterministic "
    "edges, add-1 smoothing so no bin is empty); shares are x1e6 trunc "
    "ratios and the ln ratio is snapped to x1e3 integers (the "
    "txt_lm_score convention), so every term — and the total — is exact "
    "integer arithmetic both engines replay. One scan, one 10-bin "
    "aggregate, windows over the bin table.",
    tags=("drift", "ml", "quality", "fixed-point"),
)
def dd_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    halves = ev.select(
        F.round(F.col("value") * 1000000, 0).cast("long").alias("v"),
        F.when(
            F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("half"),
    )
    binned = halves.select(
        "half",
        F.least(
            F.greatest(F.expr("v * 10 div 100000001"), F.lit(0)), F.lit(9)
        ).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        (F.sum(F.when(F.col("half") == 0, 1).otherwise(0)) + 1).alias("ca"),
        (F.sum(F.when(F.col("half") == 1, 1).otherwise(0)) + 1).alias("cb"),
    )
    wt = W.partitionBy()
    shares = cells.select(
        "bin",
        F.expr("(ca * 1000000) div (sum(ca) over ())").alias("pa_x1e6"),
        F.expr("(cb * 1000000) div (sum(cb) over ())").alias("pb_x1e6"),
    )
    terms = shares.select(
        "bin",
        "pa_x1e6",
        "pb_x1e6",
        (
            (F.col("pa_x1e6") - F.col("pb_x1e6"))
            * F.round(
                (F.log("pa_x1e6") - F.log("pb_x1e6")) * 1000, 0
            ).cast("long")
        ).alias("term_x1e9"),
    )
    return terms.select(
        "bin",
        "pa_x1e6",
        "pb_x1e6",
        "term_x1e9",
        F.sum("term_x1e9").over(wt).alias("psi_x1e9"),
    ).orderBy("bin")
