"""Ordinal association, classifier evaluation, and risk-series operators.

All six follow the repo's exact-integer certification style: values are
quantized to scaled bigints, every ratio is trunc division, and wide
intermediates run in decimal(38,0) (Spark) / HUGEINT (DuckDB) so the
results hash exactly under any partitioning.

Scale notes common to the family: the rank/contingency reductions here
collapse the fact table to a bounded intermediate FIRST (distinct-value
contingency cells, per-day calendar rows, per-score tie groups) and only
then run windows or self-joins over that bounded table — the window
partitions are sized by #distinct values or #calendar days, never by row
count, so nothing here degrades at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Goodman-Kruskal gamma: ordinal association without a sqrt
# ---------------------------------------------------------------------------


@register(
    "q_kendall_gamma",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS flag,
         cast(l_quantity AS bigint) AS q,
         cast(round(l_discount * 100, 0) AS bigint) AS d,
         cast(count(*) AS bigint) AS n
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.flag,
         sum(CASE WHEN b.d > a.d THEN a.n::HUGEINT * b.n ELSE 0 END) AS concordant,
         sum(CASE WHEN b.d < a.d THEN a.n::HUGEINT * b.n ELSE 0 END) AS discordant
  FROM cells a JOIN cells b ON a.flag = b.flag AND b.q > a.q
  GROUP BY a.flag
)
SELECT flag,
       cast(concordant AS bigint) AS concordant,
       cast(discordant AS bigint) AS discordant,
       cast((concordant - discordant) * 1000000
            // (concordant + discordant) AS bigint) AS gamma_x1e6
FROM pairs
ORDER BY flag
""",
    doc="Goodman-Kruskal gamma between quantity and discount per return "
    "flag — rank correlation for tied ordinal data, chosen over "
    "Spearman/Kendall tau-b because gamma = (C-D)/(C+D) needs no sqrt, "
    "so it stays an exact integer ratio. Pair counting runs on the "
    "CONTINGENCY TABLE, not the rows: one aggregate collapses the fact "
    "table to <= |q| x |d| cells per flag (50x11 here, bounded by the "
    "value domains at any SF), then a cells-x-cells self-join counts "
    "concordant/discordant pairs as n_a*n_b products. The b.q > a.q "
    "join predicate orients each unordered pair once and drops q-ties, "
    "exactly gamma's definition. HUGEINT/decimal(38,0) products survive "
    "row counts up to ~1e18.",
    tags=("stats", "ordinal", "fixed-point"),
)
def q_kendall_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        )
        .groupBy("flag", "q", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cells.select(
        "flag", F.col("q").alias("qa"), F.col("d").alias("da"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("flag").alias("flag_b"),
        F.col("q").alias("qb"),
        F.col("d").alias("db"),
        F.col("n").alias("nb"),
    )
    prod = F.expr("cast(na as decimal(38,0)) * nb")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("flag") == F.col("flag_b")) & (F.col("qb") > F.col("qa")),
        )
        .groupBy("flag")
        .agg(
            F.sum(F.when(F.col("db") > F.col("da"), prod).otherwise(F.lit(0))).alias(
                "conc"
            ),
            F.sum(F.when(F.col("db") < F.col("da"), prod).otherwise(F.lit(0))).alias(
                "disc"
            ),
        )
    )
    return pairs.select(
        "flag",
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.expr("cast(((conc - disc) * 1000000) div (conc + disc) as bigint)").alias(
            "gamma_x1e6"
        ),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# Exact ROC-AUC via the rank-sum identity (tie-aware, sqrt-free)
# ---------------------------------------------------------------------------


@register(
    "ml_roc_auc",
    oracle="""
WITH labeled AS (
  SELECT l_linestatus AS grp,
         cast(l_quantity AS bigint) AS score,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
per_score AS (
  SELECT grp, score,
         cast(sum(pos) AS bigint) AS npos,
         cast(count(*) - sum(pos) AS bigint) AS nneg
  FROM labeled GROUP BY 1, 2
),
cum AS (
  SELECT grp, npos, nneg,
         sum(nneg) OVER (PARTITION BY grp ORDER BY score) - nneg AS neg_lt
  FROM per_score
),
agg AS (
  SELECT grp,
         sum(npos) AS p,
         sum(nneg) AS n,
         sum(npos::HUGEINT * (2 * neg_lt + nneg)) AS num2
  FROM cum GROUP BY grp
)
SELECT grp,
       cast(p AS bigint) AS n_pos,
       cast(n AS bigint) AS n_neg,
       cast(num2 * 1000000 // (2 * p::HUGEINT * n) AS bigint) AS auc_x1e6
FROM agg
ORDER BY grp
""",
    doc="Exact ROC-AUC of 'quantity predicts return' per line status, via "
    "the rank-sum (Mann-Whitney) identity with the standard tie "
    "correction: AUC*2PN = sum over tie groups of npos*(2*neg_below + "
    "nneg) — each pos/neg pair contributes 2 if the positive scores "
    "higher, 1 on a tie. No sorting of raw rows and no trapezoids: one "
    "aggregate collapses to per-score tie groups (<= |score domain| "
    "rows, 50 here), a prefix sum over that bounded table, one final "
    "ratio in HUGEINT/decimal(38,0). The float-free twin of sklearn's "
    "roc_auc_score at warehouse scale.",
    tags=("ml", "eval", "fixed-point"),
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_score = (
        li.select(
            F.col("l_linestatus").alias("grp"),
            F.col("l_quantity").cast("long").alias("score"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
        )
        .groupBy("grp", "score")
        .agg(
            F.sum("pos").cast("long").alias("npos"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("nneg"),
        )
    )
    w = W.partitionBy("grp").orderBy("score")
    cum = per_score.withColumn(
        "neg_lt", F.sum("nneg").over(w) - F.col("nneg")
    )
    agg = cum.groupBy("grp").agg(
        F.sum("npos").alias("p"),
        F.sum("nneg").alias("n"),
        F.sum(F.expr("cast(npos as decimal(38,0)) * (2 * neg_lt + nneg)")).alias(
            "num2"
        ),
    )
    return agg.select(
        "grp",
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        F.expr(
            "cast((num2 * 1000000) div (2 * cast(p as decimal(38,0)) * n)"
            " as bigint)"
        ).alias("auc_x1e6"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# Maximum drawdown over the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "q_max_drawdown",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         date_trunc('day', o_orderdate) AS day,
         cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders GROUP BY 1, 2
),
runs AS (
  SELECT prio, day,
         row_number() OVER (PARTITION BY prio ORDER BY day) AS t,
         sum(cents)   OVER (PARTITION BY prio ORDER BY day) AS run,
         count(*)     OVER (PARTITION BY prio) AS n,
         sum(cents)   OVER (PARTITION BY prio) AS tot
  FROM daily
),
eqs AS (
  SELECT prio, day, n, tot,
         n::HUGEINT * run - t::HUGEINT * tot AS eq
  FROM runs
),
dd AS (
  SELECT prio, n, tot, eq,
         max(eq) OVER (PARTITION BY prio ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM eqs
)
SELECT prio,
       cast(max(n) AS bigint) AS n_days,
       cast(max(peak - eq) AS bigint) AS max_drawdown_cents_xn,
       cast(max(tot) AS bigint) AS total_cents
FROM dd
GROUP BY prio
ORDER BY prio
""",
    doc="Maximum drawdown of the DEMEANED cumulative daily revenue "
    "'equity curve' per order priority — the risk-series staple "
    "(largest peak-to-trough drop of the running total relative to "
    "trend). The raw cumsum of strictly-positive daily cents is "
    "monotone, so its drawdown is identically 0 (ADVICE r3); instead "
    "the curve is de-trended exactly in integers: eq_t = N*run_t - "
    "t*TOTAL (the demeaned cumsum scaled by N, which starts and ends "
    "at 0 and genuinely dips), then running peak in DAY order, then "
    "max(peak - eq). Units are cents*N_days. Two prefix scans over the "
    "DAILY series; the fact table collapses to one row per (priority, "
    "day) first, so the window partition is calendar-bounded (~2400 "
    "rows) regardless of SF; N*run stays exact via decimal(38,0)/"
    "HUGEINT.",
    tags=("timeseries", "window", "fixed-point"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("prio"),
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("prio", "day")
        .agg(F.sum("c").alias("cents"))
    )
    wday = W.partitionBy("prio").orderBy("day")
    wall = W.partitionBy("prio")
    runs = (
        daily.withColumn("t", F.row_number().over(wday))
        .withColumn("run", F.sum("cents").over(wday))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("tot", F.sum("cents").over(wall))
        .withColumn(
            "eq",
            F.expr(
                "cast(n as decimal(38,0)) * run"
                " - cast(t as decimal(38,0)) * tot"
            ),
        )
    )
    dd = runs.withColumn(
        "peak", F.max("eq").over(wday.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        dd.groupBy("prio")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.max(F.col("peak") - F.col("eq"))
            .cast("long")
            .alias("max_drawdown_cents_xn"),
            F.max("tot").cast("long").alias("total_cents"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Bollinger-band breaches without a sqrt: compare squares
# ---------------------------------------------------------------------------


@register(
    "q_bollinger_breach",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         date_trunc('day', o_orderdate) AS day,
         cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders GROUP BY 1, 2
),
roll AS (
  SELECT prio, cents,
         count(*)      OVER w AS n,
         sum(cents)    OVER w AS s,
         sum(cents::HUGEINT * cents) OVER w AS ss
  FROM daily
  WINDOW w AS (PARTITION BY prio ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
full_win AS (
  SELECT prio,
         (20::HUGEINT * cents - s) AS dev_n,
         (20::HUGEINT * ss - s::HUGEINT * s) AS var_nn
  FROM roll WHERE n = 20
)
SELECT prio,
       cast(count(*) AS bigint) AS n_days_full,
       cast(sum(CASE WHEN dev_n > 0 AND dev_n * dev_n > 4 * var_nn THEN 1 ELSE 0 END)
            AS bigint) AS n_breach_up,
       cast(sum(CASE WHEN dev_n < 0 AND dev_n * dev_n > 4 * var_nn THEN 1 ELSE 0 END)
            AS bigint) AS n_breach_dn
FROM full_win
GROUP BY prio
ORDER BY prio
""",
    doc="Bollinger-band breach counter on the daily revenue series per "
    "priority: a day breaches when it sits outside mean +/- 2 sigma of "
    "its trailing 20-day window. The sqrt is ALGEBRAICALLY ELIMINATED: "
    "|x - mu| > 2*sigma  <=>  (n*x - S)^2 > 4*(n*SS - S^2) with n=20, "
    "so the whole test is integer comparisons on cents — hash-exact "
    "where a float sigma would drift across engines. One calendar-"
    "bounded rolling window per priority; squared cents run in "
    "HUGEINT/decimal(38,0).",
    tags=("timeseries", "window", "fixed-point"),
)
def q_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("prio"),
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("prio", "day")
        .agg(F.sum("c").alias("cents"))
    )
    w = W.partitionBy("prio").orderBy("day").rowsBetween(-19, 0)
    roll = daily.select(
        "prio",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(F.expr("cast(cents as decimal(38,0)) * cents")).over(w).alias("ss"),
    ).filter(F.col("n") == 20)
    fw = roll.select(
        "prio",
        F.expr("20 * cast(cents as decimal(38,0)) - s").alias("dev_n"),
        F.expr(
            "20 * ss - cast(s as decimal(38,0)) * s"
        ).alias("var_nn"),
    )
    up = (F.col("dev_n") > 0) & (
        F.col("dev_n") * F.col("dev_n") > 4 * F.col("var_nn")
    )
    dn = (F.col("dev_n") < 0) & (
        F.col("dev_n") * F.col("dev_n") > 4 * F.col("var_nn")
    )
    return (
        fw.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_days_full"),
            F.sum(F.when(up, 1).otherwise(0)).cast("long").alias("n_breach_up"),
            F.sum(F.when(dn, 1).otherwise(0)).cast("long").alias("n_breach_dn"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# RSI-14 (SMA variant) summarized monthly
# ---------------------------------------------------------------------------


@register(
    "q_rsi14",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders GROUP BY 1
),
delta AS (
  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS d
  FROM daily
),
gl AS (
  SELECT day,
         greatest(d, 0) AS gain,
         greatest(-d, 0) AS loss,
         count(*) OVER w AS n14,
         sum(greatest(d, 0)) OVER w AS sgain,
         sum(greatest(-d, 0)) OVER w AS sloss
  FROM delta WHERE d IS NOT NULL
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
rsi AS (
  SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
         CASE WHEN sgain + sloss = 0 THEN 500000
              ELSE cast(sgain::HUGEINT * 1000000 // (sgain + sloss) AS bigint)
         END AS rsi_x1e4
  FROM gl WHERE n14 = 14
)
SELECT month,
       cast(count(*) AS bigint) AS n_days,
       cast(min(rsi_x1e4) AS bigint) AS min_rsi_x1e4,
       cast(max(rsi_x1e4) AS bigint) AS max_rsi_x1e4,
       cast(sum(rsi_x1e4) AS bigint) AS sum_rsi_x1e4
FROM rsi
GROUP BY month
ORDER BY month
""",
    doc="RSI-14 (SMA flavor) over the global daily revenue series, rolled "
    "up monthly: RSI = 100 * sumGain / (sumGain + sumLoss) over a "
    "trailing 14-day window of day-over-day deltas, emitted as an exact "
    "x1e4 integer ratio (flat 14-day stretch pinned to neutral 500000 "
    "identically on both engines). The single unpartitioned window runs "
    "over the DAILY aggregate (~2400 calendar rows at any SF), not raw "
    "orders, so the global sort is bounded; the monthly rollup keeps "
    "output small. Min/max/sum per month rather than a float average "
    "keeps the emitted columns integer-exact.",
    tags=("timeseries", "window", "fixed-point"),
)
def q_rsi14(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_trunc("day", "o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"))
    )
    wd = W.orderBy("day")
    delta = daily.withColumn("d", F.col("cents") - F.lag("cents").over(wd)).filter(
        F.col("d").isNotNull()
    )
    w14 = W.orderBy("day").rowsBetween(-13, 0)
    gl = delta.select(
        "day",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(w14).alias("sgain"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(w14).alias("sloss"),
    ).filter(F.col("n14") == 14)
    rsi = gl.select(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"),
        F.when(F.col("sgain") + F.col("sloss") == 0, F.lit(500000))
        .otherwise(
            F.expr(
                "cast((cast(sgain as decimal(38,0)) * 1000000)"
                " div (sgain + sloss) as bigint)"
            )
        )
        .alias("rsi_x1e4"),
    )
    return (
        rsi.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("rsi_x1e4").alias("min_rsi_x1e4"),
            F.max("rsi_x1e4").alias("max_rsi_x1e4"),
            F.sum("rsi_x1e4").alias("sum_rsi_x1e4"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Link prediction on the supplier-part bipartite graph
# ---------------------------------------------------------------------------


@register(
    "q_graph_link_predict",
    oracle="""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
deg AS (
  SELECT p, cast(count(*) AS bigint) AS d
  FROM edges GROUP BY p
  HAVING count(*) BETWEEN 2 AND 50
),
scored AS (
  SELECT a.s AS s1, b.s AS s2,
         cast(count(*) AS bigint) AS common_parts,
         cast(sum(1000000 // deg.d) AS bigint) AS ra_x1e6
  FROM edges a
  JOIN deg ON deg.p = a.p
  JOIN edges b ON b.p = a.p AND b.s > a.s
  GROUP BY a.s, b.s
)
SELECT s1, s2, common_parts, ra_x1e6
FROM scored
ORDER BY common_parts DESC, ra_x1e6 DESC, s1, s2
LIMIT 20
""",
    doc="Link prediction on the supplier-part bipartite graph built from "
    "lineitem: rank unlinked supplier pairs by common-neighbor count "
    "with the Resource-Allocation index (sum of 1/deg(shared part)) as "
    "tiebreak — RA chosen over Adamic-Adar because 1/deg is an exact "
    "rational (emitted as sum of 1000000 div deg) while 1/log(deg) is "
    "not. The pair generation is the classic wedge join: edges joined "
    "to themselves through the shared part, oriented s2 > s1. The "
    "HAVING 2..50 degree cap is the standard hot-vertex mitigation: a "
    "part stocked by every supplier contributes O(|S|^2) wedges and no "
    "signal, so high-degree parts are dropped BEFORE the self-join — "
    "that cap, not the join, is what keeps this linear-ish at 100 TB. "
    "Top-20 under a total order (count, RA, s1, s2).",
    tags=("graph", "similarity", "fixed-point"),
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    # Round-11 restructure (guide §2.4 — remove the join outright): the
    # wedge self-join is replaced by sorted-adjacency pair explosion.
    # The r7 A/B (benchdata/r07_link_predict_ab.json) only compared
    # checkpointed vs lazy forms of the SAME wedge join; this removes
    # the join itself. The degree cap still bites BEFORE any supplier
    # set is materialized: a part-partitioned window count (the
    # dd_substring_spans pattern — WindowExec buffers one part's edges
    # and spills gracefully, never builds an unbounded hash-agg array
    # for a hot part) filters to d in [2, 50], and only then does
    # collect_list build the <= 50-element adjacency. The groupBy(p)
    # reuses the window's hash(p) exchange, so the adjacency costs no
    # extra shuffle. Pairs come from posexplode + slice (each
    # intermediate row carries an O(d) array, never an O(d^2) cell),
    # oriented s1 < s2 by the ascending array_sort — exactly the
    # wedge join's s2 > s orientation. Same (count, sum(1000000 div d))
    # arithmetic; oracle untouched. Same-session alternating A/B
    # (benchdata/r11_link_predict_ab.json, identical 20 rows asserted):
    # min 2.70 s vs 5.52 s for the wedge join (0.49x).
    capped = (
        edges.withColumn("d", F.count(F.lit(1)).over(W.partitionBy("p")))
        .filter((F.col("d") >= 2) & (F.col("d") <= 50))
    )
    adj = (
        capped.groupBy("p")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select("ss", F.size("ss").alias("d"))
    )
    pairs = adj.select(
        F.posexplode("ss").alias("i", "s1"), "ss", "d"
    ).select(
        "s1",
        F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("s2"),
        "d",
    )
    scored = pairs.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).alias("common_parts"),
        F.sum(F.expr("1000000 div d")).alias("ra_x1e6"),
    )
    return scored.orderBy(
        F.desc("common_parts"), F.desc("ra_x1e6"), "s1", "s2"
    ).limit(20)
