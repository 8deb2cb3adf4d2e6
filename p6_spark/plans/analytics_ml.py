"""Analytics + in-engine ML surface: OHLC bars, seasonality profiles,
Z-order data layout, bitmap indexes, and the classic "train a tiny model
inside the warehouse" trio (closed-form linear regression, a decision
stump, kNN classification over the embedding column).

Everything follows the registry's fixed-point discipline: doubles are
quantized to scaled bigints BEFORE any aggregate, ratios are integer
trunc-division (Spark ``div`` == DuckDB ``//`` — property-pinned in
tests/test_scalars_property.py), and products that could exceed 2^63 at
large SF go through decimal(38,0) / HUGEINT, so every result is
hash-exact under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# OHLC bars
# ---------------------------------------------------------------------------


@register(
    "q_ohlc_bars",
    oracle="""
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hr,
         cast(round(value * 1000000, 0) AS bigint) AS v_x1e6,
         ts, event_id
  FROM events
),
rn AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, hr ORDER BY ts, event_id) AS rna,
         row_number() OVER (PARTITION BY event_type, hr ORDER BY ts DESC, event_id DESC) AS rnd
  FROM base
)
SELECT event_type, hr,
       max(CASE WHEN rna = 1 THEN v_x1e6 END) AS open_x1e6,
       max(v_x1e6) AS high_x1e6,
       min(v_x1e6) AS low_x1e6,
       max(CASE WHEN rnd = 1 THEN v_x1e6 END) AS close_x1e6,
       count(*) AS n_ticks
FROM rn
GROUP BY event_type, hr
ORDER BY event_type, hr
""",
    doc="Hourly OHLC bars per event type — the time-series resampling "
    "staple. First/last tick are picked by row_number over (ts, event_id) "
    "(a total order, so open/close are deterministic under ties); values "
    "are x1e6 bigints so high/low/open/close hash exactly. One shuffle on "
    "(event_type, hour); both windows and the aggregate reuse it.",
    tags=("timeseries", "window", "fixed-point"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hr"),
        F.round(F.col("value") * 1000000, 0).cast("long").alias("v_x1e6"),
        "ts",
        "event_id",
    )
    wa = W.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "hr").orderBy(F.desc("ts"), F.desc("event_id"))
    rn = base.withColumn("rna", F.row_number().over(wa)).withColumn(
        "rnd", F.row_number().over(wd)
    )
    return (
        rn.groupBy("event_type", "hr")
        .agg(
            F.max(F.when(F.col("rna") == 1, F.col("v_x1e6"))).alias("open_x1e6"),
            F.max("v_x1e6").alias("high_x1e6"),
            F.min("v_x1e6").alias("low_x1e6"),
            F.max(F.when(F.col("rnd") == 1, F.col("v_x1e6"))).alias("close_x1e6"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality
# ---------------------------------------------------------------------------


@register(
    "q_seasonal_dow",
    oracle="""
WITH per_dow AS (
  SELECT isodow(ts) AS dow,
         count(*) AS n_events,
         cast(sum(cast(round(value * 1000000, 0) AS bigint)) AS bigint) AS sum_x1e6
  FROM events
  GROUP BY 1
),
tot AS (
  SELECT dow, n_events, sum_x1e6,
         sum(n_events) OVER () AS total_n,
         sum(sum_x1e6) OVER () AS total_sum
  FROM per_dow
)
SELECT dow, n_events,
       cast(sum_x1e6 // n_events AS bigint) AS avg_x1e6,
       cast((sum_x1e6 // n_events) - (total_sum // total_n) AS bigint) AS dev_x1e6
FROM tot
ORDER BY dow
""",
    doc="Day-of-week seasonal profile: per-ISO-weekday mean event value "
    "(x1e6 fixed point) and its deviation from the global mean. The "
    "global mean comes from an unbounded window over the 7-row per-dow "
    "aggregate — no second scan, no crossJoin. Spark weekday()+1 == "
    "DuckDB isodow (Monday=1).",
    tags=("timeseries", "agg", "fixed-point"),
)
def q_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000, 0).cast("long")
    per_dow = ev.groupBy((F.weekday("ts") + 1).alias("dow")).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(v).alias("sum_x1e6")
    )
    w = W.partitionBy()
    tot = per_dow.withColumn("total_n", F.sum("n_events").over(w)).withColumn(
        "total_sum", F.sum("sum_x1e6").over(w)
    )
    return tot.select(
        "dow",
        "n_events",
        F.expr("sum_x1e6 div n_events").alias("avg_x1e6"),
        F.expr("(sum_x1e6 div n_events) - (total_sum div total_n)").alias("dev_x1e6"),
    ).orderBy("dow")


# ---------------------------------------------------------------------------
# Z-order (Morton) data layout
# ---------------------------------------------------------------------------


def _morton_sql(xcol: str, ycol: str, bits: int, engine: str) -> str:
    """Bit-interleave two `bits`-wide ints into a Morton code. Same formula
    rendered for Spark SQL (shiftleft/shiftright) and DuckDB (<</>>)."""
    terms = []
    for i in range(bits):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({xcol}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({ycol}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "q_zorder_layout",
    oracle=f"""
WITH keyed AS (
  SELECT cast(o_custkey % 256 AS int) AS cb,
         cast(date_diff('day', DATE '1992-01-01', o_orderdate::DATE) % 256 AS int) AS db
  FROM orders
),
z AS (SELECT cb, db, {_morton_sql('cb', 'db', 8, 'duck')} AS zval FROM keyed)
SELECT zval // 4096 AS zbucket,
       count(*) AS n_rows,
       min(zval) AS zmin, max(zval) AS zmax,
       count(DISTINCT cb) AS n_custbuckets,
       count(DISTINCT db) AS n_datebuckets
FROM z
GROUP BY 1
ORDER BY zbucket
""",
    doc="Z-order (Morton) layout audit for multi-dimensional data "
    "skipping: interleave 8-bit customer and order-date buckets, then "
    "report per-z-range file stats. Each 4096-wide z-bucket touches at "
    "most 64x64 of the 256x256 key grid (n_custbuckets/n_datebuckets "
    "columns prove the locality) — this is the layout a writer would "
    "sortWithinPartitions(zval) by so min/max parquet stats prune BOTH "
    "dimensions. Pure bit arithmetic, map-side only, one aggregate.",
    tags=("layout", "bitwise", "scale"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        (F.col("o_custkey") % 256).cast("int").alias("cb"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256)
        .cast("int")
        .alias("db"),
    )
    z = keyed.withColumn("zval", F.expr(_morton_sql("cb", "db", 8, "spark")))
    return (
        z.groupBy(F.expr("zval div 4096").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zval").alias("zmin"),
            F.max("zval").alias("zmax"),
            F.countDistinct("cb").alias("n_custbuckets"),
            F.countDistinct("db").alias("n_datebuckets"),
        )
        .orderBy("zbucket")
    )


# ---------------------------------------------------------------------------
# Bitmap index aggregation
# ---------------------------------------------------------------------------


@register(
    "q_bitmap_nations",
    oracle="""
SELECT o_orderpriority,
       bit_or(cast(1 AS bigint) << cast(c_nationkey AS int)) AS nation_bitmap,
       cast(bit_count(bit_or(cast(1 AS bigint) << cast(c_nationkey AS int))) AS int) AS n_nations,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Bitmap-index aggregation: the nation set per order priority "
    "packed into one bigint via bit_or(1 << nationkey) — the roaring-"
    "bitmap idea at word width. Set-union becomes an associative integer "
    "aggregate (partition-order invariant by construction), cardinality "
    "is bit_count. One orders->customer shuffle join, then a 5-group agg "
    "with map-side partials.",
    tags=("bitwise", "agg", "join"),
)
def q_bitmap_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    bm = F.expr("bit_or(shiftleft(cast(1 as bigint), cast(c_nationkey as int)))")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            bm.alias("nation_bitmap"),
            F.expr(
                "cast(bit_count(bit_or(shiftleft(cast(1 as bigint),"
                " cast(c_nationkey as int)))) as int)"
            ).alias("n_nations"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Closed-form linear regression (normal equations, fixed point)
# ---------------------------------------------------------------------------


@register(
    "ml_linreg",
    oracle="""
WITH pts AS (
  SELECT l_returnflag AS flag,
         cast(l_quantity AS bigint) AS x,
         cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS bigint) AS y_x1e4
  FROM lineitem
),
sums AS (
  SELECT flag,
         count(*) AS n,
         sum(x) AS sx,
         sum(y_x1e4) AS sy,
         sum(x * x) AS sxx,
         sum(x * y_x1e4) AS sxy
  FROM pts GROUP BY flag
),
fit AS (
  SELECT flag, n, sx, sy,
         (n::HUGEINT * sxy - sx::HUGEINT * sy) AS num,
         (n::HUGEINT * sxx - sx::HUGEINT * sx) AS den
  FROM sums
)
SELECT flag, n,
       cast((num * 1000000) // den AS bigint) AS slope_x1e10,
       cast((sy::HUGEINT * den - num * sx) // (den * n) AS bigint) AS intercept_x1e4,
       cast((sx::HUGEINT * 1000000) // n AS bigint) AS mean_x_x1e6,
       cast(sy // n AS bigint) AS mean_y_x1e4
FROM fit
ORDER BY flag
""",
    doc="In-warehouse OLS: revenue regressed on quantity per return flag "
    "via the normal equations. Per-row terms (x*y, x*x) fit bigint; the "
    "Gramian combination (n*Sxy - Sx*Sy etc.) runs in decimal(38,0) / "
    "HUGEINT so it survives any SF. slope = num*1e6 div den is x1e10 "
    "because y is already x1e4. Training is ONE aggregate over the fact "
    "table — map-side partials, 3-row result; the classic 'ML as an "
    "associative sum' pattern that scales to 100 TB unchanged.",
    tags=("ml", "agg", "fixed-point"),
)
def ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
        "long"
    )
    sums = li.select(
        F.col("l_returnflag").alias("flag"), x.alias("x"), y.alias("y_x1e4")
    ).groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y_x1e4").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y_x1e4")).alias("sxy"),
    )
    fit = sums.withColumn(
        "num",
        F.expr(
            "cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"
        ),
    ).withColumn(
        "den",
        F.expr("cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"),
    )
    return fit.select(
        "flag",
        "n",
        F.expr("cast((num * 1000000) div den as bigint)").alias("slope_x1e10"),
        F.expr(
            "cast((cast(sy as decimal(38,0)) * den - num * sx)"
            " div (den * n) as bigint)"
        ).alias("intercept_x1e4"),
        F.expr("cast((cast(sx as decimal(38,0)) * 1000000) div n as bigint)").alias(
            "mean_x_x1e6"
        ),
        F.expr("sy div n").alias("mean_y_x1e4"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# Decision stump (best Gini split) in integer arithmetic
# ---------------------------------------------------------------------------


@register(
    "ml_decision_stump",
    oracle="""
WITH labeled AS (
  SELECT cast(l_quantity AS bigint) AS qty,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
per_qty AS (
  SELECT qty, count(*) AS n_q, sum(pos) AS pos_q
  FROM labeled GROUP BY qty
),
cum AS (
  SELECT qty,
         sum(n_q) OVER (ORDER BY qty) AS n_l,
         sum(pos_q) OVER (ORDER BY qty) AS pos_l,
         sum(n_q) OVER () AS n_tot,
         sum(pos_q) OVER () AS pos_tot
  FROM per_qty
),
scored AS (
  SELECT qty AS threshold_qty,
         cast(n_l AS bigint) AS n_l, cast(pos_l AS bigint) AS pos_l,
         cast(n_tot - n_l AS bigint) AS n_r, cast(pos_tot - pos_l AS bigint) AS pos_r,
         cast((pos_l::HUGEINT * (n_l - pos_l) * 1000000) // n_l
            + ((pos_tot - pos_l)::HUGEINT * ((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)
              // (n_tot - n_l) AS bigint) AS gini_cost_x1e6
  FROM cum WHERE n_tot - n_l > 0
)
SELECT threshold_qty, n_l, pos_l, n_r, pos_r, gini_cost_x1e6
FROM scored
ORDER BY gini_cost_x1e6 ASC, threshold_qty
LIMIT 5
""",
    doc="Decision-stump training: the best 'quantity <= t' split for "
    "predicting returns, scored by the Gini-equivalent cost "
    "sum(pos*neg/n) per side in x1e6 integer arithmetic (HUGEINT / "
    "decimal(38,0) products — SF-proof). All candidate thresholds are "
    "scored in ONE pass: per-quantity class counts, then a cumulative "
    "window turns each prefix into a left/right contingency table — no "
    "per-threshold rescan. Top-5 splits via TakeOrderedAndProject.",
    tags=("ml", "window", "fixed-point"),
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    per_qty = labeled.groupBy("qty").agg(
        F.count(F.lit(1)).alias("n_q"), F.sum("pos").alias("pos_q")
    )
    wc = W.orderBy("qty").rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy()
    cum = per_qty.select(
        "qty",
        F.sum("n_q").over(wc).alias("n_l"),
        F.sum("pos_q").over(wc).alias("pos_l"),
        F.sum("n_q").over(wt).alias("n_tot"),
        F.sum("pos_q").over(wt).alias("pos_tot"),
    )
    scored = cum.filter(F.expr("n_tot - n_l > 0")).select(
        F.col("qty").alias("threshold_qty"),
        "n_l",
        "pos_l",
        F.expr("n_tot - n_l").alias("n_r"),
        F.expr("pos_tot - pos_l").alias("pos_r"),
        F.expr(
            "cast((cast(pos_l as decimal(38,0)) * (n_l - pos_l) * 1000000) div n_l"
            " + (cast(pos_tot - pos_l as decimal(38,0))"
            "    * ((n_tot - n_l) - (pos_tot - pos_l)) * 1000000)"
            "   div (n_tot - n_l) as bigint)"
        ).alias("gini_cost_x1e6"),
    )
    return scored.orderBy(F.asc("gini_cost_x1e6"), "threshold_qty").limit(5)


# ---------------------------------------------------------------------------
# kNN classification over the embedding column
# ---------------------------------------------------------------------------


@register(
    "ml_knn_label",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::double[], x -> cast(round(x * 1000, 0) AS bigint)) AS qv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, label AS true_label, qv AS qvec FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT query_id, true_label, e.vec_id AS match_id, e.label AS cand_label,
         cast(list_sum(list_transform(qvec, (x, i) -> x * e.qv[i])) AS bigint) AS dot_x1e6
  FROM q, e WHERE e.vec_id <> query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_x1e6 DESC, match_id) AS rnk
  FROM scored
),
votes AS (
  SELECT query_id, true_label, cand_label, count(*) AS n_votes,
         cast(sum(dot_x1e6) AS bigint) AS vote_weight_x1e6
  FROM ranked WHERE rnk <= 7
  GROUP BY query_id, true_label, cand_label
),
best AS (
  SELECT *, row_number() OVER (
           PARTITION BY query_id
           ORDER BY n_votes DESC, vote_weight_x1e6 DESC, cand_label) AS vr
  FROM votes
)
SELECT query_id, true_label, cand_label AS pred_label, n_votes, vote_weight_x1e6
FROM best WHERE vr = 1
ORDER BY query_id
""",
    doc="kNN classification over the embedding column: 7 nearest "
    "neighbors by inner product on x1000-quantized integer vectors "
    "(exact bigint dots — hash-stable), majority vote with (count, "
    "summed dot, label) as the deterministic tiebreak. The query set is "
    "tiny and broadcast; the corpus streams once — the standard "
    "batch-scoring shape (same plan at 100 TB: broadcast the probe "
    "batch, one corpus scan, per-query top-k via partial top-k).",
    tags=("ml", "similarity", "fixed-point"),
)
def ml_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))
    e = emb.select("vec_id", "label", qv.alias("qv"))
    q = (
        e.filter(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("qv").alias("qvec"),
        )
    )
    scored = (
        e.crossJoin(F.broadcast(q))  # probe batch broadcast; corpus streams once
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("match_id"),
            F.col("label").alias("cand_label"),
            F.aggregate(
                F.zip_with("qvec", "qv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot_x1e6"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("dot_x1e6"), "match_id")
    votes = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 7)
        .groupBy("query_id", "true_label", "cand_label")
        .agg(
            F.count(F.lit(1)).alias("n_votes"),
            F.sum("dot_x1e6").alias("vote_weight_x1e6"),
        )
    )
    wv = W.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.desc("vote_weight_x1e6"), "cand_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("cand_label").alias("pred_label"),
            "n_votes",
            "vote_weight_x1e6",
        )
        .orderBy("query_id")
    )
