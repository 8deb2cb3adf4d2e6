"""Robust / distributional statistics and data-forensics operators:
weighted median, two-sample Kolmogorov-Smirnov, Gini concentration,
Herfindahl index, Benford first-digit audit, and signed feature hashing.

Every statistic is computed in exact integer arithmetic (values
quantized to scaled bigints first, ratios by trunc division, wide
products through decimal(38,0)/HUGEINT), so Spark and DuckDB agree to
the last bit regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.operators.text import md5_int, tokens
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MD5INT, SQL_TOKENS
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------


@register(
    "q_weighted_median",
    oracle="""
WITH pts AS (
  SELECT l_returnflag AS flag,
         cast(round(l_extendedprice * 100, 0) AS bigint) AS price_x100,
         cast(l_quantity AS bigint) AS wt
  FROM lineitem
),
per_price AS (
  SELECT flag, price_x100, sum(wt) AS wt FROM pts GROUP BY flag, price_x100
),
cum AS (
  SELECT flag, price_x100,
         sum(wt) OVER (PARTITION BY flag ORDER BY price_x100) AS cw,
         sum(wt) OVER (PARTITION BY flag) AS tw
  FROM per_price
)
SELECT flag,
       min(price_x100) AS wmedian_x100,
       cast(min(tw) AS bigint) AS total_weight
FROM cum WHERE cw * 2 >= tw
GROUP BY flag
ORDER BY flag
""",
    doc="Quantity-weighted median price per return flag — the robust "
    "location estimate a skew-heavy pipeline prefers over the mean. "
    "Values pre-aggregated per distinct price (bounded domain), then one "
    "cumulative-weight window; the median is the smallest value whose "
    "cumulative weight reaches half the total (lower weighted median — "
    "an order statistic, so no float averaging, exactly reproducible). "
    "One shuffle on (flag, price).",
    tags=("stats", "robust", "window", "fixed-point"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_x100"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    per_price = pts.groupBy("flag", "price_x100").agg(F.sum("wt").alias("wt"))
    wcum = W.partitionBy("flag").orderBy("price_x100")
    wtot = W.partitionBy("flag")
    cum = per_price.select(
        "flag",
        "price_x100",
        F.sum("wt").over(wcum).alias("cw"),
        F.sum("wt").over(wtot).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_x100").alias("wmedian_x100"),
            F.min("tw").alias("total_weight"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------


@register(
    "q_ks_two_sample",
    oracle="""
WITH a AS (
  SELECT cast(round(value * 1000000, 0) AS bigint) AS v FROM events WHERE event_type = 'click'
),
b AS (
  SELECT cast(round(value * 1000000, 0) AS bigint) AS v FROM events WHERE event_type = 'purchase'
),
counts AS (
  SELECT v, count(*) AS ca, 0 AS cb FROM a GROUP BY v
  UNION ALL
  SELECT v, 0, count(*) FROM b GROUP BY v
),
merged AS (
  SELECT v, sum(ca) AS ca, sum(cb) AS cb FROM counts GROUP BY v
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v) AS cuma,
         sum(cb) OVER (ORDER BY v) AS cumb,
         sum(ca) OVER () AS na,
         sum(cb) OVER () AS nb
  FROM merged
),
d AS (
  SELECT cast(abs(cuma * nb - cumb * na) AS bigint) AS d_num,
         cast(na AS bigint) AS n_a, cast(nb AS bigint) AS n_b
  FROM cum
),
agg AS (
  SELECT max(d_num) AS ks_numerator, min(n_a) AS n_a, min(n_b) AS n_b
  FROM d
),
chk AS (
  -- named loud failure (r9b discipline, extended r10): an empty side
  -- makes na*nb zero, where DuckDB // yields NULL silently but Spark
  -- ANSI div raises — guard both engines identically (coalesce covers
  -- the zero-event panel).
  SELECT ks_numerator,
         CASE WHEN coalesce(n_a, 0) = 0 OR coalesce(n_b, 0) = 0
              THEN error('q_ks_two_sample: empty side — need both '
                         'click and purchase values')
              ELSE n_a END AS n_a,
         n_b
  FROM agg
)
SELECT ks_numerator, n_a, n_b,
       cast((ks_numerator * 1000000) // (n_a * n_b) AS bigint) AS ks_x1e6
FROM chk
""",
    doc="Exact two-sample Kolmogorov-Smirnov distance between the click "
    "and purchase value distributions — the distribution-drift test a "
    "data pipeline runs between snapshots. D = max|F_a - F_b| evaluated "
    "at every distinct value WITHOUT floats: cross-multiplied ECDF "
    "counts (|cumA*nB - cumB*nA|, integers) with the division deferred "
    "to the final x1e6 rendering. Per-value pre-aggregation bounds the "
    "input, and the ECDF cumsum is a TWO-PHASE distributed prefix sum "
    "(bucket totals -> bucket-prefix window over the tiny bucket table "
    "-> parallel within-bucket windows) — no global single-partition "
    "Window at any scale.",
    tags=("stats", "drift", "window", "fixed-point"),
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000, 0).cast("long").alias("v")
    a = ev.filter(F.col("event_type") == "click").select(v)
    b = ev.filter(F.col("event_type") == "purchase").select(v)
    counts = (
        a.groupBy("v")
        .agg(F.count(F.lit(1)).alias("ca"), F.lit(0).cast("long").alias("cb"))
        .unionByName(
            b.groupBy("v").agg(
                F.lit(0).cast("long").alias("ca"), F.count(F.lit(1)).alias("cb")
            )
        )
    )
    merged = counts.groupBy("v").agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    # Two-phase distributed prefix sum (see q_mannwhitney_u): coarse
    # buckets keep the ECDF cumsum parallel instead of a global
    # single-partition ORDER BY v window. Results are bit-identical.
    merged = merged.withColumn("bkt", F.expr("v div 16777216"))
    per_bucket = merged.groupBy("bkt").agg(
        F.sum("ca").alias("bca"), F.sum("cb").alias("bcb")
    )
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wt = W.partitionBy()
    prefixes = per_bucket.select(
        "bkt",
        F.coalesce(F.sum("bca").over(wb), F.lit(0)).alias("pca"),
        F.coalesce(F.sum("bcb").over(wb), F.lit(0)).alias("pcb"),
        F.sum("bca").over(wt).alias("na"),
        F.sum("bcb").over(wt).alias("nb"),
    )
    wv = W.partitionBy("bkt").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = merged.join(F.broadcast(prefixes), "bkt").select(
        (F.sum("ca").over(wv) + F.col("pca")).alias("cuma"),
        (F.sum("cb").over(wv) + F.col("pcb")).alias("cumb"),
        "na",
        "nb",
    )
    d = cum.select(
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias("d_num"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
    )
    agg = d.agg(
        F.max("d_num").alias("ks_numerator"),
        F.min("n_a").alias("n_a"),
        F.min("n_b").alias("n_b"),
    )
    # named loud failure (r9b discipline, extended r10): see oracle chk
    chk = agg.select(
        "ks_numerator",
        F.when(
            (F.coalesce(F.col("n_a"), F.lit(0)) == 0)
            | (F.coalesce(F.col("n_b"), F.lit(0)) == 0),
            F.raise_error(
                F.lit(
                    "q_ks_two_sample: empty side — need both click "
                    "and purchase values"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_a"))
        .alias("n_a"),
        "n_b",
    )
    return chk.select(
        "ks_numerator",
        "n_a",
        "n_b",
        F.expr(
            "cast((ks_numerator * cast(1000000 as bigint)) div (n_a * n_b)"
            " as bigint)"
        ).alias("ks_x1e6"),
    )


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------


@register(
    "q_gini_concentration",
    oracle="""
WITH per_cust AS (
  SELECT c_mktsegment AS segment, o_custkey,
         sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS rev_x100
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT segment, rev_x100,
         row_number() OVER (PARTITION BY segment ORDER BY rev_x100, o_custkey) AS i,
         count(*) OVER (PARTITION BY segment) AS n,
         sum(rev_x100) OVER (PARTITION BY segment) AS t
  FROM per_cust
),
gini AS (
  SELECT segment,
         cast(min(n) AS bigint) AS n_customers,
         cast(min(t) AS bigint) AS total_rev_x100,
         -- named loud failure (r9b discipline, extended r10): a segment
         -- with zero revenue mass makes n*t zero, where DuckDB // yields
         -- NULL silently but Spark ANSI div raises — guard identically
         CASE WHEN min(t) = 0
              THEN error('q_gini_concentration: zero revenue mass in '
                         'segment, gini undefined')
              ELSE cast(((2 * sum(i::HUGEINT * rev_x100)
                          - (min(n)::HUGEINT + 1) * min(t)) * 1000000)
                        // (min(n)::HUGEINT * min(t)) AS bigint)
         END AS gini_x1e6
  FROM ranked
  GROUP BY segment
)
SELECT segment, n_customers, total_rev_x100, gini_x1e6
FROM gini
ORDER BY segment
""",
    doc="Revenue-concentration Gini coefficient per market segment via "
    "the rank formula G = (2*sum(i*x_i) - (n+1)*T) / (n*T) on x100 "
    "integer revenue, ranks made total by (rev, custkey). sum(i*x_i) "
    "runs in HUGEINT/decimal(38,0) so any SF fits. One join, one "
    "(segment, customer) aggregate, one ranking window on the same "
    "partitioning — the inequality audit that decides mixture caps.",
    tags=("stats", "bi", "window", "fixed-point"),
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_x100"
            )
        )
    )
    wr = W.partitionBy("segment").orderBy("rev_x100", "o_custkey")
    ws = W.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        "rev_x100",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(ws).alias("n"),
        F.sum("rev_x100").over(ws).alias("t"),
    )
    return (
        ranked.groupBy("segment")
        .agg(
            F.min("n").alias("n_customers"),
            F.min("t").alias("total_rev_x100"),
            # named loud failure (r9b discipline, extended r10): see oracle
            F.expr(
                "CASE WHEN min(t) = 0"
                " THEN raise_error('q_gini_concentration: zero revenue"
                " mass in segment, gini undefined')"
                " ELSE cast(((2 * sum(cast(i as decimal(38,0)) * rev_x100)"
                " - (cast(min(n) as decimal(38,0)) + 1) * min(t)) * 1000000)"
                " div (cast(min(n) as decimal(38,0)) * min(t)) as bigint)"
                " END"
            ).alias("gini_x1e6"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------


@register(
    "q_hhi_concentration",
    oracle="""
WITH per_supp AS (
  SELECT n_name AS nation, l_suppkey,
         sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS bigint)) AS rev_x1e4
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT nation,
       cast(count(*) AS bigint) AS n_suppliers,
       cast((sum(rev_x1e4::HUGEINT * rev_x1e4) * 1000000)
            // (sum(rev_x1e4)::HUGEINT * sum(rev_x1e4)) AS bigint) AS hhi_x1e6
FROM per_supp
GROUP BY nation
ORDER BY nation
""",
    doc="Herfindahl-Hirschman index of supplier revenue concentration "
    "per nation: HHI = sum(share_i^2) computed WITHOUT per-share floats "
    "as sum(x_i^2) * 1e6 div T^2 (cross-multiplied; squares in "
    "HUGEINT/decimal(38,0)). Two broadcast dim joins onto one fact scan, "
    "one (nation, supplier) aggregate, then a 25-group rollup. 1e6/n = "
    "perfectly even; 1e6 = monopoly.",
    tags=("stats", "bi", "agg", "fixed-point"),
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    per_supp = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(F.sum(rev).alias("rev_x1e4"))
    )
    return (
        per_supp.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr(
                "cast((sum(cast(rev_x1e4 as decimal(38,0)) * rev_x1e4) * 1000000)"
                " div (cast(sum(rev_x1e4) as decimal(38,0)) * sum(rev_x1e4))"
                " as bigint)"
            ).alias("hhi_x1e6"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# x1e6-scaled log10(1 + 1/d) for d = 1..9 — the Benford expectation,
# identical literals on both sides so the comparison is exact.
_BENFORD_X1E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register(
    "q_benford_audit",
    oracle=f"""
WITH digits AS (
  SELECT cast(substr(cast(cast(round(o_totalprice * 100, 0) AS bigint) AS varchar), 1, 1) AS int) AS d
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT d, count(*) AS n_obs, sum(count(*)) OVER () AS n_tot FROM digits GROUP BY d
),
expected(d, exp_x1e6) AS (
  VALUES {", ".join(f"({d}, {v})" for d, v in sorted(_BENFORD_X1E6.items()))}
)
SELECT e.d AS digit,
       cast(coalesce(o.n_obs, 0) AS bigint) AS n_obs,
       cast(coalesce((o.n_obs * 1000000) // o.n_tot, 0) AS bigint) AS obs_share_x1e6,
       cast(e.exp_x1e6 AS bigint) AS exp_share_x1e6,
       cast(coalesce((o.n_obs * 1000000) // o.n_tot, 0) - e.exp_x1e6 AS bigint) AS dev_x1e6
FROM expected e LEFT JOIN obs o ON e.d = o.d
ORDER BY digit
""",
    doc="Benford first-digit forensics on order totals: observed "
    "first-digit shares (x1e6 trunc ratios) vs the log10(1+1/d) "
    "expectation, as identical integer literals on both engines. The "
    "fraud/synthetic-data smell test; one map-side digit extraction, "
    "one 9-group aggregate, expectation attached by broadcast join.",
    tags=("quality", "forensics", "agg", "fixed-point"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    obs = obs.withColumn("n_tot", F.sum("n_obs").over(W.partitionBy()))
    expected = load_table(spark, sf_dir, "orders").sparkSession.createDataFrame(
        sorted(_BENFORD_X1E6.items()), "d int, exp_x1e6 bigint"
    )
    return (
        F.broadcast(expected)
        .join(obs, "d", "left")
        .select(
            F.col("d").alias("digit"),
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.coalesce(
                F.expr("(n_obs * 1000000) div n_tot"), F.lit(0)
            ).alias("obs_share_x1e6"),
            F.col("exp_x1e6").alias("exp_share_x1e6"),
            (
                F.coalesce(F.expr("(n_obs * 1000000) div n_tot"), F.lit(0))
                - F.col("exp_x1e6")
            ).alias("dev_x1e6"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Signed feature hashing (hashing-trick document vectors)
# ---------------------------------------------------------------------------

_FH_DIM = 64


@register(
    "txt_feature_hash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents WHERE doc_id < 40
),
hashed AS (
  SELECT doc_id,
         {SQL_MD5INT.format(x="'fh_' || tok")} % {_FH_DIM} AS dim,
         CASE WHEN {SQL_MD5INT.format(x="'fhs_' || tok")} % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM toks
),
comps AS (
  SELECT doc_id, dim, cast(sum(sgn) AS bigint) AS val FROM hashed GROUP BY doc_id, dim
),
dims AS (SELECT unnest(generate_series(0, {_FH_DIM - 1})) AS dim),
dense AS (
  SELECT d.doc_id, dims.dim, coalesce(c.val, 0) AS val
  FROM (SELECT DISTINCT doc_id FROM toks) d
  CROSS JOIN dims
  LEFT JOIN comps c ON c.doc_id = d.doc_id AND c.dim = dims.dim
)
SELECT doc_id,
       string_agg(cast(val AS varchar), ',' ORDER BY dim) AS fh_vec,
       cast(sum(val * val) AS bigint) AS norm2
FROM dense
GROUP BY doc_id
ORDER BY doc_id
""",
    doc="Hashing-trick document vectors (Weinberger et al.): each token "
    "maps to one of 64 dims by md5, with a +/-1 md5-parity sign making "
    "collisions unbiased — the embedding-free featurization for cheap "
    "classifiers and dedup blocking. Dense vectors rendered as "
    "comma-joined integer strings (hash-stable) plus the exact integer "
    "squared norm. One explode + one (doc, dim) aggregate; the dense "
    "64-wide rendering is a per-row map lookup, no join on the Spark "
    "side.",
    tags=("text", "ml", "hashing", "fixed-point"),
)
def txt_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    hashed = toks.select(
        "doc_id",
        (md5_int(F.concat(F.lit("fh_"), F.col("tok"))) % _FH_DIM).alias("dim"),
        F.when(
            md5_int(F.concat(F.lit("fhs_"), F.col("tok"))) % 2 == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    comps = hashed.groupBy("doc_id", "dim").agg(F.sum("sgn").alias("val"))
    as_map = comps.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("dim"), F.col("val")))
        ).alias("m")
    )
    dense = as_map.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
            lambda i: F.coalesce(F.col("m")[i], F.lit(0)),
        ).alias("vec"),
    )
    return dense.select(
        "doc_id",
        F.array_join(
            F.transform("vec", lambda x: x.cast("string")), ","
        ).alias("fh_vec"),
        F.aggregate(
            "vec", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("norm2"),
    ).orderBy("doc_id")
