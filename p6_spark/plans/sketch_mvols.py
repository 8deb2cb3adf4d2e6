"""Mergeable histogram-sketch quantiles and multivariate OLS: the
fixed-grid quantile sketch whose per-source merge is provably lossless
(the percentile counterpart of q_hll_merge), and a two-feature
regression solved exactly by Cramer's rule over the integer normal
equations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import sql_ols2_sums
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Mergeable fixed-grid histogram sketch: merge == direct, quantiles vs exact
# ---------------------------------------------------------------------------

_HS_BUCKET_CENTS = 500_00  # fixed $500 grid


@register(
    "q_histogram_sketch_merge",
    oracle=f"""
WITH v AS (
  SELECT o_orderpriority AS src,
         cast(round(o_totalprice * 100, 0) AS bigint) AS cents
  FROM orders
),
per_src AS (
  SELECT src, cents // {_HS_BUCKET_CENTS} AS bucket, cast(count(*) AS bigint) AS n
  FROM v GROUP BY 1, 2
),
merged AS (
  SELECT bucket, cast(sum(n) AS bigint) AS n FROM per_src GROUP BY bucket
),
direct AS (
  SELECT cents // {_HS_BUCKET_CENTS} AS bucket, cast(count(*) AS bigint) AS n
  FROM v GROUP BY 1
),
diffcnt AS (
  SELECT cast(count(*) AS bigint) AS n_bucket_diff
  FROM (SELECT bucket, n FROM merged EXCEPT SELECT bucket, n FROM direct)
),
cum AS (
  SELECT bucket, n,
         sum(n) OVER (ORDER BY bucket) AS cum_n,
         sum(n) OVER () AS nt
  FROM merged
),
marks AS (
  SELECT q,
         min(bucket) FILTER (WHERE cum_n * 100 >= q * nt) AS qb
  FROM cum, (SELECT unnest([50, 90, 99]) AS q)
  GROUP BY q
),
exact_ranks AS (
  SELECT q,
         min(cents) FILTER (WHERE rn * 100 >= q * nt) AS qv
  FROM (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
               count(*) OVER () AS nt
        FROM v),
       (SELECT unnest([50, 90, 99]) AS q)
  GROUP BY q
)
SELECT cast(m.q AS bigint) AS pct,
       cast(m.qb * {_HS_BUCKET_CENTS} AS bigint) AS sketch_lo_cents,
       cast((m.qb + 1) * {_HS_BUCKET_CENTS} AS bigint) AS sketch_hi_cents,
       cast(e.qv AS bigint) AS exact_cents,
       (SELECT n_bucket_diff FROM diffcnt) AS n_bucket_diff
FROM marks m JOIN exact_ranks e ON e.q = m.q
ORDER BY pct
""",
    doc="Mergeable histogram-sketch quantiles, certified end to end: "
    "per-source fixed-$500-grid bucket counts summed (the merge a "
    "1000-executor rollup performs) equal the buckets built directly "
    "over the union (n_bucket_diff asserted 0 in-query — counts are "
    "associative sums, the percentile counterpart of q_hll_merge), and "
    "the p50/p90/p99 read off the merged sketch brackets the EXACT "
    "order statistic inside one grid cell. This is how percentile "
    "dashboards stay O(grid) per partition instead of sorting 100 TB; "
    "the exact column prices the grid error.",
    tags=("sketch", "merge", "percentile", "fixed-point"),
)
def q_histogram_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_orderpriority").alias("src"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    per_src = v.groupBy(
        "src", F.expr(f"cents div {_HS_BUCKET_CENTS}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    merged = per_src.groupBy("bucket").agg(F.sum("n").alias("n"))
    direct = v.groupBy(F.expr(f"cents div {_HS_BUCKET_CENTS}").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    diffcnt = (
        merged.exceptAll(direct)
        .agg(F.count(F.lit(1)).alias("n_bucket_diff"))
    )
    # Distributed prefix sums (operators/ranking): the exact-rank pass
    # previously ran row_number over EVERY order row through one
    # partition (measured 1.5k -> 150k window input across the
    # sf0.001 -> sf0.1 decade — the r4-flagged scale-killer class).
    # Collapsing to per-value counts first is rank-equivalent for an
    # order statistic: min cents with cum_count*100 >= q*nt is the same
    # value the row-level rank formula picks, tie-order-invariantly.
    from p6_spark.operators.ranking import two_phase_rank

    nt_row = F.broadcast(v.agg(F.count(F.lit(1)).alias("nt")))
    cum = (
        two_phase_rank(merged, [F.asc("bucket")], F.col("bucket"), cum_cols=["n"])
        .crossJoin(nt_row)
        .select("bucket", F.col("cum_n").alias("cum_n"), "nt")
    )
    qs = v.sparkSession.createDataFrame([(50,), (90,), (99,)], "q int")
    marks = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum_n") * 100 >= F.col("q") * F.col("nt"))
        .groupBy("q")
        .agg(F.min("bucket").alias("qb"))
    )
    per_val = v.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    ranked = (
        two_phase_rank(per_val, [F.asc("cents")], F.col("cents"), cum_cols=["c"])
        .crossJoin(nt_row)
        .select("cents", F.col("cum_c").alias("rn"), "nt")
    )
    exact_ranks = (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rn") * 100 >= F.col("q") * F.col("nt"))
        .groupBy("q")
        .agg(F.min("cents").alias("qv"))
    )
    return (
        marks.join(exact_ranks, "q")
        .crossJoin(F.broadcast(diffcnt))  # 1-row scalar attach
        .select(
            F.col("q").cast("long").alias("pct"),
            (F.col("qb") * _HS_BUCKET_CENTS).cast("long").alias("sketch_lo_cents"),
            ((F.col("qb") + 1) * _HS_BUCKET_CENTS)
            .cast("long")
            .alias("sketch_hi_cents"),
            F.col("qv").alias("exact_cents"),
            "n_bucket_diff",
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Two-feature OLS by Cramer's rule over integer normal equations
# ---------------------------------------------------------------------------


def _ols2_sums(li: DataFrame, *extra: Column) -> tuple[DataFrame, DataFrame]:
    """(pts, s): the (x1 = quantity, x2 = discount%, y = price cents)
    points of lineitem and the 1-row Gramian sums n, s1, s2, sy, s11,
    s12, s22, s1y, s2y as decimal(38,0), plus any ``extra`` aggregates."""
    pts = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    dec = "cast(sum({e}) as decimal(38,0))"
    s = pts.agg(
        F.expr("cast(count(*) as decimal(38,0))").alias("n"),
        F.expr(dec.format(e="x1")).alias("s1"),
        F.expr(dec.format(e="x2")).alias("s2"),
        F.expr(dec.format(e="y")).alias("sy"),
        F.expr(dec.format(e="x1 * x1")).alias("s11"),
        F.expr(dec.format(e="x1 * x2")).alias("s12"),
        F.expr(dec.format(e="x2 * x2")).alias("s22"),
        F.expr(dec.format(e="x1 * y")).alias("s1y"),
        F.expr(dec.format(e="x2 * y")).alias("s2y"),
        *extra,
    )
    return pts, s


@register(
    "ml_linreg2",
    oracle=f"""
WITH {sql_ols2_sums()},
d AS (
  SELECT n, sy, s1, s2,
         n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det,
         sy * (s11 * s22 - s12 * s12)
           - s1 * (s1y * s22 - s12 * s2y)
           + s2 * (s1y * s12 - s11 * s2y) AS det0,
         n * (s1y * s22 - s12 * s2y)
           - sy * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS det1,
         n * (s11 * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - s11 * s2) AS det2
  FROM s
)
SELECT cast(n AS bigint) AS n,
       cast(det0 * 1000000 // det AS bigint) AS b0_cents_x1e6,
       cast(det1 * 1000000 // det AS bigint) AS b1_cents_per_qty_x1e6,
       cast(det2 * 1000000 // det AS bigint) AS b2_cents_per_discpct_x1e6
FROM d
""",
    doc="Two-feature OLS (price ~ quantity + discount%) solved EXACTLY: "
    "the 3x3 normal-equation system inverted by Cramer's rule with "
    "every determinant an integer polynomial of the nine Gramian sums "
    "(HUGEINT/decimal(38,0) — bounded because the cofactor products "
    "stay within ~1e33 at any SF the cents/qty domains allow). One "
    "aggregate over the fact table collects all nine sums; the solve "
    "is a 1-row expression — multivariate regression with the same "
    "'ML as associative sums' scale shape as ml_linreg.",
    tags=("ml", "agg", "fixed-point"),
)
def ml_linreg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts, s = _ols2_sums(load_table(spark, sf_dir, "lineitem"))
    d = s.select(
        "n",
        F.expr(
            "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2)"
        ).alias("det"),
        F.expr(
            "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
            " + s2 * (s1y * s12 - s11 * s2y)"
        ).alias("det0"),
        F.expr(
            "n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s2y - s1y * s2)"
        ).alias("det1"),
        F.expr(
            "n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
            " + sy * (s1 * s12 - s11 * s2)"
        ).alias("det2"),
    )
    return d.select(
        F.expr("cast(n as bigint)").alias("n"),
        F.expr("cast(det0 * 1000000 div det as bigint)").alias("b0_cents_x1e6"),
        F.expr("cast(det1 * 1000000 div det as bigint)").alias(
            "b1_cents_per_qty_x1e6"
        ),
        F.expr("cast(det2 * 1000000 div det as bigint)").alias(
            "b2_cents_per_discpct_x1e6"
        ),
    )


# ---------------------------------------------------------------------------
# ANOVA / fit quality for the two-feature OLS
# ---------------------------------------------------------------------------


@register(
    "ml_linreg2_anova",
    oracle=f"""
WITH {sql_ols2_sums('sum(y * y)::HUGEINT AS syy')},
d AS (
  SELECT *,
         n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2) AS det
  FROM s
),
b AS (
  SELECT n, sy, syy,
         (sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)) * 1000000 // det AS b0,
         (n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)) * 1000000 // det AS b1,
         (n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)) * 1000000 // det AS b2
  FROM d
),
res AS (
  SELECT b.n, b.sy, b.syy,
         sum((p.y * 1000000 - (b.b0 + b.b1 * p.x1 + b.b2 * p.x2))
             * (p.y * 1000000 - (b.b0 + b.b1 * p.x1 + b.b2 * p.x2)))::HUGEINT
           AS sse_x1e12
  FROM pts p, b
  GROUP BY b.n, b.sy, b.syy
)
SELECT n, sst_dollars2, sse_dollars2,
       cast((sst_dollars2::HUGEINT - sse_dollars2) * 100
            // sst_dollars2 * 10000 AS bigint) AS r2_x1e6_floor
FROM (
  SELECT cast(n AS bigint) AS n,
         cast((n * syy - sy * sy) // (n * 10000) AS bigint) AS sst_dollars2,
         cast(sse_x1e12 // 10000000000000000 AS bigint) AS sse_dollars2
  FROM res
)
""",
    doc="Fit quality for the Cramer-rule regression: SST, SSE, and R^2 "
    "computed in a second residual pass that reuses ml_linreg2's "
    "SNAPPED x1e6-integer coefficients — residuals become pure integer "
    "expressions, so an approximate-by-construction statistic (R^2 of "
    "the snapped fit) gets an EXACT cross-engine replay. r2 is floored "
    "to percent precision (x1e6 after the floor) to keep the "
    "cross-multiplied numerator inside HUGEINT/decimal(38,0) at the "
    "harness SFs — the precision/headroom tradeoff is explicit, not "
    "hidden in a float. Two fact scans total (Gramian, residuals).",
    tags=("ml", "stats", "fixed-point"),
)
def ml_linreg2_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts, s = _ols2_sums(
        load_table(spark, sf_dir, "lineitem"),
        # y*y alone can overflow the long SUM accumulator at sf>=0.1
        # (1e14 per row x 6e5 rows) — promote per row, not post-sum
        F.expr("sum(cast(y as decimal(38,0)) * y)").alias("syy"),
    )
    d = s.withColumn(
        "det",
        F.expr(
            "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2)"
        ),
    )
    b = d.select(
        "n",
        "sy",
        "syy",
        F.expr(
            "cast((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
            " + s2 * (s1y * s12 - s11 * s2y)) * 1000000 div det as bigint)"
        ).alias("b0"),
        F.expr(
            "cast((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s2y - s1y * s2)) * 1000000 div det as bigint)"
        ).alias("b1"),
        F.expr(
            "cast((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
            " + sy * (s1 * s12 - s11 * s2)) * 1000000 div det as bigint)"
        ).alias("b2"),
    )
    res = (
        pts.crossJoin(F.broadcast(b))  # 1-row model attach
        .agg(
            F.first("n").alias("n"),
            F.first("sy").alias("sy"),
            F.first("syy").alias("syy"),
            F.expr(
                "cast(sum(cast(y * 1000000 - (b0 + b1 * x1 + b2 * x2)"
                " as decimal(38,0))"
                " * (y * 1000000 - (b0 + b1 * x1 + b2 * x2))) as decimal(38,0))"
            ).alias("sse_x1e12"),
        )
    )
    # Spark's `div` yields BIGINT, so every quotient must fit int64. The
    # sf1.0 sweep caught the old staging ((...) div n, sse div 1e12)
    # wrapping: those intermediate quotients are ~5e20 at sf1. Divide by
    # the FULL combined scale in one step instead (floor(floor(a/p)/q)
    # == floor(a/(p*q)) for positive ints, so both engines agree), which
    # lands every quotient at dollars^2 magnitude (~5e16).
    staged = res.select(
        F.expr("cast(n as bigint)").alias("n"),
        F.expr(
            "cast((n * syy - sy * sy) div (n * 10000) as bigint)"
        ).alias("sst_dollars2"),
        F.expr(
            "cast(sse_x1e12 div 10000000000000000 as bigint)"
        ).alias("sse_dollars2"),
    )
    return staged.select(
        "n",
        "sst_dollars2",
        "sse_dollars2",
        F.expr(
            "cast((cast(sst_dollars2 as decimal(38,0)) - sse_dollars2) * 100"
            " div sst_dollars2 * 10000 as bigint)"
        ).alias("r2_x1e6_floor"),
    )


# ---------------------------------------------------------------------------
# Code-vs-prose scoring
# ---------------------------------------------------------------------------


@register(
    "txt_code_score",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         length(text) AS n_chars_s,
         length(regexp_replace(text, '[^{}()\\[\\];=<>]', '', 'g')) AS n_code_sym,
         length(regexp_replace(text, '[^.!?,]', '', 'g')) AS n_prose_punct
  FROM documents
),
rated AS (
  SELECT doc_id,
         cast(n_code_sym * 1000000 // greatest(n_chars_s, 1) AS bigint)
           AS code_sym_x1e6,
         cast(n_prose_punct * 1000000 // greatest(n_chars_s, 1) AS bigint)
           AS prose_punct_x1e6,
         CASE WHEN n_code_sym * 50 > n_chars_s THEN 'code'
              WHEN n_code_sym * 200 > n_chars_s THEN 'mixed'
              ELSE 'prose' END AS verdict
  FROM scored
)
SELECT verdict,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(code_sym_x1e6) // count(*) AS bigint) AS avg_code_sym_x1e6,
       cast(sum(prose_punct_x1e6) // count(*) AS bigint) AS avg_prose_punct_x1e6
FROM rated GROUP BY verdict ORDER BY verdict
""",
    doc="Code-vs-prose scoring: per-document density of code symbols "
    "({}()[];=<>) vs prose punctuation, thresholded by exact "
    "cross-multiplied integer comparisons (code > 2% symbols, mixed > "
    "0.5%) — the corpus-routing gate that decides which quality rules "
    "and dedup settings apply (code corpora tolerate repetition prose "
    "rules would kill). Pure regexp counting in codegen, zero shuffle "
    "before the 3-row rollup; complements txt_langid (natural "
    "language) and txt_quality (prose heuristics).",
    tags=("text", "quality", "routing", "fixed-point"),
)
def txt_code_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_s"),
        F.length(F.regexp_replace("text", r"[^{}()\[\];=<>]", "")).alias(
            "n_code_sym"
        ),
        F.length(F.regexp_replace("text", r"[^.!?,]", "")).alias("n_prose_punct"),
    )
    rated = scored.select(
        F.expr("cast(n_code_sym * 1000000 div greatest(n_chars_s, 1) as bigint)").alias(
            "code_sym_x1e6"
        ),
        F.expr(
            "cast(n_prose_punct * 1000000 div greatest(n_chars_s, 1) as bigint)"
        ).alias("prose_punct_x1e6"),
        F.when(F.col("n_code_sym") * 50 > F.col("n_chars_s"), "code")
        .when(F.col("n_code_sym") * 200 > F.col("n_chars_s"), "mixed")
        .otherwise("prose")
        .alias("verdict"),
    )
    return (
        rated.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("cast(sum(code_sym_x1e6) div count(*) as bigint)").alias(
                "avg_code_sym_x1e6"
            ),
            F.expr("cast(sum(prose_punct_x1e6) div count(*) as bigint)").alias(
                "avg_prose_punct_x1e6"
            ),
        )
        .orderBy("verdict")
    )
