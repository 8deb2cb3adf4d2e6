"""Privacy-engineering operators: k-anonymity / l-diversity audit over
quasi-identifier groups, and the Laplace-mechanism histogram with
seeded integer noise — the release-gate measurements that run before a
dataset leaves the warehouse. Pairs with txt_pii_scrub (content-level
redaction); these are the record-level counterparts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MD5INT
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# k-anonymity / l-diversity
# ---------------------------------------------------------------------------


@register(
    "q_kanonymity",
    oracle="""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         cast(count(*) AS bigint) AS grp_size,
         cast(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                  WHEN c_acctbal < 5000 THEN 'mid'
                                  ELSE 'high' END) AS bigint) AS l_div
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT cast(min(grp_size) AS bigint) AS k_min,
       cast(count(*) AS bigint) AS n_groups,
       cast(sum(CASE WHEN grp_size < 5 THEN 1 ELSE 0 END) AS bigint)
         AS n_groups_lt5,
       cast(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END) AS bigint)
         AS n_rows_lt5,
       cast(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END) * 1000000
            // sum(grp_size) AS bigint) AS share_at_risk_x1e6,
       cast(min(l_div) AS bigint) AS l_min
FROM qi
""",
    doc="k-anonymity + l-diversity release audit: customers grouped by "
    "the quasi-identifier (nation, market segment); k_min is the "
    "smallest group (any group below k=5 is re-identifiable), "
    "share_at_risk the row mass in such groups, and l_min the minimum "
    "sensitive-attribute diversity (account-balance band) within any "
    "group — a group with l=1 leaks the sensitive value even when k is "
    "large. One QI-keyed aggregate collapsed to a one-row gate; at "
    "100 TB the QI space, not the row count, bounds the shuffle.",
    tags=("privacy", "forensics", "agg"),
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    qi = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_size"),
        F.countDistinct(band).alias("l_div"),
    )
    return qi.agg(
        F.min("grp_size").alias("k_min"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("grp_size") < 5, 1).otherwise(0)).alias("n_groups_lt5"),
        F.sum(F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(0)).alias(
            "n_rows_lt5"
        ),
        F.expr(
            "cast(sum(case when grp_size < 5 then grp_size else 0 end) * 1000000"
            " div sum(grp_size) as bigint)"
        ).alias("share_at_risk_x1e6"),
        F.min("l_div").alias("l_min"),
    )


# ---------------------------------------------------------------------------
# Laplace-mechanism histogram (seeded noise, certified arithmetic)
# ---------------------------------------------------------------------------


@register(
    "q_dp_histogram",
    oracle=f"""
WITH counts AS (
  SELECT c_nationkey, cast(count(*) AS bigint) AS n
  FROM customer GROUP BY c_nationkey
),
noise AS (
  SELECT c_nationkey, n,
         ({SQL_MD5INT.format(x="'dp_' || cast(c_nationkey AS varchar)")})
           % 2000001 - 1000000 AS u
  FROM counts
),
lap AS (
  SELECT c_nationkey, n, u,
         -(CASE WHEN u >= 0 THEN 1 ELSE -1 END)
           * (cast(round(ln(1000000 - abs(u)) * 1000000, 0) AS bigint)
              - cast(round(ln(1000000) * 1000000, 0) AS bigint)) AS noise_x1e6
  FROM noise
)
SELECT c_nationkey, n AS true_count, noise_x1e6,
       cast(n * 1000000 + noise_x1e6 AS bigint) AS noised_count_x1e6
FROM lap
ORDER BY c_nationkey
""",
    doc="Laplace-mechanism histogram (eps=1, sensitivity 1): per-nation "
    "counts released with additive noise drawn by inverse-CDF — u "
    "uniform on (-1,1) from an md5 seed, noise = -sign(u)*ln(1-|u|)/eps "
    "— evaluated as x1e6-snapped integer lns of integers, so the whole "
    "release replays bit-for-bit. The SEEDED draw certifies the "
    "mechanism's arithmetic; a production release swaps the seed for a "
    "real RNG (determinism and privacy are mutually exclusive — "
    "documented, not hidden). Map-side noise on an already-aggregated "
    "histogram: the noise join costs nothing at any scale.",
    tags=("privacy", "dp", "fixed-point"),
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    noise = counts.withColumn(
        "u",
        md5_int(F.concat(F.lit("dp_"), F.col("c_nationkey").cast("string")))
        % 2000001
        - 1000000,
    )
    lap = noise.withColumn(
        "noise_x1e6",
        -(F.when(F.col("u") >= 0, 1).otherwise(-1))
        * (
            F.round(F.log(1000000 - F.abs(F.col("u"))) * 1000000, 0).cast("long")
            - F.round(F.log(F.lit(1000000)) * 1000000, 0).cast("long")
        ),
    )
    return lap.select(
        "c_nationkey",
        F.col("n").alias("true_count"),
        "noise_x1e6",
        (F.col("n") * 1000000 + F.col("noise_x1e6"))
        .cast("long")
        .alias("noised_count_x1e6"),
    ).orderBy("c_nationkey")
