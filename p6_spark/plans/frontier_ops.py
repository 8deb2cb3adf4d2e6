"""Frontier-style operators: Pareto skyline, SimHash Hamming-distance
pair join via pigeonhole blocking, and deterministic per-group
reservoir sampling — advanced-SQL shapes a reference-engine user would
otherwise hand-roll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.operators.text import md5_int
from p6_spark.plans.registry import register
from p6_spark.plans.twins import (
    SQL_MD5INT,
    SQL_SIMHASH62_BITS,
    SQL_SIMHASH62_VOTES,
    SQL_TOKENS,
)
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# 2-D Pareto skyline
# ---------------------------------------------------------------------------


@register(
    "q_skyline_2d",
    oracle="""
WITH pts AS (
  SELECT p_brand AS brand, p_partkey AS partkey,
         cast(round(p_retailprice * 100, 0) AS bigint) AS price_x100,
         cast(p_size AS bigint) AS sz
  FROM part
),
flagged AS (
  SELECT brand, partkey, price_x100, sz,
         max(sz) OVER (PARTITION BY brand ORDER BY price_x100
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_max,
         max(sz) OVER (PARTITION BY brand, price_x100) AS sameprice_max
  FROM pts
)
SELECT brand, partkey, price_x100, sz
FROM flagged
WHERE (cheaper_max IS NULL OR cheaper_max < sz)
  AND sameprice_max = sz
ORDER BY brand, price_x100, partkey
""",
    doc="2-D Pareto skyline per brand: the parts no other same-brand "
    "part beats on BOTH (cheaper-or-equal price, larger-or-equal size, "
    "one strict). Dominance collapses to two window maxima — max size "
    "over strictly-cheaper rows (a RANGE frame, so price ties are "
    "excluded exactly) and max size within the same price — so the "
    "whole skyline is one sort per brand partition, no self-join, no "
    "quadratic dominance test. Brand partitioning keeps every window "
    "parallel.",
    tags=("skyline", "window", "fixed-point"),
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("partkey"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_x100"),
        F.col("p_size").cast("long").alias("sz"),
    )
    w_cheaper = (
        W.partitionBy("brand")
        .orderBy("price_x100")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_same = W.partitionBy("brand", "price_x100")
    flagged = pts.select(
        "brand",
        "partkey",
        "price_x100",
        "sz",
        F.max("sz").over(w_cheaper).alias("cheaper_max"),
        F.max("sz").over(w_same).alias("sameprice_max"),
    )
    return (
        flagged.filter(
            (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("sz")))
            & (F.col("sameprice_max") == F.col("sz"))
        )
        .select("brand", "partkey", "price_x100", "sz")
        .orderBy("brand", "price_x100", "partkey")
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-<=1 pair join via pigeonhole blocking
# ---------------------------------------------------------------------------


def _sql_simhash_all() -> str:
    """DuckDB twin of operators/dedup.simhash62 over the WHOLE corpus
    (no id panel): CTEs toks -> hashed -> votes -> sig(doc_id, s)."""
    return f"""
toks AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok FROM documents
),
{SQL_SIMHASH62_VOTES},
sig AS (
  SELECT doc_id, cast({SQL_SIMHASH62_BITS} AS bigint) AS s FROM votes
)"""


@register(
    "dd_simhash_pairs",
    oracle=f"""
WITH {_sql_simhash_all().lstrip().lstrip(chr(10))},
blocked AS (
  SELECT doc_id, s, 0 AS blk_idx, s // 2147483648 AS blk_val FROM sig
  UNION ALL
  SELECT doc_id, s, 1, s % 2147483648 FROM sig
),
small_blocks AS MATERIALIZED (
  SELECT blk_idx, blk_val FROM blocked
  GROUP BY 1, 2 HAVING count(*) <= 20
),
sb2 AS MATERIALIZED (
  SELECT b.doc_id, b.s, b.blk_idx, b.blk_val
  FROM blocked b JOIN small_blocks USING (blk_idx, blk_val)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.s AS sa, b.s AS sb
  FROM sb2 a JOIN sb2 b
    ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
  FROM cand WHERE bit_count(xor(sa, sb)) <= 1
)
SELECT hamming,
       cast(count(*) AS bigint) AS n_pairs,
       cast(min(id_a) AS bigint) AS min_id_a
FROM verified
GROUP BY hamming
ORDER BY hamming
""",
    doc="SimHash near-dup JOIN (the Manku/Google dedup strategy at 62 "
    "bits): split each signature into 2 31-bit blocks; by pigeonhole, "
    "any pair at Hamming distance <= 1 agrees EXACTLY on at least one "
    "block, so blocking on (block_idx, block_val) finds every such pair "
    "with equi-joins only — no all-pairs XOR scan. Candidates verify "
    "with bit_count(xor); the summary reports pair volume per verified "
    "distance. The > 20-member block cap (round 4) stays as the "
    "degenerate-corpus bound, but with 2^31 values per block it rarely "
    "binds on real data. "
    ".. versionchanged:: round 7 — signature widened 16 -> 62 bits and "
    "blocks 8 -> 31 bits: the old scheme had 512 buckets TOTAL, a "
    "fixed-cardinality recall cliff past ~10k documents (the capped "
    "buckets silently dropped every pair — proven and now guarded by "
    "the planted-duplicate gate in tests/test_lsh_recall.py). Pair "
    "counts are not comparable with rounds <= 6.",
    tags=("dedup", "simhash", "join"),
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # one (doc_id, s) row per document — materialize: the blocked view
    # below feeds BOTH the cap aggregate and the pair join, and without
    # a cut the 62-vote signature aggregate executes twice (11.2s -> ~7s
    # at sf1.0)
    sig = materialize(dd.simhash62_table(docs).withColumnRenamed("simhash", "s"))
    blocked = sig.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("blk_idx"),
                    F.expr("s div 2147483648").alias("blk_val"),
                ),
                F.struct(
                    F.lit(1).alias("blk_idx"),
                    (F.col("s") % F.lit(2147483648).cast("long")).alias("blk_val"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "s", F.col("b.blk_idx").alias("blk_idx"), F.col("b.blk_val").alias("blk_val"))
    # non-discriminative-block cap — see the oracle doc note
    small = (
        blocked.groupBy("blk_idx", "blk_val")
        .agg(F.count(F.lit(1)).alias("blk_n"))
        .filter(F.col("blk_n") <= 20)
        .select("blk_idx", "blk_val")
    )
    blocked = blocked.join(small, ["blk_idx", "blk_val"])
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    verified = cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.expr("sa ^ sb")).alias("hamming"),
    ).filter(F.col("hamming") <= 1)
    return (
        verified.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("id_a").alias("min_id_a"),
        )
        .orderBy("hamming")
    )


# ---------------------------------------------------------------------------
# Deterministic per-group reservoir sample
# ---------------------------------------------------------------------------


@register(
    "dd_reservoir_per_group",
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id,
         {SQL_MD5INT.format(x="'rsv_' || doc_id")} AS rk
  FROM documents
),
ranked AS (
  SELECT source, doc_id, rk,
         row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rnk
  FROM keyed
)
SELECT source, rnk, doc_id, rk
FROM ranked WHERE rnk <= 5
ORDER BY source, rnk
""",
    doc="Deterministic per-group 'reservoir' sample: k=5 docs per source "
    "chosen by md5 rank — the seeded, rerun-stable equivalent of "
    "reservoir sampling (same sample on every run and every engine, "
    "unlike rand()). Per-group top-k via WindowGroupLimit: each map "
    "task prunes to its own top-5 before the shuffle, so the exchange "
    "carries at most k rows per (task, group) — the standard "
    "build-a-debug-sample-of-every-source pass at corpus scale.",
    tags=("sampling", "window", "dedup"),
)
def dd_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        "doc_id",
        md5_int(F.concat(F.lit("rsv_"), F.col("doc_id").cast("string"))).alias("rk"),
    )
    wr = W.partitionBy("source").orderBy("rk", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "doc_id", "rk")
        .orderBy("source", "rnk")
    )
