"""Mergeability proofs and corpus-statistics operators: the HLL
register-merge theorem certified end-to-end, chunk-signature near-dup
for binary/multimodal payloads, a Zipf power-law fit over token ranks,
and corpus-mixture entropy — continuing the exact-integer certification
style (ln snapped to x1e6 bigints, Gramians in decimal(38,0)/HUGEINT,
trunc division everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MD5INT, SQL_TOKENS
from p6_spark.sources.tables import load_table


_HLL_M = 256
_HLL_ALPHA_X1E6 = 718273  # 0.7213 / (1 + 1.079/256), same literal as eval_sketch


# ---------------------------------------------------------------------------
# HLL merge = direct: the mergeability theorem, certified
# ---------------------------------------------------------------------------

_HLL_RHO = "max(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END)"


@register(
    "q_hll_merge",
    oracle=f"""
WITH k AS (SELECT DISTINCT source, md5(text) AS key FROM documents),
h AS (
  SELECT source,
         {SQL_MD5INT.format(x="'hllm_' || key")} // 16777216 AS bucket,
         {SQL_MD5INT.format(x="'hllm_' || key")} % 16777216 AS w
  FROM k
),
regs AS (
  SELECT source, bucket, {_HLL_RHO} AS r FROM h GROUP BY source, bucket
),
merged AS (SELECT bucket, max(r) AS r FROM regs GROUP BY bucket),
direct AS (
  SELECT bucket, {_HLL_RHO} AS r
  FROM (SELECT DISTINCT bucket, w FROM h) GROUP BY bucket
),
buckets AS (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket),
dense AS (
  SELECT b.bucket, coalesce(m.r, 0) AS mr, coalesce(d.r, 0) AS dr
  FROM buckets b
  LEFT JOIN merged m ON m.bucket = b.bucket
  LEFT JOIN direct d ON d.bucket = b.bucket
),
summed AS (
  SELECT cast(sum(CASE WHEN mr <> dr THEN 1 ELSE 0 END) AS bigint) AS n_reg_diff,
         cast(sum(1::bigint << (25 - mr)) AS bigint) AS merged_inv_x2e25,
         cast(sum(1::bigint << (25 - dr)) AS bigint) AS direct_inv_x2e25
  FROM dense
)
SELECT (SELECT cast(count(DISTINCT source) AS bigint) FROM k) AS n_sources,
       n_reg_diff, merged_inv_x2e25, direct_inv_x2e25,
       cast(({_HLL_ALPHA_X1E6}::HUGEINT * {_HLL_M} * {_HLL_M} * 33554432)
            // merged_inv_x2e25 // 1000000 AS bigint) AS merged_estimate,
       cast(({_HLL_ALPHA_X1E6}::HUGEINT * {_HLL_M} * {_HLL_M} * 33554432)
            // direct_inv_x2e25 // 1000000 AS bigint) AS direct_estimate
FROM summed
""",
    doc="The HLL mergeability theorem, certified: per-source register "
    "tables (the per-feed sketches a 1000-executor ingest would keep) "
    "merged by register-wise max produce BIT-IDENTICAL registers — and "
    "therefore the identical estimate — to a sketch built directly over "
    "the whole corpus, duplicate keys across sources and all. n_reg_diff "
    "is asserted 0 inside the query itself. This is the never-re-scan-"
    "history contract for distinct counting, the sketch analog of "
    "q_incremental_monthly's exact-sum mergeability. Only (source, "
    "bucket, rho) rows ever shuffle — 256 per source.",
    tags=("sketch", "merge", "incremental", "fixed-point"),
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    docs = load_table(spark, sf_dir, "documents")
    k = docs.select("source", F.md5("text").alias("key")).distinct()
    h = k.select(
        "source", md5_int(F.concat(F.lit("hllm_"), F.col("key"))).alias("hv")
    ).select(
        "source",
        F.expr("hv div 16777216").alias("bucket"),
        (F.col("hv") % 16777216).alias("w"),
    )
    rho = F.max(
        F.when(F.col("w") == 0, 25).otherwise(25 - F.length(F.bin(F.col("w"))))
    ).alias("r")
    regs = h.groupBy("source", "bucket").agg(rho)
    merged = regs.groupBy("bucket").agg(F.max("r").alias("r"))
    direct = h.select("bucket", "w").distinct().groupBy("bucket").agg(rho)
    buckets = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    dense = (
        buckets.join(F.broadcast(merged.withColumnRenamed("r", "mr")), "bucket", "left")
        .join(F.broadcast(direct.withColumnRenamed("r", "dr")), "bucket", "left")
        .select(
            F.coalesce(F.col("mr"), F.lit(0)).alias("mr"),
            F.coalesce(F.col("dr"), F.lit(0)).alias("dr"),
        )
    )
    summed = dense.agg(
        F.sum(F.when(F.col("mr") != F.col("dr"), 1).otherwise(0)).alias("n_reg_diff"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 25 - mr)")).alias(
            "merged_inv_x2e25"
        ),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 25 - dr)")).alias(
            "direct_inv_x2e25"
        ),
    )
    n_sources = k.agg(F.countDistinct("source").alias("n_sources"))
    est = (
        f"cast(cast({_HLL_ALPHA_X1E6} as decimal(38,0)) * {_HLL_M} * {_HLL_M} "
        "* 33554432 div {col} div 1000000 as bigint)"
    )
    return (
        n_sources.crossJoin(F.broadcast(summed))  # 1-row scalar attach
        .select(
            "n_sources",
            "n_reg_diff",
            "merged_inv_x2e25",
            "direct_inv_x2e25",
            F.expr(est.format(col="merged_inv_x2e25")).alias("merged_estimate"),
            F.expr(est.format(col="direct_inv_x2e25")).alias("direct_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Chunk-signature near-dup for binary/multimodal payloads
# ---------------------------------------------------------------------------

_CHUNKS = 8
_CHUNK_LEN = 16


@register(
    "mm_chunk_neardup",
    oracle=f"""
WITH m AS (SELECT doc_id, text FROM documents WHERE n_chars >= {_CHUNKS * _CHUNK_LEN}),
blk AS (
  SELECT doc_id, b,
         md5('ph' || b || '_' || substr(text, b * {_CHUNK_LEN} + 1, {_CHUNK_LEN})) AS h
  FROM m, generate_series(0, {_CHUNKS - 1}) AS g(b)
),
pairs AS (
  SELECT a.doc_id AS id_a, bb.doc_id AS id_b, count(*) AS n_eq_blocks
  FROM blk a JOIN blk bb
    ON a.b = bb.b AND a.h = bb.h AND a.doc_id < bb.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_eq_blocks,
       cast({_CHUNKS} - n_eq_blocks AS bigint) AS hamming
FROM pairs WHERE n_eq_blocks >= {_CHUNKS - 2}
ORDER BY id_a, id_b
""",
    doc="Chunk-signature near-duplicate detection for opaque payloads: "
    "the payload's leading bytes split into 8 fixed 16-byte chunks, "
    "each hashed; a pair is near-dup when <= 2 chunks differ. The "
    "pigeonhole join (Manku-style, same as dd_simhash_pairs): any pair "
    "within Hamming 2 of 8 agrees on >= 6 chunks, so the (chunk_idx, "
    "chunk_hash) equi-join finds EVERY such pair — no all-pairs scan, "
    "and only 16-byte hashes shuffle, never payloads. Here the payload "
    "is the document's UTF-8 bytes (the mm_features framing); on real "
    "image/audio blobs the identical signature shape runs over byte "
    "blocks.",
    tags=("multimodal", "dedup", "hamming"),
)
def mm_chunk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= _CHUNKS * _CHUNK_LEN
    )
    blocks = [
        F.struct(
            F.lit(b).alias("b"),
            F.md5(
                F.concat(
                    F.lit(f"ph{b}_"),
                    F.substring(F.col("text"), b * _CHUNK_LEN + 1, _CHUNK_LEN),
                )
            ).alias("h"),
        )
        for b in range(_CHUNKS)
    ]
    blk = docs.select(
        "doc_id", F.explode(F.array(*blocks)).alias("s")
    ).select("doc_id", F.col("s.b").alias("b"), F.col("s.h").alias("h"))
    return (
        blk.alias("a")
        .join(
            blk.alias("bb"),
            (F.col("a.b") == F.col("bb.b"))
            & (F.col("a.h") == F.col("bb.h"))
            & (F.col("a.doc_id") < F.col("bb.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("bb.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_eq_blocks"))
        .filter(F.col("n_eq_blocks") >= _CHUNKS - 2)
        .select(
            "id_a",
            "id_b",
            "n_eq_blocks",
            (F.lit(_CHUNKS) - F.col("n_eq_blocks")).cast("long").alias("hamming"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Zipf power-law fit over token ranks
# ---------------------------------------------------------------------------

_ZIPF_TOP = 500


@register(
    "q_zipf_fit",
    oracle=f"""
WITH tok AS (SELECT unnest({SQL_TOKENS}) AS t FROM documents),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
rk AS (
  SELECT row_number() OVER (ORDER BY c DESC, t) AS r, c
  FROM cnt ORDER BY c DESC, t LIMIT {_ZIPF_TOP}
),
sn AS (
  SELECT cast(round(ln(r) * 1000000, 0) AS bigint) AS x,
         cast(round(ln(c) * 1000000, 0) AS bigint) AS y
  FROM rk
),
s AS (
  SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         sum(x * y)::HUGEINT AS sxy, sum(x * x)::HUGEINT AS sxx
  FROM sn
)
SELECT cast(n AS bigint) AS n_fit,
       cast((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS bigint)
         AS slope_x1e6,
       cast((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
            // ((n * sxx - sx * sx) * n) AS bigint) AS intercept_lnc_x1e6
FROM s
""",
    doc="Zipf power-law fit: OLS slope of ln(count) on ln(rank) over the "
    "top-500 tokens — the corpus-statistics number (near -1 for natural "
    "language) that flags synthetic or templated corpora at a glance. "
    "ln of integer ranks/counts snapped to x1e6 bigints (the "
    "txt_token_entropy precedent), the Gramian combination in "
    "decimal(38,0)/HUGEINT (the ml_linreg precedent), trunc division "
    "throughout. The top-k is a TakeOrderedAndProject over the "
    "corpus-collapsed vocab table; the 500-row fit window never sees "
    "row-level data.",
    tags=("text", "stats", "fixed-point"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = cnt.orderBy(F.desc("c"), "t").limit(_ZIPF_TOP)
    rk = top.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("c"), "t"))
    )
    sn = rk.select(
        F.round(F.log("r") * 1000000, 0).cast("long").alias("x"),
        F.round(F.log("c") * 1000000, 0).cast("long").alias("y"),
    )
    s = sn.agg(
        F.expr("cast(count(*) as decimal(38,0))").alias("n"),
        F.expr("cast(sum(x) as decimal(38,0))").alias("sx"),
        F.expr("cast(sum(y) as decimal(38,0))").alias("sy"),
        F.expr("cast(sum(x * y) as decimal(38,0))").alias("sxy"),
        F.expr("cast(sum(x * x) as decimal(38,0))").alias("sxx"),
    )
    return s.select(
        F.expr("cast(n as bigint)").alias("n_fit"),
        F.expr(
            "cast((1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            " as bigint)"
        ).alias("slope_x1e6"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)"
            " div ((n * sxx - sx * sx) * n) as bigint)"
        ).alias("intercept_lnc_x1e6"),
    )


# ---------------------------------------------------------------------------
# Corpus-mixture entropy
# ---------------------------------------------------------------------------


@register(
    "q_mixture_entropy",
    oracle="""
WITH n AS (SELECT count(*) AS nt FROM documents),
hs AS (
  SELECT cast(sum(c * cast(round(ln(c) * 1000000, 0) AS bigint)) AS bigint) AS s,
         cast(count(*) AS bigint) AS k
  FROM (SELECT count(*) AS c FROM documents GROUP BY source)
),
hl AS (
  SELECT cast(sum(c * cast(round(ln(c) * 1000000, 0) AS bigint)) AS bigint) AS s,
         cast(count(*) AS bigint) AS k
  FROM (SELECT count(*) AS c FROM documents GROUP BY lang)
)
SELECT cast(n.nt AS bigint) AS n_docs,
       hs.k AS n_sources,
       cast(round(ln(n.nt) * 1000000, 0) AS bigint) - (hs.s // n.nt) AS h_source_x1e6,
       hl.k AS n_langs,
       cast(round(ln(n.nt) * 1000000, 0) AS bigint) - (hl.s // n.nt) AS h_lang_x1e6
FROM n, hs, hl
""",
    doc="Corpus-mixture entropy: Shannon entropy of the source and "
    "language distributions, H = ln(N) - (1/N) sum(c ln c), in "
    "x1e6-snapped integers — the one-row diversity dashboard behind "
    "txt_mixture_plan (a mixture that drifts toward one source/lang "
    "shows up as falling H before any downstream eval does). Two "
    "group-count aggregates over already-tiny group spaces; nothing "
    "but counts moves.",
    tags=("text", "stats", "mixture", "fixed-point"),
)
def q_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("nt"))

    def _h(col: str):
        per = docs.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return per.agg(
            F.sum(
                F.col("c") * F.round(F.log("c") * 1000000, 0).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("k"),
        )

    hs = _h("source").select(F.col("s").alias("ss"), F.col("k").alias("n_sources"))
    hl = _h("lang").select(F.col("s").alias("sl"), F.col("k").alias("n_langs"))
    return (
        n.crossJoin(F.broadcast(hs))  # 1-row scalar attaches
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("nt").alias("n_docs"),
            "n_sources",
            (
                F.round(F.log("nt") * 1000000, 0).cast("long")
                - F.expr("ss div nt")
            ).alias("h_source_x1e6"),
            "n_langs",
            (
                F.round(F.log("nt") * 1000000, 0).cast("long")
                - F.expr("sl div nt")
            ).alias("h_lang_x1e6"),
        )
    )
