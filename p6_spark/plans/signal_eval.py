"""Closing batch 2: Welch's t-test as an exact integer ratio, and the
audio frame-energy multimodal stage certified byte-for-byte.

Same certification discipline as plans/ordinal_risk.py: scaled-bigint
quantization, trunc division, decimal(38,0)/HUGEINT intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test, sqrt-free via t^2
# ---------------------------------------------------------------------------


@register(
    "q_welch_ttest",
    oracle="""
WITH g AS (
  SELECT cast(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS bigint) AS n1,
         cast(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS bigint) AS n2,
         cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity AS bigint) ELSE 0 END) AS bigint) AS s1,
         cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity AS bigint) ELSE 0 END) AS bigint) AS s2,
         cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity AS bigint) * cast(l_quantity AS bigint) ELSE 0 END) AS bigint) AS ss1,
         cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity AS bigint) * cast(l_quantity AS bigint) ELSE 0 END) AS bigint) AS ss2
  FROM lineitem
),
chk AS (
  -- named loud failure (the r9b discipline, extended round 10): on a
  -- group with < 2 samples the variance denominator n^2(n-1) is zero,
  -- where DuckDB // yields NULL (silent) but Spark ANSI div RAISES —
  -- the exact cross-engine drift the fuzz sweep caught. Guard rides on
  -- n1, which every downstream term reads.
  -- coalesce mirrors the q_ks_two_sample/q_mannwhitney_u sibling
  -- guards: counts are never NULL, but the guard must not depend on it
  SELECT CASE WHEN coalesce(n1, 0) < 2 OR coalesce(n2, 0) < 2
              THEN error('q_welch_ttest: need >= 2 samples per group')
              ELSE n1 END AS n1,
         n2, s1, s2, ss1, ss2
  FROM g
),
terms AS (
  SELECT n1, n2,
         (s1::HUGEINT * n2 - s2::HUGEINT * n1) AS diff,
         (n1::HUGEINT * ss1 - s1::HUGEINT * s1) AS a1,
         (n2::HUGEINT * ss2 - s2::HUGEINT * s2) AS a2
  FROM chk
),
scaled AS (
  SELECT n1, n2,
         diff * 1000000000 // (n1::HUGEINT * n2) AS md_x1e9,
         a1 * 1000000000000 // (n1::HUGEINT * n1 * (n1 - 1))
           + a2 * 1000000000000 // (n2::HUGEINT * n2 * (n2 - 1)) AS se2_x1e12
  FROM terms
)
SELECT n1, n2,
       cast(md_x1e9 // 100000 AS bigint) AS mean_diff_x1e4,
       CASE WHEN se2_x1e12 = 0
            THEN error('q_welch_ttest: zero variance in both groups '
                       '(se2 = 0), t undefined')
            ELSE cast(md_x1e9 * md_x1e9 // se2_x1e12 AS bigint)
       END AS t2_x1e6
FROM scaled
""",
    doc="Welch's unequal-variance t-test of mean quantity, open vs "
    "finished line status, emitted sqrt-free as t^2 = "
    "mean_diff^2 / (v1/n1 + v2/n2). Fixed-point staging is chosen so "
    "every trunc-division QUOTIENT fits int64 (Spark's `div` returns "
    "bigint — dividing a decimal(38,0) to a >9.2e18 quotient wraps): "
    "md_x1e9 = (S1*n2 - S2*n1)*1e9 div (n1*n2) and se2_x1e12 = "
    "sum of a_i*1e12 div (n_i^2(n_i-1)) with a_i = n_i*SS_i - S_i^2; "
    "then t2_x1e6 = md_x1e9^2 div se2_x1e12 (the decimal(38,0) square "
    "is exact, units 1e18/1e12 = 1e6). Both engines truncate toward "
    "zero, so the staged divisions are bit-identical. Training-data "
    "use: the two-sample mean test behind quality-score A/Bs on corpus "
    "slices. ONE conditional aggregate over the fact table, map-side "
    "partials, single-row result.",
    tags=("stats", "hypothesis-test", "fixed-point"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    is1 = F.col("l_linestatus") == "O"
    is2 = F.col("l_linestatus") == "F"
    g = li.agg(
        F.count(F.when(is1, 1)).alias("n1"),
        F.count(F.when(is2, 1)).alias("n2"),
        F.sum(F.when(is1, q).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(is2, q).otherwise(F.lit(0))).alias("s2"),
        F.sum(F.when(is1, q * q).otherwise(F.lit(0))).alias("ss1"),
        F.sum(F.when(is2, q * q).otherwise(F.lit(0))).alias("ss2"),
    )
    # named loud failure (r9b discipline, extended r10): DuckDB // by
    # zero is NULL while Spark ANSI div raises — guard BOTH engines
    g = g.select(
        F.when(
            (F.coalesce(F.col("n1"), F.lit(0)) < 2)
            | (F.coalesce(F.col("n2"), F.lit(0)) < 2),
            F.raise_error(
                F.lit("q_welch_ttest: need >= 2 samples per group")
            ).cast("long"),
        )
        .otherwise(F.col("n1"))
        .alias("n1"),
        "n2",
        "s1",
        "s2",
        "ss1",
        "ss2",
    )
    terms = g.select(
        "n1",
        "n2",
        F.expr("cast(s1 as decimal(38,0)) * n2 - cast(s2 as decimal(38,0)) * n1").alias(
            "diff"
        ),
        F.expr("cast(n1 as decimal(38,0)) * ss1 - cast(s1 as decimal(38,0)) * s1").alias(
            "a1"
        ),
        F.expr("cast(n2 as decimal(38,0)) * ss2 - cast(s2 as decimal(38,0)) * s2").alias(
            "a2"
        ),
    )
    scaled = terms.select(
        "n1",
        "n2",
        F.expr(
            "(diff * 1000000000) div (cast(n1 as decimal(38,0)) * n2)"
        ).alias("md_x1e9"),
        F.expr(
            "(a1 * 1000000000000) div (cast(n1 as decimal(38,0)) * n1 * (n1 - 1))"
            " + (a2 * 1000000000000) div (cast(n2 as decimal(38,0)) * n2 * (n2 - 1))"
        ).alias("se2_x1e12"),
    )
    return scaled.select(
        "n1",
        "n2",
        F.expr("cast(md_x1e9 div 100000 as bigint)").alias("mean_diff_x1e4"),
        F.expr(
            "CASE WHEN se2_x1e12 = 0"
            " THEN raise_error('q_welch_ttest: zero variance in both"
            " groups (se2 = 0), t undefined')"
            " ELSE cast((cast(md_x1e9 as decimal(38,0)) * md_x1e9)"
            " div se2_x1e12 as bigint) END"
        ).alias("t2_x1e6"),
    )


# ---------------------------------------------------------------------------
# Audio frame energy through the Arrow mapInPandas stage
# ---------------------------------------------------------------------------


@register(
    "mm_audio_energy",
    oracle="""
WITH aud AS (
  SELECT doc_id AS media_id, text FROM documents
  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) = length(text)
),
codes AS (
  SELECT media_id, i, ascii(substr(text, i, 1)) - 128 AS c
  FROM (SELECT media_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM aud)
),
frames AS (
  SELECT media_id, (i - 1) // 64 AS frame_idx,
         cast(sum(c * c) AS bigint) AS energy
  FROM codes GROUP BY 1, 2
)
SELECT media_id,
       cast(count(*) AS bigint) AS n_frames,
       cast(sum(energy) AS bigint) AS total_energy,
       cast(max(energy) AS bigint) AS max_frame_energy
FROM frames
GROUP BY media_id
ORDER BY media_id
""",
    doc="Audio frame-energy extraction (operators/multimodal.frame_energy): "
    "documents re-cast as 8-bit PCM payloads (UTF-8 bytes of ASCII text "
    "== character codes, which is what lets the oracle replay the bytes "
    "with ascii(substr)), chunked into 64-byte frames inside an Arrow "
    "mapInPandas stage, integer energy = sum((sample-128)^2) per frame, "
    "then a per-media rollup. This certifies the REAL streaming-codec "
    "shape — numpy frombuffer over executor-local payload bytes, "
    "exploded frame rows out — with an exact byte-level oracle, not "
    "just schema plumbing. At 100 TB the per-frame fan-out happens "
    "next to the bytes; only small (media_id, frame, energy) rows "
    "shuffle to the rollup.",
    tags=("multimodal", "mapinpandas", "fixed-point"),
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.multimodal import frame_energy

    docs = load_table(spark, sf_dir, "documents")
    # ASCII guard (ADVICE r3): the oracle frames by CHARACTERS while the
    # Spark path frames UTF-8 BYTES — parity is only defined where the two
    # coincide, so both sides restrict to pure-ASCII payloads explicitly.
    media = docs.filter(
        (F.col("doc_id") % 3 == 1)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    frames = frame_energy(media, frame_bytes=64)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").alias("total_energy"),
            F.max("energy").alias("max_frame_energy"),
        )
        .orderBy("media_id")
    )
