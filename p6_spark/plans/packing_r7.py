"""Round-7 training-batch assembly operators: greedy sequence packing
and water-filling domain-mixture rates — the two computations that sit
between a deduplicated corpus and an actual training run.

Both are exact-integer and oracle-replayed; the packing cumsum runs on
the distributed two-phase prefix sum (operators/ranking), never an
unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.pipelines.llm_corpus import PACK_BUDGET, pack_sequences
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_PACK_HISTOGRAM
from p6_spark.sources.tables import load_table


@register(
    "pipe_sequence_packing",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN n_chars IS NULL OR n_chars < 1
              THEN error('pipe_sequence_packing: n_chars < 1 — an empty '
                         'document has no START offset inside any window; '
                         'filter or repair before packing')
              ELSE n_chars END AS n_chars
  FROM documents
),
d AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id) AS cum
  FROM src
),
assigned AS (
  SELECT doc_id, n_chars,
         (cum - n_chars) // {PACK_BUDGET} AS seq_id,
         CASE WHEN (cum - n_chars) // {PACK_BUDGET} <> (cum - 1) // {PACK_BUDGET}
              THEN 1 ELSE 0 END AS straddles
  FROM d
),
{SQL_PACK_HISTOGRAM}
ORDER BY docs_in_seq
""",
    doc="Greedy sequence packing for LLM training batches: documents "
    "stream in doc_id order into fixed "
    f"{PACK_BUDGET}-char windows (chars as the deterministic token "
    "proxy — the real tokenizer swaps in per deployment); a document "
    "belongs to the window its START offset falls in, and documents "
    "whose span crosses a window boundary are counted as straddlers "
    "(the truncation/continuation candidates a packer must handle). "
    "Documents with n_chars < 1 (or NULL) raise at execution in BOTH "
    "engines (ADVICE r7): an empty document has no start offset inside "
    "any window — its straddle test compares an end window EARLIER than "
    "its start window (falsely flagged at boundaries), and a leading "
    "empty doc hits cum-1 = -1 where DuckDB floor // gives -1 but Spark "
    "div truncates to 0, breaking oracle parity. Loud failure over "
    "silent drift, the two_phase_rank null-guard discipline. "
    "Output is the docs-per-sequence histogram with straddler counts — "
    "the packing-efficiency report. Scale shape: the global running "
    "offset is the distributed two-phase prefix sum "
    "(operators/ranking.two_phase_rank cum_cols), NOT an unpartitioned "
    "window — the same rewrite certified for the other global cumsums, "
    "so the packer survives a corpus that no single executor can sort. "
    "At 100 TB the histogram is the small output; per-doc (seq_id, "
    "offset) assignments stay distributed as the actual batch-builder "
    "input.",
    tags=("pipeline", "packing", "training", "window", "fixed-point"),
)
def pipe_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # loud-failure guard (ADVICE r7): n_chars < 1 breaks the straddle
        # test's window arithmetic (see oracle/doc) — raise, don't drift
        F.when(F.col("n_chars") >= 1, F.col("n_chars"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "pipe_sequence_packing: n_chars < 1 — an empty document "
                    "has no START offset inside any window; filter or "
                    "repair before packing"
                )
            )
        )
        .alias("n_chars"),
    )
    per_seq = pack_sequences(docs)
    return (
        per_seq.groupBy("docs_in_seq")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_straddle").alias("n_straddlers"),
        )
        .orderBy("docs_in_seq")
    )


# target language mixture (x1e6 weights, sum = 1e6) — the DoReMi-style
# fixed-weight variant: en-heavy with uniform tail
_MIX_W = {"en": 400_000, "de": 150_000, "fr": 150_000, "es": 150_000, "zh": 150_000}


@register(
    "pipe_domain_mixture",
    oracle=f"""
WITH avail AS (
  -- named loud failure (r10 fuzz discipline): a language whose
  -- in-mixture docs sum to zero/NULL chars hits `// 0`, where DuckDB
  -- yields NULL (silent) but Spark ANSI div RAISES — guard both
  SELECT lang,
         CASE WHEN coalesce(sum(n_chars), 0) < 1
              THEN error('pipe_domain_mixture: language with zero '
                         'available chars — rate division undefined; '
                         'repair or drop the language before mixing')
              ELSE cast(sum(n_chars) AS bigint) END AS avail_chars
  FROM documents
  WHERE lang IN {tuple(_MIX_W)!r}
  GROUP BY lang
),
w AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_W.items())})
  AS t(lang, w_x1e6)
),
joined AS (
  SELECT a.lang, a.avail_chars, w.w_x1e6,
         cast((a.avail_chars::HUGEINT * 1000000) // w.w_x1e6 AS bigint)
           AS max_total
  FROM avail a JOIN w USING (lang)
),
t AS (SELECT min(max_total) AS total_chars FROM joined)
SELECT j.lang, j.avail_chars, j.w_x1e6,
       cast((t.total_chars::HUGEINT * j.w_x1e6) // 1000000 AS bigint)
         AS take_chars,
       cast((((t.total_chars::HUGEINT * j.w_x1e6) // 1000000) * 1000000)
            // j.avail_chars AS bigint) AS rate_x1e6
FROM joined j, t
ORDER BY j.lang
""",
    doc="Domain-mixture water-filling: given target language weights "
    "(x1e6, en-heavy) and the corpus's available chars per language, "
    "find the LARGEST total corpus satisfying the exact mixture without "
    "oversampling any language — total = min over langs of "
    "avail/weight; per-lang take = total x weight and sampling rate = "
    "take/avail (x1e6 exact integers; wide PRODUCTS staged through "
    "decimal(38,0)/HUGEINT — int64 products wrap past ~9.2e12 chars "
    "per language, well under 100 TB — and trunc division staged so "
    "every QUOTIENT fits int64 to ~1.4 exabytes per language, with "
    "DuckDB raising loudly beyond). This is the computation behind every "
    "fixed-mixture training recipe (the DoReMi-style reweighting "
    "front-end): the binding language sets the achievable scale, every "
    "other language downsamples to match. One aggregate per language + "
    "a broadcast 5-row weight table — trivially 100 TB-safe.",
    tags=("pipeline", "mixture", "training", "fixed-point"),
)
def pipe_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    avail = (
        docs.filter(F.col("lang").isin(list(_MIX_W)))
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("avail_chars"))
        # named loud failure (r10 fuzz discipline): zero/NULL language
        # mass reaches `div avail_chars` below, where Spark ANSI raises
        # but DuckDB // yields NULL — raise the SAME error both engines
        .select(
            "lang",
            F.when(
                F.coalesce(F.col("avail_chars"), F.lit(0)) < 1,
                F.raise_error(
                    F.lit(
                        "pipe_domain_mixture: language with zero available "
                        "chars — rate division undefined; repair or drop "
                        "the language before mixing"
                    )
                ).cast("long"),
            )
            .otherwise(F.col("avail_chars").cast("long"))
            .alias("avail_chars"),
        )
    )
    w = F.broadcast(
        load_table(spark, sf_dir, "documents")
        .sparkSession.createDataFrame(
            list(_MIX_W.items()), "lang string, w_x1e6 long"
        )
    )
    # Wide products staged through decimal(38,0) (ADVICE r7, medium):
    # avail_chars * 1e6 as int64 wraps silently past ~9.2e12 chars per
    # language — three orders of magnitude UNDER the 100 TB design
    # point — while the DuckDB twin raises on BIGINT overflow: silent
    # wrong answers plus engine divergence. decimal(38,0) products hold
    # to ~1e38 (Spark) / HUGEINT (DuckDB); `div` on decimals returns
    # bigint in Spark, and every quotient fits int64 up to ~1.4 exabytes
    # of chars PER LANGUAGE (avail*1e6/min_weight < 2^63), far past the
    # design point; DuckDB's hugeint->bigint cast raises beyond it.
    joined = avail.join(w, "lang").withColumn(
        "max_total",
        F.expr("(cast(avail_chars as decimal(38,0)) * 1000000) div w_x1e6"),
    )
    t = joined.agg(F.min("max_total").alias("total_chars"))
    take = "(cast(total_chars as decimal(38,0)) * w_x1e6) div 1000000"
    return (
        joined.crossJoin(F.broadcast(t))  # 1-row scalar attaches
        .select(
            "lang",
            "avail_chars",
            "w_x1e6",
            F.expr(take).alias("take_chars"),
            F.expr(
                f"(cast(({take}) as decimal(38,0)) * 1000000) div avail_chars"
            ).alias("rate_x1e6"),
        )
        .orderBy("lang")
    )
