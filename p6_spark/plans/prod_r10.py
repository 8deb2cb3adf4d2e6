"""Round-10 productionization: dead-letter twins of the raising
pipeline queries.

The certified forms of ``pipe_quality_budget_cut``,
``pipe_percentile_prune``, and ``pipe_sequence_packing`` RAISE a named
error on any empty document —
the right posture for oracle parity and for pipelines that must not
silently score garbage. But at 100 TB one blank row must not abort a
curation run: the reference's own error-channel semantics drop the
ROW, never the RUN (src/P6/__main__.py:258-268 — errors collect into
the notepad, the offending row/table is skipped, the CLI exits 0), and
this repo's §2.9 machinery (p6_spark/audit.py, certified by
``p6_audit_split``) exists exactly for that. These ``*_deadletter``
twins keep the same report shape but route empty/degenerate documents
through ``audit.dead_letter_rows`` into an explicit per-language
rejection count instead of raising; on a clean corpus each twin's
manifest equals its raising form row-for-row
(tests/test_deadletter_r10.py pins this).

House conventions: exact x1e6 trunc-division scores, counts staged
bigint before the multiply (F.size is INT32), two-phase prefix ranks
instead of unpartitioned windows, every computed column aliased
identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.audit import dead_letter_rows
from p6_spark.pipelines.llm_corpus import (
    PACK_BUDGET,
    pack_sequences,
    percentile_prune_report,
    quality_budget_rank,
)
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_LANG_QUALITY_CUM, SQL_PACK_HISTOGRAM, SQL_TOKENS
from p6_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# pipe_quality_budget_cut_deadletter — budget cut that drops rows, not runs
# ---------------------------------------------------------------------------


@register(
    "pipe_quality_budget_cut_deadletter",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents
),
clean AS (
  SELECT doc_id, lang, cast(len(t) AS bigint) AS n_tok,
         (cast(len(list_distinct(t)) AS bigint) * 1000000)
           // greatest(len(t), 1) AS qscore_x1e6
  FROM base WHERE len(t) >= 1
),
dead AS (
  -- NOT coalesce(pred, false): NULL text (NULL token list) routes to
  -- the dead side, mirroring audit.dead_letter_rows' null-safe split
  SELECT lang, cast(count(*) AS bigint) AS n_docs
  FROM base WHERE NOT coalesce(len(t) >= 1, false) GROUP BY lang
),
ranked AS (
  SELECT *,
         sum(n_tok) OVER (ORDER BY qscore_x1e6 DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_n_tok
  FROM clean
),
tot AS (SELECT sum(n_tok) // 4 AS budget FROM clean)
SELECT CASE WHEN cum_n_tok <= budget THEN 'selected' ELSE 'cut' END AS status,
       lang,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_tok) AS bigint) AS n_tokens,
       cast(min(qscore_x1e6) AS bigint) AS min_qscore_x1e6
FROM ranked, tot
GROUP BY 1, 2
UNION ALL
SELECT 'deadletter', lang, n_docs, cast(0 AS bigint), cast(-1 AS bigint)
FROM dead
ORDER BY status, lang
""",
    doc="Dead-letter twin of pipe_quality_budget_cut — same greedy "
    "quality-ranked budget selection (rank by exact distinct-token "
    "ratio x1e6, accumulate tokens down the ranking, cut at 25% of "
    "CLEAN corpus tokens), but empty documents are ROUTED, not fatal: "
    "audit.dead_letter_rows splits them out (§2.9 error-channel-as-"
    "data, the reference's drop-rows-never-runs semantics, "
    "src/P6/__main__.py:258-268) and they surface as per-language "
    "'deadletter' manifest rows (n_tokens 0, quality floor -1 "
    "sentinel) alongside the 'selected'/'cut' rows. The budget "
    "denominator is the clean token mass only, so one blank shard "
    "cannot shift the cut. On a clean corpus this equals the raising "
    "form with selected true/false relabeled 'selected'/'cut' "
    "(pinned in tests/test_deadletter_r10.py). Scale shape identical "
    "to the raising form: one scan splits clean/dead, ONE two-phase "
    "prefix rank, broadcast 1-row budget, two hash aggregates.",
    tags=("pipeline", "curation", "quality", "fixed-point", "window", "audit"),
)
def pipe_quality_budget_cut_deadletter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("t"),
    ).select(
        "doc_id",
        "lang",
        F.size("t").cast("long").alias("n_tok"),
        # bigint BEFORE the multiply: F.size is INT32 (ADVICE r8)
        F.expr("cast(size(array_distinct(t)) as bigint) * 1000000").alias(
            "_num"
        ),
    )
    clean, dead = dead_letter_rows(base, F.col("n_tok") >= 1)
    scored = clean.select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr("_num div greatest(n_tok, cast(1 as bigint))").alias(
            "qscore_x1e6"
        ),
    )
    ranked, budget = quality_budget_rank(scored)
    manifest = (
        ranked.crossJoin(F.broadcast(budget))
        .groupBy(
            F.when(F.col("cum_n_tok") <= F.col("budget"), "selected")
            .otherwise("cut")
            .alias("status"),
            "lang",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("qscore_x1e6").cast("long").alias("min_qscore_x1e6"),
        )
    )
    dead_report = dead.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        F.lit("deadletter").alias("status"),
        "lang",
        "n_docs",
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(-1).cast("long").alias("min_qscore_x1e6"),
    )
    return manifest.unionByName(dead_report).orderBy("status", "lang")


# ---------------------------------------------------------------------------
# pipe_percentile_prune_deadletter — per-lang prune that drops rows, not runs
# ---------------------------------------------------------------------------


@register(
    "pipe_percentile_prune_deadletter",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents
),
scored AS (
  SELECT lang, cast(len(t) AS bigint) AS n_tok,
         (cast(len(list_distinct(t)) AS bigint) * 1000000)
           // greatest(len(t), 1) AS qs
  FROM base WHERE len(t) >= 1
),
dead AS (
  -- NOT coalesce(pred, false): NULL text (NULL token list) routes to
  -- the dead side, mirroring audit.dead_letter_rows' null-safe split
  SELECT lang, cast(count(*) AS bigint) AS n_deadletter
  FROM base WHERE NOT coalesce(len(t) >= 1, false) GROUP BY lang
),
{SQL_LANG_QUALITY_CUM},
report AS (
  SELECT lang,
         cast(max(nd) AS bigint) AS n_docs,
         cast(max(tok_total) AS bigint) AS tok_total,
         cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN qs END), -1)
              AS bigint) AS threshold_x1e6,
         cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_cnt END), 0)
              AS bigint) AS n_dropped,
         cast(max(nd)
              - coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_cnt END),
                         0) AS bigint) AS n_kept,
         cast(coalesce(max(CASE WHEN cum_cnt <= nd // 4 THEN cum_tok END), 0)
              AS bigint) AS tok_dropped
  FROM cum
  GROUP BY lang
)
SELECT coalesce(r.lang, d.lang) AS lang,
       coalesce(r.n_docs, 0) AS n_docs,
       coalesce(r.tok_total, 0) AS tok_total,
       coalesce(r.threshold_x1e6, -1) AS threshold_x1e6,
       coalesce(r.n_dropped, 0) AS n_dropped,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.tok_dropped, 0) AS tok_dropped,
       coalesce(d.n_deadletter, 0) AS n_deadletter
FROM report r FULL JOIN dead d ON r.lang = d.lang
ORDER BY lang
""",
    doc="Dead-letter twin of pipe_percentile_prune — the same per-"
    "language tie-atomic bottom-quartile quality prune, but empty "
    "documents are ROUTED through audit.dead_letter_rows (§2.9 "
    "error-channel-as-data; reference drop-rows-never-runs, "
    "src/P6/__main__.py:258-268) instead of aborting: each language "
    "row gains an n_deadletter rejection count, quartile boundaries "
    "are computed over CLEAN documents only, and a language whose "
    "documents are ALL empty still appears (full outer join) with "
    "zero mass and the -1 threshold sentinel rather than vanishing. "
    "On a clean corpus every column except the all-zero n_deadletter "
    "equals the raising form (pinned in tests/test_deadletter_r10.py)."
    " Scale shape identical to the raising form: one scan splits "
    "clean/dead; the cumulative walk runs on the AGGREGATED "
    "(lang, score) table (bounded at 1e6+1 distinct scores per lang); "
    "the dead side is one hash aggregate to |langs| rows.",
    tags=("pipeline", "curation", "quality", "fixed-point", "window", "audit"),
)
def pipe_percentile_prune_deadletter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("lang", tokens(F.col("text")).alias("t")).select(
        "lang",
        F.size("t").cast("long").alias("n_tok"),
        # bigint BEFORE the multiply: F.size is INT32 (ADVICE r8)
        F.expr("cast(size(array_distinct(t)) as bigint) * 1000000").alias(
            "_num"
        ),
    )
    clean, dead = dead_letter_rows(base, F.col("n_tok") >= 1)
    scored = clean.select(
        "lang",
        "n_tok",
        F.expr("_num div greatest(n_tok, cast(1 as bigint))").alias("qs"),
    )
    report = percentile_prune_report(scored)
    dead_report = dead.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_deadletter")
    )
    return (
        report.join(dead_report, "lang", "full")
        .select(
            "lang",
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce("tok_total", F.lit(0).cast("long")).alias("tok_total"),
            F.coalesce("threshold_x1e6", F.lit(-1).cast("long")).alias(
                "threshold_x1e6"
            ),
            F.coalesce("n_dropped", F.lit(0).cast("long")).alias("n_dropped"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("tok_dropped", F.lit(0).cast("long")).alias(
                "tok_dropped"
            ),
            F.coalesce("n_deadletter", F.lit(0).cast("long")).alias(
                "n_deadletter"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# pipe_sequence_packing_deadletter — packing that drops rows, not runs
# ---------------------------------------------------------------------------


@register(
    "pipe_sequence_packing_deadletter",
    oracle=f"""
WITH clean AS (
  SELECT doc_id, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 1
),
dead AS (
  SELECT cast(count(*) AS bigint) AS n_dead FROM documents
  WHERE n_chars IS NULL OR n_chars < 1
),
d AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id) AS cum
  FROM clean
),
assigned AS (
  SELECT doc_id, n_chars,
         (cum - n_chars) // {PACK_BUDGET} AS seq_id,
         CASE WHEN (cum - n_chars) // {PACK_BUDGET}
                   <> (cum - 1) // {PACK_BUDGET}
              THEN 1 ELSE 0 END AS straddles
  FROM d
),
{SQL_PACK_HISTOGRAM}
UNION ALL
SELECT cast(-1 AS bigint), n_dead, cast(0 AS bigint)
FROM dead WHERE n_dead > 0
ORDER BY docs_in_seq
""",
    doc="Dead-letter twin of pipe_sequence_packing — same greedy "
    "fixed-window packing histogram, but documents with n_chars < 1 "
    "(or NULL) are ROUTED via audit.dead_letter_rows (§2.9 "
    "drop-rows-never-runs; reference src/P6/__main__.py:258-268) "
    "instead of aborting: the running offset packs CLEAN documents "
    "only (so the window arithmetic the raising form protects is "
    "never fed an empty span), and the rejects surface as one "
    "sentinel histogram row docs_in_seq = -1 (n_seqs = reject count, "
    "0 straddlers), present only when rejects exist. On a clean "
    "corpus this row vanishes and the twin equals the raising form "
    "exactly (tests/test_deadletter_r10.py). Scale shape identical: "
    "two-phase distributed prefix sum over the clean stream, two hash "
    "aggregates, plus one 1-row dead count.",
    tags=("pipeline", "packing", "training", "window", "fixed-point",
          "audit"),
)
def pipe_sequence_packing_deadletter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clean, dead = dead_letter_rows(
        docs, F.col("n_chars").isNotNull() & (F.col("n_chars") >= 1)
    )
    per_seq = pack_sequences(clean)
    hist = per_seq.groupBy("docs_in_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("n_straddle").cast("long").alias("n_straddlers"),
    ).select(
        F.col("docs_in_seq").cast("long").alias("docs_in_seq"),
        "n_seqs",
        "n_straddlers",
    )
    dead_row = (
        dead.agg(F.count(F.lit(1)).cast("long").alias("n_dead"))
        .filter(F.col("n_dead") > 0)
        .select(
            F.lit(-1).cast("long").alias("docs_in_seq"),
            F.col("n_dead").alias("n_seqs"),
            F.lit(0).cast("long").alias("n_straddlers"),
        )
    )
    return hist.unionByName(dead_row).orderBy("docs_in_seq")
