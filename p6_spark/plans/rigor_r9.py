"""Round-9 evaluation-rigor + budgeted-curation operators: the
statistical checks an eval/data team runs before trusting a model
comparison or committing a token budget — paired significance
(McNemar), ranking quality (exact average precision over a distributed
rank), multiclass report (macro-F1), preference confidence intervals
(Wilson bounds on the battle matrix), greedy quality-ranked budget
selection, data-constrained epoch planning, and canonical 13-gram
eval-set decontamination.

All exact-integer fixed-point with DuckDB twins except the Wilson
bounds, which follow the repo's ``round(f(exact_int) * 1e6)`` transcend-
ental convention (txt_tfidf's ln precedent): every input reaches the
float stage as an exact integer, the float ops used (+,-,*,/ and sqrt)
are IEEE-754 correctly-rounded — sqrt BY SPEC, unlike ln/log2 — so both
engines produce bit-identical doubles from identical expression shapes,
and one final round(x1e6) lands the same bigint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.plans.eval_r8 import _pair_counts
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MATCH_CTES, SQL_TOKENS
from p6_spark.plans.scalar_bounds import (
    DECON_BROADCAST_MAX_BENCH_DOCS,
    bench_doc_count,
)
from p6_spark.sources.tables import load_table

# DuckDB spelling of the whitespace tokenizer (same as llm_ops)


# ---------------------------------------------------------------------------
# ml_mcnemar_test — paired model comparison on shared eval samples
# ---------------------------------------------------------------------------


@register(
    "ml_mcnemar_test",
    oracle="""
WITH paired AS (
  SELECT CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS a_ok,
         CASE WHEN l_extendedprice >= 30000 THEN 1 ELSE 0 END AS b_ok
  FROM lineitem
),
cells AS (
  SELECT count(*) AS n,
         cast(sum(a_ok * b_ok) AS bigint) AS n_both,
         cast(sum(a_ok * (1 - b_ok)) AS bigint) AS n_a_only,
         cast(sum((1 - a_ok) * b_ok) AS bigint) AS n_b_only,
         cast(sum((1 - a_ok) * (1 - b_ok)) AS bigint) AS n_neither
  FROM paired
)
SELECT cast(n AS bigint) AS n, n_both, n_a_only, n_b_only, n_neither,
       CASE WHEN n_a_only + n_b_only = 0 THEN 0
            ELSE cast((greatest(abs(n_a_only - n_b_only) - 1, 0)
                       * greatest(abs(n_a_only - n_b_only) - 1, 0)
                       * 1000000) // (n_a_only + n_b_only) AS bigint)
       END AS chi2_cc_x1e6,
       CASE WHEN n_a_only > n_b_only THEN 'A'
            WHEN n_b_only > n_a_only THEN 'B' ELSE 'tie' END AS better
FROM cells
""",
    doc="McNemar's test on paired eval outcomes — THE significance "
    "check for 'is model A actually better than model B on the same "
    "samples': the 2x2 agreement table (both right / A only / B only / "
    "neither) and the continuity-corrected statistic "
    "chi2 = (|b - c| - 1)^2 / (b + c) as an exact x1e6 integer (one "
    "trunc division; |b-c| <= 1 and b+c = 0 both defined as 0). Only "
    "the DISCORDANT pairs carry signal — the test is immune to the "
    "easy samples both models get right, which is why it beats "
    "comparing two independent accuracy numbers. Synthetic panel: "
    "sample = lineitem row, model A correct = quantity >= 25, model B "
    "correct = price >= 30000. Scale shape: ONE map-side-combined "
    "aggregate to four counters — 100 TB of paired outcomes reduce in "
    "a single pass, and the statistic is 1-row arithmetic.",
    tags=("ml", "eval", "significance", "fixed-point"),
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.select(
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("a_ok"),
        F.when(F.col("l_extendedprice") >= 30000, 1).otherwise(0).alias("b_ok"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("a_ok * b_ok")).cast("long").alias("n_both"),
        F.sum(F.expr("a_ok * (1 - b_ok)")).cast("long").alias("n_a_only"),
        F.sum(F.expr("(1 - a_ok) * b_ok")).cast("long").alias("n_b_only"),
        F.sum(F.expr("(1 - a_ok) * (1 - b_ok)")).cast("long").alias("n_neither"),
    )
    return cells.select(
        F.col("n").cast("long").alias("n"),
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.expr(
            "CASE WHEN n_a_only + n_b_only = 0 THEN 0"
            " ELSE cast((greatest(abs(n_a_only - n_b_only) - 1, 0)"
            "            * greatest(abs(n_a_only - n_b_only) - 1, 0)"
            "            * cast(1000000 as bigint))"
            " div (n_a_only + n_b_only) AS bigint) END"
        ).alias("chi2_cc_x1e6"),
        F.expr(
            "CASE WHEN n_a_only > n_b_only THEN 'A'"
            " WHEN n_b_only > n_a_only THEN 'B' ELSE 'tie' END"
        ).alias("better"),
    )


# ---------------------------------------------------------------------------
# ml_average_precision — exact AP over a distributed global rank
# ---------------------------------------------------------------------------


@register(
    "ml_average_precision",
    oracle="""
WITH s AS (
  SELECT cast(round(l_extendedprice * 100, 0) AS bigint) AS score_c,
         CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS y,
         l_orderkey, l_linenumber
  FROM lineitem
),
r AS (
  SELECT y,
         row_number() OVER (ORDER BY score_c DESC, l_orderkey, l_linenumber)
           AS rn,
         sum(y) OVER (ORDER BY score_c DESC, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cum_y
  FROM s
)
SELECT cast(count(*) AS bigint) AS n,
       cast(sum(y) AS bigint) AS n_pos,
       CASE WHEN sum(y) = 0 THEN 0
            ELSE cast(sum(CASE WHEN y = 1
                               THEN (cum_y * 1000000) // rn END)
                      // sum(y) AS bigint)
       END AS ap_x1e6
FROM r
""",
    doc="Exact average precision (area under the precision-recall "
    "curve's step form) — the ranking-quality metric for retrieval / "
    "classifier scores under class imbalance, where ROC-AUC "
    "(ml_roc_auc) flatters: AP = mean over positives of precision@rank, "
    "each precision an exact x1e6 trunc division (cum_pos / rank) so "
    "both engines sum identical integers. Synthetic panel: score = "
    "price in exact cents, label = quantity >= 25, total order "
    "(score DESC, orderkey, linenumber). Scale shape: the global rank "
    "and the running positive count are ONE two-phase prefix rank "
    "(operators/ranking.two_phase_rank with cum_cols — never an "
    "unpartitioned window, the same rewrite certified for every other "
    "global cumsum), then one aggregate; 100 TB of scored samples "
    "never funnel through a single partition.",
    tags=("ml", "eval", "ranking", "fixed-point", "window"),
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank

    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr("cast(round(l_extendedprice * 100, 0) as bigint)").alias("score_c"),
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = two_phase_rank(
        s,
        [F.desc("score_c"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        F.col("score_c"),
        descending=True,
        cum_cols=["y"],
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr(
            "CASE WHEN sum(y) = 0 THEN 0"
            " ELSE cast(sum(CASE WHEN y = 1"
            "                THEN (cum_y * cast(1000000 as bigint)) div rn END)"
            " div sum(y) AS bigint) END"
        ).alias("ap_x1e6"),
    )


# ---------------------------------------------------------------------------
# ml_macro_f1 — multiclass confusion report
# ---------------------------------------------------------------------------


@register(
    "ml_macro_f1",
    oracle="""
WITH labeled AS (
  SELECT CASE WHEN l_quantity < 17 THEN 'low'
              WHEN l_quantity < 34 THEN 'mid' ELSE 'high' END AS truth,
         CASE WHEN l_extendedprice < 35000 THEN 'low'
              WHEN l_extendedprice < 70000 THEN 'mid' ELSE 'high' END AS pred
  FROM lineitem
),
cells AS (
  SELECT truth, pred, count(*) AS c FROM labeled GROUP BY 1, 2
),
classes AS (SELECT DISTINCT truth AS cls FROM cells
            UNION SELECT DISTINCT pred FROM cells),
per AS (
  SELECT cls,
         cast(coalesce(sum(c) FILTER (WHERE truth = cls AND pred = cls), 0)
              AS bigint) AS tp,
         cast(coalesce(sum(c) FILTER (WHERE pred = cls AND truth <> cls), 0)
              AS bigint) AS fp,
         cast(coalesce(sum(c) FILTER (WHERE truth = cls AND pred <> cls), 0)
              AS bigint) AS fn
  FROM classes LEFT JOIN cells ON truth = cls OR pred = cls
  GROUP BY cls
),
scored AS (
  SELECT cls, tp, fp, fn,
         CASE WHEN tp + fp = 0 THEN 0
              ELSE (tp * 1000000) // (tp + fp) END AS prec_x1e6,
         CASE WHEN tp + fn = 0 THEN 0
              ELSE (tp * 1000000) // (tp + fn) END AS rec_x1e6
  FROM per
),
f AS (
  SELECT cls, tp, fp, fn, prec_x1e6, rec_x1e6,
         CASE WHEN prec_x1e6 + rec_x1e6 = 0 THEN 0
              ELSE (2 * prec_x1e6 * rec_x1e6) // (prec_x1e6 + rec_x1e6)
         END AS f1_x1e6
  FROM scored
),
m AS (SELECT cast(sum(f1_x1e6) // count(*) AS bigint) AS macro_f1_x1e6 FROM f)
SELECT f.cls, f.tp, f.fp, f.fn, f.prec_x1e6, f.rec_x1e6, f.f1_x1e6,
       m.macro_f1_x1e6
FROM f, m
ORDER BY f.cls
""",
    doc="Multiclass confusion report with macro-F1 — the per-class "
    "precision/recall/F1 table every classifier eval publishes, as "
    "exact x1e6 integers: per class tp/fp/fn from the confusion cells, "
    "precision and recall one trunc division each (0 when undefined, "
    "the sklearn zero_division=0 convention), F1 the harmonic mean "
    "computed from the x1e6 integers (2pr/(p+r), products <= 2e12 so "
    "int64-exact), macro-F1 the unweighted class mean attached to "
    "every row (the ml_calibration_bins ECE pattern). Synthetic "
    "panel: truth = quantity tercile, pred = price tercile. Scale "
    "shape: one hash aggregate to <= |classes|^2 confusion cells — "
    "100 TB of predictions reduce in one map-side-combined pass; "
    "everything after is 9-row arithmetic.",
    tags=("ml", "eval", "classification", "fixed-point"),
)
def ml_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # tiny (<= 9 rows); feeds three class rollups
    cells = materialize(
        li.select(
            F.expr(
                "CASE WHEN l_quantity < 17 THEN 'low'"
                " WHEN l_quantity < 34 THEN 'mid' ELSE 'high' END"
            ).alias("truth"),
            F.expr(
                "CASE WHEN l_extendedprice < 35000 THEN 'low'"
                " WHEN l_extendedprice < 70000 THEN 'mid' ELSE 'high' END"
            ).alias("pred"),
        )
        .groupBy("truth", "pred")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    classes = (
        cells.select(F.col("truth").alias("cls"))
        .union(cells.select("pred"))
        .distinct()
    )
    per = (
        classes.join(
            cells,
            (F.col("truth") == F.col("cls")) | (F.col("pred") == F.col("cls")),
            "left",
        )
        .groupBy("cls")
        .agg(
            F.coalesce(
                F.sum(F.when((F.col("truth") == F.col("cls"))
                             & (F.col("pred") == F.col("cls")), F.col("c"))),
                F.lit(0),
            ).cast("long").alias("tp"),
            F.coalesce(
                F.sum(F.when((F.col("pred") == F.col("cls"))
                             & (F.col("truth") != F.col("cls")), F.col("c"))),
                F.lit(0),
            ).cast("long").alias("fp"),
            F.coalesce(
                F.sum(F.when((F.col("truth") == F.col("cls"))
                             & (F.col("pred") != F.col("cls")), F.col("c"))),
                F.lit(0),
            ).cast("long").alias("fn"),
        )
    )
    f = materialize(
        per.select(
            "cls",
            "tp",
            "fp",
            "fn",
            F.expr(
                "CASE WHEN tp + fp = 0 THEN 0"
                " ELSE (tp * cast(1000000 as bigint)) div (tp + fp) END"
            ).alias("prec_x1e6"),
            F.expr(
                "CASE WHEN tp + fn = 0 THEN 0"
                " ELSE (tp * cast(1000000 as bigint)) div (tp + fn) END"
            ).alias("rec_x1e6"),
        ).select(
            "cls",
            "tp",
            "fp",
            "fn",
            "prec_x1e6",
            "rec_x1e6",
            F.expr(
                "CASE WHEN prec_x1e6 + rec_x1e6 = 0 THEN 0"
                " ELSE (2 * prec_x1e6 * rec_x1e6) div (prec_x1e6 + rec_x1e6) END"
            ).alias("f1_x1e6"),
        )
    )  # feeds the macro mean AND the projection
    m = f.agg(F.expr("cast(sum(f1_x1e6) div count(*) as bigint)").alias("macro_f1_x1e6"))
    return (
        f.crossJoin(F.broadcast(m))
        .select("cls", "tp", "fp", "fn", "prec_x1e6", "rec_x1e6", "f1_x1e6",
                "macro_f1_x1e6")
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# ml_winrate_wilson — preference battle matrix with Wilson CIs
# ---------------------------------------------------------------------------

# Wilson score interval at z = 1.96, numerator/denominator multiplied
# through by n:  (w + z^2/2  -/+  z * sqrt(w(n-w)/n + z^2/4)) / (n + z^2).
# Written once and injected VERBATIM into both engines: every float op
# here (+,-,*,/, sqrt) is IEEE-754 correctly-rounded, so identical exact-
# integer inputs (w, n) give bit-identical doubles — the sqrt analog of
# the round(ln(exact)*1e6) convention. NOTE w*(n-w) is int64: fine to
# ~3e9 games per pair, far past any battle matrix.
_WILSON_LO = (
    "cast(round(((a_wins + 1.9208 - 1.96 *"
    " sqrt(a_wins * (n_games - a_wins) / n_games + 0.9604))"
    " / (n_games + 3.8416)) * 1000000, 0) as bigint)"
)
_WILSON_HI = (
    "cast(round(((a_wins + 1.9208 + 1.96 *"
    " sqrt(a_wins * (n_games - a_wins) / n_games + 0.9604))"
    " / (n_games + 3.8416)) * 1000000, 0) as bigint)"
)


@register(
    "ml_winrate_wilson",
    oracle=f"""
WITH {SQL_MATCH_CTES}
SELECT t_a, t_b, cast(n_games AS bigint) AS n_games, a_wins,
       cast((a_wins * 1000000) // n_games AS bigint) AS winrate_x1e6,
       {_WILSON_LO} AS wilson_lo_x1e6,
       {_WILSON_HI} AS wilson_hi_x1e6
FROM pair_counts
ORDER BY t_a, t_b
""",
    doc="Pairwise win-rate matrix with Wilson score intervals — the "
    "confidence view of the preference data ml_bt_strength ranks: per "
    "(type_a, type_b) battle cell, games, wins, the exact x1e6 win "
    "rate, and the 95% Wilson lower/upper bounds — the interval that "
    "stays honest at small n and extreme rates where the normal "
    "approximation lies, i.e. the number a reward-model team actually "
    "gates launches on. Shares the match-stream CTEs with "
    "ml_bt_strength (one definition, cannot drift). Exactness: rate is "
    "a trunc division; the bounds follow the repo's transcendental "
    "convention — exact-integer inputs into an IEEE-correctly-rounded "
    "float expression (sqrt is correctly rounded BY SPEC, unlike "
    "ln/log2), identical text on both engines, one final round(x1e6). "
    "Scale shape: lag window per user (bounded groups) -> one hash "
    "aggregate to the |types|^2 matrix (25 cells); millions of battles "
    "reduce map-side.",
    tags=("ml", "preference", "eval", "fixed-point", "window"),
)
def ml_winrate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    pc = _pair_counts(spark, sf_dir)
    return pc.select(
        "t_a",
        "t_b",
        F.col("n_games").cast("long").alias("n_games"),
        "a_wins",
        F.expr(
            "cast((a_wins * cast(1000000 as bigint)) div n_games as bigint)"
        ).alias("winrate_x1e6"),
        F.expr(_WILSON_LO).alias("wilson_lo_x1e6"),
        F.expr(_WILSON_HI).alias("wilson_hi_x1e6"),
    ).orderBy("t_a", "t_b")


# ---------------------------------------------------------------------------
# pipe_quality_budget_cut — greedy quality-ranked token budget selection
# ---------------------------------------------------------------------------


@register(
    "pipe_quality_budget_cut",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN len(t) < 1
              THEN error('pipe_quality_budget_cut: empty document — the '
                         'quality score divides by the token count; '
                         'filter or repair before budgeting')
              ELSE len(t) END AS n_tok,
         (len(list_distinct(t)) * 1000000) // greatest(len(t), 1)
           AS qscore_x1e6
  FROM (SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents)
),
ranked AS (
  SELECT *,
         sum(n_tok) OVER (ORDER BY qscore_x1e6 DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_n_tok
  FROM scored
),
tot AS (SELECT sum(n_tok) // 4 AS budget FROM scored)
SELECT (cum_n_tok <= budget) AS selected, lang,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_tok) AS bigint) AS n_tokens,
       cast(min(qscore_x1e6) AS bigint) AS min_qscore_x1e6
FROM ranked, tot
GROUP BY 1, 2
ORDER BY selected DESC, lang
""",
    doc="Greedy quality-ranked budget cut — the curation decision 'keep "
    "the best documents until the token budget is spent': documents "
    "rank by an exact integer quality score (distinct-token ratio "
    "x1e6, trunc div — lexical diversity, the cheap proxy; a real "
    "deployment swaps in its scorer), the running token count "
    "accumulates down the ranking, and the cut falls where it crosses "
    "the budget (25% of corpus tokens). Output: the per-(selected, "
    "lang) manifest — doc/token mass and the quality floor that made "
    "the cut, i.e. the report that tells a team WHAT a budget buys "
    "and which languages it starves. Scale shape: the global quality "
    "order + running sum is ONE two-phase prefix rank "
    "(operators/ranking.two_phase_rank cum_cols, never an "
    "unpartitioned window); the budget is a broadcast 1-row "
    "aggregate; the manifest is one hash aggregate. Counts staged "
    "bigint BEFORE the x1e6 multiply (F.size is INT32 — the "
    "_jaccard_scored overflow lesson, ADVICE r8).",
    tags=("pipeline", "curation", "quality", "fixed-point", "window"),
)
def pipe_quality_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens
    from p6_spark.pipelines.llm_corpus import quality_budget_rank

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        docs.select("doc_id", "lang", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            "lang",
            # loud-failure guard (the pipe_sequence_packing discipline):
            # an empty document would divide the score by zero — raise a
            # NAMED error identically on both engines, not a bare
            # DIVIDE_BY_ZERO
            F.when(F.size("t") >= 1, F.size("t").cast("long"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "pipe_quality_budget_cut: empty document — the "
                        "quality score divides by the token count; "
                        "filter or repair before budgeting"
                    )
                ).cast("long")
            )
            .alias("n_tok"),
            # bigint BEFORE the multiply: F.size is INT32 (ADVICE r8)
            F.expr(
                "cast(size(array_distinct(t)) as bigint) * 1000000"
            ).alias("_num"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.expr("_num div greatest(n_tok, cast(1 as bigint))").alias(
                "qscore_x1e6"
            ),
        )
    )
    ranked, budget = quality_budget_rank(scored)
    return (
        ranked.crossJoin(F.broadcast(budget))
        .groupBy(
            (F.col("cum_n_tok") <= F.col("budget")).alias("selected"), "lang"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("qscore_x1e6").cast("long").alias("min_qscore_x1e6"),
        )
        .orderBy(F.desc("selected"), "lang")
    )


# ---------------------------------------------------------------------------
# pipe_data_epochs — data-constrained repetition (epoch) planning
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4  # max repetitions per domain (diminishing-returns cutoff)
_MIX_W = {"en": 400_000, "de": 150_000, "fr": 150_000, "es": 150_000, "zh": 150_000}


@register(
    "pipe_data_epochs",
    oracle=f"""
WITH avail AS (
  -- named loud failure (r10 fuzz discipline): zero/NULL language mass
  -- reaches `// avail_chars` below, where DuckDB yields NULL (silent)
  -- but Spark ANSI div RAISES — guard both engines identically
  SELECT lang,
         CASE WHEN coalesce(sum(n_chars), 0) < 1
              THEN error('pipe_data_epochs: language with zero available '
                         'chars — epoch division undefined; repair or '
                         'drop the language before planning')
              ELSE cast(sum(n_chars) AS bigint) END AS avail_chars
  FROM documents
  WHERE lang IN {tuple(_MIX_W)!r}
  GROUP BY lang
),
t AS (SELECT 2 * sum(avail_chars) AS total_target FROM avail),
w AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_W.items())})
  AS w(lang, w_x1e6)
),
plan AS (
  SELECT a.lang, a.avail_chars,
         cast((t.total_target::HUGEINT * w.w_x1e6) // 1000000 AS bigint)
           AS target_chars
  FROM avail a JOIN w USING (lang) CROSS JOIN t
)
SELECT lang, avail_chars, target_chars,
       least(target_chars, {_EPOCH_CAP} * avail_chars) AS granted_chars,
       cast((least(target_chars, {_EPOCH_CAP} * avail_chars)::HUGEINT
             * 1000000) // avail_chars AS bigint) AS epochs_x1e6,
       greatest(0, target_chars - {_EPOCH_CAP} * avail_chars) AS unmet_chars
FROM plan
ORDER BY lang
""",
    doc="Data-constrained epoch planning — the repetition schedule for "
    "training past one epoch of a domain (the 'Scaling Data-"
    "Constrained Language Models' regime): each language's demand is "
    "its mixture share of a 2x-corpus token target; the grant is "
    f"capped at {_EPOCH_CAP} epochs of what the language actually has "
    "(the empirical diminishing-returns cutoff), and the report shows "
    "epochs granted (x1e6) plus the unmet demand the planner must "
    "reallocate or accept. Complements pipe_domain_mixture (which "
    "water-fills a SINGLE epoch): this is the decision AFTER that one "
    "— how hard to repeat each domain when the budget exceeds the "
    "corpus. Exact integers throughout: wide products staged "
    "decimal(38,0)/HUGEINT (the pipe_domain_mixture r8 lesson), one "
    "trunc division per rate. Scale shape: one hash aggregate to "
    "|langs| rows, then broadcast 5-row arithmetic.",
    tags=("pipeline", "training", "mixture", "fixed-point"),
)
def pipe_data_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    avail = (
        docs.filter(F.col("lang").isin(*_MIX_W))
        .groupBy("lang")
        .agg(F.sum("n_chars").cast("long").alias("avail_chars"))
        # named loud failure (r10 fuzz discipline): zero/NULL language
        # mass reaches `div avail_chars` below — raise both engines
        .select(
            "lang",
            F.when(
                F.coalesce(F.col("avail_chars"), F.lit(0)) < 1,
                F.raise_error(
                    F.lit(
                        "pipe_data_epochs: language with zero available "
                        "chars — epoch division undefined; repair or drop "
                        "the language before planning"
                    )
                ).cast("long"),
            )
            .otherwise(F.col("avail_chars"))
            .alias("avail_chars"),
        )
    )
    t = avail.agg(F.expr("2 * sum(avail_chars)").alias("total_target"))
    w = F.broadcast(
        spark.createDataFrame(list(_MIX_W.items()), "lang string, w_x1e6 long")
    )
    plan = (
        avail.join(w, "lang")
        .crossJoin(F.broadcast(t))
        .select(
            "lang",
            "avail_chars",
            F.expr(
                "cast((cast(total_target as decimal(38,0)) * w_x1e6)"
                " div 1000000 as bigint)"
            ).alias("target_chars"),
        )
    )
    return plan.select(
        "lang",
        "avail_chars",
        "target_chars",
        F.expr(f"least(target_chars, {_EPOCH_CAP} * avail_chars)").alias(
            "granted_chars"
        ),
        F.expr(
            f"cast((cast(least(target_chars, {_EPOCH_CAP} * avail_chars)"
            " as decimal(38,0)) * 1000000) div avail_chars as bigint)"
        ).alias("epochs_x1e6"),
        F.expr(
            f"greatest(0, target_chars - {_EPOCH_CAP} * avail_chars)"
        ).alias("unmet_chars"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# dd_decontam_ngram13 — canonical 13-gram eval-set decontamination
# ---------------------------------------------------------------------------

_DECON_N = 13

# Broadcast/shuffle crossover shared with dd_contamination (round 11
# extended the guard there) — rationale in plans/scalar_bounds.py.
_DECON_BROADCAST_MAX_BENCH_DOCS = DECON_BROADCAST_MAX_BENCH_DOCS


def _sql_shingles(n: int) -> str:
    """DuckDB n-word shingle expression over token list ``t`` — same
    whole-text fallback for short docs as operators/dedup.word_shingles."""
    join = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(t) >= {n}"
        f" THEN list_transform(generate_series(1, len(t) - {n - 1}),"
        f" i -> {join})"
        " ELSE [array_to_string(t, ' ')] END"
    )


@register(
    "dd_decontam_ngram13",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, source,
         unnest(list_distinct({_sql_shingles(_DECON_N)})) AS s
  FROM (SELECT doc_id, source, {SQL_TOKENS} AS t FROM documents)
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0),
flagged AS (
  SELECT DISTINCT sh.doc_id
  FROM sh JOIN bench USING (s)
  WHERE sh.doc_id % 97 <> 0
)
SELECT t.source,
       cast(count(*) AS bigint) AS n_docs,
       cast(count(f.doc_id) AS bigint) AS n_flagged,
       cast((count(f.doc_id) * 1000000) // count(*) AS bigint)
         AS flag_rate_x1e6
FROM train t LEFT JOIN flagged f USING (doc_id)
GROUP BY t.source
ORDER BY t.source
""",
    doc="Canonical 13-gram eval-set decontamination (the GPT-3 appendix "
    "method, still the industry default): a training document is "
    f"flagged if ANY of its {_DECON_N}-word shingles collides exactly "
    "with a shingle of the held-out benchmark set (doc_id % 97 == 0, "
    "the same deterministic bench split as dd_contamination — which "
    "measures FRACTIONAL 3-shingle overlap; this is the any-hit long-"
    "n-gram rule that catches verbatim leakage fractional overlap "
    "dilutes away on long documents). Docs shorter than 13 words fall "
    "back to their whole text as one shingle (word_shingles' "
    "documented short-doc behavior), so they flag only on exact-text "
    "collision. Output: per-source doc counts, flagged counts, x1e6 "
    "flag rate. Scale shape: a REAL benchmark set is fixed-size, so "
    "its shingles broadcast and the corpus is never shuffled — but "
    "the harness split (doc_id % 97) GROWS with the corpus, so the "
    "plan guards the broadcast with a driver-side 1-row bench-doc "
    "count (the permitted scalar-bound class): at most "
    f"{_DECON_BROADCAST_MAX_BENCH_DOCS:,} bench docs (~150 words/doc "
    "=> ~3M distinct 13-gram shingles, ~300 MB of strings — inside a "
    "comfortable executor broadcast) keep the broadcast semi-join; "
    "above the crossover it degrades to a shuffle-hash semi-join on "
    "the shingle key (both paths oracle-identical; "
    "tests/test_decontam_fallback_r10.py drives the fallback, decade "
    "measurement in benchdata/r10_decontam_fallback_decade.json). "
    "The rollup is one hash aggregate either way.",
    tags=("dedup", "contamination", "eval", "fixed-point"),
)
def dd_decontam_ngram13(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decontam_ngram13_plan(spark, sf_dir)


def _decontam_ngram13_plan(
    spark: SparkSession, sf_dir: str, force_shuffle: bool | None = None
) -> DataFrame:
    """Shared plan for dd_decontam_ngram13 with an explicit join-strategy
    override for tests/measurement: force_shuffle=True always takes the
    shuffle-hash fallback, False always broadcasts, None (production)
    auto-selects on the bench-doc count."""
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(dd.word_shingles(F.col("text"), _DECON_N))
        ).alias("s"),
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    if force_shuffle is None:
        # Driver-side 1-row scalar bound (the modern_sql.py:89 class),
        # memoized per (session, sf_dir) — see plans/scalar_bounds.py
        # for the crossover rationale and the staleness assumption.
        n_bench_docs = bench_doc_count(spark, sf_dir, docs)
        force_shuffle = n_bench_docs > _DECON_BROADCAST_MAX_BENCH_DOCS
    bench = (
        bench.hint("shuffle_hash") if force_shuffle else F.broadcast(bench)
    )
    flagged = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "s")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "source")
    return (
        train.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("hit").cast("long").alias("n_flagged"),
            F.expr(
                "cast((count(hit) * cast(1000000 as bigint)) div count(1)"
                " as bigint)"
            ).alias("flag_rate_x1e6"),
        )
        .orderBy("source")
    )
