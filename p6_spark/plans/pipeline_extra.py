"""Pipeline-lifecycle extras: tokenizer vocabulary-coverage curve,
k-fold assignment audit, and marketing-style last-touch attribution —
three more shapes a reference-engine user runs between ingest and
training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_PURCHASE_TOUCHES, SQL_TOKENS, sql_corpus_funnel
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------


@register(
    "txt_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT unnest({SQL_TOKENS}) AS tok FROM documents
),
vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
         sum(cnt) OVER () AS total
  FROM vocab
),
cum AS (
  SELECT rnk, total,
         sum(cnt) OVER (ORDER BY rnk) AS cum_cnt
  FROM ranked
),
marks(k) AS (VALUES (10), (30), (100), (300), (1000))
SELECT m.k,
       cast(max(c.cum_cnt) AS bigint) AS covered_tokens,
       cast(max(c.total) AS bigint) AS total_tokens,
       cast((max(c.cum_cnt) * 1000000) // max(c.total) AS bigint) AS coverage_x1e6
FROM marks m JOIN cum c ON c.rnk <= m.k
GROUP BY m.k
ORDER BY m.k
""",
    doc="Vocabulary coverage curve: what share of the token stream the "
    "top-k vocabulary covers, at k = 10/30/100/300/1000 — the number "
    "that sizes a tokenizer vocab (and the OOV budget) before training. "
    "One token-count aggregate; rank + cumulative sum run over the "
    "VOCAB table (orders of magnitude smaller than the corpus), and "
    "each k-mark reads the cumsum at its prefix. Coverage is an x1e6 "
    "trunc ratio.",
    tags=("text", "tokenizer", "window", "fixed-point"),
)
def txt_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = vocab.select(
        "cnt",
        F.row_number().over(W.orderBy(F.desc("cnt"), "tok")).alias("rnk"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    cum = ranked.select(
        "rnk",
        "total",
        F.sum("cnt")
        .over(W.orderBy("rnk").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_cnt"),
    )
    marks = load_table(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(10,), (30,), (100,), (300,), (1000,)], "k int"
    )
    return (
        F.broadcast(marks)
        .join(cum, cum.rnk <= marks.k)
        .groupBy("k")
        .agg(
            F.max("cum_cnt").alias("covered_tokens"),
            F.max("total").alias("total_tokens"),
            F.expr(
                "cast((max(cum_cnt) * 1000000) div max(total) as bigint)"
            ).alias("coverage_x1e6"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# k-fold assignment audit
# ---------------------------------------------------------------------------


@register(
    "ml_kfold_assign",
    oracle="""
WITH folded AS (
  SELECT label,
         cast(((vec_id * 2654435761) % 4294967296) % 5 AS int) AS fold
  FROM embeddings
),
per_cell AS (
  SELECT fold, label, count(*) AS n FROM folded GROUP BY fold, label
),
margins AS (
  SELECT fold, label, n,
         sum(n) OVER (PARTITION BY fold) AS fold_n,
         sum(n) OVER (PARTITION BY label) AS label_n,
         sum(n) OVER () AS total
  FROM per_cell
)
SELECT fold, label,
       cast(n AS bigint) AS n,
       cast((n * 1000000) // fold_n AS bigint) AS fold_share_x1e6,
       cast((n * 1000000) // fold_n - (label_n * 1000000) // total AS bigint)
         AS balance_dev_x1e6
FROM margins
ORDER BY fold, label
""",
    doc="k-fold cross-validation assignment with a class-balance audit: "
    "folds from the same Knuth multiplicative hash as dd_hash_split "
    "(deterministic, rerun-stable, no shuffle to assign), then each "
    "(fold, label) cell's share compared against the global label prior "
    "— the is-my-split-stratified-enough check. Map-side fold "
    "assignment; margins via three windows over the 50-row cell table.",
    tags=("ml", "sampling", "fixed-point"),
)
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    folded = emb.select(
        "label",
        ((F.col("vec_id") * 2654435761) % 4294967296 % 5).cast("int").alias("fold"),
    )
    per_cell = folded.groupBy("fold", "label").agg(F.count(F.lit(1)).alias("n"))
    margins = per_cell.select(
        "fold",
        "label",
        "n",
        F.sum("n").over(W.partitionBy("fold")).alias("fold_n"),
        F.sum("n").over(W.partitionBy("label")).alias("label_n"),
        F.sum("n").over(W.partitionBy()).alias("total"),
    )
    return margins.select(
        "fold",
        "label",
        F.col("n").cast("long").alias("n"),
        F.expr("cast((n * 1000000) div fold_n as bigint)").alias("fold_share_x1e6"),
        F.expr(
            "cast((n * 1000000) div fold_n - (label_n * 1000000) div total as bigint)"
        ).alias("balance_dev_x1e6"),
    ).orderBy("fold", "label")


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------


@register(
    "q_attribution_last_touch",
    oracle=f"""
WITH {SQL_PURCHASE_TOUCHES},
joined AS (
  SELECT p.p_id, t.channel,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY t.t_ts DESC, t.t_id DESC) AS rnk
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id AND t.t_ts <= p.p_ts
),
attributed AS (
  SELECT p_id, channel FROM joined WHERE rnk = 1
),
tot AS (
  SELECT (SELECT count(*) FROM purchases) AS n_purchases,
         (SELECT count(*) FROM attributed) AS n_attributed
)
SELECT a.channel,
       cast(count(*) AS bigint) AS n_conversions,
       cast((count(*) * 1000000) // max(t.n_attributed) AS bigint) AS share_x1e6,
       cast(max(t.n_purchases) - max(t.n_attributed) AS bigint) AS n_unattributed
FROM attributed a CROSS JOIN tot t
GROUP BY a.channel
ORDER BY a.channel
""",
    doc="Last-touch attribution: every purchase credited to the most "
    "recent prior touch (view/click/signup) of the same user, with a "
    "(ts, event_id) total order for ties — the as-of-join shape from "
    "q_asof_nearest applied to marketing credit. The per-purchase "
    "argmax is a row_number window over the user-key join (at scale: "
    "both sides shuffle once on user_id and the window reuses that "
    "partitioning); unattributed purchases (no prior touch) are "
    "reported, not dropped.",
    tags=("funnel", "attribution", "asof", "window"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    touches = ev.filter(F.col("event_type").isin("view", "click", "signup")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    joined = purchases.join(touches, "user_id").filter(F.col("t_ts") <= F.col("p_ts"))
    wr = W.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id"))
    attributed = (
        joined.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select("p_id", "channel")
    )
    tot = purchases.agg(F.count(F.lit(1)).alias("n_purchases")).crossJoin(
        attributed.agg(F.count(F.lit(1)).alias("n_attributed"))
    )
    return (
        attributed.crossJoin(F.broadcast(tot))  # 1-row scalar attach
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.expr(
                "cast((count(*) * 1000000) div max(n_attributed) as bigint)"
            ).alias("share_x1e6"),
            F.expr(
                "cast(max(n_purchases) - max(n_attributed) as bigint)"
            ).alias("n_unattributed"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Corpus-pipeline drop funnel (per-source stage attrition)
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    return f"""
WITH {sql_corpus_funnel()},
clean AS (SELECT e.* FROM exact e WHERE e.doc_id NOT IN (SELECT doc_id FROM losers))
SELECT r.source,
       r.n_raw,
       coalesce(g.n, 0) AS n_pass_gate,
       coalesce(e.n, 0) AS n_after_exact,
       coalesce(c.n, 0) AS n_survivors,
       r.n_raw - coalesce(g.n, 0) AS d_gate,
       coalesce(g.n, 0) - coalesce(e.n, 0) AS d_exact,
       coalesce(e.n, 0) - coalesce(c.n, 0) AS d_neardup
FROM (SELECT source, cast(count(*) AS bigint) AS n_raw FROM documents GROUP BY source) r
LEFT JOIN (SELECT source, cast(count(*) AS bigint) AS n FROM gated GROUP BY source) g USING (source)
LEFT JOIN (SELECT source, cast(count(*) AS bigint) AS n FROM exact GROUP BY source) e USING (source)
LEFT JOIN (SELECT source, cast(count(*) AS bigint) AS n FROM clean GROUP BY source) c USING (source)
ORDER BY r.source
"""


@register(
    "pipe_drop_funnel",
    oracle=_funnel_oracle(),
    doc="Corpus-pipeline drop funnel: per source, survivors at every "
    "stage of pipe_llm_corpus's chain (raw -> quality gate -> exact "
    "dedup -> near-dedup) plus the per-stage drop deltas — the "
    "observability table a corpus team watches per ingest batch "
    "(a source whose d_gate spikes changed upstream; d_neardup "
    "spiking means a feed started mirroring another). Reuses the "
    "pipeline's OWN stage functions, so the funnel can't drift from "
    "the production path; stage counts are source-keyed rollups of "
    "each stage's survivor set.",
    tags=("pipeline", "observability", "dedup", "quality"),
)
def pipe_drop_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.pipelines.llm_corpus import drop_near_duplicates, quality_gate

    docs = load_table(spark, sf_dir, "documents")
    # each stage output feeds BOTH its per-source rollup and the next
    # stage (and the near-dup stage reads its input twice: LSH subtree +
    # anti-join) — without the cuts, scan+gate executes ~5x and exact
    # dedup ~4x
    gated = materialize(quality_gate(docs))
    exact = materialize(dd.dedup_exact(gated))
    clean = drop_near_duplicates(exact)

    def per_source(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    r = per_source(docs, "n_raw")
    g = per_source(gated, "n_pass_gate")
    e = per_source(exact, "n_after_exact")
    c = per_source(clean, "n_survivors")
    return (
        r.join(g, "source", "left")
        .join(e, "source", "left")
        .join(c, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_pass_gate", F.lit(0)).alias("n_pass_gate"),
            F.coalesce("n_after_exact", F.lit(0)).alias("n_after_exact"),
            F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            (F.col("n_raw") - F.coalesce("n_pass_gate", F.lit(0))).alias("d_gate"),
            (
                F.coalesce("n_pass_gate", F.lit(0))
                - F.coalesce("n_after_exact", F.lit(0))
            ).alias("d_exact"),
            (
                F.coalesce("n_after_exact", F.lit(0))
                - F.coalesce("n_survivors", F.lit(0))
            ).alias("d_neardup"),
        )
        .orderBy("source")
    )
