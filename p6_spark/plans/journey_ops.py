"""User-journey analytics + sketch-evaluation closure: top event paths,
cumulative adoption, and the LSH recall audit that completes the
measure-the-sketch trio (calibration -> tuning -> recall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS, sql_lsh_pairs, sql_minhash_cols
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Top entry paths
# ---------------------------------------------------------------------------


@register(
    "q_top_paths",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id
)
SELECT path, cast(count(*) AS bigint) AS n_users
FROM paths
GROUP BY path
ORDER BY n_users DESC, path
LIMIT 10
""",
    doc="Top entry paths: each user's first three events (total order "
    "(ts, event_id)) joined into a '>' path string, counted, top-10 "
    "with a full tiebreak — the onboarding-flow report. One user_id "
    "shuffle shared by the ranking window and the path aggregate; the "
    "path-count rollup shuffles tiny (path, count) keys; top-k via "
    "TakeOrderedAndProject.",
    tags=("funnel", "journey", "window"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wr = W.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Cumulative adoption curve
# ---------------------------------------------------------------------------


@register(
    "q_cumulative_adoption",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY user_id
),
per_day AS (
  SELECT day, count(*) AS n_new FROM first_seen GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       cast(n_new AS bigint) AS n_new,
       cast(sum(n_new) OVER (ORDER BY day) AS bigint) AS cum_users
FROM per_day
ORDER BY day
""",
    doc="Cumulative adoption curve: each user's first-seen day, new "
    "users per day, running total — the growth chart. The cumsum runs "
    "over the per-DAY table (bounded by the calendar, not the users), "
    "so the ordering window is trivially small; the heavy lifting is "
    "one min-per-user aggregate.",
    tags=("timeseries", "journey", "window"),
)
def q_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    per_day = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(wc).alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# LSH recall audit
# ---------------------------------------------------------------------------

_RECALL_SUBSET = 200
_RECALL_TAU_X1E6 = 400000  # token-Jaccard ground-truth threshold (0.4)


@register(
    "dd_lsh_recall",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok
  FROM documents WHERE doc_id < {_RECALL_SUBSET}
),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE (n_common * 1000000) // (sa.n_tok + sb.n_tok - n_common) >= {_RECALL_TAU_X1E6}
),
sig AS (
  SELECT doc_id,
         {sql_minhash_cols(sep=", ")}
  FROM toks GROUP BY doc_id
),
{sql_lsh_pairs(cap=None, name="cand", compact=True)},
hits AS (SELECT t.id_a, t.id_b FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
SELECT (SELECT count(*) FROM truth) AS n_truth,
       (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM hits) AS n_hits,
       cast(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
            ELSE ((SELECT count(*) FROM hits) * 1000000) // (SELECT count(*) FROM truth) END AS bigint)
         AS recall_x1e6,
       cast(CASE WHEN (SELECT count(*) FROM cand) = 0 THEN 0
            ELSE ((SELECT count(*) FROM hits) * 1000000) // (SELECT count(*) FROM cand) END AS bigint)
         AS precision_x1e6
""",
    doc="LSH recall audit against exact ground truth: on a bounded "
    "subset, every pair with true token-Jaccard >= 0.4 (exact, via "
    "token equi-join — never all-pairs) is checked for presence in the "
    "MinHash-LSH candidate set. Completes the sketch-evaluation trio "
    "(dd_minhash_calibration = estimator error, dd_lsh_tuning = cost "
    "curve, this = recall/precision) — the evidence that the 100 TB "
    "dedup's banding choice actually catches the duplicates it claims "
    "to. Both sides reuse the shared minhash/banding helpers, so the "
    "audit measures the production configuration, not a copy.",
    tags=("dedup", "sketch", "evaluation"),
)
def dd_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _RECALL_SUBSET)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_tok").alias("n_b"))
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.expr(
                f"(n_common * 1000000) div (n_a + n_b - n_common)"
                f" >= {_RECALL_TAU_X1E6}"
            )
        )
        .select("id_a", "id_b")
    )
    cand = dd.lsh_candidate_pairs(dd.minhash_signatures(docs))
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hits)  # three 1-row scalars
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(
                "cast(CASE WHEN n_truth = 0 THEN 1000000"
                " ELSE (n_hits * 1000000) div n_truth END as bigint)"
            ).alias("recall_x1e6"),
            F.expr(
                "cast(CASE WHEN n_candidates = 0 THEN 0"
                " ELSE (n_hits * 1000000) div n_candidates END as bigint)"
            ).alias("precision_x1e6"),
        )
    )
