"""Corpus novelty and product growth accounting: how much genuinely new
content each document contributes (the dedup-adjacent 'is this feed
saturating' curve), and the weekly new/retained/resurrected/churned
user ledger — the growth table every product review starts with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_PURCHASE_TOUCHES, SQL_TOKENS
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Shingle novelty per ingestion decile
# ---------------------------------------------------------------------------


@register(
    "txt_novelty_curve",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
shingled AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [array_to_string(t, ' ')] END)) AS sh
  FROM base
),
firsts AS (SELECT sh, min(doc_id) AS first_doc FROM shingled GROUP BY sh),
per_doc AS (
  SELECT s.doc_id,
         cast(count(*) AS bigint) AS n_sh,
         cast(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS bigint)
           AS n_new
  FROM shingled s JOIN firsts f ON f.sh = s.sh
  GROUP BY s.doc_id
),
marked AS (
  SELECT *, (doc_id * 10) // (SELECT max(doc_id) + 1 FROM per_doc) AS decile
  FROM per_doc
)
SELECT cast(decile AS bigint) AS decile,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_sh) AS bigint) AS n_shingles,
       cast(sum(n_new) AS bigint) AS n_first_seen,
       cast(sum(n_new) * 1000000 // sum(n_sh) AS bigint) AS novelty_x1e6
FROM marked GROUP BY decile ORDER BY decile
""",
    doc="Corpus novelty curve: per ingestion decile (doc_id order = "
    "arrival order), the share of 3-word shingles seen for the FIRST "
    "time — the saturation measurement behind 'is scraping more of "
    "this feed still buying new content?' (novelty falling toward the "
    "near-dup noise floor says stop). First-seen is one min-per-"
    "shingle aggregate joined back onto the shingle stream — no "
    "ordered cumulative state, so it shards like any other "
    "shingle-keyed op.",
    tags=("text", "dedup", "novelty", "fixed-point"),
)
def txt_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(dd.word_shingles(F.col("text"), 3))).alias("sh"),
    )
    firsts = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    mx = per_doc.agg((F.max("doc_id") + 1).alias("mx"))
    marked = per_doc.crossJoin(F.broadcast(mx)).select(
        F.expr("(doc_id * 10) div mx").alias("decile"), "n_sh", "n_new"
    )
    return (
        marked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("n_new").alias("n_first_seen"),
            F.expr("cast(sum(n_new) * 1000000 div sum(n_sh) as bigint)").alias(
                "novelty_x1e6"
            ),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Weekly growth accounting
# ---------------------------------------------------------------------------


@register(
    "q_growth_accounting",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
         (epoch_us(ts) // 1000000) // 604800 AS week
  FROM events
),
firsts AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY user_id),
flags AS (
  SELECT uw.user_id, uw.week, f.first_week,
         lag(uw.week) OVER (PARTITION BY uw.user_id ORDER BY uw.week) AS prev_week
  FROM uw JOIN firsts f ON f.user_id = uw.user_id
),
ledger AS (
  SELECT week,
         sum(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS new_users,
         sum(CASE WHEN week > first_week AND prev_week = week - 1 THEN 1 ELSE 0 END)
           AS retained,
         sum(CASE WHEN week > first_week AND (prev_week IS NULL OR prev_week < week - 1)
                  THEN 1 ELSE 0 END) AS resurrected
  FROM flags GROUP BY week
),
churn AS (
  SELECT a.week + 1 AS week, count(*) AS churned
  FROM flags a
  WHERE NOT EXISTS (SELECT 1 FROM uw b
                    WHERE b.user_id = a.user_id AND b.week = a.week + 1)
  GROUP BY a.week + 1
)
SELECT cast(l.week AS bigint) AS week,
       cast(l.new_users AS bigint) AS new_users,
       cast(l.retained AS bigint) AS retained,
       cast(l.resurrected AS bigint) AS resurrected,
       cast(coalesce(c.churned, 0) AS bigint) AS churned_from_prev,
       cast(l.new_users + l.retained + l.resurrected AS bigint) AS wau
FROM ledger l LEFT JOIN churn c ON c.week = l.week
ORDER BY week
""",
    doc="Weekly growth accounting: every active user classified as new "
    "(first week), retained (also active last week), or resurrected "
    "(returning after a gap), plus the churn out of each week — the "
    "ledger identity WAU(t) = new + retained + resurrected, with "
    "churned(t) = WAU(t-1) - retained(t) checkable from the output; "
    "the standard growth decomposition a plain WAU line hides. One "
    "distinct (user, week) table; first-seen join + one lag window "
    "share its user-keyed shuffle; the anti-join for churn is "
    "week-shifted self-semi-difference on the same table.",
    tags=("bi", "growth", "window", "events"),
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("unix_timestamp(ts) div 604800").alias("week"),
    ).distinct()
    firsts = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    flags = (
        uw.join(firsts, "user_id")
        .withColumn(
            "prev_week",
            F.lag("week").over(W.partitionBy("user_id").orderBy("week")),
        )
    )
    ledger = flags.groupBy("week").agg(
        F.sum(F.when(F.col("week") == F.col("first_week"), 1).otherwise(0)).alias(
            "new_users"
        ),
        F.sum(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (F.col("prev_week") == F.col("week") - 1),
                1,
            ).otherwise(0)
        ).alias("retained"),
        F.sum(
            F.when(
                (F.col("week") > F.col("first_week"))
                & (
                    F.col("prev_week").isNull()
                    | (F.col("prev_week") < F.col("week") - 1)
                ),
                1,
            ).otherwise(0)
        ).alias("resurrected"),
    )
    nxt = uw.select("user_id", (F.col("week") - 1).alias("week"))
    churn = (
        flags.select("user_id", "week")
        .join(nxt, ["user_id", "week"], "left_anti")
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).alias("churned_from_prev"))
    )
    return (
        ledger.join(churn, "week", "left")
        .select(
            F.col("week").cast("long").alias("week"),
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned_from_prev", F.lit(0)).alias("churned_from_prev"),
            (
                F.col("new_users") + F.col("retained") + F.col("resurrected")
            ).alias("wau"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# Attribution model comparison (first vs last touch)
# ---------------------------------------------------------------------------


@register(
    "q_attribution_compare",
    oracle=f"""
WITH {SQL_PURCHASE_TOUCHES},
joined AS (
  SELECT p.p_id, t.channel,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY t.t_ts DESC, t.t_id DESC) AS rnk_last,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY t.t_ts ASC, t.t_id ASC) AS rnk_first
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id AND t.t_ts <= p.p_ts
),
lt AS (SELECT channel, cast(count(*) AS bigint) AS n_last FROM joined
       WHERE rnk_last = 1 GROUP BY channel),
ft AS (SELECT channel, cast(count(*) AS bigint) AS n_first FROM joined
       WHERE rnk_first = 1 GROUP BY channel),
tot AS (SELECT cast(count(DISTINCT p_id) AS bigint) AS n_attr FROM joined)
SELECT coalesce(lt.channel, ft.channel) AS channel,
       coalesce(lt.n_last, 0) AS n_last_touch,
       coalesce(ft.n_first, 0) AS n_first_touch,
       coalesce(lt.n_last, 0) - coalesce(ft.n_first, 0) AS credit_delta,
       cast(coalesce(lt.n_last, 0) * 1000000 // t.n_attr AS bigint) AS last_share_x1e6,
       cast(coalesce(ft.n_first, 0) * 1000000 // t.n_attr AS bigint) AS first_share_x1e6
FROM lt FULL OUTER JOIN ft ON ft.channel = lt.channel, tot t
ORDER BY channel
""",
    doc="Attribution model comparison: the same purchases credited under "
    "LAST-touch and FIRST-touch simultaneously (two row_numbers over "
    "one user-key join — no second pass), per-channel credit and the "
    "delta between models — the sensitivity readout that says whether "
    "the marketing-mix conclusion depends on the attribution choice "
    "(a channel with positive delta closes deals; negative opens "
    "them). Same one-shuffle as q_attribution_last_touch.",
    tags=("funnel", "attribution", "window"),
)
def q_attribution_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    joined = (
        purchases.join(touches, "user_id")
        .filter(F.col("t_ts") <= F.col("p_ts"))
        .select(
            "p_id",
            "channel",
            F.row_number()
            .over(W.partitionBy("p_id").orderBy(F.desc("t_ts"), F.desc("t_id")))
            .alias("rnk_last"),
            F.row_number()
            .over(W.partitionBy("p_id").orderBy("t_ts", "t_id"))
            .alias("rnk_first"),
        )
    )
    lt = (
        joined.filter(F.col("rnk_last") == 1)
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_last"))
    )
    ft = (
        joined.filter(F.col("rnk_first") == 1)
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    tot = joined.agg(F.countDistinct("p_id").alias("n_attr"))
    return (
        lt.join(ft, "channel", "full_outer")
        .crossJoin(F.broadcast(tot))  # 1-row scalar attach
        .select(
            "channel",
            F.coalesce("n_last", F.lit(0)).alias("n_last_touch"),
            F.coalesce("n_first", F.lit(0)).alias("n_first_touch"),
            (
                F.coalesce("n_last", F.lit(0)) - F.coalesce("n_first", F.lit(0))
            ).alias("credit_delta"),
            F.expr(
                "cast(coalesce(n_last, 0) * 1000000 div n_attr as bigint)"
            ).alias("last_share_x1e6"),
            F.expr(
                "cast(coalesce(n_first, 0) * 1000000 div n_attr as bigint)"
            ).alias("first_share_x1e6"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Token burstiness (variance-to-mean dispersion)
# ---------------------------------------------------------------------------


@register(
    "txt_burstiness",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents),
per AS (SELECT t, doc_id, cast(count(*) AS bigint) AS x FROM tok GROUP BY 1, 2),
n AS (SELECT cast(count(DISTINCT doc_id) AS bigint) AS n_docs FROM tok),
agg AS (
  SELECT t,
         cast(sum(x) AS bigint) AS coll_freq,
         cast(sum(x * x) AS bigint) AS sum_sq,
         cast(count(*) AS bigint) AS doc_freq
  FROM per GROUP BY t
),
top AS (
  SELECT * FROM agg, n ORDER BY coll_freq DESC, t LIMIT 20
)
SELECT t AS token, coll_freq, doc_freq,
       cast((n_docs::HUGEINT * sum_sq - coll_freq::HUGEINT * coll_freq) * 1000000
            // (coll_freq::HUGEINT * (n_docs - 1)) AS bigint) AS vmr_x1e6
FROM top
ORDER BY coll_freq DESC, t
""",
    doc="Token burstiness: variance-to-mean ratio of per-document counts "
    "for the top-20 tokens, zeros included WITHOUT materializing them "
    "(VMR = (n*Sx^2 - C^2)/(C*(n-1)) needs only the present-doc sums) "
    "— the Church-Gale dispersion statistic: ~1e6 means Poisson-spread "
    "function words, >>1e6 means topical/bursty content words, and a "
    "spike flags boilerplate injection. One (token, doc) aggregate, "
    "one token rollup, a 20-row readout.",
    tags=("text", "stats", "fixed-point"),
)
def txt_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tok

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    per = tok.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("x"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    agg = per.groupBy("t").agg(
        F.sum("x").alias("coll_freq"),
        F.sum(F.expr("x * x")).alias("sum_sq"),
        F.count(F.lit(1)).alias("doc_freq"),
    )
    top = (
        agg.crossJoin(F.broadcast(n))  # 1-row scalar attach
        .orderBy(F.desc("coll_freq"), "t")
        .limit(20)
    )
    return top.select(
        F.col("t").alias("token"),
        "coll_freq",
        "doc_freq",
        F.expr(
            "cast((cast(n_docs as decimal(38,0)) * sum_sq"
            " - cast(coll_freq as decimal(38,0)) * coll_freq) * 1000000"
            " div (cast(coll_freq as decimal(38,0)) * (n_docs - 1)) as bigint)"
        ).alias("vmr_x1e6"),
    ).orderBy(F.desc("coll_freq"), "token")
