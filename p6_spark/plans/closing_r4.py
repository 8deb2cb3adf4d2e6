"""Round-4 closing batch: bigram language-model scoring, KMV set
operations (union/intersection estimates), and duplicate-span
provenance — three training-data-pipeline staples in the registry's
exact-integer certification style (snapped x1e6 lns of exact integers,
trunc division, total-ordered top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Bigram language-model scoring (add-one smoothing, snapped-ln integers)
# ---------------------------------------------------------------------------


@register(
    "txt_bigram_lm",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
stats AS (
  SELECT w1, w2, cast(count(*) AS bigint) AS c12 FROM bg GROUP BY 1, 2
),
ctx AS (
  SELECT w1, cast(sum(c12) AS bigint) AS c1 FROM stats GROUP BY 1
),
vocab AS (
  SELECT cast(count(DISTINCT w) AS bigint) AS v FROM (
    SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg
  )
),
lp AS (
  SELECT s.w1, s.w2,
         cast(round(ln(s.c12 + 1) * 1000000, 0) AS bigint)
           - cast(round(ln(c.c1 + vocab.v) * 1000000, 0) AS bigint)
           AS lp_x1e6
  FROM stats s JOIN ctx c ON c.w1 = s.w1, vocab
),
scored AS (
  SELECT b.doc_id,
         cast(count(*) AS bigint) AS n_bigrams,
         cast(sum(lp.lp_x1e6) AS bigint) AS logprob_x1e6
  FROM bg b JOIN lp ON lp.w1 = b.w1 AND lp.w2 = b.w2
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, logprob_x1e6,
       cast((-logprob_x1e6) // n_bigrams AS bigint) AS avg_nll_x1e6
FROM scored
ORDER BY avg_nll_x1e6 DESC, doc_id
LIMIT 25
""",
    doc="Bigram language-model scoring with add-one smoothing — the "
    "perplexity-style quality filter one step above txt_lm_score's "
    "unigram model (a doc of real-but-shuffled words scores well on "
    "unigrams and badly here). P(w2|w1) = (c12+1)/(c1+V); the only "
    "non-integers are lns of EXACT corpus counts, snapped x1e6 per the "
    "txt_tfidf convention, so the per-doc sums hash exactly across "
    "engines. Plan: bigrams via one slice/zip posexplode, a "
    "bigram-keyed count aggregate (map-side partials), the small "
    "(w1,w2)->logprob table joined back onto the bigram stream — the "
    "same df-onto-tf shape as BM25; V arrives as a broadcast 1-row "
    "scalar. Top-25 hardest docs under a total order.",
    tags=("text", "lm", "quality", "fixed-point"),
)
def txt_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pos", "p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    stats = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = stats.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    lp = (
        stats.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))  # 1-row scalar attach
        .select(
            "w1",
            "w2",
            (
                F.round(F.log(F.col("c12") + 1) * 1000000, 0).cast("long")
                - F.round(F.log(F.col("c1") + F.col("v")) * 1000000, 0).cast(
                    "long"
                )
            ).alias("lp_x1e6"),
        )
    )
    scored = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_x1e6").alias("logprob_x1e6"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "logprob_x1e6",
            F.expr("cast((-logprob_x1e6) div n_bigrams as bigint)").alias(
                "avg_nll_x1e6"
            ),
        )
        .orderBy(F.desc("avg_nll_x1e6"), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# KMV set operations: union + intersection estimates from mergeable sketches
# ---------------------------------------------------------------------------

_KMV_K = 64


@register(
    "q_kmv_setops",
    oracle=f"""
WITH a AS (
  SELECT DISTINCT ('0x' || substr(md5(cast(o_custkey AS varchar)), 1, 8))::bigint AS h
  FROM orders WHERE o_orderdate < timestamp '1998-01-01 00:00:00'
),
b AS (
  SELECT DISTINCT ('0x' || substr(md5(cast(o_custkey AS varchar)), 1, 8))::bigint AS h
  FROM orders WHERE o_orderdate >= timestamp '1998-01-01 00:00:00'
),
ka AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
ku AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT {_KMV_K}
),
un AS (
  SELECT cast(count(*) AS bigint) AS k_used, cast(max(h) AS bigint) AS kth
  FROM ku
),
inter AS (
  SELECT cast(count(*) AS bigint) AS n_both
  FROM ku WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
)
SELECT un.k_used,
       CASE WHEN un.k_used < {_KMV_K} THEN un.k_used
            ELSE ({_KMV_K - 1} * 4294967296) // un.kth END AS est_union,
       inter.n_both,
       -- named loud failure (r10 fuzz discipline): an EMPTY union sketch
       -- reaches `// k_used` where DuckDB // 0 silently NULLs but Spark
       -- ANSI div raises — raise the SAME error on both engines
       CASE WHEN un.k_used < 1
            THEN error('q_kmv_setops: empty KMV sketch — no orders on '
                       'either side of the cut; jaccard undefined')
            ELSE cast(inter.n_both * 1000000 // un.k_used AS bigint)
            END AS jaccard_x1e6,
       CASE WHEN un.k_used < 1
            THEN error('q_kmv_setops: empty KMV sketch — no orders on '
                       'either side of the cut; jaccard undefined')
            ELSE cast((CASE WHEN un.k_used < {_KMV_K} THEN un.k_used
                            ELSE ({_KMV_K - 1} * 4294967296) // un.kth END
                       * inter.n_both) // un.k_used AS bigint)
            END AS est_intersection
FROM un, inter
""",
    doc="KMV sketch SET OPERATIONS — the reason k-minimum-values beats "
    "HLL when you need more than cardinality: the union sketch is just "
    "the k smallest of the merged sketches (mergeable), and the "
    "fraction of the union sketch present in BOTH input sketches is an "
    "unbiased Jaccard estimator, giving |A n B| ~= J * |A u B| without "
    "ever materializing the intersection. Sets here: customers "
    "ordering before vs during/after 1998. Everything is md5-integer "
    "deterministic, so the APPROXIMATE estimator carries an EXACT "
    "cross-engine oracle (the q_kmv_distinct property extended to set "
    "algebra). Scale: each sketch is a 64-row total-order head — the "
    "production shape keeps per-partition heaps and merges.",
    tags=("sketch", "distinct", "setops", "fixed-point"),
)
def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    orders = load_table(spark, sf_dir, "orders")
    cut = "1998-01-01 00:00:00"

    def sketch(pred):
        return (
            orders.filter(pred)
            .select(md5_int(F.col("o_custkey")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
        )

    ka = sketch(F.col("o_orderdate") < cut).withColumn("in_a", F.lit(1))
    kb = sketch(F.col("o_orderdate") >= cut).withColumn("in_b", F.lit(1))
    ku = (
        ka.select("h")
        .unionAll(kb.select("h"))
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
    )
    marked = (
        ku.join(F.broadcast(ka.select("h", "in_a")), "h", "left")
        .join(F.broadcast(kb.select("h", "in_b")), "h", "left")
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("h").alias("kth"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_both"),
    )
    est_union = F.when(
        F.col("k_used") < _KMV_K, F.col("k_used").cast("long")
    ).otherwise(F.expr(f"({_KMV_K - 1} * 4294967296L) div kth"))
    # named loud failure (r10 fuzz discipline): an EMPTY union sketch
    # reaches `div k_used` where Spark ANSI raises a bare DIVIDE_BY_ZERO
    # but DuckDB // 0 silently NULLs — raise the SAME error both engines
    _empty_guard = F.raise_error(
        F.lit(
            "q_kmv_setops: empty KMV sketch — no orders on "
            "either side of the cut; jaccard undefined"
        )
    ).cast("long")
    return agg.select(
        "k_used",
        est_union.alias("est_union"),
        F.col("n_both").cast("long").alias("n_both"),
        F.when(F.col("k_used") < 1, _empty_guard)
        .otherwise(F.expr("cast(n_both * 1000000 div k_used as bigint)"))
        .alias("jaccard_x1e6"),
    ).select(
        "k_used",
        "est_union",
        "n_both",
        "jaccard_x1e6",
        F.when(F.col("k_used") < 1, _empty_guard)
        .otherwise(
            F.expr("cast((est_union * n_both) div k_used as bigint)")
        )
        .alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Duplicate-span provenance: who had it first
# ---------------------------------------------------------------------------


@register(
    "dd_span_provenance",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[i:i+7], ' ') AS shingle
  FROM words, unnest(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
firsts AS (
  SELECT shingle, min(doc_id) AS first_doc, count(*) AS c
  FROM sh GROUP BY shingle
),
hits AS (
  SELECT s.doc_id, s.pos, f.first_doc,
         s.pos - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos)
           AS island
  FROM sh s JOIN firsts f ON f.shingle = s.shingle AND f.c >= 2
),
spans AS (
  SELECT doc_id, island,
         min(first_doc) AS src_doc,
         max(pos) - min(pos) + 8 AS span_words
  FROM hits GROUP BY 1, 2
)
SELECT doc_id,
       cast(count(*) AS bigint) AS n_dup_spans,
       cast(sum(CASE WHEN src_doc < doc_id THEN 1 ELSE 0 END) AS bigint)
         AS n_borrowed,
       cast(min(CASE WHEN src_doc < doc_id THEN src_doc END) AS bigint)
         AS earliest_source,
       cast(max(span_words) AS bigint) AS longest_span_words
FROM spans
GROUP BY doc_id
HAVING sum(CASE WHEN src_doc < doc_id THEN 1 ELSE 0 END) > 0
ORDER BY n_borrowed DESC, doc_id
LIMIT 25
""",
    doc="Duplicate-span PROVENANCE — dd_substring_spans answers 'which "
    "spans are duplicated'; this answers 'who had them first', the "
    "question behind license auditing and train/test contamination "
    "tracing. Every duplicated 8-word shingle carries its corpus-wide "
    "first-seen doc (min doc_id — one shingle-keyed aggregate); spans "
    "re-assemble via the same gaps-and-islands run extension, and a "
    "span is BORROWED when its earliest shingle owner precedes this "
    "doc. Per doc: borrowed-span count, the earliest source doc, and "
    "the longest span; ingest-order doc_id stands in for ingestion "
    "time. Same scale shape as dd_substring_spans: one shingle-keyed "
    "shuffle, per-doc windows.",
    tags=("dedup", "text", "provenance", "window", "scale"),
)
def dd_span_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(w) - 8),"
                    " i -> concat_ws(' ', slice(w, i + 1, 8)))"
                )
            ).alias("pos", "shingle"),
        )
    )
    firsts = sh.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("c")
    )
    hits = (
        sh.join(firsts.filter(F.col("c") >= 2), "shingle")
        .withColumn(
            "island",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        )
    )
    spans = hits.groupBy("doc_id", "island").agg(
        F.min("first_doc").alias("src_doc"),
        (F.max("pos") - F.min("pos") + 8).alias("span_words"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.when(F.col("src_doc") < F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_borrowed"),
            F.min(
                F.when(F.col("src_doc") < F.col("doc_id"), F.col("src_doc"))
            )
            .cast("long")
            .alias("earliest_source"),
            F.max("span_words").cast("long").alias("longest_span_words"),
        )
        .filter(F.col("n_borrowed") > 0)
        .orderBy(F.desc("n_borrowed"), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Strict window funnel (ordered steps within a time window)
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_H = 24


@register(
    "q_window_funnel",
    oracle=f"""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > v.t_view
    AND epoch_us(e.ts) <= v.t_view + {_FUNNEL_WINDOW_H} * 3600 * 1000000::bigint
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
  FROM events e
  JOIN v ON v.user_id = e.user_id
  JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > c.t_click
    AND epoch_us(e.ts) <= v.t_view + {_FUNNEL_WINDOW_H} * 3600 * 1000000::bigint
  GROUP BY e.user_id
),
depth AS (
  SELECT v.user_id,
         CASE WHEN p.user_id IS NOT NULL THEN 3
              WHEN c.user_id IS NOT NULL THEN 2
              ELSE 1 END AS depth
  FROM v LEFT JOIN c ON c.user_id = v.user_id
         LEFT JOIN p ON p.user_id = v.user_id
)
SELECT depth,
       cast(count(*) AS bigint) AS n_users,
       cast((SELECT count(*) FROM depth WHERE depth = 3) * 1000000
            // (SELECT count(*) FROM depth) AS bigint) AS conversion_x1e6
FROM depth
GROUP BY depth
ORDER BY depth
""",
    doc="Strict WINDOW FUNNEL (the ClickHouse windowFunnel staple, "
    "first-attempt variant): the funnel opens at the user's FIRST "
    "view; depth advances on the first click strictly after it and the "
    "first purchase strictly after that click, all within 24h of the "
    "opening view. Unlike q_funnel's cumulative ordered funnel, steps "
    "here must fit inside the time window — the form product analytics "
    "actually quotes ('converted within a day'). Three staged "
    "conditional min-aggregates, each one user_id-keyed shuffle with "
    "map-side partials (the thresholds join back user-keyed, so at "
    "100 TB this is three co-partitioned passes, no windows, no "
    "per-user quadratic). Depth histogram + overall conversion as an "
    "exact x1e6 ratio.",
    tags=("events", "funnel", "window", "fixed-point"),
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    win = _FUNNEL_WINDOW_H * 3600 * 1_000_000
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("t") > F.col("t_view")) & (F.col("t") <= F.col("t_view") + win))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .join(c, "user_id")
        .filter(
            (F.col("t") > F.col("t_click")) & (F.col("t") <= F.col("t_view") + win)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    depth = (
        v.join(c.select("user_id", F.lit(1).alias("has_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("has_p")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("has_p").isNotNull(), 3)
            .when(F.col("has_c").isNotNull(), 2)
            .otherwise(1)
            .alias("depth"),
        )
    )
    totals = depth.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("depth") == 3, 1).otherwise(0)).alias("n_conv"),
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(totals))  # 1-row scalar attach
        .select(
            "depth",
            "n_users",
            F.expr("cast(n_conv * 1000000 div n_total as bigint)").alias(
                "conversion_x1e6"
            ),
        )
        .orderBy("depth")
    )
