"""Data-ops / product-analytics operators: snapshot diffing (the
data-version audit), conversion latency distributions, and
normalization-aware dedup — the glue queries between ingest and
reporting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table

_CUTOVER = "2024-01-15"


# ---------------------------------------------------------------------------
# Snapshot diff
# ---------------------------------------------------------------------------


@register(
    "pipe_snapshot_diff",
    oracle=f"""
WITH snap_a AS (
  SELECT user_id, count(*) AS n,
         sum(cast(round(value * 1000000, 0) AS bigint)) AS v_x1e6
  FROM events WHERE ts < timestamp '{_CUTOVER} 00:00:00'
  GROUP BY user_id
),
snap_b AS (
  SELECT user_id, count(*) AS n,
         sum(cast(round(value * 1000000, 0) AS bigint)) AS v_x1e6
  FROM events WHERE ts < timestamp '{_CUTOVER} 00:00:00' + INTERVAL 7 DAY
  GROUP BY user_id
),
diff AS (
  SELECT coalesce(a.user_id, b.user_id) AS user_id,
         CASE WHEN a.user_id IS NULL THEN 'added'
              WHEN b.user_id IS NULL THEN 'removed'
              WHEN a.n = b.n AND a.v_x1e6 = b.v_x1e6 THEN 'unchanged'
              ELSE 'changed' END AS category,
         coalesce(b.n, 0) - coalesce(a.n, 0) AS dn,
         abs(coalesce(b.v_x1e6, 0) - coalesce(a.v_x1e6, 0)) AS dv
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id
)
SELECT category,
       cast(count(*) AS bigint) AS n_keys,
       cast(sum(dn) AS bigint) AS delta_rows,
       cast(sum(dv) AS bigint) AS abs_delta_value_x1e6
FROM diff
GROUP BY category
ORDER BY category
""",
    doc="Snapshot diff — the data-version audit between two states of a "
    "keyed aggregate (here: per-user event state at T and T+7d). One "
    "full-outer join on the key classifies every key "
    "added/removed/changed/unchanged and totals the row/value deltas "
    "(x1e6 integers). At scale both snapshots shuffle once on the same "
    "key — this is the reconciliation query every incremental pipeline "
    "runs after a backfill, and the shape of a Delta/Iceberg "
    "table-diff.",
    tags=("quality", "diff", "join", "fixed-point"),
)
def pipe_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000, 0).cast("long")

    def snap(pred):
        return (
            ev.filter(pred)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("v_x1e6"))
        )

    cut = F.lit(_CUTOVER + " 00:00:00").cast("timestamp")
    a = snap(F.col("ts") < cut).alias("a")
    b = snap(F.col("ts") < cut + F.expr("INTERVAL 7 DAY")).alias("b")
    diff = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer").select(
        F.when(F.col("a.user_id").isNull(), "added")
        .when(F.col("b.user_id").isNull(), "removed")
        .when(
            (F.col("a.n") == F.col("b.n")) & (F.col("a.v_x1e6") == F.col("b.v_x1e6")),
            "unchanged",
        )
        .otherwise("changed")
        .alias("category"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) - F.coalesce(F.col("a.n"), F.lit(0))
        ).alias("dn"),
        F.abs(
            F.coalesce(F.col("b.v_x1e6"), F.lit(0))
            - F.coalesce(F.col("a.v_x1e6"), F.lit(0))
        ).alias("dv"),
    )
    return (
        diff.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("dn").alias("delta_rows"),
            F.sum("dv").alias("abs_delta_value_x1e6"),
        )
        .orderBy("category")
    )


# ---------------------------------------------------------------------------
# Conversion latency distribution
# ---------------------------------------------------------------------------


@register(
    "q_conversion_latency",
    oracle="""
WITH first_view AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
first_purchase AS (
  SELECT f.user_id, min(e.ts) AS t_buy
  FROM first_view f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.t_view
  GROUP BY f.user_id
),
lat AS (
  SELECT f.user_id,
         cast(date_diff('second', f.t_view, p.t_buy) AS bigint) AS secs
  FROM first_view f JOIN first_purchase p ON f.user_id = p.user_id
)
SELECT length(bin(secs + 1)) AS log2_bucket,
       cast(count(*) AS bigint) AS n_users,
       cast(min(secs) AS bigint) AS min_secs,
       cast(max(secs) AS bigint) AS max_secs
FROM lat
GROUP BY 1
ORDER BY log2_bucket
""",
    doc="View-to-purchase conversion latency distribution: first view "
    "per user, first purchase at-or-after it (the conversion event), "
    "latency bucketed on a log2 scale via bin() length — the same "
    "engine-portable leading-bit trick as the HLL rho, no float log. "
    "Two (user) aggregates + one join on the user key; the funnel-"
    "latency histogram product analytics actually reads.",
    tags=("funnel", "timeseries", "fixed-point"),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_buy")
    )
    first_purchase = (
        first_view.join(purchases, "user_id")
        .filter(F.col("t_buy") >= F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("t_buy").alias("t_buy"))
    )
    lat = first_purchase.select(
        (
            F.unix_timestamp("t_buy") - F.unix_timestamp("t_view")
        ).alias("secs")
    )
    return (
        lat.groupBy(F.length(F.bin(F.col("secs") + 1)).alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("secs").alias("min_secs"),
            F.max("secs").alias("max_secs"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# Normalization-aware dedup
# ---------------------------------------------------------------------------


@register(
    "dd_normalized_dedup",
    oracle="""
WITH norm AS (
  SELECT source,
         md5(text) AS raw_digest,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_digest
  FROM documents
)
SELECT source,
       cast(count(*) AS bigint) AS n_docs,
       cast(count(DISTINCT raw_digest) AS bigint) AS n_distinct_raw,
       cast(count(DISTINCT norm_digest) AS bigint) AS n_distinct_norm,
       cast(count(DISTINCT raw_digest) - count(DISTINCT norm_digest) AS bigint)
         AS n_extra_dups_caught
FROM norm
GROUP BY source
ORDER BY source
""",
    doc="Normalization-aware dedup audit: exact dedup after casefolding "
    "+ whitespace collapse, vs raw exact dedup — the cheap middle "
    "ground between hash dedup and MinHash that catches trivially "
    "perturbed copies (case flips, double spaces). Only 16-byte digests "
    "shuffle, never text; the raw-vs-norm distinct gap per source is "
    "the 'how dirty is this feed' number that decides whether the "
    "expensive near-dup pass is worth running.",
    tags=("dedup", "quality", "agg"),
)
def dd_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "source",
        F.md5(F.col("text")).alias("raw_digest"),
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("norm_digest"),
    )
    return (
        norm.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_digest").alias("n_distinct_raw"),
            F.countDistinct("norm_digest").alias("n_distinct_norm"),
            (
                F.countDistinct("raw_digest") - F.countDistinct("norm_digest")
            ).alias("n_extra_dups_caught"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Arbitrary-offset duplicate spans (suffix-style substring dedup)
# ---------------------------------------------------------------------------


@register(
    "dd_substring_spans",
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
dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2
),
hits AS (
  SELECT s.doc_id, s.pos,
         s.pos - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos)
           AS island
  FROM sh s JOIN dup USING (shingle)
),
spans AS (
  SELECT doc_id, island,
         min(pos) AS s0, max(pos) + 7 AS e0,
         count(*) AS n_shingles
  FROM hits GROUP BY 1, 2
)
SELECT doc_id,
       cast(count(*) AS bigint) AS n_dup_spans,
       cast(max(e0 - s0 + 1) AS bigint) AS longest_span_words,
       cast(sum(n_shingles) AS bigint) AS n_dup_shingles
FROM spans
GROUP BY doc_id
ORDER BY longest_span_words DESC, doc_id
LIMIT 25
""",
    doc="Arbitrary-offset duplicate SPANS — the finer-grained exact "
    "substring dedup that fixed-chunk dd_segment_dedup misses (a "
    "duplicated paragraph straddling a chunk boundary dedups here, not "
    "there). Spark-shaped equivalent of the public suffix-array "
    "approach: every 8-word shingle with its word offset (one "
    "JVM-side transform+posexplode, no Python), shingles occurring "
    ">= 2 times corpus-wide mark duplicated positions (one "
    "shingle-keyed aggregate — the suffix-sort stand-in), and per-doc "
    "runs of consecutive duplicated positions extend into MAXIMAL "
    "spans via gaps-and-islands (pos - row_number over the doc "
    "partition, bounded by doc length). Span of an island "
    "[min_pos, max_pos + k - 1] covers max_pos-min_pos+k words. The "
    "shingle STRING itself is the join key — engine-portable, no hash "
    "mismatch. Scale: the only global shuffle is keyed by shingle "
    "(same shape as MinHash banding); windows partition per doc_id. "
    "Top-25 by longest span under a total order.",
    tags=("dedup", "text", "window", "scale"),
)
def dd_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("w")
        )
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
    # Round-11 (guide §2.4): duplicated-shingle detection via ONE
    # shingle-partitioned window count. The old groupBy + join-back
    # evaluated the shingle explode twice (aggregate input + join
    # probe) and paid two shingle-keyed exchanges; the window keeps
    # the same rows (count >= 2 per shingle) with one exchange and one
    # evaluation. Skew exposure is unchanged — a degenerate hot
    # shingle concentrated its hit rows in one partition under the
    # join shape too.
    hits = (
        sh.withColumn(
            "_c", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        )
        .filter(F.col("_c") >= 2)
        .drop("_c")
        .withColumn(
            "island",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        )
    )
    spans = hits.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s0"),
        (F.max("pos") + 7).alias("e0"),
        F.count(F.lit(1)).alias("n_shingles"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.max(F.col("e0") - F.col("s0") + 1).alias("longest_span_words"),
            F.sum("n_shingles").alias("n_dup_shingles"),
        )
        .orderBy(F.desc("longest_span_words"), "doc_id")
        .limit(25)
    )
