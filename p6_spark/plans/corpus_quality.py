"""Corpus/tokenizer lifecycle operators: a full BPE merge step (the
iterative half of tokenizer training that txt_bpe_pairs only counts),
and a generic column-profiling pass (the data-quality audit every
ingest pipeline runs before training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.operators.text import bpe_ish_tokens
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS
from p6_spark.sources.tables import load_table

_SQL_BPE_TOKENS = (
    "list_filter(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'),"
    " x -> x <> '')"
)


# ---------------------------------------------------------------------------
# One full BPE merge step (find best pair -> apply greedy merge -> stats)
# ---------------------------------------------------------------------------


@register(
    "txt_bpe_merge_step",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_SQL_BPE_TOKENS} AS t FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM base WHERE len(t) >= 2
),
pairs AS (SELECT doc_id, i, t[i] AS l, t[i + 1] AS r FROM idx),
top1 AS (
  SELECT l, r FROM pairs
  GROUP BY l, r
  ORDER BY count(*) DESC, l, r
  LIMIT 1
),
matches AS (
  SELECT p.doc_id, p.i FROM pairs p JOIN top1 USING (l, r)
),
runs AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS run_id
  FROM matches
),
selected AS (
  SELECT doc_id, i,
         (i - min(i) OVER (PARTITION BY doc_id, run_id)) % 2 = 0 AS take
  FROM runs
),
per_doc AS (
  SELECT doc_id, cast(sum(CASE WHEN take THEN 1 ELSE 0 END) AS bigint) AS n_merges
  FROM selected GROUP BY doc_id
),
tok_tot AS (
  SELECT cast(sum(len(t)) AS bigint) AS tokens_before FROM base
)
SELECT (SELECT l FROM top1) AS left_tok,
       (SELECT r FROM top1) AS right_tok,
       cast(coalesce(sum(n_merges), 0) AS bigint) AS n_merges,
       cast(count(CASE WHEN n_merges > 0 THEN 1 END) AS bigint) AS n_docs_touched,
       (SELECT tokens_before FROM tok_tot) AS tokens_before,
       (SELECT tokens_before FROM tok_tot) - cast(coalesce(sum(n_merges), 0) AS bigint)
         AS tokens_after
FROM per_doc
""",
    doc="One full BPE merge step, corpus-wide: count adjacent pairs, "
    "pick the global argmax (deterministic (count DESC, l, r) order), "
    "then APPLY it with the real greedy left-to-right non-overlap rule — "
    "runs of consecutive match positions become gaps-and-islands "
    "(i - row_number), and every other position within a run merges. "
    "That turns the inherently sequential merge scan into two windows "
    "over (doc, position), fully parallel across documents — the shape "
    "tokenizer training takes on a cluster, where each of the ~30k merge "
    "rounds is one such pass with the pair table cached. The 1-row "
    "argmax attaches by broadcast.",
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def txt_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(bpe_ish_tokens(F.col("text")), lambda x: x != "")
    base = docs.select("doc_id", t.alias("t"))
    pairs = (
        base.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("pos", "p"),
        )
        .select("doc_id", (F.col("pos") + 1).alias("i"), "p.l", "p.r")
    )
    top1 = (
        pairs.groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(1)
        .select("l", "r")
    )
    matches = pairs.join(F.broadcast(top1), ["l", "r"]).select("doc_id", "i")
    wrn = W.partitionBy("doc_id").orderBy("i")
    runs = matches.withColumn("run_id", F.col("i") - F.row_number().over(wrn))
    wrun = W.partitionBy("doc_id", "run_id")
    selected = runs.withColumn(
        "take", (F.col("i") - F.min("i").over(wrun)) % 2 == 0
    )
    per_doc = selected.groupBy("doc_id").agg(
        F.sum(F.when(F.col("take"), 1).otherwise(0)).alias("n_merges")
    )
    tok_tot = base.agg(F.sum(F.size("t")).alias("tokens_before"))
    summary = per_doc.agg(
        F.coalesce(F.sum("n_merges"), F.lit(0)).cast("long").alias("n_merges"),
        F.count(F.when(F.col("n_merges") > 0, 1)).alias("n_docs_touched"),
    )
    return (
        summary.crossJoin(F.broadcast(top1))  # 1-row argmax attach
        .crossJoin(F.broadcast(tok_tot))  # 1-row scalar attach
        .select(
            F.col("l").alias("left_tok"),
            F.col("r").alias("right_tok"),
            "n_merges",
            "n_docs_touched",
            "tokens_before",
            (F.col("tokens_before") - F.col("n_merges")).alias("tokens_after"),
        )
    )


# ---------------------------------------------------------------------------
# Column profiling (data-quality audit)
# ---------------------------------------------------------------------------

# (column, canonical-representation SQL for min/max — identical text works
# in both Spark SQL and DuckDB once the timestamp/double renderings below
# are split per engine)
_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_repr(col: str, engine: str) -> str:
    if col == "o_totalprice":
        return f"cast(cast(round({col} * 100, 0) as bigint) as {'varchar' if engine == 'duck' else 'string'})"
    if col == "o_orderdate":
        if engine == "duck":
            return f"strftime({col}, '%Y-%m-%d')"
        return f"date_format({col}, 'yyyy-MM-dd')"
    if engine == "duck":
        return f"cast({col} as varchar)"
    return f"cast({col} as string)"


def _profile_oracle() -> str:
    selects = []
    for c in _PROFILE_COLS:
        rep = _profile_repr(c, "duck")
        selects.append(
            f"""SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min({rep}) AS min_repr,
       max({rep}) AS max_repr
FROM orders"""
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY col_name"


@register(
    "pipe_column_profile",
    oracle=_profile_oracle(),
    doc="Per-column data-quality profile of the orders table: null count, "
    "exact distinct count, and canonical min/max renderings (money as "
    "x100 bigint, dates as yyyy-MM-dd — engine-stable strings, never raw "
    "doubles/timestamps). One union branch per column, mirroring the "
    "oracle's UNION-ALL form, because Catalyst plans N countDistinct "
    "aggs in ONE Aggregate via Expand — every input row replicated "
    "N+1 times with ALL profiled columns attached (measured 25.8s at "
    "sf1.0). Per-column branches each scan exactly one parquet column "
    "(pruned) with a single two-phase distinct agg and no Expand: "
    "3.2s, 8x, byte-identical output. This is the schema-drift / "
    "ingest-audit pass a pipeline runs on every new data drop.",
    tags=("quality", "profile", "agg"),
)
def pipe_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    orders = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        rep = _profile_repr(c, "spark")
        parts.append(
            orders.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(F.expr(rep)).alias("min_repr"),
                F.max(F.expr(rep)).alias("max_repr"),
            )
        )
    return functools.reduce(lambda a, b: a.unionAll(b), parts).orderBy(
        "col_name"
    )


# ---------------------------------------------------------------------------
# Per-source boilerplate / template-shingle report
# ---------------------------------------------------------------------------


@register(
    "txt_boilerplate_shingles",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, {SQL_TOKENS} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM tok WHERE len(t) >= 3
),
cnt AS (SELECT source, s, cast(count(*) AS bigint) AS n FROM sh GROUP BY 1, 2),
nd AS (SELECT source, cast(count(*) AS bigint) AS ndocs FROM documents GROUP BY 1),
ranked AS (
  SELECT source, s, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, s) AS rnk
  FROM cnt
)
SELECT r.source, r.rnk, r.s AS shingle, r.n AS n_docs_with, nd.ndocs AS n_docs,
       cast(r.n * 10000 // nd.ndocs AS bigint) AS pct_x1e4
FROM ranked r JOIN nd USING (source)
WHERE r.rnk <= 3
ORDER BY r.source, r.rnk
""",
    doc="Per-source boilerplate detection (the CCNet/RefinedWeb 'most "
    "common template content per dump' pass, adapted to word 3-gram "
    "shingles since the corpus has no line structure): each document "
    "contributes its DISTINCT shingles once (presence, not frequency — "
    "a doc repeating its own header must not vote twice), the "
    "(source, shingle) doc-frequency table aggregates map-side, and "
    "the top-3 report per source ranks by doc-frequency with a "
    "deterministic shingle tiebreak. The rank window partitions by "
    "source (fixed cardinality) but row_number+filter<=3 gets Spark's "
    "WindowGroupLimit pushdown, so every map task prunes to 3 rows "
    "per source BEFORE the shuffle — the per-source partition receives "
    "O(3 x tasks) rows, not the shingle table. Doc-share emitted as an "
    "exact x1e4 trunc ratio. In production the top shingles seed the "
    "strip-list for the cleaning pass.",
    tags=("text", "quality", "dedup", "window"),
)
def txt_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tok

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "source", _tok(F.col("text")).alias("t"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "CASE WHEN size(t) >= 3 THEN"
                        " transform(sequence(0, size(t) - 3),"
                        "   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                        " ELSE cast(array() as array<string>) END"
                    )
                )
            ).alias("s"),
        )
    )
    cnt = sh.groupBy("source", "s").agg(F.count(F.lit(1)).alias("n"))
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ndocs"))
    ranked = cnt.withColumn(
        "rnk",
        F.row_number().over(W.partitionBy("source").orderBy(F.desc("n"), "s")),
    ).filter(F.col("rnk") <= 3)
    return (
        ranked.join(F.broadcast(nd), "source")
        .select(
            "source",
            "rnk",
            F.col("s").alias("shingle"),
            F.col("n").alias("n_docs_with"),
            F.col("ndocs").alias("n_docs"),
            F.expr("cast((n * 10000) div ndocs as bigint)").alias("pct_x1e4"),
        )
        .orderBy("source", "rnk")
    )
