"""Incremental ingest near-dedup (round 6): dedupe a NEW batch against
an EXISTING corpus without ever self-joining the corpus.

Every shipped near-dup operator so far is corpus-vs-itself (self-join
over LSH buckets). Production ingest is different: the corpus is
already deduped and indexed; each increment (a crawl drop, a day of
uploads) must be checked against it. The scale shape changes from a
self-join to a PROBE join — candidates are (batch x corpus-bucket)
collisions, bounded by cap x bands x batch rows, LINEAR in the
increment and independent of corpus size. The corpus-side banded index
is built once and reused across increments (here it is rebuilt because
each registry query is self-contained).

Reference: the reference's dedup is exact-ish per-packet
(/root/reference/src/P6/genotype.py:334-354); this is the corpus-scale
incremental generalization of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import (
    sql_bounded_cc,
    sql_lsh_pairs,
    sql_lsh_probe_index,
    sql_minhash_sig,
)
from p6_spark.sources.tables import load_table

_CAP = 20
_TAU_X1E6 = 500000  # exact-Jaccard confirm threshold (0.5)


@register(
    "dd_incremental_neardup",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
{sql_lsh_probe_index('doc_id % 4 = 0', _CAP)},
cand AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
  FROM bands b
  JOIN (SELECT bb.* FROM bands bb JOIN corpus_small USING (band_idx, band_val)
        WHERE NOT bb.is_batch) c
    USING (band_idx, band_val)
  WHERE b.is_batch
),
-- per-doc distinct-token LISTS + list_intersect, not a toks-x-toks row
-- join: at sf1.0 the row-join form spilled >15 GB (cand x tokens x
-- tokens intermediate); the list form carries two ~50-element lists
-- per candidate row instead. Same n_common by construction.
tlists AS MATERIALIZED (
  SELECT doc_id, list(tok) AS tl, cast(count(*) AS bigint) AS n_tok
  FROM toks GROUP BY doc_id
),
scored AS (
  SELECT b_id, c_id,
         (n_common * 1000000) // (n_a + n_b - n_common) AS jac_x1e6
  FROM (
    SELECT cand.b_id, cand.c_id,
           cast(len(list_intersect(a.tl, b.tl)) AS bigint) AS n_common,
           a.n_tok AS n_a, b.n_tok AS n_b
    FROM cand
    JOIN tlists a ON a.doc_id = cand.b_id
    JOIN tlists b ON b.doc_id = cand.c_id
  )
)
SELECT d.doc_id,
       cast(coalesce(count(s.c_id), 0) AS bigint) AS n_candidates,
       cast(coalesce(count(s.c_id) FILTER (WHERE s.jac_x1e6 >= {_TAU_X1E6}), 0) AS bigint)
         AS n_matches,
       coalesce(count(s.c_id) FILTER (WHERE s.jac_x1e6 >= {_TAU_X1E6}), 0) > 0 AS dropped
FROM documents d
LEFT JOIN scored s ON s.b_id = d.doc_id
WHERE d.doc_id % 4 = 0
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
    doc="Incremental ingest near-dedup: the new batch (doc_id % 4 = 0 — "
    "an SF-stable 25% increment) probes the EXISTING corpus's banded "
    "minhash index instead of self-joining. Corpus buckets above "
    f"{_CAP} members are dropped before the probe (non-discriminative "
    "mass, the lsh_candidate_pairs discipline), so candidates are "
    f"bounded at {_CAP} x 4 bands x batch rows — LINEAR in the "
    "increment and independent of corpus size; at 100 TB the corpus "
    "index is built once and reused per increment. Candidates are "
    "confirmed with exact distinct-token Jaccard (x1e6 floor-div "
    "integers, tau=0.5) and every batch doc reports "
    "(n_candidates, n_matches, dropped) — the funnel numbers an "
    "ingest audit logs. Zero-candidate docs appear with zeros via the "
    "left join, so the report is total over the batch.",
    tags=("dedup", "lsh", "incremental", "pipeline"),
)
def dd_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 4 == 0
    sigs = dd.minhash_signatures(docs)

    bands = dd.band_array()
    banded = sigs.select(
        "doc_id", is_batch.alias("is_batch"), F.explode(bands).alias("band")
    ).select("doc_id", "is_batch", "band.band_idx", "band.band_val")
    # banded feeds three subtrees (corpus cap, corpus probe side, batch
    # probe side) — cut the lineage or the signature explode runs 3x
    banded = materialize(banded)

    corpus_small = (
        banded.filter(~F.col("is_batch"))
        .groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= _CAP)
        .select("band_idx", "band_val")
    )
    corpus_b = banded.filter(~F.col("is_batch")).join(
        corpus_small, ["band_idx", "band_val"]
    )
    cand = (
        banded.filter(F.col("is_batch"))
        .select("band_idx", "band_val", F.col("doc_id").alias("b_id"))
        .join(
            corpus_b.select("band_idx", "band_val", F.col("doc_id").alias("c_id")),
            ["band_idx", "band_val"],
        )
        .select("b_id", "c_id")
        .distinct()
    )

    toks = materialize(dd.distinct_tokens(docs, "doc_id", "text"))
    tsz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        cand.join(
            toks.select(F.col("doc_id").alias("b_id"), "tok"), "b_id"
        )
        .join(
            toks.select(F.col("doc_id").alias("c_id"), "tok"),
            ["c_id", "tok"],
        )
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        cand.join(inter, ["b_id", "c_id"], "left")
        .join(
            tsz.select(F.col("doc_id").alias("b_id"), F.col("n_tok").alias("n_a")),
            "b_id",
        )
        .join(
            tsz.select(F.col("doc_id").alias("c_id"), F.col("n_tok").alias("n_b")),
            "c_id",
        )
        .select(
            "b_id",
            "c_id",
            F.expr(
                "(coalesce(n_common, 0) * 1000000)"
                " div (n_a + n_b - coalesce(n_common, 0))"
            ).alias("jac_x1e6"),
        )
    )
    report = (
        docs.filter(is_batch)
        .select("doc_id")
        .join(scored.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.count("c_id"), F.lit(0)).alias("n_candidates"),
            F.coalesce(
                F.count(F.when(F.col("jac_x1e6") >= _TAU_X1E6, 1)), F.lit(0)
            ).alias("n_matches"),
            (
                F.coalesce(
                    F.count(F.when(F.col("jac_x1e6") >= _TAU_X1E6, 1)), F.lit(0)
                )
                > 0
            ).alias("dropped"),
        )
        .orderBy("doc_id")
    )
    return report


# ---------------------------------------------------------------------------
# Split-leakage audit: near-dup clusters must not straddle train/val/test
# ---------------------------------------------------------------------------

_SPLIT_SQL = (
    "CASE WHEN (({k} * 2654435761) % 4294967296) % 100 < 90 THEN 'train' "
    "WHEN (({k} * 2654435761) % 4294967296) % 100 < 95 THEN 'validation' "
    "ELSE 'test' END"
)


@register(
    "dd_split_leakage",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
{sql_lsh_pairs()},
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
{sql_bounded_cc()},
ms AS (
  SELECT node AS doc_id, component,
         {_SPLIT_SQL.format(k='node')} AS split,
         {_SPLIT_SQL.format(k='component')} AS rep_split
  FROM comp
),
per AS (
  SELECT component, count(*) AS n_docs,
         count(DISTINCT split) AS n_splits,
         count(*) FILTER (WHERE split <> rep_split) AS n_move
  FROM ms GROUP BY component
)
SELECT cast(count(*) AS bigint) AS n_clusters,
       cast(count(*) FILTER (WHERE n_splits > 1) AS bigint) AS n_leaky_clusters,
       cast(coalesce(sum(n_docs) FILTER (WHERE n_splits > 1), 0) AS bigint)
         AS n_docs_in_leaky,
       cast(coalesce(sum(n_move), 0) AS bigint) AS n_moved_by_repair,
       cast(CASE WHEN count(*) = 0 THEN 0
                 ELSE count(*) FILTER (WHERE n_splits > 1) * 1000000 // count(*)
            END AS bigint) AS leak_rate_x1e6
FROM per
""",
    doc="Split-leakage audit for training corpora: near-duplicate "
    "clusters (connected components over the capped MinHash-LSH "
    "candidate graph — dd_cc_clusters' exact clustering) are checked "
    "against the deterministic 90/5/5 Knuth-hash split "
    "(dd_hash_split's exact assignment). A cluster straddling splits "
    "IS eval contamination: the model trains on a near-copy of a test "
    "doc. Reports cluster count, leaky-cluster count and their doc "
    "mass, the x1e6 leak rate, and n_moved_by_repair — the docs the "
    "standard fix relocates (assign every member its cluster "
    "REPRESENTATIVE's split, rep = min doc id = the component id, so "
    "the repair is deterministic and needs no second pass). Scale: "
    "the cluster stage is the certified capped-LSH CC; the audit "
    "itself is two aggregates over (doc, component) rows.",
    tags=("dedup", "split", "pipeline", "quality", "graph"),
)
def dd_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs, max_bucket=20)
    cc = connected_components(pairs)

    def _split(col):
        b = (col * F.lit(2654435761)) % F.lit(4294967296) % F.lit(100)
        return (
            F.when(b < 90, "train").when(b < 95, "validation").otherwise("test")
        )

    ms = cc.select(
        "component",
        _split(F.col("node")).alias("split"),
        _split(F.col("component")).alias("rep_split"),
    )
    per = ms.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.count(F.when(F.col("split") != F.col("rep_split"), 1)).alias("n_move"),
    )
    leaky = F.count(F.when(F.col("n_splits") > 1, 1))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        leaky.cast("long").alias("n_leaky_clusters"),
        F.coalesce(
            F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs"))), F.lit(0)
        ).cast("long").alias("n_docs_in_leaky"),
        F.coalesce(F.sum("n_move"), F.lit(0)).cast("long").alias("n_moved_by_repair"),
        F.expr(
            "cast(CASE WHEN count(1) = 0 THEN 0"
            " ELSE count(CASE WHEN n_splits > 1 THEN 1 END)"
            " * cast(1000000 as bigint) div count(1) END as bigint)"
        ).alias("leak_rate_x1e6"),
    )


# ---------------------------------------------------------------------------
# End-to-end incremental ingest funnel (the production shape, one query)
# ---------------------------------------------------------------------------


@register(
    "pipe_incremental_ingest",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
base AS (
  SELECT doc_id, md5(text) AS content_md5,
         length(text) AS n_chars_m,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
             x -> list_contains(['the','a','value','table','row'], lower(x)))) AS n_stop
  FROM documents WHERE doc_id % 4 = 0
),
gated AS MATERIALIZED (
  SELECT doc_id, content_md5 FROM base
  WHERE n_tokens >= 5 AND n_digit * 10 <= n_chars_m * 3 AND n_stop * 20 >= n_tokens
),
cmd5 AS (SELECT DISTINCT md5(text) AS content_md5 FROM documents WHERE doc_id % 4 <> 0),
keep_min AS (
  SELECT min(doc_id) AS doc_id, content_md5 FROM gated GROUP BY content_md5
),
s2 AS MATERIALIZED (
  SELECT doc_id FROM keep_min
  WHERE content_md5 NOT IN (SELECT content_md5 FROM cmd5)
),
{sql_lsh_probe_index('doc_id % 4 = 0', _CAP)},
cand AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
  FROM (SELECT bb.* FROM bands bb JOIN s2 ON s2.doc_id = bb.doc_id) b
  JOIN (SELECT bb.* FROM bands bb JOIN corpus_small USING (band_idx, band_val)
        WHERE NOT bb.is_batch) c
    USING (band_idx, band_val)
),
tlists AS MATERIALIZED (
  SELECT doc_id, list(tok) AS tl, cast(count(*) AS bigint) AS n_tok
  FROM toks GROUP BY doc_id
),
matches AS MATERIALIZED (
  SELECT DISTINCT b_id FROM (
    SELECT cand.b_id,
           cast(len(list_intersect(a.tl, b.tl)) AS bigint) AS n_common,
           a.n_tok AS n_a, b.n_tok AS n_b
    FROM cand
    JOIN tlists a ON a.doc_id = cand.b_id
    JOIN tlists b ON b.doc_id = cand.c_id
  ) WHERE (n_common * 1000000) // (n_a + n_b - n_common) >= {_TAU_X1E6}
),
s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT b_id FROM matches))
SELECT stage, n_in, n_in - n_out AS n_dropped, n_out FROM (
  SELECT '1_gate' AS stage,
         (SELECT cast(count(*) AS bigint) FROM base) AS n_in,
         (SELECT cast(count(*) AS bigint) FROM gated) AS n_out
  UNION ALL
  SELECT '2_exact',
         (SELECT cast(count(*) AS bigint) FROM gated),
         (SELECT cast(count(*) AS bigint) FROM s2)
  UNION ALL
  SELECT '3_neardup',
         (SELECT cast(count(*) AS bigint) FROM s2),
         (SELECT cast(count(*) AS bigint) FROM s3)
)
ORDER BY stage
""",
    doc="End-to-end incremental ingest funnel — the production shape as "
    "ONE query: the new 25% increment passes (1) the exact-integer "
    "quality gate shared with the streaming ingest "
    "(streaming/corpus.ingest_filter), (2) exact dedup — min-doc-id "
    "representative per content hash within the batch, then an "
    "anti-join against the EXISTING corpus's hash set, (3) the capped "
    "banded-minhash near-dup probe with exact-Jaccard confirm "
    "(dd_incremental_neardup's candidate discipline, tau=0.5). Emits "
    "the 3-row (stage, n_in, n_dropped, n_out) funnel an ingest run "
    "logs. Every stage is corpus-probe shaped (anti-join / capped "
    "index probe), so the increment never self-joins and the work is "
    "linear in the increment at any corpus size.",
    tags=("pipeline", "incremental", "dedup", "lsh", "quality"),
)
def pipe_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.streaming.corpus import ingest_filter

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 4 == 0
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)

    gated = materialize(ingest_filter(batch).select("doc_id", "content_md5"))
    keep_min = gated.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    cmd5 = corpus.select(F.md5("text").alias("content_md5")).distinct()
    s2 = materialize(keep_min.join(cmd5, "content_md5", "left_anti").select("doc_id"))

    sigs = dd.minhash_signatures(docs)
    bands = dd.band_array()
    banded = materialize(
        sigs.select(
            "doc_id", is_batch.alias("is_batch"), F.explode(bands).alias("band")
        ).select("doc_id", "is_batch", "band.band_idx", "band.band_val")
    )
    corpus_small = (
        banded.filter(~F.col("is_batch"))
        .groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= _CAP)
        .select("band_idx", "band_val")
    )
    corpus_b = banded.filter(~F.col("is_batch")).join(
        corpus_small, ["band_idx", "band_val"]
    )
    cand = (
        banded.join(s2, "doc_id", "left_semi")
        .select("band_idx", "band_val", F.col("doc_id").alias("b_id"))
        .join(
            corpus_b.select("band_idx", "band_val", F.col("doc_id").alias("c_id")),
            ["band_idx", "band_val"],
        )
        .select("b_id", "c_id")
        .distinct()
    )
    toks = materialize(dd.distinct_tokens(docs, "doc_id", "text"))
    tsz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        cand.join(toks.select(F.col("doc_id").alias("b_id"), "tok"), "b_id")
        .join(toks.select(F.col("doc_id").alias("c_id"), "tok"), ["c_id", "tok"])
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    matches = (
        inter.join(
            tsz.select(F.col("doc_id").alias("b_id"), F.col("n_tok").alias("n_a")),
            "b_id",
        )
        .join(
            tsz.select(F.col("doc_id").alias("c_id"), F.col("n_tok").alias("n_b")),
            "c_id",
        )
        .filter(
            F.expr("(n_common * cast(1000000 as bigint)) div (n_a + n_b - n_common)")
            >= _TAU_X1E6
        )
        .select("b_id")
        .distinct()
    )
    s3 = s2.join(matches.withColumnRenamed("b_id", "doc_id"), "doc_id", "left_anti")

    def _n(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    def _row(stage: str, df_in: DataFrame, in_n: str, df_out: DataFrame, out_n: str):
        return (
            _n(df_in, in_n)
            .crossJoin(_n(df_out, out_n))
            .select(
                F.lit(stage).alias("stage"),
                F.col(in_n).alias("n_in"),
                (F.col(in_n) - F.col(out_n)).alias("n_dropped"),
                F.col(out_n).alias("n_out"),
            )
        )

    return (
        _row("1_gate", batch, "a", gated, "b")
        .unionAll(_row("2_exact", gated, "c", s2, "d"))
        .unionAll(_row("3_neardup", s2, "e", s3, "f"))
        .orderBy("stage")
    )
