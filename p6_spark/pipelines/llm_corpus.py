"""End-to-end LLM training-corpus preparation: the composition the
individual operators exist for.

    raw documents
      -> quality gate      (cheap column math, no shuffle)
      -> exact dedup       (one shuffle on the text hash)
      -> near dedup        (MinHash -> LSH bands -> greedy drop)
      -> enrichment        (token counts, language, fingerprint)
      -> partitioned sink  (hive layout by language)

Every stage is a DataFrame -> DataFrame function with no driver-side
data movement, so the same composition runs at sf0.001 and at 100 TB —
only the shuffle sizing changes. Near-dup removal is greedy
keep-the-smaller-id: for every candidate pair (a < b) that LSH
surfaces, b is dropped. (A union-find pass over the pair list would
keep exactly one doc per connected component; greedy drop is the
standard one-shuffle approximation and never keeps BOTH sides of a
detected duplicate pair.)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.operators import dedup as dd
from p6_spark.operators.ranking import two_phase_rank
from p6_spark.operators.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_columns,
    token_count,
)


@dataclass
class CorpusStats:
    n_raw: int
    n_after_quality: int
    n_after_exact: int
    n_after_near: int


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    max_digit_ratio: float = 0.5,
) -> DataFrame:
    """Drop documents failing cheap quality heuristics — the first pass
    because it's shuffle-free and cuts everything downstream."""
    q = quality_columns(F.col(text_col))
    return (
        docs.withColumn("_n_tok", q["n_tokens"])
        .withColumn("_punct", q["punct_ratio"])
        .withColumn("_digit", q["digit_ratio"])
        .filter(
            (F.col("_n_tok") >= min_tokens)
            & (F.col("_punct") <= max_punct_ratio)
            & (F.col("_digit") <= max_digit_ratio)
        )
        .drop("_n_tok", "_punct", "_digit")
    )


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 20,
) -> DataFrame:
    """MinHash-LSH near-dedup: drop the larger id of every candidate
    pair (greedy; see module docstring). Buckets larger than
    ``max_bucket`` are skipped (non-discriminative; see
    operators/dedup.lsh_candidate_pairs — the round-4 scaling sweep
    showed uncapped buckets going quadratic on a low-entropy corpus).

    .. versionchanged:: round 4
       The default changed from ``max_bucket=None`` (uncapped) to
       ``max_bucket=20``: pairs inside larger-than-cap buckets no longer
       drop documents. Pass ``max_bucket=None`` explicitly to restore
       the old exhaustive behavior on small/trusted corpora. All in-repo
       call sites and their DuckDB oracles were updated in lockstep."""
    sigs = dd.minhash_signatures(docs, id_col, text_col, num_hashes)
    pairs = dd.lsh_candidate_pairs(
        sigs, id_col, num_hashes, band_size, max_bucket=max_bucket
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def enrich(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        "*",
        token_count(t).alias("n_ws_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("doc_fingerprint"),
    )


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_path: str | None = None,
    partition_col: str = "lang_pred",
) -> tuple[DataFrame, CorpusStats]:
    """Run the full pipeline; optionally write the hive-partitioned
    result. Returns (enriched clean corpus, per-stage counts)."""
    n_raw = docs.count()
    gated = quality_gate(docs, text_col)
    n_quality = gated.count()
    exact = dd.dedup_exact(gated, text_col, id_col)
    n_exact = exact.count()
    near = drop_near_duplicates(exact, id_col, text_col)
    n_near = near.count()
    out = enrich(near, text_col)
    if out_path is not None:
        from p6_spark.sources.sinks import write_partitioned

        write_partitioned(out, out_path, [partition_col])
    return out, CorpusStats(n_raw, n_quality, n_exact, n_near)


# ---------------------------------------------------------------------------
# Curation reports: shared by the raising plans and their dead-letter twins
# ---------------------------------------------------------------------------

PACK_BUDGET = 4096  # chars per packed training sequence (token proxy)


def pack_sequences(docs: DataFrame) -> DataFrame:
    """(seq_id, docs_in_seq, n_straddle) for greedy fixed-window packing of
    ``docs(doc_id, n_chars)`` in doc_id order: a document belongs to the
    PACK_BUDGET-char window its start offset falls in and straddles when
    its last char lands in a later window. The running offset is the
    distributed two-phase prefix sum, never an unpartitioned window."""
    ranked = two_phase_rank(
        docs, [F.asc("doc_id")], F.col("doc_id"), cum_cols=["n_chars"]
    )
    assigned = ranked.select(
        F.expr(f"(cum_n_chars - n_chars) div {PACK_BUDGET}").alias("seq_id"),
        F.when(
            F.expr(
                f"(cum_n_chars - n_chars) div {PACK_BUDGET}"
                f" <> (cum_n_chars - 1) div {PACK_BUDGET}"
            ),
            1,
        )
        .otherwise(0)
        .alias("straddles"),
    )
    return assigned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("docs_in_seq"),
        F.sum("straddles").alias("n_straddle"),
    )


def quality_budget_rank(scored: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ranked, budget) for the greedy quality budget cut over
    ``scored(doc_id, lang, n_tok, qscore_x1e6)``: the running token count
    cum_n_tok down the (qscore desc, doc_id) ranking, and the 1-row
    budget = 25% of the scored tokens."""
    ranked = two_phase_rank(
        scored,
        [F.desc("qscore_x1e6"), F.asc("doc_id")],
        F.col("qscore_x1e6"),
        descending=True,
        cum_cols=["n_tok"],
    )
    return ranked, scored.agg(F.expr("sum(n_tok) div 4").alias("budget"))


def percentile_prune_report(scored: DataFrame) -> DataFrame:
    """Per-language tie-atomic bottom-quartile prune over
    ``scored(lang, n_tok, qs)``: the threshold is the largest score whose
    cumulative ascending count still fits in floor(N/4), so a tie group
    is dropped or kept whole. The cumulative walk runs on the aggregated
    (lang, score) table. -1 threshold when nothing fits."""
    per_s = scored.groupBy("lang", "qs").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("tok")
    )
    wc = W.partitionBy("lang").orderBy("qs").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wl = W.partitionBy("lang")
    cum = per_s.select(
        "lang",
        "qs",
        F.sum("cnt").over(wc).alias("cum_cnt"),
        F.sum("tok").over(wc).alias("cum_tok"),
        F.sum("cnt").over(wl).alias("nd"),
        F.sum("tok").over(wl).alias("tok_total"),
    )
    return cum.groupBy("lang").agg(
        F.max("nd").cast("long").alias("n_docs"),
        F.max("tok_total").cast("long").alias("tok_total"),
        F.expr(
            "cast(coalesce(max(CASE WHEN cum_cnt <= nd div 4 THEN qs END),"
            " -1) AS bigint)"
        ).alias("threshold_x1e6"),
        F.expr(
            "cast(coalesce(max(CASE WHEN cum_cnt <= nd div 4"
            " THEN cum_cnt END), 0) AS bigint)"
        ).alias("n_dropped"),
        F.expr(
            "cast(max(nd) - coalesce(max(CASE WHEN cum_cnt <= nd div 4"
            " THEN cum_cnt END), 0) AS bigint)"
        ).alias("n_kept"),
        F.expr(
            "cast(coalesce(max(CASE WHEN cum_cnt <= nd div 4"
            " THEN cum_tok END), 0) AS bigint)"
        ).alias("tok_dropped"),
    )
