"""LLM-training-data pipeline queries: deduplication (exact, MinHash-LSH,
SimHash, n-gram Jaccard), similarity search over embeddings (brute-force
cosine + LSH ANN), text analysis (tokens/quality, language-ID,
fingerprinting), and approximate sketches.

Implementations live in p6_spark.operators.{dedup,similarity,text}; this
module registers them with DuckDB oracles. Ratio metrics are emitted as
integer-scaled values (x1e4/x1e6 with integer div) so every column is
exact integer arithmetic — engine-portable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.operators import dedup as dd
from p6_spark.operators import similarity as sim
from p6_spark.operators.text import STOPWORDS, fingerprint, lang_id, tokens
from p6_spark.plans.registry import register
from p6_spark.plans.twins import (
    SQL_IVF_MODEL,
    SQL_LANGID_CASE,
    SQL_LANGID_PRED,
    SQL_MD5INT,
    SQL_MIXTURE_WEIGHTS,
    SQL_SIMHASH62_BITS,
    SQL_SHINGLE_OVERLAP,
    SQL_SIMHASH62_VOTES,
    SQL_TOKENS,
    sql_adaptive_cand,
    sql_bounded_cc,
    sql_corpus_funnel,
    sql_cosine_rerank,
    sql_langid_scores,
    sql_lsh_bands,
    sql_lsh_pairs,
    sql_lsh_sig,
    sql_minhash_sig,
)
from p6_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dd_exact_stats",
    oracle="""
WITH groups AS (
  SELECT md5(text) AS digest, count(*) AS n FROM documents GROUP BY md5(text)
)
SELECT count(*) AS n_distinct_texts,
       cast(sum(n) AS bigint) AS n_docs,
       count(*) FILTER (WHERE n > 1) AS n_dup_groups,
       cast(coalesce(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) AS bigint) AS n_redundant_docs
FROM groups
""",
    doc="Exact dedup via content digest: shuffle the 16-byte md5, never the "
    "document body. The first tier of the dedup funnel.",
    tags=("dedup",),
)
def dd_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_stats(load_table(spark, sf_dir, "documents"))


@register(
    "dd_minhash_lsh_pairs",
    oracle=f"""
WITH {sql_minhash_sig('doc_id < 150')},
{sql_lsh_bands()}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
    doc="MinHash (8 md5-derived hash functions) + LSH banding (4 bands x 2 "
    "rows): near-dup candidate pairs from bucket collisions — O(n)+collisions "
    "instead of O(n^2). Reference has only exact-ish per-packet dedup "
    "(src/P6/genotype.py:334-354); this is the corpus-scale generalization.",
    tags=("dedup", "lsh"),
)
def dd_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = dd.minhash_signatures(docs, num_hashes=8)
    return dd.lsh_candidate_pairs(sigs, num_hashes=8, band_size=2).orderBy("id_a", "id_b")


def _sql_simhash() -> str:
    """DuckDB twin of operators/dedup.simhash62 over the doc_id < 200 panel."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok
  FROM documents WHERE doc_id < 200
),
{SQL_SIMHASH62_VOTES}
SELECT doc_id, cast({SQL_SIMHASH62_BITS} AS bigint) AS simhash
FROM votes ORDER BY doc_id
"""


@register(
    "dd_simhash",
    oracle=_sql_simhash(),
    doc="62-bit SimHash signatures: linear scan, near-dups share signatures "
    "(or differ in a few bits). Integer-only arithmetic, engine-portable. "
    ".. versionchanged:: round 7 — widened from 16 bits (fixed-cardinality "
    "recall cliff; see operators/dedup.simhash62); signature values are "
    "not comparable with rounds <= 6.",
    tags=("dedup", "simhash"),
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.simhash62_table(docs).orderBy("doc_id")


@register(
    "dd_ngram_jaccard",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents WHERE doc_id < 120
),
{SQL_SHINGLE_OVERLAP}
SELECT id_a, id_b, n_common,
       (n_common * 1000000) // (sa.n_sh + sb.n_sh - n_common) AS jaccard_x1e6
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE (n_common * 1000000) // (sa.n_sh + sb.n_sh - n_common) >= 10000
ORDER BY id_a, id_b
""",
    doc="Exact 3-word-shingle Jaccard on pairs sharing a shingle (at scale: "
    "on LSH candidates only). Jaccard emitted integer-scaled (x1e6, floor "
    "div) so the comparison is exact integer arithmetic.",
    tags=("dedup", "jaccard"),
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return (
        dd.shingle_overlap(docs)
        .withColumn(
            "jaccard_x1e6",
            F.expr("(n_common * 1000000) div (n_a + n_b - n_common)"),
        )
        .filter(F.col("jaccard_x1e6") >= 10000)
        .select("id_a", "id_b", "n_common", "jaccard_x1e6")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "txt_quality",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, {SQL_TOKENS} AS t,
         length(text) AS n_char
  FROM documents
),
m AS (
  SELECT doc_id, n_char, len(t) AS n_tok,
         length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter(t, x -> list_contains(['the','a','value','table','row'], lower(x)))) AS n_stop
  FROM base
)
SELECT doc_id, n_char AS n_chars, n_tok AS n_tokens,
       CASE WHEN n_tok > 0 THEN ((n_char - (n_tok - 1)) * 10000) // n_tok ELSE 0 END AS avg_token_len_x1e4,
       (n_punct * 1000000) // greatest(n_char, 1) AS punct_ratio_x1e6,
       (n_digit * 1000000) // greatest(n_char, 1) AS digit_ratio_x1e6,
       (n_stop * 1000000) // greatest(n_tok, 1) AS stopword_ratio_x1e6
FROM m ORDER BY doc_id
""",
    doc="Quality-scoring columns (length, token stats, punct/digit/stopword "
    "ratios) — the cheap pre-dedup filter pass. Integer-scaled ratios.",
    tags=("text",),
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return (
        docs.withColumn("n_tok", F.size(t))
        .withColumn("n_char", F.length("text"))
        .withColumn("n_punct", F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?'\"()-]", "")))
        .withColumn("n_digit", F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")))
        .withColumn("n_stop", F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x)))))
        .selectExpr(
            "doc_id",
            "cast(n_char as bigint) AS n_chars",
            "cast(n_tok as bigint) AS n_tokens",
            "CASE WHEN n_tok > 0 THEN ((n_char - (n_tok - 1)) * 10000) div n_tok ELSE 0 END"
            " AS avg_token_len_x1e4",
            "(n_punct * 1000000) div greatest(n_char, 1) AS punct_ratio_x1e6",
            "(n_digit * 1000000) div greatest(n_char, 1) AS digit_ratio_x1e6",
            "(n_stop * 1000000) div greatest(n_tok, 1) AS stopword_ratio_x1e6",
        )
        .orderBy("doc_id")
    )


@register(
    "txt_langid",
    oracle=f"""
WITH {SQL_LANGID_PRED.lstrip()}
SELECT predicted_lang, actual_lang, count(*) AS n
FROM pred GROUP BY 1, 2 ORDER BY predicted_lang, actual_lang
""",
    doc="Language-ID heuristic: stopword-list hit counts over the distinct "
    "token set, argmax with fixed priority tie-break. A linear scan.",
    tags=("text", "langid"),
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.col("lang").alias("actual_lang"),
            lang_id(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("predicted_lang", "actual_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("predicted_lang", "actual_lang")
    )


@register(
    "txt_fingerprint",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents WHERE doc_id < 300
),
hashed AS (
  SELECT doc_id, list_transform(t, tok -> {SQL_MD5INT.format(x='tok')}) AS hs FROM base
)
SELECT doc_id,
       list_reduce(list_prepend(0::bigint, hs), (a, b) -> (a * 31 + b) % 1000000007) AS fp
FROM hashed ORDER BY doc_id
""",
    doc="Order-sensitive rolling document fingerprint (polynomial hash of "
    "the md5'd token sequence mod 1e9+7) — catches reorder-insensitive "
    "collisions that bag-of-tokens digests miss.",
    tags=("text", "fingerprint"),
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "sim_cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::double[] AS qvec FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS match_id, embedding::double[] AS cvec FROM embeddings),
scored AS (
  SELECT query_id, match_id,
         round(list_inner_product(qvec, cvec)
               / (sqrt(list_inner_product(qvec, qvec)) * sqrt(list_inner_product(cvec, cvec))), 6) AS cos_sim
  FROM q, c WHERE match_id <> query_id
),
ranked AS (
  SELECT query_id, match_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, match_id) AS rnk
  FROM scored
)
SELECT query_id, match_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
""",
    doc="Brute-force cosine top-k (exact baseline): broadcast the query "
    "set, stream the corpus, fold the dot product in codegen. Cosine "
    "rounded to 6 dp before ranking for cross-engine determinism.",
    tags=("similarity",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return sim.brute_force_topk(emb, queries, k=5)


@register(
    "sim_lsh_ann",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v,
         {sql_lsh_sig(0)} AS s0,
         {sql_lsh_sig(1)} AS s1,
         {sql_lsh_sig(2)} AS s2,
         {sql_lsh_sig(3)} AS s3
  FROM e
),
b AS (
  SELECT vec_id, unnest([0, 1, 2, 3]) AS tbl, unnest([s0, s1, s2, s3]) AS sig
  FROM sigs
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS match_id
  FROM b q JOIN b c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
),
{sql_cosine_rerank(5)}""",
    doc="ANN top-k via random-hyperplane LSH (8 md5-derived planes, 4 "
    "OR-amplified tables): signature equi-join replaces the cross join. "
    "Hyperplanes are md5-parity ±1 and projections fold left-to-right, "
    "so the bucketing is bit-deterministic — the DuckDB twin replays "
    "signatures, bucket collisions, and the exact re-rank. Recall vs "
    "brute force additionally asserted in tests/test_similarity.py.",
    tags=("similarity", "lsh"),
)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return sim.lsh_ann_topk(emb, queries, k=5)


@register(
    "txt_bpe_tokens",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_bpe_tokens,
       len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_ws_tokens
FROM documents
ORDER BY doc_id
""",
    doc="BPE-pretokenizer-style token counting (letter/digit/symbol runs "
    "with optional leading space — the engine-portable subset of the "
    "GPT-2 pattern) next to whitespace counts. Pure regexp, stays in "
    "codegen.",
    tags=("text", "tokens"),
)
def txt_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
    ).orderBy("doc_id")


@register(
    "dd_embedding_neardup",
    oracle=f"""
WITH {sql_adaptive_cand()},
scored AS (
  SELECT id_a, id_b,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
)
SELECT id_a, id_b, cast(round(cos * 1000000, 0) AS bigint) AS cos_x1e6
FROM scored WHERE cos >= 0.3
ORDER BY cos_x1e6 DESC, id_a, id_b
""",
    doc="Embedding-cosine near-dup over CAPPED ADAPTIVE-LSH blocks: "
    "candidates share a random-hyperplane bucket in any of 4 "
    "OR-amplified tables, signature width grows with log2(corpus) so "
    "expected bucket occupancy stays ~2 rows, and buckets above 20 "
    "members are dropped before the self-join — candidate pairs grow "
    "O(n) by construction (measured 4x rows -> 4.46x pairs; the gate "
    "in tests/test_pair_growth.py enforces it). Replaces the round-5 "
    "label-blocked variant whose fixed-cardinality key made "
    "within-block pairs quadratic; output schema changed to "
    "(id_a, id_b, cos_x1e6) — see lsh_blocked_neardup_pairs "
    "versionchanged note.",
    tags=("dedup", "similarity", "blocking", "lsh"),
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_blocked_neardup_pairs(emb)


@register(
    "dd_semantic_dedup",
    oracle=f"""
WITH RECURSIVE {sql_adaptive_cand(materialized=True)},
sem AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
    FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
  ) WHERE cos >= 0.3
),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM sem UNION SELECT id_b, id_a FROM sem
),
reach AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e2.u, r.label FROM edges e2 JOIN reach r ON r.node = e2.v
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, count(*) AS cs FROM comp GROUP BY component)
SELECT e.vec_id, e.label, cast(coalesce(s.cs, 1) AS bigint) AS cluster_size
FROM e LEFT JOIN sizes s ON s.component = e.vec_id
WHERE e.vec_id NOT IN (SELECT node FROM comp WHERE node <> component)
ORDER BY e.vec_id
""",
    doc="Semantic dedup (the SemDeDup pattern for LLM corpora): vectors "
    "whose cosine >= 0.3 within the capped adaptive-LSH candidate set "
    "form a similarity graph; connected components cluster it, and "
    "exactly ONE representative per cluster survives (the min vec_id — "
    "greedy pair-dropping can over-drop on chains, the dd_cc_clusters "
    "lesson applied to embeddings). Output: every surviving vector with "
    "the size of the cluster it represents. Scale shape: O(n) candidate "
    "pairs (pair-growth gated), bounded-round min-label propagation, "
    "linear anti-join/size join back — each stage individually "
    "certified; the DuckDB twin replays signatures, cap, cosine gate, "
    "and the recursive closure (bucket/cand CTEs MATERIALIZED so the "
    "closure doesn't re-run the signature chain per iteration).",
    tags=("dedup", "similarity", "graph", "lsh", "iterative"),
)
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.lsh_blocked_neardup_pairs(emb).select("id_a", "id_b")
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cs"))
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("vec_id")
    )
    return (
        emb.join(losers, "vec_id", "left_anti")
        .join(
            sizes.select(F.col("component").alias("vec_id"), "cs"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("cs"), F.lit(1)).cast("long").alias("cluster_size"),
        )
        .orderBy("vec_id")
    )


@register(
    "sim_ivf_ann",
    # Fully oracle-checked since round 3: the Lloyd iterations run in
    # fixed-point integer space (quantize x1e4 to bigint BEFORE any mean;
    # trunc-div centroid updates — the sim_centroid_stats trick), so every
    # k-means step is associative integer arithmetic and DuckDB replays the
    # whole build+search below: same seeds (md5 ordering), two unrolled
    # Lloyd rounds, same probe selection, same integer-L2 re-rank.
    oracle=f"""
WITH {SQL_IVF_MODEL},
probes AS (
  SELECT query_id, cid FROM (
    SELECT vec_id AS query_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM df WHERE vec_id < 3
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, af.vec_id AS match_id
  FROM probes p JOIN af ON af.cid = p.cid
  WHERE af.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.match_id,
         cast(sum((eq.v - em.v) * (eq.v - em.v)) AS bigint) AS dist2
  FROM cand c
  JOIN el eq ON eq.vec_id = c.query_id
  JOIN el em ON em.vec_id = c.match_id AND em.pos = eq.pos
  GROUP BY c.query_id, c.match_id
)
SELECT query_id, match_id, dist2, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, match_id) AS rnk
  FROM scored
) WHERE rnk <= 5
ORDER BY query_id, rnk
""",
    doc="IVF ANN top-k in fixed-point integer space (operators/ivf.py "
    "ivf_topk_fixed): deterministic integer k-means (md5-ordered seeds, "
    "trunc-div Lloyd means over x1e4-quantized bigints), codegen argmin "
    "assignment, n_probe nearest lists per query, exact integer-L2 "
    "re-rank inside probed lists — touches n_probe/k of the corpus per "
    "query instead of all of it. Only the k x dim integer model reaches "
    "the driver; assignment/search never shuffle the corpus beyond the "
    "cid equi-join. The float-cosine variant (ivf_topk) remains for "
    "recall-vs-bruteforce testing.",
    tags=("similarity", "ivf", "iterative"),
)
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ivf import ivf_topk_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_topk_fixed(emb, queries, k=5, num_centroids=8, iters=2, n_probe=2)


@register(
    "mm_features",
    oracle="""
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest,
       cast(least(32, octet_length(encode(text))) AS bigint) AS feat_dim
FROM documents
ORDER BY media_id
""",
    doc="Multimodal feature extraction (operators/multimodal.py): "
    "document text re-cast as opaque binary payloads, routed through "
    "the Arrow-batched mapInPandas decode/feature stage (codec stubbed "
    "deterministically; see P6_SPARK_REAL_DECODE). Exercises the binary-"
    "column + typed-metadata plumbing on a harness table. The emitted "
    "columns are all SQL facts (byte length, md5 identity, feature dim "
    "= min(32, n_bytes) by the stub's construction), so the Python "
    "stage itself is oracle-checked.",
    tags=("multimodal", "mapinpandas"),
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return (
        extract_features(media)
        .select(
            "media_id",
            "n_bytes",
            "digest",
            F.size("feature").cast("long").alias("feat_dim"),
        )
        .orderBy("media_id")
    )


@register(
    "dd_cc_clusters",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
{sql_lsh_pairs()},
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
{sql_bounded_cc()}
SELECT component, count(*) AS cluster_size
FROM comp GROUP BY component ORDER BY component
""",
    doc="Exact duplicate clustering: connected components over the "
    "MinHash-LSH candidate-pair graph via iterative min-label "
    "propagation (operators/graph.py), one shuffle per round, "
    "localCheckpoint lineage truncation. Verified against a union-find "
    "oracle in tests/test_graph.py AND a DuckDB BOUNDED-ROUND min-label "
    "twin (sql_bounded_cc, round-9: same 25-round bound as the engine, "
    "linear per round — replaces the transitive-closure oracle that was "
    "O(sum comp^2) and infeasible on the skew1.0 35k-node component). "
    "Round-4: the candidate graph carries the "
    "max_bucket=20 non-discriminative-bucket cap (q_graph_kcore's "
    "guard) — uncapped, this corpus's dense buckets made both the pair "
    "join and the closure oracle quadratic, which is why the query was "
    "sf1.0-excluded before; capped, it certifies at sf1.0 directly.",
    tags=("dedup", "graph", "iterative"),
)
def dd_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs, max_bucket=20)
    cc = connected_components(pairs)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy("component")
    )


@register(
    "pipe_llm_corpus",
    oracle=f"""
WITH {sql_corpus_funnel()},
clean AS (
  SELECT e.* FROM exact e WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
),
scored AS (
  SELECT clean.*,
         list_distinct(list_transform({SQL_TOKENS}, y -> lower(y))) AS lt
  FROM clean
),
enriched AS (
  SELECT doc_id, text, lang, source, n_chars,
         len({SQL_TOKENS}) AS n_ws_tokens,
         len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_bpe_tokens,
{sql_langid_scores('lt')},
         list_reduce(
           list_prepend(0::bigint,
             list_transform({SQL_TOKENS}, tok -> {SQL_MD5INT.format(x='tok')})),
           (a, b) -> (a * 31 + b) % 1000000007) AS doc_fingerprint
  FROM scored
)
SELECT doc_id, text, lang, source, n_chars, n_ws_tokens, n_bpe_tokens,
       {SQL_LANGID_CASE} AS lang_pred,
       doc_fingerprint
FROM enriched
ORDER BY doc_id
""",
    doc="End-to-end corpus pipeline (pipelines/llm_corpus.py): quality "
    "gate -> exact dedup -> MinHash-LSH near-dedup -> token/lang/"
    "fingerprint enrichment. Every stage is deterministic md5/integer "
    "arithmetic, so the WHOLE composition has a DuckDB twin — the "
    "oracle replays gate, min-id exact dedup, LSH banding with greedy "
    "larger-id drop, and the enrichment columns. Stage counts also "
    "asserted in tests/test_llm_corpus.py.",
    tags=("pipeline", "dedup", "text"),
)
def pipe_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.pipelines.llm_corpus import drop_near_duplicates, enrich, quality_gate

    docs = load_table(spark, sf_dir, "documents")
    from p6_spark.operators.dedup import dedup_exact

    # the exact-dedup survivors feed BOTH the LSH-pairs subtree and the
    # left side of the greedy anti-join inside drop_near_duplicates —
    # cut the lineage once or scan+gate+exact-dedup executes twice
    exact = materialize(dedup_exact(quality_gate(docs)))
    return enrich(drop_near_duplicates(exact)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Approximate sketches (rows-only: sketch internals differ per engine)
# ---------------------------------------------------------------------------


@register(
    "q_approx_sketches",
    oracle=None,
    doc="HLL++ approx distinct + approximate percentiles — the sketches a "
    "100 TB profile pass uses instead of exact distinct/sort. Rows-only: "
    "sketch results are engine-specific by design; the exact counterparts "
    "are oracle-checked in q_distinct_counts and q_percentiles. Scalar "
    "columns only (p50/p95/p99 flattened) — array outputs crash the "
    "driver's pandas canonicalizer.",
    tags=("sketch", "agg"),
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
        pcts.getItem(0).alias("price_p50"),
        pcts.getItem(1).alias("price_p95"),
        pcts.getItem(2).alias("price_p99"),
    )


@register(
    "dd_hash_split",
    oracle="""
WITH b AS (
  SELECT doc_id, n_chars,
         ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'validation'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       cast(sum(n_chars) AS bigint) AS total_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM b
GROUP BY 1
ORDER BY split
""",
    doc="Deterministic train/validation/test split for a training corpus: "
    "a Knuth multiplicative hash of the document key taken mod 100 buckets "
    "(90/5/5). Pure bigint arithmetic — identical on any engine and any "
    "cluster size, needs no shuffle until the final tiny aggregate, and "
    "assigns every future re-run of the same corpus to the same split "
    "(unlike sample(), whose output depends on partitioning).",
    tags=("split", "pipeline", "dedup-adjacent"),
)
def dd_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(100)
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "validation").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


@register(
    "txt_vocab",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
),
per_doc AS (
  SELECT token, doc_id, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT token,
       count(*) AS doc_freq,
       cast(sum(c) AS bigint) AS coll_freq
FROM per_doc
GROUP BY token
ORDER BY doc_freq DESC, coll_freq DESC, token
LIMIT 30
""",
    doc="Vocabulary building / inverted-index statistics: per-token "
    "document frequency and collection frequency, top-30 with a total "
    "order. Two-phase aggregation — (token, doc) partial counts shuffle "
    "once, then the per-token rollup reuses the same hash partitioning. "
    "Exact integers (IDF weighting would be log over these counts; "
    "emitting the counts keeps the result engine-portable).",
    tags=("text", "vocab", "agg"),
)
def txt_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from p6_spark.operators.text import tokens as _tokens

    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    per_doc = tok.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"), F.sum("c").alias("coll_freq"))
        .orderBy(F.desc("doc_freq"), F.desc("coll_freq"), F.asc("token"))
        .limit(30)
    )


@register(
    "txt_repetition",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_tok,
         len(list_distinct(t)) AS n_distinct,
         list_max([len(list_filter(t, x -> x = d)) for d in list_distinct(t)]) AS top_cnt,
         [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bi
  FROM base
)
SELECT doc_id, n_tok AS n_tokens,
       (n_distinct * 1000000) // greatest(n_tok, 1) AS distinct_ratio_x1e6,
       (top_cnt * 1000000) // greatest(n_tok, 1) AS top_token_ratio_x1e6,
       ((len(bi) - len(list_distinct(bi))) * 1000000) // greatest(len(bi), 1) AS dup_bigram_ratio_x1e6
FROM m
ORDER BY doc_id
""",
    doc="Repetition-based quality signals (the Gopher/C4 filter family): "
    "distinct-token ratio, most-frequent-token fraction, duplicate-bigram "
    "fraction — all per-document array computations (transform/filter/"
    "zip_with on the token array), so the pass is embarrassingly parallel "
    "with zero shuffle; ratios integer-scaled. Per-doc work is O(d·n) in "
    "distinct tokens d — bounded because documents are bounded, and no "
    "state leaves the row.",
    tags=("text", "quality", "higher-order"),
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from p6_spark.operators.text import tokens as _tokens

    t = _tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t"))
    n_tok = F.size("t")
    distinct = F.array_distinct("t")
    # max token multiplicity = longest equal-run in the sorted array:
    # O(n log n) per doc vs the O(d*n) filter-per-distinct-token form
    top_cnt = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bi = F.zip_with(
        F.slice("t", 1, F.greatest(n_tok - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(n_tok - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    m = base.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.size(distinct).alias("n_distinct"),
        top_cnt.alias("top_cnt"),
        bi.alias("bi"),
    )
    return m.selectExpr(
        "doc_id",
        "cast(n_tok as bigint) AS n_tokens",
        "(n_distinct * 1000000) div greatest(n_tok, 1) AS distinct_ratio_x1e6",
        "(top_cnt * 1000000) div greatest(n_tok, 1) AS top_token_ratio_x1e6",
        "((size(bi) - size(array_distinct(bi))) * 1000000) div greatest(size(bi), 1)"
        " AS dup_bigram_ratio_x1e6",
    ).orderBy("doc_id")


@register(
    "dd_stratified_sample",
    oracle="""
WITH b AS (
  SELECT lang, n_chars,
         ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
  FROM documents
),
kept AS (
  SELECT lang, n_chars FROM b
  WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 80 ELSE 100 END
)
SELECT lang, count(*) AS n_kept, cast(sum(n_chars) AS bigint) AS kept_chars
FROM kept
GROUP BY lang
ORDER BY lang
""",
    doc="Stratified deterministic downsampling — corpus rebalancing "
    "(keep 50% of over-represented English, 80% of zh, all of the rest) "
    "using the same multiplicative-hash buckets as dd_hash_split, so "
    "the kept set is reproducible, composable with the train/val/test "
    "split, and independent of partitioning. A pure map-side filter: "
    "no shuffle until the audit aggregate.",
    tags=("sampling", "stratified", "pipeline"),
)
def dd_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(100)
    rate = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "zh", 80).otherwise(100)
    )
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
        .orderBy("lang")
    )


@register(
    "mm_binary_meta",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       cast(sum(octet_length(encode(text))) AS bigint) AS total_bytes,
       max(octet_length(encode(text))) AS max_bytes,
       min(md5(text)) AS min_md5,
       count(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
GROUP BY source
ORDER BY source
""",
    doc="Binary-column metadata pass — the oracle-checkable half of the "
    "multimodal pattern (operators/multimodal.py holds the mapInPandas "
    "decode plumbing, rows-only): payloads as opaque bytes, per-source "
    "byte totals and md5 content identity, incl. an exact distinct count "
    "of payload hashes (content-addressed dedup cardinality). Everything "
    "is JVM-side column expressions over the binary type; at 100 TB the "
    "md5 doubles as the shard-stable content key the dedup operators "
    "group on (cf. dd_exact_stats).",
    tags=("multimodal", "binary", "agg"),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    b = docs.select("source", payload.alias("payload"))
    return (
        b.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
            F.min(F.md5("payload")).alias("min_md5"),
            F.countDistinct(F.md5("payload")).alias("n_distinct_payloads"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PII scrubbing, contamination detection, packing stats
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "txt_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || cast(doc_id AS varchar)
              || '@example.com or +1-555-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
           AS t
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS red
  FROM seeded
)
SELECT doc_id, n_emails, n_phones,
       length(red) AS redacted_len,
       md5(red) AS redacted_md5
FROM scrubbed
ORDER BY doc_id
""",
    doc="PII scrubbing pass — the redaction step every training-corpus "
    "pipeline runs before packing: detect + replace email/phone patterns "
    "with placeholder tags, count hits, and emit a content hash of the "
    "redacted text so the transform itself is value-checked. Synthetic "
    "PII is seeded deterministically from doc_id (the harness corpus has "
    "none), so both engines replay the same input. Pure JVM regexp — a "
    "linear scan with zero shuffle at any scale.",
    tags=("text", "pii", "scrub"),
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(seeded, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(seeded, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
            F.regexp_count(seeded, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
            F.length(red).cast("long").alias("redacted_len"),
            F.md5(red).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "dd_contamination",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM corpus
),
bench_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
eval_docs AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM eval_docs GROUP BY doc_id),
shared AS (
  SELECT e.doc_id, count(*) AS n_shared
  FROM eval_docs e JOIN bench_sh b ON e.s = b.s
  GROUP BY e.doc_id
)
SELECT s.doc_id, s.n_sh, sh.n_shared,
       (sh.n_shared * 1000000) // s.n_sh AS overlap_x1e6,
       (sh.n_shared * 1000000) // s.n_sh >= 500000 AS contaminated
FROM sizes s JOIN shared sh ON sh.doc_id = s.doc_id
ORDER BY s.doc_id
""",
    doc="Benchmark-contamination detection — docs sharing 3-gram shingles "
    "with a held-out benchmark set (here: doc_id % 97 as the stand-in "
    "eval set). The shingle equi-join + per-doc overlap ratio is the "
    "standard decontamination pass before training. Flags docs with "
    ">= 50% shingle overlap. Scale shape: a REAL benchmark set is "
    "fixed-size, so its shingles broadcast and the corpus scan never "
    "shuffles — but the harness split (doc_id % 97) GROWS with the "
    "corpus (~1% of it), and 3-gram shingles are DENSER per doc than "
    "dd_decontam_ngram13's 13-grams, so the plan guards the broadcast "
    "with the same driver-side 1-row bench-doc count (the permitted "
    "scalar-bound class, plans/scalar_bounds.py): at most 20k bench "
    "docs keep the broadcast semi-join; above the crossover it "
    "degrades to a shuffle-hash semi-join on the shingle key (both "
    "paths oracle-identical; tests/test_contamination_fallback_r11.py "
    "drives the fallback). Either way the per-doc counts that follow "
    "are tiny.",
    tags=("dedup", "contamination", "jaccard"),
)
def dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _contamination_plan(spark, sf_dir)


def _contamination_plan(
    spark: SparkSession, sf_dir: str, force_shuffle: bool | None = None
) -> DataFrame:
    """Shared plan for dd_contamination with an explicit join-strategy
    override for tests/measurement (the _decontam_ngram13_plan pattern):
    force_shuffle=True always takes the shuffle-hash fallback, False
    always broadcasts, None (production) auto-selects on the memoized
    driver-side bench-doc count."""
    from p6_spark.plans.scalar_bounds import (
        DECON_BROADCAST_MAX_BENCH_DOCS,
        bench_doc_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    # One shingling pass total: n_sh rides through the explode so the
    # per-doc size needs no second scan, and because the final result is
    # an inner join (docs with zero benchmark overlap are absent in the
    # oracle too) the count-shared aggregate IS the output — no
    # sizes-vs-shared doc_id shuffle join. The %97 filters reference only
    # doc_id, so Catalyst pushes them below the Generate and the regexp
    # shingling runs once per document across the two branches.
    # Materialize the shingle array in its own projection and keep n_sh
    # below the Generate: writing size(arr) next to explode(arr) in one
    # select puts the size in the Project ABOVE the Generate, where the
    # whole shingle expression is re-evaluated once per exploded row.
    sh = (
        docs.select(
            "doc_id",
            F.array_distinct(dd.word_shingles(F.col("text"), 3)).alias("arr"),
        )
        .select("doc_id", F.size("arr").cast("long").alias("n_sh"), "arr")
        .select("doc_id", "n_sh", F.explode("arr").alias("s"))
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    if force_shuffle is None:
        n_bench_docs = bench_doc_count(spark, sf_dir, docs)
        force_shuffle = n_bench_docs > DECON_BROADCAST_MAX_BENCH_DOCS
    bench = (
        bench.hint("shuffle_hash") if force_shuffle else F.broadcast(bench)
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "s")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_sh",
            "n_shared",
            F.expr("(n_shared * 1000000) div n_sh").alias("overlap_x1e6"),
            (F.expr("(n_shared * 1000000) div n_sh") >= 500000).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "txt_packing_stats",
    oracle="""
WITH m AS (
  SELECT source,
         len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_tok
  FROM documents
),
c AS (
  SELECT source, n_tok,
         greatest(1, (n_tok + 511) // 512) AS n_chunks
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       cast(sum(n_tok) AS bigint) AS total_tokens,
       cast(sum(n_chunks) AS bigint) AS total_seqs,
       cast(sum(n_chunks * 512 - n_tok) AS bigint) AS pad_waste_tokens,
       max(n_tok) AS max_doc_tokens
FROM c
GROUP BY source
ORDER BY source
""",
    doc="Sequence-packing budget stats for batch prep: per-source token "
    "totals under a 512-token context (BPE-ish pretokenizer counts), "
    "number of sequences under naive one-doc-per-sequence packing, and "
    "the padding waste that motivates a real packer. Pure per-row "
    "arithmetic + one tiny rollup — the profiling pass that sizes a "
    "training run before any shuffle-heavy packing job.",
    tags=("text", "tokens", "packing"),
)
def txt_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    n_tok = bpe_ish_token_count(F.col("text")).cast("long")
    c = docs.select("source", n_tok.alias("n_tok")).withColumn(
        "n_chunks", F.greatest(F.lit(1).cast("long"), F.expr("(n_tok + 511) div 512"))
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chunks").alias("total_seqs"),
            F.sum(F.col("n_chunks") * 512 - F.col("n_tok")).alias("pad_waste_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


@register(
    "txt_packed_assignment",
    oracle="""
WITH m AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_tok
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_off
  FROM m
),
assigned AS (
  SELECT source, doc_id, n_tok, cast(start_off // 512 AS bigint) AS seq_id FROM offs
)
SELECT source,
       count(DISTINCT seq_id) AS n_seqs,
       cast(sum(n_tok) AS bigint) AS total_tokens,
       count(*) AS n_docs,
       max(seq_id) AS max_seq_id
FROM assigned
GROUP BY source
ORDER BY source
""",
    doc="Contiguous sequence packing (token-stream layout): docs stream "
    "in doc_id order per source, each starts at the running token "
    "offset, and its sequence id is start_offset // 512 — the "
    "document-boundary-agnostic packing LLM pretraining uses (docs "
    "straddle sequence boundaries; nothing is padded). One window "
    "cumsum per source partition, no shuffle beyond the partitioning "
    "that a packed write needs anyway. Complements txt_packing_stats "
    "(the one-doc-per-sequence padded variant).",
    tags=("text", "tokens", "packing", "window"),
)
def txt_packed_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from p6_spark.operators.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    n_tok = bpe_ish_token_count(F.col("text")).cast("long")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = docs.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "start_off", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    assigned = offs.withColumn("seq_id", F.expr("start_off div 512"))
    return (
        assigned.groupBy("source")
        .agg(
            F.countDistinct("seq_id").alias("n_seqs"),
            F.sum("n_tok").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.max("seq_id").alias("max_seq_id"),
        )
        .orderBy("source")
    )


@register(
    "sim_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::double[] AS v FROM embeddings
),
scaled AS (
  SELECT vec_id, label, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS maxabs
  FROM e
),
q AS (
  SELECT vec_id, label, v, maxabs,
         list_transform(v, x -> cast(round(x * 127.0 / maxabs, 0) AS bigint)) AS qv
  FROM scaled
),
err AS (
  SELECT vec_id, label,
         cast(list_sum(list_transform(qv, x -> x * x)) AS bigint) AS qnorm2,
         cast(round(list_sum(
           list_transform(generate_series(1, len(v)),
                          i -> pow(v[i] - qv[i] * maxabs / 127.0, 2))) * 1e9, 0) AS bigint)
           AS mse_x1e9
  FROM q
)
SELECT label,
       count(*) AS n,
       cast(sum(qnorm2) AS bigint) AS total_qnorm2,
       max(mse_x1e9) AS max_mse_x1e9
FROM err
GROUP BY label
ORDER BY label
""",
    doc="Int8 scalar quantization of the embedding column — the 4x "
    "memory/IO cut an ANN index applies before sharding. Per-vector "
    "max-abs scale, symmetric round-to-int8, plus the reconstruction "
    "MSE that quantization-aware recall tests budget against. All "
    "higher-order array expressions in codegen; quantized norms are "
    "exact integers, MSE integer-scaled x1e9 after a deterministic "
    "per-element recomputation.",
    tags=("similarity", "quantization", "array"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    base = emb.select("vec_id", "label", v.alias("v"), maxabs.alias("maxabs"))
    qv = F.transform(
        F.col("v"), lambda x: F.round(x * 127.0 / F.col("maxabs"), 0).cast("long")
    )
    q = base.withColumn("qv", qv)
    qnorm2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mse = F.round(
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("qv"),
                lambda x, qx: F.pow(x - qx * F.col("maxabs") / 127.0, F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1e9,
        0,
    ).cast("long")
    err = q.select("vec_id", "label", qnorm2.alias("qnorm2"), mse.alias("mse_x1e9"))
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qnorm2").alias("total_qnorm2"),
            F.max("mse_x1e9").alias("max_mse_x1e9"),
        )
        .orderBy("label")
    )


@register(
    "txt_chunking",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents WHERE doc_id < 200
),
chunked AS (
  SELECT doc_id, len(t) AS n_tok,
         CASE WHEN len(t) <= 128 THEN 1
              ELSE 1 + cast(ceil((len(t) - 128) / 96.0) AS bigint) END AS n_chunks,
         array_to_string(t[1 : least(len(t), 128)], ' ') AS first_chunk
  FROM base
)
SELECT doc_id, n_tok, n_chunks,
       md5(first_chunk) AS first_chunk_md5,
       length(first_chunk) AS first_chunk_chars
FROM chunked
ORDER BY doc_id
""",
    doc="Sliding-window document chunking (128-token windows, 32-token "
    "overlap = 96-token stride) — the RAG/pretraining segmentation pass. "
    "Emits per-doc chunk counts and a content hash of the first chunk so "
    "the window arithmetic AND the chunk text itself are value-checked. "
    "Pure array slicing in codegen; the full chunk table is the same "
    "expressions under an explode (chunk-level rows omitted here to keep "
    "the certified result compact).",
    tags=("text", "chunking", "rag"),
)
def txt_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = tokens(F.col("text"))
    n_tok = F.size(t).cast("long")
    n_chunks = F.when(n_tok <= 128, F.lit(1).cast("long")).otherwise(
        1 + F.ceil((n_tok - 128) / F.lit(96.0)).cast("long")
    )
    first_chunk = F.array_join(F.slice(t, 1, 128), " ")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_chunks.alias("n_chunks"),
        F.md5(first_chunk).alias("first_chunk_md5"),
        F.length(first_chunk).cast("long").alias("first_chunk_chars"),
    ).orderBy("doc_id")


@register(
    "dd_segment_dedup",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
d AS (
  SELECT doc_id, cast(len(t) // 8 AS bigint) AS n_seg, t
  FROM base WHERE len(t) // 8 >= 1
),
segs AS (
  SELECT doc_id, n_seg,
         unnest(list_transform(generate_series(1, cast(n_seg AS int)),
                i -> md5(array_to_string(t[(i-1)*8+1 : (i-1)*8+8], ' ')))) AS seg
  FROM d
),
cnt AS (SELECT seg, count(*) AS c FROM segs GROUP BY seg)
SELECT s.doc_id, s.n_seg,
       count(*) FILTER (WHERE cnt.c >= 2) AS n_dup_seg,
       (count(*) FILTER (WHERE cnt.c >= 2) * 1000000) // s.n_seg AS dup_frac_x1e6
FROM segs s JOIN cnt ON cnt.seg = s.seg
GROUP BY s.doc_id, s.n_seg
ORDER BY s.doc_id
""",
    doc="Duplicate-span detection a la 'Deduplicating Training Data Makes "
    "Language Models Better' (Lee et al.), approximated with fixed "
    "non-overlapping 8-token segments instead of a suffix array: hash "
    "each segment, count corpus-wide occurrences, and report per-doc "
    "duplicated-span fraction. At 100 TB the plan is two shuffles on the "
    "16-byte segment digest (window count + per-doc rollup) — the "
    "document text itself never shuffles.",
    tags=("dedup", "segments", "spans"),
)
def dd_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")

    def segments(toks):
        n_seg = F.floor(F.size(toks) / F.lit(8)).cast("int")
        return F.when(
            n_seg >= 1,
            F.transform(
                F.sequence(F.lit(1), n_seg),
                lambda i: F.md5(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(toks, ((i - 1) * 8 + j).cast("int"))
                            for j in range(1, 9)
                        ],
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    seg_arr = F.element_at(F.transform(F.array(tokens(F.col("text"))), segments), 1)
    segs = (
        docs.select("doc_id", seg_arr.alias("arr"))
        .select("doc_id", F.size("arr").cast("long").alias("n_seg"), "arr")
        .filter(F.col("n_seg") >= 1)
        .select("doc_id", "n_seg", F.explode("arr").alias("seg"))
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("seg"))
    return (
        segs.withColumn("c", c)
        .groupBy("doc_id", "n_seg")
        .agg(F.count(F.when(F.col("c") >= 2, 1)).alias("n_dup_seg"))
        .select(
            "doc_id",
            "n_seg",
            "n_dup_seg",
            F.expr("(n_dup_seg * 1000000) div n_seg").alias("dup_frac_x1e6"),
        )
        .orderBy("doc_id")
    )


@register(
    "txt_importance_dsir",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, {SQL_MD5INT.format(x='tok')} % 4096 AS bucket FROM toks
),
lam AS (
  SELECT bucket,
         cast(floor(ln((count(*) FILTER (WHERE doc_id % 89 = 0) + 1)::double
                       / (count(*) FILTER (WHERE doc_id % 89 <> 0) + 1))
                    * 1000000 + 0.5) AS bigint) AS lam
  FROM hashed GROUP BY bucket
),
doc_toks AS (
  SELECT h.doc_id, h.bucket FROM hashed h WHERE h.doc_id % 89 <> 0
)
SELECT d.doc_id,
       cast(count(*) AS bigint) AS n_tok,
       cast(sum(l.lam) AS bigint) AS score,
       cast(sum(l.lam) AS bigint) // count(*) AS score_per_tok
FROM doc_toks d JOIN lam l ON l.bucket = d.bucket
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
    doc="DSIR-style importance weighting (Xie et al., 'Data Selection for "
    "Language Models via Importance Resampling'): hashed unigram features "
    "(md5 % 4096 buckets), per-bucket log-likelihood ratio between a "
    "target set (doc_id % 89 == 0 stands in for the downstream-domain "
    "sample) and the raw pool, and a per-document importance score as "
    "the sum of its tokens' ratios. The bucket-weight table is at most "
    "4096 rows regardless of corpus size, so it BROADCASTS and the "
    "scoring pass is scan + map-side join + one doc_id rollup. Ratios "
    "snapped to x1e6 integers (floor(x*1e6+0.5), the TF-IDF convention) "
    "so the sum is exact integer arithmetic.",
    tags=("text", "importance", "dsir", "sampling"),
)
def txt_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    docs = load_table(spark, sf_dir, "documents")
    # Pre-aggregate token occurrences to (doc, token) pairs BEFORE hashing:
    # within-doc duplicates collapse in the map-side partial aggregate (a
    # doc lives in one partition), so the md5 runs once per distinct pair
    # and the weighted counts flow as integers — ~25% faster than hashing
    # every occurrence, byte-identical result.
    pairs = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("doc_id", "c", (md5_int(F.col("tok")) % 4096).alias("bucket"))
    )
    tgt = F.col("doc_id") % 89 == 0
    lam = pairs.groupBy("bucket").agg(
        F.floor(
            F.log(
                (F.sum(F.when(tgt, F.col("c")).otherwise(0)) + 1).cast("double")
                / (F.sum(F.when(~tgt, F.col("c")).otherwise(0)) + 1)
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lam")
    )
    return (
        pairs.filter(~tgt)
        .join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(F.col("c") * F.col("lam")).alias("score"),
        )
        .select(
            "doc_id",
            "n_tok",
            "score",
            F.expr("score div n_tok").alias("score_per_tok"),
        )
        .orderBy("doc_id")
    )


def _mixture_weights(docs: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens, weight): per-source BPE-ish token
    totals and the temperature-damped weight floor(total^0.7 + 0.5)."""
    from p6_spark.operators.text import bpe_ish_token_count

    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )
    return per_src.withColumn(
        "weight",
        F.floor(F.pow(F.col("total_tokens").cast("double"), F.lit(0.7)) + F.lit(0.5)).cast(
            "long"
        ),
    )


@register(
    "txt_mixture_plan",
    oracle=f"""
WITH {SQL_MIXTURE_WEIGHTS}
SELECT source, n_docs, total_tokens, weight,
       (weight * 1000000) // (SELECT cast(sum(weight) AS bigint) FROM w) AS share_x1e6,
       (5000000 * ((weight * 1000000) // (SELECT cast(sum(weight) AS bigint) FROM w)))
         // 1000000 AS alloc_tokens,
       ((5000000 * ((weight * 1000000) // (SELECT cast(sum(weight) AS bigint) FROM w)))
         // 1000000 * 1000000) // total_tokens AS epochs_x1e6
FROM w
ORDER BY source
""",
    doc="Temperature-weighted source mixture planning (the sampling-weight "
    "pass behind multilingual/multi-source training mixes, e.g. "
    "p ~ size^alpha with alpha=0.7 as in mT5/XLM-R): per-source BPE-ish "
    "token totals, temperature-damped weights, normalized shares, a "
    "1M-token budget allocation, and the implied epochs-over-source "
    "(x1e6) that signals repetition risk. One scan + a 20-row rollup; "
    "the normalization term is a scalar subquery over the tiny "
    "per-source table, so at 100 TB everything after the scan is "
    "driver-trivial. pow() snapped to integer weights (floor(x+0.5)).",
    tags=("text", "mixture", "sampling", "planning"),
)
def txt_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = _mixture_weights(docs)
    total_w = F.sum("weight").over(Window.partitionBy())
    share = F.expr("(weight * 1000000) div total_w")
    return (
        w.withColumn("total_w", total_w)
        .withColumn("share_x1e6", share)
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "weight",
            "share_x1e6",
            F.expr("(5000000 * share_x1e6) div 1000000").alias("alloc_tokens"),
            F.expr("(((5000000 * share_x1e6) div 1000000) * 1000000) div total_tokens").alias("epochs_x1e6"),
        )
        .orderBy("source")
    )


@register(
    "txt_train_order",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, md5('shuffle42_' || cast(doc_id AS varchar)) AS order_key
  FROM documents
),
top AS (
  SELECT doc_id, source, order_key
  FROM keyed ORDER BY order_key, doc_id LIMIT 300
)
SELECT row_number() OVER (ORDER BY order_key, doc_id) AS pos,
       doc_id, source, order_key
FROM top
ORDER BY pos
""",
    doc="Deterministic training-order materialization: every document gets "
    "a seeded md5 shuffle key, and the first 300 positions of the global "
    "order are emitted with their rank. The order is reproducible across "
    "engines and runs (no RNG state), and the plan is scale-safe: the "
    "global sort is a top-k (TakeOrderedAndProject), never a "
    "single-partition full-corpus row_number — the full ordered corpus "
    "would be written out range-partitioned by the same key instead. "
    "Emitting source alongside pos shows the hash-interleaving of "
    "sources a trainer reads.",
    tags=("text", "ordering", "shuffle", "training"),
)
def txt_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit("shuffle42_"), F.col("doc_id").cast("string"))).alias(
            "order_key"
        ),
    )
    top = keyed.orderBy("order_key", "doc_id").limit(300)
    pos = F.row_number().over(Window.orderBy("order_key", "doc_id"))
    return top.select(
        pos.alias("pos"), "doc_id", "source", "order_key"
    ).orderBy("pos")


@register(
    "sim_centroid_stats",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
sums AS (
  SELECT e.label, g.i AS pos,
         cast(sum(qv[g.i]) AS bigint) AS s,
         cast(count(*) AS bigint) AS n
  FROM e, generate_series(1, 64) AS g(i)
  GROUP BY e.label, g.i
),
means AS (SELECT label, pos, n, s // n AS m FROM sums),
dists AS (
  SELECT e.vec_id, e.label,
         cast(sum((qv[m.pos] - m.m) * (qv[m.pos] - m.m)) AS bigint) AS dist2
  FROM e JOIN means m ON m.label = e.label
  GROUP BY e.vec_id, e.label
),
norms AS (
  SELECT label, cast(sum(m * m) AS bigint) AS centroid_norm2, any_value(n) AS n
  FROM means GROUP BY label
)
SELECT n.label, n.n, n.centroid_norm2,
       cast(sum(d.dist2) AS bigint) AS total_inertia,
       cast(sum(d.dist2) AS bigint) // n.n AS avg_inertia
FROM dists d JOIN norms n ON n.label = d.label
GROUP BY n.label, n.n, n.centroid_norm2
ORDER BY n.label
""",
    doc="Per-label centroid statistics in fixed-point integer space — the "
    "cluster-quality audit (inertia) behind any embedding-space "
    "partitioning. Distributed float averaging is order-dependent, which "
    "is exactly why sim_ivf_ann stays rows-only; here every element is "
    "quantized x1e4 to bigint FIRST, so the centroid sums are associative "
    "integer arithmetic and the whole result is hash-exact on any "
    "engine/partitioning. Plan: one tiny (label,pos) aggregate, the "
    "64x10-row mean table rebuilt as arrays and BROADCAST back, per-row "
    "distance in codegen, one label rollup — the embedding table itself "
    "never shuffles.",
    tags=("similarity", "centroid", "clustering"),
)
def sim_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.round(x.cast("double") * 10000, 0).cast("long"))
    e = emb.select("vec_id", "label", qv.alias("qv"))
    sums = (
        e.select("label", F.posexplode("qv").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    means = sums.select("label", "pos", "n", F.expr("s div n").alias("m"))
    mean_arrs = means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda st: st["m"]
        ).alias("m_arr"),
        F.sum(F.expr("m * m")).alias("centroid_norm2"),
        F.first("n").alias("n"),
    )
    dists = (
        e.join(F.broadcast(mean_arrs), "label")
        .select(
            "label",
            "n",
            "centroid_norm2",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("m_arr"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist2"),
        )
    )
    return (
        dists.groupBy("label", "n", "centroid_norm2")
        .agg(F.sum("dist2").alias("total_inertia"))
        .select(
            "label",
            "n",
            "centroid_norm2",
            "total_inertia",
            F.expr("total_inertia div n").alias("avg_inertia"),
        )
        .orderBy("label")
    )


@register(
    "txt_lm_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
),
cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT cast(sum(c) AS bigint) AS t FROM cnt),
vocab AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 1024),
lp AS (
  SELECT v.token,
         cast(round((ln(v.c) - ln(tot.t)) * 1000000, 0) AS bigint) AS lp_x1e6
  FROM vocab v, tot
),
scored AS (
  SELECT tok.doc_id,
         coalesce(lp.lp_x1e6,
                  -cast(round(ln(tot.t) * 1000000, 0) AS bigint)) AS lp_x1e6
  FROM tok LEFT JOIN lp ON lp.token = tok.token, tot
)
SELECT doc_id, count(*) AS n_tokens,
       cast(sum(lp_x1e6) AS bigint) AS sum_lp_x1e6,
       cast(sum(lp_x1e6) AS bigint) // count(*) AS avg_lp_x1e6
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
    doc="Unigram-LM document scoring — the CCNet/KenLM-style perplexity "
    "quality filter with the LM trained on the corpus itself: per-token "
    "log-prob ln(c)-ln(T) snapped to x1e6 bigints (the txt_tfidf "
    "convention), out-of-vocab floored at ln(1)-ln(T), per-doc sum and "
    "trunc-div average exactly reproducible cross-engine. Scale shape: "
    "the LM is a BOUNDED top-V vocab table (V=1024 here; the classic LM "
    "filter ships a fixed vocab) broadcast onto the token stream, so the "
    "corpus shuffles once on token for counting and once on doc_id for "
    "the rollup — the 100 TB plan is count, broadcast, scan.",
    tags=("text", "quality", "lm", "fixed-point"),
)
def txt_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    vocab = cnt.orderBy(F.desc("c"), F.asc("token")).limit(1024)
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round((F.log("c") - F.log("t")) * 1000000, 0).cast("long").alias("lp_x1e6"),
    )
    floor_lp = -F.round(F.log("t") * 1000000, 0).cast("long")
    scored = (
        tok.join(F.broadcast(lp), "token", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.coalesce(F.col("lp_x1e6"), floor_lp).alias("lp_x1e6"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_x1e6").alias("sum_lp_x1e6"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_lp_x1e6",
            F.expr("sum_lp_x1e6 div n_tokens").alias("avg_lp_x1e6"),
        )
        .orderBy("doc_id")
    )


@register(
    "txt_token_entropy",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
),
per AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         cast(sum(c) AS bigint) AS n_tokens,
         count(*) AS n_distinct,
         cast(sum(c * cast(round(ln(c) * 1000000, 0) AS bigint)) AS bigint) AS s
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       cast(round(ln(n_tokens) * 1000000, 0) AS bigint) - (s // n_tokens) AS h_x1e6,
       (n_distinct * 1000000) // n_tokens AS ttr_x1e6
FROM agg ORDER BY doc_id
""",
    doc="Per-document token-distribution entropy and type-token ratio — "
    "the diversity/gibberish axis of quality filtering (low entropy = "
    "repetitive spam, complements txt_repetition's top-ngram share). "
    "H = ln(n) - (1/n)*sum(c*ln c) computed entirely in x1e6-snapped "
    "bigints with trunc division, so the value is hash-exact across "
    "engines. One (doc_id, token) shuffle then a doc_id rollup that AQE "
    "reuses the same partitioning for; nothing but counts ever moves.",
    tags=("text", "quality", "entropy", "fixed-point"),
)
def txt_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    per = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.round(F.log("c") * 1000000, 0).cast("long")).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (
            F.round(F.log("n_tokens") * 1000000, 0).cast("long")
            - F.expr("s div n_tokens")
        ).alias("h_x1e6"),
        F.expr("(n_distinct * 1000000) div n_tokens").alias("ttr_x1e6"),
    ).orderBy("doc_id")


@register(
    "sim_gram_matrix",
    oracle="""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
el AS (
  SELECT e.vec_id, g.i AS pos, qv[g.i] AS v
  FROM e, generate_series(1, 64) AS g(i)
)
SELECT a.pos AS i, b.pos AS j,
       cast(sum(a.v * b.v) AS bigint) AS gram,
       count(*) AS n
FROM el a JOIN el b ON a.vec_id = b.vec_id AND b.pos >= a.pos
GROUP BY 1, 2
ORDER BY i, j
""",
    doc="Distributed Gram matrix X^T X over x1e4-quantized embeddings — "
    "the building block of PCA/whitening/linear probes (eigendecomposition "
    "of the dim x dim result is driver-side model work, like shipping "
    "k-means centroids). Per-row upper-triangle outer products expand "
    "map-side via a pos-indexed explode over slice(qv, i, ...) — no "
    "self-join, the embedding table is read once — and the single shuffle "
    "carries (i, j) keys: dim^2/2 groups regardless of corpus size. "
    "Integer products of quantized values make the 2080-entry matrix "
    "hash-exact on any engine/partitioning.",
    tags=("similarity", "linear-algebra", "fixed-point"),
)
def sim_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    prods = sim.gram_products(emb)
    return (
        prods.groupBy("i", "j")
        .agg(F.sum("p").alias("gram"), F.count(F.lit(1)).alias("n"))
        .orderBy("i", "j")
    )


@register(
    "q_kmv_distinct",
    oracle="""
WITH h AS (
  SELECT 'l_partkey' AS col, ('0x' || substr(md5(cast(l_partkey AS varchar)), 1, 8))::bigint AS h
  FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', ('0x' || substr(md5(cast(l_suppkey AS varchar)), 1, 8))::bigint FROM lineitem
  UNION ALL
  SELECT 'o_custkey', ('0x' || substr(md5(cast(o_custkey AS varchar)), 1, 8))::bigint FROM orders
),
d AS (SELECT DISTINCT col, h FROM h),
topk AS (
  SELECT col, h, row_number() OVER (PARTITION BY col ORDER BY h) AS rn
  FROM d
)
SELECT col,
       count(*) AS k_used,
       max(h) AS kth_min,
       CASE WHEN count(*) < 64 THEN count(*)
            ELSE (63 * 4294967296) // max(h) END AS est_distinct
FROM topk WHERE rn <= 64
GROUP BY col
ORDER BY col
""",
    doc="KMV (k-minimum-values) distinct-count sketch, k=64 — the "
    "deterministic, engine-portable counterpart of q_approx_sketches' "
    "HLL: built on md5 hashes, the k smallest distinct hash values and "
    "the (k-1)*2^32/kth_min estimate replay bit-for-bit in DuckDB, so "
    "an APPROXIMATE algorithm gets an EXACT oracle. Sub-k columns fall "
    "back to the exact count (the sketch IS exact below k). The demo "
    "pays one distinct shuffle per column; the production shape keeps a "
    "k-element heap per partition and merges (mergeable-sketch "
    "property), which this certifies the arithmetic of.",
    tags=("sketch", "distinct", "fixed-point"),
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    parts = [
        li.select(F.lit("l_partkey").alias("col"), md5_int(F.col("l_partkey")).alias("h")),
        li.select(F.lit("l_suppkey").alias("col"), md5_int(F.col("l_suppkey")).alias("h")),
        orders.select(F.lit("o_custkey").alias("col"), md5_int(F.col("o_custkey")).alias("h")),
    ]
    hashes = parts[0]
    for p in parts[1:]:
        hashes = hashes.unionAll(p)
    d = hashes.distinct()
    from pyspark.sql.window import Window as W

    topk = d.withColumn(
        "rn", F.row_number().over(W.partitionBy("col").orderBy("h"))
    ).filter(F.col("rn") <= 64)
    return (
        topk.groupBy("col")
        .agg(F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_min"))
        .select(
            "col",
            "k_used",
            "kth_min",
            F.when(F.col("k_used") < 64, F.col("k_used"))
            .otherwise(F.expr("(63 * 4294967296L) div kth_min"))
            .alias("est_distinct"),
        )
        .orderBy("col")
    )


@register(
    "dd_cluster_best",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
{sql_lsh_pairs()},
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
{sql_bounded_cc()},
ranked AS (
  SELECT comp.component, comp.node AS doc_id, d.n_chars,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY d.n_chars DESC, comp.node) AS rn,
         count(*) OVER (PARTITION BY comp.component) AS cluster_size
  FROM comp JOIN documents d ON d.doc_id = comp.node
)
SELECT component, doc_id AS rep_doc_id, n_chars AS rep_n_chars, cluster_size
FROM ranked WHERE rn = 1
ORDER BY component
""",
    doc="Cluster-representative selection — the step after duplicate "
    "clustering that the greedy keep-min-id rule gets wrong: within each "
    "connected component of the MinHash-LSH pair graph, keep the HIGHEST-"
    "QUALITY member (longest document here, doc_id tie-break), not an "
    "arbitrary one. Composes dd_cc_clusters' min-label components with a "
    "quality join + per-component ranking window: one extra broadcast-"
    "size join and one shuffle on component beyond the CC rounds. "
    "Oracle replays components via the BOUNDED-ROUND min-label twin "
    "(sql_bounded_cc — round-9, same skew1.0-feasibility fix as "
    "dd_cc_clusters) then applies the same window. "
    "Candidate graph carries the max_bucket=20 cap (see dd_cc_clusters).",
    tags=("dedup", "graph", "quality", "composition"),
)
def dd_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p6_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs, max_bucket=20)
    cc = connected_components(pairs)
    ranked = (
        cc.join(docs.select(F.col("doc_id"), "n_chars"), cc.node == F.col("doc_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("node"))
            ),
        )
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "cluster_size",
        )
        .orderBy("component")
    )


@register(
    "txt_mixture_sample",
    oracle=f"""
WITH {SQL_MIXTURE_WEIGHTS},
rates AS (
  SELECT source, n_docs, total_tokens,
         least(1000000,
           (5000000 * ((weight * 1000000) // (SELECT cast(sum(weight) AS bigint) FROM w))
             // 1000000 * 1000000) // total_tokens) AS rate_x1e6
  FROM w
),
picked AS (
  SELECT d.source, d.doc_id,
         len(regexp_extract_all(d.text,
             ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_tok,
         ('0x' || substr(md5('mix42_' || cast(d.doc_id AS varchar)), 1, 8))::bigint % 1000000 AS u
  FROM documents d
)
SELECT r.source, r.n_docs, r.rate_x1e6,
       count(*) FILTER (WHERE p.u < r.rate_x1e6) AS n_sampled,
       cast(coalesce(sum(p.n_tok) FILTER (WHERE p.u < r.rate_x1e6), 0) AS bigint) AS sampled_tokens
FROM rates r JOIN picked p ON p.source = r.source
GROUP BY r.source, r.n_docs, r.rate_x1e6
ORDER BY r.source
""",
    doc="Mixture MATERIALIZATION — turns txt_mixture_plan's temperature-"
    "damped (alpha=0.7) token allocation into an actual deterministic "
    "sample: per-source keep-rate = alloc/total capped at 1 (x1e6 "
    "integers), membership decided by a seeded md5 draw per doc_id — "
    "reproducible across engines and runs, no RNG state, and exactly "
    "the Bernoulli rate the plan asked for in expectation. The rate "
    "table is source-sized and broadcasts; the corpus scans once and "
    "the per-doc draw is a codegen expression, so at 100 TB this is a "
    "single pass. Emits the per-source realized sample for audit.",
    tags=("text", "mixture", "sampling", "composition"),
)
def txt_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p6_spark.operators.text import bpe_ish_token_count, md5_int

    docs = load_table(spark, sf_dir, "documents")
    w = _mixture_weights(docs)
    total_w = F.sum("weight").over(Window.partitionBy())
    rates = (
        w.withColumn("total_w", total_w)
        .withColumn("share_x1e6", F.expr("(weight * 1000000) div total_w"))
        .withColumn("alloc_tokens", F.expr("(5000000 * share_x1e6) div 1000000"))
        .select(
            "source",
            "n_docs",
            F.least(
                F.lit(1000000).cast("long"),
                F.expr("(alloc_tokens * 1000000) div total_tokens"),
            ).alias("rate_x1e6"),
        )
    )
    picked = docs.select(
        "source",
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_tok"),
        (md5_int(F.concat(F.lit("mix42_"), F.col("doc_id").cast("string"))) % 1000000).alias("u"),
    )
    kept = F.col("u") < F.col("rate_x1e6")
    return (
        picked.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "rate_x1e6")
        .agg(
            F.count(F.when(kept, 1)).alias("n_sampled"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0).cast("long")).alias(
                "sampled_tokens"
            ),
        )
        .orderBy("source")
    )


@register(
    "mm_frame_sample",
    oracle="""
WITH vids AS (
  SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       unnest(generate_series(0, cast(duration_ms AS bigint), 500)) AS frame_ts_ms
FROM vids
ORDER BY media_id, frame_ts_ms
""",
    doc="Video frame-sampling plumbing (operators/multimodal.sample_frames): "
    "documents re-cast as video rows (duration derived from n_chars), one "
    "output row per sampled timestamp via a computed-sequence explode — "
    "pure column logic that the per-frame decode mapInPandas stage would "
    "consume downstream. The explode is map-side (no shuffle, no Python); "
    "the oracle replays it with generate_series. At 100 TB the frame "
    "fan-out happens next to the payload bytes on the executor.",
    tags=("multimodal", "explode"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return sample_frames(media, every_ms=500).orderBy("media_id", "frame_ts_ms")


@register(
    "mm_resize",
    oracle="""
SELECT doc_id AS media_id,
       md5(text) AS digest,
       octet_length(encode(text)) AS n_bytes,
       224 AS width, 224 AS height
FROM documents WHERE doc_id % 3 = 0
ORDER BY media_id
""",
    doc="Image resize (operators/multimodal.resize_images): documents "
    "re-cast as image payloads routed through the Arrow mapInPandas "
    "resize stage. r11: a recognized binary-PPM payload is REALLY "
    "resized (nearest-neighbor resample + re-encode, stdlib codec, "
    "tests/test_multimodal_codec_r11.py); these opaque text payloads "
    "take the byte-identical passthrough arm, which is what the oracle "
    "certifies end-to-end via SQL facts: payload identity (md5), byte "
    "length, emitted dimensions. Payload bytes never leave the "
    "executor; Python sees Arrow batches.",
    tags=("multimodal", "mapinpandas"),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    out = resize_images(media, width=224, height=224)
    return out.select(
        "media_id",
        F.md5("payload").alias("digest"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        "width",
        "height",
    ).orderBy("media_id")


@register(
    "q_countmin_heavy",
    oracle=f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS}) AS token FROM documents
),
cnt AS (SELECT token, cast(count(*) AS bigint) AS true_count FROM tok GROUP BY 1),
cells AS (
  SELECT r.r AS row_idx,
         ('0x' || substr(md5(cast(r.r AS varchar) || '_' || token), 1, 8))::bigint % 256 AS cell,
         cast(count(*) AS bigint) AS c
  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS r) r
  GROUP BY 1, 2
),
top AS (
  SELECT token, true_count FROM cnt
  ORDER BY true_count DESC, token LIMIT 20
),
est AS (
  SELECT t.token, t.true_count, min(cl.c) AS est_count
  FROM top t
  JOIN (SELECT r.r AS row_idx,
               ('0x' || substr(md5(cast(r.r AS varchar) || '_' || t2.token), 1, 8))::bigint % 256 AS cell,
               t2.token
        FROM top t2, (SELECT unnest([0, 1, 2, 3]) AS r) r) probe
    ON probe.token = t.token
  JOIN cells cl ON cl.row_idx = probe.row_idx AND cl.cell = probe.cell
  GROUP BY t.token, t.true_count
)
SELECT token, true_count, est_count FROM est
ORDER BY true_count DESC, token
""",
    doc="Count-min sketch heavy hitters (4 x 256 cells over the token "
    "stream) — like q_kmv_distinct, an approximate algorithm whose state "
    "is EXACT integer arithmetic on portable md5 hashes, so the whole "
    "sketch (cells and min-estimates for the top-20 tokens) carries a "
    "DuckDB oracle; est >= true always, overshoot bounded by collisions "
    "(property-tested). Scale shape: the 4-cell expansion is map-side, "
    "the aggregate has a BOUNDED 1024 groups regardless of corpus size, "
    "and cells merge by addition — the mergeable-sketch property that "
    "lets 1000 executors each keep a local sketch and sum them.",
    tags=("sketch", "heavy-hitters", "fixed-point"),
)
def q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    rows4 = F.array(*[F.lit(i) for i in range(4)])
    cell = md5_int(F.concat(F.col("row_idx").cast("string"), F.lit("_"), F.col("token"))) % 256
    # collapse to vocabulary counts FIRST: md5 runs 4x per DISTINCT
    # token, not 4x per occurrence (the stream is ~1000x the vocab at
    # sf1.0 — the cells are identical because summing per-token counts
    # into a cell equals counting occurrences). Checkpointed: it feeds
    # both the cells subtree and the top-20.
    cnt = materialize(
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    expanded = cnt.select(
        "true_count", F.explode(rows4).alias("row_idx"), "token"
    ).select("true_count", "row_idx", cell.alias("cell"))
    cells = expanded.groupBy("row_idx", "cell").agg(
        F.sum("true_count").alias("c")
    )
    top = cnt.orderBy(F.desc("true_count"), F.asc("token")).limit(20)
    probes = top.select("token", "true_count", F.explode(rows4).alias("row_idx")).select(
        "token", "true_count", "row_idx", cell.alias("cell")
    )
    return (
        probes.join(F.broadcast(cells), ["row_idx", "cell"])
        .groupBy("token", "true_count")
        .agg(F.min("c").alias("est_count"))
        .orderBy(F.desc("true_count"), "token")
    )


@register(
    "pipe_ingest_stats",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, md5(text) AS content_md5,
         length(text) AS n_chars_m,
         len({SQL_TOKENS}) AS n_tokens,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         len(list_filter({SQL_TOKENS},
             x -> list_contains(['the','a','value','table','row'], lower(x)))) AS n_stop
  FROM documents
),
accepted AS (
  SELECT * FROM base
  WHERE n_tokens >= 5 AND n_digit * 10 <= n_chars_m * 3 AND n_stop * 20 >= n_tokens
)
SELECT source,
       count(*) AS n_accepted,
       count(DISTINCT content_md5) AS n_distinct_content,
       cast(sum(n_tokens) AS bigint) AS accepted_tokens
FROM accepted GROUP BY source ORDER BY source
""",
    doc="Batch twin of the streaming corpus-ingest pipeline "
    "(streaming/corpus.py): the same exact-integer quality rules "
    "(cross-multiplied thresholds, no float rounding anywhere) and "
    "content-hash identity, rolled up per source. The stream-equals-"
    "batch pytest ties the incremental path to this query; this oracle "
    "certifies the shared expression tree. One scan + a source-sized "
    "rollup; the md5 distinct is the only hash-wide aggregate.",
    tags=("pipeline", "streaming-parity", "quality"),
)
def pipe_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.streaming.corpus import ingest_filter

    docs = load_table(spark, sf_dir, "documents")
    return (
        ingest_filter(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_accepted"),
            F.countDistinct("content_md5").alias("n_distinct_content"),
            F.sum("n_tokens").alias("accepted_tokens"),
        )
        .orderBy("source")
    )


@register(
    "txt_bpe_pairs",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
idx AS (
  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM base WHERE len(t) >= 2
),
pairs AS (
  SELECT t[i] AS left_tok, t[i + 1] AS right_tok FROM idx
)
SELECT left_tok, right_tok, cast(count(*) AS bigint) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, left_tok, right_tok
LIMIT 30
""",
    doc="Adjacent-pair counting over the BPE-ish pretokenization — the "
    "inner loop of BPE/WordPiece tokenizer TRAINING (find the most "
    "frequent adjacent pair, merge, repeat; this is one scan of that "
    "loop, the part that runs at corpus scale). Pair expansion is "
    "map-side (zip each token array against its own tail — no join, no "
    "Python); the single shuffle carries (left,right) vocab-bounded "
    "keys with map-side partial counts. Top-30 via TakeOrderedAndProject.",
    tags=("text", "tokenizer", "bpe"),
)
def txt_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import bpe_ish_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(bpe_ish_tokens(F.col("text")), lambda x: x != "")
    pairs = (
        docs.select(t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p")
        )
    )
    return (
        pairs.select(F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok"))
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_tok", "right_tok")
        .limit(30)
    )


@register(
    "txt_stutter_scrub",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
  FROM base WHERE len(t) >= 1
),
kept AS (
  SELECT doc_id, t[i] AS tok, i
  FROM idx WHERE i = 1 OR t[i] <> t[i - 1]
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS scrubbed
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       len(b.t) AS n_tokens,
       len(b.t) - coalesce(len(string_split(r.scrubbed, ' ')), 0) AS n_removed,
       md5(coalesce(r.scrubbed, '')) AS scrubbed_md5
FROM base b LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
ORDER BY b.doc_id
""",
    doc="Stutter scrub — the content TRANSFORM side of repetition "
    "handling (txt_repetition only scores): collapse immediately "
    "repeated tokens (OCR/crawler stutter like 'the the') by zipping "
    "the token array against its own shifted self and keeping "
    "mismatches. Pure per-row higher-order array expressions — zero "
    "shuffle, zero Python, embarrassingly parallel over the scan. The "
    "output is certified by content hash (md5 of the rebuilt text), "
    "the same convention as txt_pii_scrub.",
    tags=("text", "scrub", "transform"),
)
def txt_stutter_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t"))
    # keep token i if i == 0 or t[i] != t[i-1]: zip with the 1-shifted
    # self (prepend a sentinel null so index 0 always survives)
    shifted = F.concat(F.array(F.lit(None).cast("string")), F.col("t"))
    keep_flags = F.zip_with(
        F.col("t"),
        F.slice(shifted, 1, F.size("t")),
        lambda cur, prev: prev.isNull() | (cur != prev),
    )
    kept = F.filter(
        F.zip_with(
            F.col("t"), keep_flags, lambda tok, k: F.struct(tok.alias("tok"), k.alias("k"))
        ),
        lambda s: s["k"],
    )
    scrubbed = F.concat_ws(" ", F.transform(kept, lambda s: s["tok"]))
    return base.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


@register(
    "txt_pmi_bigrams",
    oracle=f"""
WITH base AS (
  SELECT {SQL_TOKENS} AS t FROM documents
),
uni AS (
  SELECT unnest(t) AS tok FROM base
),
ucnt AS (SELECT tok, cast(count(*) AS bigint) AS c FROM uni GROUP BY 1),
utot AS (SELECT cast(sum(c) AS bigint) AS u FROM ucnt),
idx AS (
  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
  FROM base WHERE len(t) >= 2
),
bcnt AS (
  SELECT t[i] AS l, t[i + 1] AS r, cast(count(*) AS bigint) AS c
  FROM idx GROUP BY 1, 2
),
btot AS (SELECT cast(sum(c) AS bigint) AS b FROM bcnt),
top AS (
  SELECT l, r, c FROM bcnt ORDER BY c DESC, l, r LIMIT 30
)
SELECT top.l AS left_tok, top.r AS right_tok, top.c AS pair_count,
       cast(round(ln(top.c) * 1000000, 0) AS bigint)
       - cast(round(ln(btot.b) * 1000000, 0) AS bigint)
       - cast(round(ln(cl.c) * 1000000, 0) AS bigint)
       - cast(round(ln(cr.c) * 1000000, 0) AS bigint)
       + 2 * cast(round(ln(utot.u) * 1000000, 0) AS bigint) AS pmi_x1e6
FROM top
JOIN ucnt cl ON cl.tok = top.l
JOIN ucnt cr ON cr.tok = top.r
CROSS JOIN btot CROSS JOIN utot
ORDER BY pair_count DESC, left_tok, right_tok
""",
    doc="Pointwise mutual information for the top bigrams — the classic "
    "collocation statistic behind phrase mining and tokenizer merge "
    "scoring: PMI = ln(p(ab)/(p(a)p(b))), decomposed into per-term "
    "x1e6-snapped ln values summed as integers so both engines agree "
    "exactly. Unigram and bigram counts each shuffle once on "
    "vocab-bounded keys; the count totals ride broadcast scalars and "
    "the top-30 LIST is what broadcasts (the vocab-sized unigram "
    "table streams past it — it grows with the corpus and must never "
    "be the build side; fixed round 11 with the broadcast sweep).",
    tags=("text", "statistics", "collocation", "fixed-point"),
)
def txt_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(_tokens(F.col("text")).alias("t"))
    uni = base.select(F.explode("t").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    utot = ucnt.agg(F.sum("c").cast("long").alias("u"))
    pairs = (
        base.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p")
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    )
    bcnt = pairs.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c"))
    btot = bcnt.agg(F.sum("c").cast("long").alias("b"))
    top = bcnt.orderBy(F.desc("c"), "l", "r").limit(30)
    ln6 = lambda c: F.round(F.log(c) * 1000000, 0).cast("long")  # noqa: E731
    cl = ucnt.select(F.col("tok").alias("l"), ln6(F.col("c")).alias("ln_cl"))
    cr = ucnt.select(F.col("tok").alias("r"), ln6(F.col("c")).alias("ln_cr"))
    # Broadcast the 30-ROW top side, never the vocab-sized unigram
    # table: ucnt grows with the corpus (Heaps' law — at 100 TB the
    # distinct-token table is billions of rows), so hinting it was the
    # same unbounded-broadcast cliff round 11 guarded in
    # dd_contamination. The top-30 list streams the unigram counts
    # past it twice; re-hinting the ≤30-row join result keeps the
    # second probe a broadcast too.
    t1 = cl.join(F.broadcast(top), "l")
    t2 = cr.join(F.broadcast(t1), "r")
    return (
        t2.crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(utot))
        .select(
            F.col("l").alias("left_tok"),
            F.col("r").alias("right_tok"),
            F.col("c").alias("pair_count"),
            (
                ln6(F.col("c"))
                - ln6(F.col("b"))
                - F.col("ln_cl")
                - F.col("ln_cr")
                + 2 * ln6(F.col("u"))
            ).alias("pmi_x1e6"),
        )
        .orderBy(F.desc("pair_count"), "left_tok", "right_tok")
    )


@register(
    "txt_score_calibration",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         len({SQL_TOKENS}) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_tokens,
         percent_rank() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS pr
  FROM scored
),
bucketed AS (
  SELECT source,
         cast(floor(pr * 10) AS bigint) AS decile
  FROM ranked
)
SELECT source, CASE WHEN decile = 10 THEN 9 ELSE decile END AS decile,
       count(*) AS n
FROM bucketed
GROUP BY 1, 2
ORDER BY source, decile
""",
    doc="Cross-source score calibration by quantile normalization — the "
    "fix for 'source A's quality scores aren't comparable to source "
    "B's': replace raw scores with their within-source percent_rank, "
    "then bucket into deciles (rank ties broken by doc_id so the "
    "percent_rank is deterministic; the top rank folds into decile 9). "
    "One shuffle on source for the window, decile rollup reuses it. "
    "percent_rank = (rank-1)/(n-1) is exact rational arithmetic in "
    "IEEE doubles for these magnitudes, so both engines bucket "
    "identically.",
    tags=("text", "quality", "calibration", "window"),
)
def txt_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    decile = F.floor(F.col("pr") * 10).cast("long")
    return (
        ranked.select(
            "source",
            F.when(decile == 10, F.lit(9).cast("long")).otherwise(decile).alias("decile"),
        )
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "decile")
    )


@register(
    "dd_weighted_sample",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, n_chars,
         (('0x' || substr(md5('wsamp42_' || cast(doc_id AS varchar)), 1, 8))::bigint + 1)
           / 4294967297.0 AS u
  FROM documents
),
keyed AS (
  SELECT doc_id, source, n_chars,
         ln(u) / n_chars AS key
  FROM base WHERE n_chars > 0
)
SELECT doc_id, source, n_chars
FROM keyed
ORDER BY key DESC, doc_id
LIMIT 50
""",
    doc="Deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): each doc draws u from a seeded md5 uniform and is "
    "keyed by ln(u)/weight (weight = n_chars); the top-50 keys ARE the "
    "weighted sample. Identical IEEE arithmetic on both engines (same "
    "u, same ln, same division) with doc_id tie-break makes the sample "
    "reproducible cross-engine — no RNG state anywhere. Map-side key "
    "computation + TakeOrderedAndProject; at 100 TB this is the "
    "standard one-pass distributed weighted reservoir.",
    tags=("sampling", "weighted", "deterministic"),
)
def dd_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    docs = load_table(spark, sf_dir, "documents")
    u = (md5_int(F.concat(F.lit("wsamp42_"), F.col("doc_id").cast("string"))) + 1) / F.lit(
        4294967297.0
    )
    keyed = docs.filter(F.col("n_chars") > 0).select(
        "doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("key")
    )
    return (
        keyed.orderBy(F.desc("key"), "doc_id")
        .limit(50)
        .select("doc_id", "source", "n_chars")
    )


@register(
    "sim_contrastive_pairs",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
el AS (
  SELECT e.vec_id, e.label, g.i AS pos, qv[g.i] AS v
  FROM e, generate_series(1, 64) AS g(i)
),
q AS (SELECT vec_id, label FROM e WHERE vec_id < 8),
pos_d AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         cast(sum((ea.v - eb.v) * (ea.v - eb.v)) AS bigint) AS dist2
  FROM q a
  JOIN e b ON b.label = (SELECT label FROM e WHERE vec_id = a.vec_id)
          AND b.vec_id <> a.vec_id
  JOIN el ea ON ea.vec_id = a.vec_id
  JOIN el eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
  GROUP BY 1, 2
),
best_pos AS (
  SELECT query_id, match_id, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, match_id) AS rn
    FROM pos_d
  ) WHERE rn = 1
),
neg AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY ('0x' || substr(md5('neg42_' || cast(a.vec_id AS varchar) || '_'
                     || cast(b.vec_id AS varchar)), 1, 8))::bigint, b.vec_id) AS rn
  FROM q a JOIN e b
    ON b.label <> (SELECT label FROM e WHERE vec_id = a.vec_id)
),
picked_neg AS (SELECT query_id, match_id FROM neg WHERE rn <= 3)
SELECT query_id, 'pos' AS pair_type, match_id, dist2 FROM best_pos
UNION ALL
SELECT query_id, 'neg', match_id, NULL FROM picked_neg
ORDER BY query_id, pair_type DESC, match_id
""",
    doc="Contrastive pair mining for embedding training: per query, the "
    "hardest available positive (nearest same-label neighbor by "
    "quantized integer L2) and 3 seeded-md5-drawn negatives from other "
    "labels — deterministic across engines/runs with no RNG state. "
    "Scale shape: positives ride the label-blocked join "
    "(dd_embedding_neardup's pattern — quadratic only within blocks); "
    "negatives are a hash-ranked sample of the complement, computed "
    "with one window over the (query x non-label) candidate stream. "
    "The 8-query demo broadcast-joins; a full training run partitions "
    "queries.",
    tags=("similarity", "contrastive", "training", "fixed-point"),
)
def sim_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p6_spark.operators.ivf import quantize
    from p6_spark.operators.text import md5_int

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", quantize(F.col("embedding")).alias("qv"))
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("qv").alias("q_qv"),
    )
    d2 = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pos = (
        F.broadcast(q)
        .join(e, (q.q_label == e.label) & (q.query_id != e.vec_id))
        .select("query_id", F.col("vec_id").alias("match_id"), d2.alias("dist2"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist2", "match_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("query_id", F.lit("pos").alias("pair_type"), "match_id", "dist2")
    )
    negkey = md5_int(
        F.concat(
            F.lit("neg42_"),
            F.col("query_id").cast("string"),
            F.lit("_"),
            F.col("vec_id").cast("string"),
        )
    )
    neg = (
        F.broadcast(q.select("query_id", "q_label"))
        .join(e, q.q_label != e.label)
        .select("query_id", F.col("vec_id").alias("match_id"), negkey.alias("k"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("query_id").orderBy("k", "match_id")),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "query_id",
            F.lit("neg").alias("pair_type"),
            "match_id",
            F.lit(None).cast("long").alias("dist2"),
        )
    )
    return pos.unionAll(neg).orderBy("query_id", F.desc("pair_type"), "match_id")


@register(
    "pipe_data_card",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars,
         md5(text) AS content_md5,
         len({SQL_TOKENS}) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT *, percent_rank() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS pr
  FROM base
)
SELECT source,
       count(*) AS n_docs,
       cast(sum(n_tokens) AS bigint) AS total_tokens,
       count(DISTINCT content_md5) AS n_unique_content,
       count(*) - count(DISTINCT content_md5) AS n_exact_dups,
       count(DISTINCT lang) AS n_langs,
       cast(min(n_tokens) AS bigint) AS min_tokens,
       cast(max(n_tokens) AS bigint) AS max_tokens,
       cast(sum(n_tokens) AS bigint) // count(*) AS mean_tokens_trunc,
       cast(min(CASE WHEN pr >= 0.5 THEN n_tokens END) AS bigint) AS p50_tokens
FROM ranked
GROUP BY source
ORDER BY source
""",
    doc="Data card — the per-source corpus summary a dataset release "
    "ships: volume (docs, tokens), exact-dup rate (distinct content "
    "md5), language mix, token-length distribution (min/max/trunc-mean "
    "and the percent_rank-derived median, all integers). One scan, one "
    "source-partitioned window, one rollup — the whole report is a "
    "single query over the raw corpus, no intermediate tables.",
    tags=("pipeline", "report", "statistics"),
)
def pipe_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("content_md5"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = base.withColumn("pr", F.percent_rank().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("content_md5").alias("n_unique_content"),
            (F.count(F.lit(1)) - F.countDistinct("content_md5")).alias("n_exact_dups"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.expr("sum(n_tokens) div count(1)").alias("mean_tokens_trunc"),
            F.min(F.when(F.col("pr") >= 0.5, F.col("n_tokens"))).alias("p50_tokens"),
        )
        .orderBy("source")
    )


@register(
    "txt_nb_langid",
    oracle=f"""
WITH pairs AS (
  SELECT doc_id, tok, cast(count(*) AS bigint) AS c FROM (
    SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
  ) GROUP BY 1, 2
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::bigint % 4096 AS bucket, c
  FROM pairs
),
actual AS (SELECT doc_id, lang FROM documents),
cls AS (
  SELECT h.bucket, a.lang, cast(sum(h.c) AS bigint) AS c
  FROM hashed h JOIN actual a USING (doc_id)
  GROUP BY 1, 2
),
cls_tot AS (
  SELECT lang, cast(sum(c) AS bigint) AS tot,
         cast(count(DISTINCT 1) AS bigint) AS _one
  FROM cls GROUP BY lang
),
prior AS (
  SELECT lang, cast(count(*) AS bigint) AS nd FROM actual GROUP BY 1
),
n_all AS (SELECT cast(count(*) AS bigint) AS n FROM actual),
langs AS (SELECT DISTINCT lang FROM actual),
scored AS (
  SELECT h.doc_id, l.lang,
         cast(sum(h.c * (
           cast(round(ln(coalesce(cl.c, 0) + 1) * 1000000, 0) AS bigint)
           - cast(round(ln(ct.tot + 4096) * 1000000, 0) AS bigint)
         )) AS bigint) AS like_score
  FROM hashed h
  CROSS JOIN langs l
  LEFT JOIN cls cl ON cl.bucket = h.bucket AND cl.lang = l.lang
  JOIN cls_tot ct ON ct.lang = l.lang
  GROUP BY 1, 2
),
full_score AS (
  SELECT s.doc_id, s.lang,
         s.like_score
         + cast(round(ln(p.nd) * 1000000, 0) AS bigint)
         - cast(round(ln(n_all.n) * 1000000, 0) AS bigint) AS score
  FROM scored s JOIN prior p ON p.lang = s.lang CROSS JOIN n_all
),
pred AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM full_score
  ) WHERE rn = 1
)
SELECT a.lang AS actual_lang, p.pred_lang, count(*) AS n
FROM actual a JOIN pred p USING (doc_id)
GROUP BY 1, 2
ORDER BY actual_lang, pred_lang
""",
    doc="Naive-Bayes language classifier, trained and applied in one "
    "query, certified cross-engine: hashed-token features (4096 "
    "buckets), Laplace-smoothed per-class log-likelihoods and priors "
    "all snapped to x1e6 bigints, argmax with a deterministic "
    "tie-break, confusion matrix out. An actual ML train+predict loop "
    "whose every number has an exact DuckDB twin. Scale shape: class "
    "stats are (4096 x n_classes) — broadcast-sized for any corpus; "
    "scoring expands (doc,bucket) x classes, the standard bounded NB "
    "join; one doc-keyed window picks the argmax.",
    tags=("text", "ml", "classifier", "fixed-point"),
)
def txt_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from p6_spark.operators.text import md5_int
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hashed = pairs.select(
        "doc_id", (md5_int(F.col("tok")) % 4096).alias("bucket"), F.col("c").alias("tc")
    )
    actual = docs.select("doc_id", "lang")
    cls = (
        hashed.join(actual, "doc_id")
        .groupBy("bucket", "lang")
        .agg(F.sum("tc").alias("cc"))
    )
    cls_tot = cls.groupBy("lang").agg(F.sum("cc").alias("tot"))
    prior = actual.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    n_all = actual.agg(F.count(F.lit(1)).cast("long").alias("n"))
    langs = actual.select("lang").distinct()
    ln6 = lambda c: F.round(F.log(c) * 1000000, 0).cast("long")  # noqa: E731
    scored = (
        hashed.crossJoin(F.broadcast(langs))
        .join(F.broadcast(cls), ["bucket", "lang"], "left")
        .join(F.broadcast(cls_tot), "lang")
        .select(
            "doc_id",
            "lang",
            (
                F.col("tc")
                * (ln6(F.coalesce(F.col("cc"), F.lit(0)) + 1) - ln6(F.col("tot") + 4096))
            ).alias("term"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum("term").alias("like_score"))
    )
    full = (
        scored.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(n_all))
        .select(
            "doc_id",
            "lang",
            (F.col("like_score") + ln6(F.col("nd")) - ln6(F.col("n"))).alias("score"),
        )
    )
    pred = (
        full.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        actual.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("actual_lang"), "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual_lang", "pred_lang")
    )


@register(
    "q_graph_triangles",
    oracle=f"""
WITH {sql_minhash_sig('TRUE')},
{sql_lsh_pairs(select='a.doc_id AS u, b.doc_id AS v')},
deg AS (
  SELECT node, cast(count(*) AS bigint) AS degree FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT max(degree) FROM deg) AS max_degree,
       (SELECT n_triangles FROM tri) AS n_triangles
""",
    doc="Triangle counting + degree stats over the MinHash-LSH candidate "
    "graph — the standard duplicate-graph density audit (many triangles "
    "= dense near-dup clusters; the greedy pair-drop rule over-/under-"
    "drops exactly there). Oriented edge list (u<v) joined twice: "
    "e1(u,v) x e2(v,w) closed by e3(u,w) — each triangle counted once. "
    "Two shuffles on node ids; degree skew is the known hazard and the "
    "oriented orientation (low id -> high id) is the classic mitigation "
    "(wedge work lands on low-degree endpoints). Candidate graph "
    "carries the max_bucket=20 cap (see dd_cc_clusters) — with it the "
    "triangle-join oracle certifies at sf1.0 instead of being "
    "quadratic-excluded.",
    tags=("graph", "triangles", "dedup"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    # localCheckpoint: pairs is referenced 4x (e1/e2/e3/stats) — truncate
    # the LSH lineage once instead of re-executing it per reference
    pairs = materialize(
        dd.lsh_candidate_pairs(sigs, max_bucket=20)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = pairs
    e2 = pairs.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = pairs.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    tri = (
        e1.join(e2, "v")
        .join(e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = pairs.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(
            deg.agg(
                F.count(F.lit(1)).alias("n_nodes"), F.max("degree").alias("max_degree")
            )
        )
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_edges", "n_nodes", "max_degree", "n_triangles"
    )


@register(
    "q_incremental_monthly",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       o_orderpriority,
       count(*) AS n_orders,
       cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
FROM orders
GROUP BY 1, 2
ORDER BY month, o_orderpriority
""",
    doc="Incremental MV maintenance, certified: the monthly rollup is "
    "computed the INCREMENTAL way — daily partial aggregates "
    "(operators/incremental.daily_order_partials) re-aggregated to "
    "months, never touching the fact twice — while the oracle computes "
    "it DIRECT from the fact table. Equality is precisely the "
    "mergeability theorem the 100 TB never-re-scan-history pattern "
    "rests on (cent-scaled bigint sums merge exactly; the HLL distinct "
    "sketch column is pytest-pinned separately since sketch bytes are "
    "engine-specific).",
    tags=("incremental", "mv", "agg"),
)
def q_incremental_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.incremental import daily_order_partials

    orders = load_table(spark, sf_dir, "orders")
    partials = daily_order_partials(orders).drop("cust_sketch")
    return (
        partials.groupBy(
            F.substring("day", 1, 7).alias("month"), "o_orderpriority"
        )
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("cents").alias("cents"))
        .orderBy("month", "o_orderpriority")
    )


@register(
    "dd_levenshtein_pairs",
    oracle="""
WITH p AS (
  SELECT doc_id, source, substr(text, 1, 40) AS pfx
  FROM documents WHERE text IS NOT NULL
),
ordered AS (
  SELECT source, doc_id, pfx,
         row_number() OVER (PARTITION BY source ORDER BY pfx, doc_id) AS rn
  FROM p
),
pairs AS (
  SELECT a.source,
         levenshtein(a.pfx, b.pfx) AS dist
  FROM ordered a JOIN ordered b
    ON a.source = b.source AND b.rn - a.rn BETWEEN 1 AND 5
)
SELECT source,
       count(*) AS n_pairs,
       count(*) FILTER (WHERE dist <= 10) AS n_close,
       cast(min(dist) AS bigint) AS min_dist
FROM pairs
GROUP BY source ORDER BY source
""",
    doc="Edit-distance near-dup for SHORT fields (titles, names, URLs — "
    "modeled by 40-char prefixes): Levenshtein over SORTED-NEIGHBORHOOD "
    "candidate pairs — within each source block, rows sort by prefix "
    "and each row is compared only to its next 5 neighbors (the classic "
    "windowed record-linkage scheme, er_sorted_neighborhood's pattern, "
    "here via 5 lead() columns + posexplode: one window sort per block, "
    "O(n*w) comparisons). Round-4 scale fix: the original all-pairs-"
    "within-source version was a constant-block quadratic — source "
    "cardinality is FIXED (20), so 10x docs meant 100x pairs (62M "
    "Levenshtein DPs at sf1.0, caught by the sf1.0 decade sweep); "
    "sorted-neighborhood is the textbook linear-work replacement and "
    "lexicographically-close prefixes are exactly where short-field "
    "edit-distance near-dups live. Both engines implement the same "
    "textbook DP, probe-verified identical; the 40-char cap bounds "
    "each DP.",
    tags=("dedup", "levenshtein", "blocking", "scale"),
)
def dd_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    p = docs.select("doc_id", "source", F.substring("text", 1, 40).alias("pfx"))
    w = W.partitionBy("source").orderBy("pfx", "doc_id")
    leads = p.select(
        "source",
        "pfx",
        F.array(*[F.lead("pfx", k).over(w) for k in range(1, 6)]).alias("nbrs"),
    )
    pairs = leads.select(
        "source",
        F.explode(F.filter(F.col("nbrs"), lambda x: x.isNotNull())).alias(
            "pfx_b"
        ),
        "pfx",
    ).select("source", F.levenshtein("pfx", "pfx_b").alias("dist"))
    return (
        pairs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("dist") <= 10, 1)).alias("n_close"),
            F.min("dist").cast("long").alias("min_dist"),
        )
        .orderBy("source")
    )


@register(
    "txt_skipgram_pairs",
    oracle=f"""
WITH base AS (
  SELECT {SQL_TOKENS} AS t FROM documents
),
idx AS (
  SELECT t, unnest(generate_series(1, len(t))) AS i
  FROM base WHERE len(t) >= 2
),
offs AS (SELECT unnest([1, 2, 3]) AS k),
pairs AS (
  SELECT t[i] AS center, t[i + k] AS context
  FROM idx, offs
  WHERE i + k <= len(t)
)
SELECT center, context, cast(count(*) AS bigint) AS n
FROM pairs
GROUP BY 1, 2
ORDER BY n DESC, center, context
LIMIT 30
""",
    doc="Skip-gram (center, context) pair extraction with window 3 — the "
    "word2vec/GloVe co-occurrence data-prep pass, generalizing "
    "txt_bpe_pairs' adjacency to a context window. Each position "
    "zips against three shifted copies of its own array (map-side, no "
    "join, no Python); the single shuffle carries vocab^2-bounded pair "
    "keys with map-side partial counts. Forward-only pairs (the "
    "symmetric count doubles them) keep the count canonical.",
    tags=("text", "skipgram", "embedding-prep"),
)
def txt_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(_tokens(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    n = F.size("t")
    pair_arrays = [
        F.zip_with(
            F.slice("t", 1, F.greatest(n - k, F.lit(0))),
            F.slice("t", 1 + k, F.greatest(n - k, F.lit(0))),
            lambda a, b: F.struct(a.alias("center"), b.alias("context")),
        )
        for k in (1, 2, 3)
    ]
    pairs = base.select(
        F.explode(F.concat(*pair_arrays)).alias("p")
    ).select(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "center", "context")
        .limit(30)
    )
