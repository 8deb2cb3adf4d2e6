"""Retrieval and entity-resolution structures: sorted-neighborhood
candidate generation, an inverted index build, and a Bloom-filter
membership probe — the index-shaped operators a 100 TB dedup/retrieval
pipeline runs before any expensive pairwise work.

All hashes are the engine-portable md5 bigint (operators/text.md5_int ==
DuckDB ('0x' || substr(md5(x),1,8))::bigint), so every oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.operators.text import md5_int, tokens
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MD5INT, SQL_TOKENS, sql_lsh_pairs, sql_minhash_sig
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Sorted-neighborhood candidate pairs
# ---------------------------------------------------------------------------


@register(
    "er_sorted_neighborhood",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, n_chars, n_chars // 16 AS blk,
         list_sort(list_distinct({SQL_TOKENS})) AS toks
  FROM documents
),
ordered AS (
  SELECT doc_id, n_chars, blk, toks,
         row_number() OVER (PARTITION BY blk ORDER BY n_chars, doc_id) AS pos
  FROM toks
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_chars AS chars_a, b.n_chars AS chars_b,
         len(list_intersect(a.toks, b.toks)) AS overlap,
         len(a.toks) AS na, len(b.toks) AS nb
  FROM ordered a JOIN ordered b
    ON a.blk = b.blk AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
)
SELECT doc_a, doc_b, chars_a, chars_b, overlap,
       cast((overlap::HUGEINT * 1000000) // (na + nb - overlap) AS bigint) AS jacc_x1e6
FROM pairs
WHERE (overlap * 1000000) // (na + nb - overlap) >= 500000
ORDER BY jacc_x1e6 DESC, doc_a, doc_b
""",
    doc="Sorted-neighborhood entity resolution, block-local: documents "
    "partition into 16-char length blocks and are sorted WITHIN each "
    "block (length, then id for a total order); each row compares only "
    "to its next 3 in-block neighbors — O(n*w) comparisons instead of "
    "O(n^2), the classic windowed-blocking alternative to LSH. The "
    "block partitioning keeps the sort window parallel (no global "
    "single-partition Window — each block sorts independently, exactly "
    "how multi-pass sorted-neighborhood shards at 100 TB; cross-block "
    "near-boundary pairs are the documented blocking tradeoff, "
    "recovered in practice by a second pass on a different key). "
    "Candidate pairs with distinct-token Jaccard >= 0.5 survive, x1e6 "
    "integer trunc-division.",
    tags=("dedup", "er", "window", "fixed-point"),
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.expr("n_chars div 16").alias("blk"),
        F.array_sort(F.array_distinct(tokens(F.col("text")))).alias("toks"),
    )
    w = W.partitionBy("blk").orderBy("n_chars", "doc_id")
    neigh = toks.select(
        "doc_id",
        "n_chars",
        "toks",
        *[
            F.lead(c, off).over(w).alias(f"{c}_{off}")
            for off in (1, 2, 3)
            for c in ("doc_id", "n_chars", "toks")
        ],
    )
    pair_frames = []
    for off in (1, 2, 3):
        pair_frames.append(
            neigh.filter(F.col(f"doc_id_{off}").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col(f"doc_id_{off}").alias("doc_b"),
                F.col("n_chars").alias("chars_a"),
                F.col(f"n_chars_{off}").alias("chars_b"),
                F.size(F.array_intersect("toks", f"toks_{off}")).alias("overlap"),
                F.size("toks").alias("na"),
                F.size(f"toks_{off}").alias("nb"),
            )
        )
    pairs = pair_frames[0].unionByName(pair_frames[1]).unionByName(pair_frames[2])
    jacc = F.expr(
        "cast((cast(overlap as decimal(38,0)) * 1000000)"
        " div (na + nb - overlap) as bigint)"
    )
    return (
        pairs.withColumn("jacc_x1e6", jacc)
        .filter(F.col("jacc_x1e6") >= 500000)
        .select("doc_a", "doc_b", "chars_a", "chars_b", "overlap", "jacc_x1e6")
        .orderBy(F.desc("jacc_x1e6"), "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Inverted index build
# ---------------------------------------------------------------------------


@register(
    "txt_inverted_index",
    oracle=f"""
WITH posting AS (
  SELECT unnest({SQL_TOKENS}) AS token, doc_id
  FROM documents
),
idx AS (
  SELECT token,
         count(DISTINCT doc_id) AS df,
         count(*) AS cf,
         array_to_string(list_transform(list_slice(list_sort(list(DISTINCT doc_id)), 1, 10),
                                        x -> cast(x AS varchar)), ',')
           AS head_postings
  FROM posting
  GROUP BY token
)
SELECT token, df, cf, head_postings
FROM idx
ORDER BY df DESC, token
LIMIT 20
""",
    doc="Inverted-index build: token -> document frequency, collection "
    "frequency, and the head of the sorted posting list (first 10 "
    "doc_ids, comma-joined so the driver hash is order-stable). One "
    "explode + one token-partitioned aggregate — the same shuffle a "
    "full-corpus index build does; posting lists stay distributed, only "
    "the top-20 summary reaches the driver.",
    tags=("text", "index", "agg"),
)
def txt_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    posting = docs.select(
        F.explode(tokens(F.col("text"))).alias("token"), "doc_id"
    )
    # df = size of the SAME distinct-doc set the head-postings column
    # already collects — spelling it countDistinct alongside collect_set
    # made Spark plan the distinct aggregate via Expand (every posting
    # row duplicated into a distinct-branch and a plain branch: 2x the
    # shuffle rows of the biggest stage). One collected set, df/head
    # both derived from it (round 12, guide §2.3 — shuffle fewer bytes).
    idx = posting.groupBy("token").agg(
        F.count(F.lit(1)).alias("cf"),
        F.array_sort(F.collect_set("doc_id")).alias("_docs"),
    ).select(
        "token",
        F.size("_docs").cast("long").alias("df"),
        "cf",
        F.array_join(
            F.transform(F.slice("_docs", 1, 10), lambda x: x.cast("string")),
            ",",
        ).alias("head_postings"),
    ).select("token", "df", "cf", "head_postings")
    return idx.orderBy(F.desc("df"), "token").limit(20)


# ---------------------------------------------------------------------------
# Bloom-filter membership probe
# ---------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_K = 3


def _sql_bloom_pos(key: str, i: int) -> str:
    seeded = "'" + str(i) + "_' || " + key
    return SQL_MD5INT.format(x=seeded) + " % " + str(_BLOOM_M)


@register(
    "dd_bloom_probe",
    oracle=f"""
WITH members AS (SELECT DISTINCT o_custkey AS key FROM orders),
bits AS (
  SELECT DISTINCT pos FROM members,
    LATERAL (SELECT unnest([{", ".join(_sql_bloom_pos('key', i) for i in range(_BLOOM_K))}]) AS pos) p
),
probe AS (
  SELECT c_custkey, c_mktsegment,
         unnest([{", ".join(_sql_bloom_pos('c_custkey', i) for i in range(_BLOOM_K))}]) AS pos
  FROM customer
),
hits AS (
  SELECT c_custkey, c_mktsegment, count(*) AS n_hit
  FROM probe JOIN bits USING (pos)
  GROUP BY c_custkey, c_mktsegment
),
verdicts AS (
  SELECT c.c_custkey, c.c_mktsegment,
         coalesce(h.n_hit, 0) = {_BLOOM_K} AS bloom_pos,
         EXISTS (SELECT 1 FROM members m WHERE m.key = c.c_custkey) AS is_member
  FROM customer c LEFT JOIN hits h
    ON c.c_custkey = h.c_custkey AND c.c_mktsegment = h.c_mktsegment
)
SELECT c_mktsegment,
       count(*) AS n_probes,
       cast(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS bigint) AS n_members,
       cast(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS bigint) AS n_bloom_pos,
       cast(sum(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END) AS bigint)
         AS n_false_pos,
       cast(sum(CASE WHEN NOT bloom_pos AND is_member THEN 1 ELSE 0 END) AS bigint)
         AS n_false_neg
FROM verdicts
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    doc="Bloom-filter membership probe with engine-portable hashing: the "
    "ordering-customer key set is folded into a 4096-bit / 3-hash Bloom "
    "filter represented as a DISTINCT set-bit table (<= 4096 rows, "
    "broadcast), and every customer is probed against it. Reports "
    "per-segment false-positive counts — and n_false_neg, pinned 0 by "
    "construction, as the correctness sentinel. This is the build-side "
    "pre-join pruning structure (runtime-filter style): at 100 TB the "
    "bit table broadcasts for free while the probe side never shuffles.",
    tags=("dedup", "bloom", "join", "scale"),
)
def dd_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def bloom_positions(key: F.Column) -> F.Column:
        return F.array(
            *[
                (md5_int(F.concat(F.lit(f"{i}_"), key.cast("string"))) % _BLOOM_M)
                for i in range(_BLOOM_K)
            ]
        )

    members = orders.select(F.col("o_custkey").alias("key")).distinct()
    bits = (
        members.select(F.explode(bloom_positions(F.col("key"))).alias("pos"))
        .distinct()
    )
    probe = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(bloom_positions(F.col("c_custkey"))).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    verdicts = (
        cust.join(hits, ["c_custkey", "c_mktsegment"], "left")
        .join(
            members.withColumnRenamed("key", "c_custkey").withColumn(
                "is_member", F.lit(True)
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_mktsegment",
            (F.coalesce(F.col("n_hit"), F.lit(0)) == _BLOOM_K).alias("bloom_pos"),
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
    )
    return (
        verdicts.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_members"),
            F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0)).alias("n_bloom_pos"),
            F.sum(
                F.when(F.col("bloom_pos") & ~F.col("is_member"), 1).otherwise(0)
            ).alias("n_false_pos"),
            F.sum(
                F.when(~F.col("bloom_pos") & F.col("is_member"), 1).otherwise(0)
            ).alias("n_false_neg"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup candidate graph
# ---------------------------------------------------------------------------


def _sql_kcore_round(prev_edges: str, r: int, k: int) -> str:
    """One peeling round: degrees over prev edge set, keep nodes with
    degree >= k, keep edges whose both endpoints survive."""
    # MATERIALIZED: DuckDB inlines CTEs by default, so each reference to
    # the previous edge set would re-run the whole LSH self-join chain —
    # at sf0.1 that recomputation spills tens of GB. Materializing each
    # round pins the oracle to the same once-per-round evaluation the
    # Spark side does.
    return f"""
d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM {prev_edges} UNION ALL SELECT v FROM {prev_edges}
  ) GROUP BY node
),
k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
e{r} AS MATERIALIZED (
  SELECT u, v FROM {prev_edges}
  WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r})
)"""


@register(
    "q_graph_kcore",
    oracle=(
        "WITH "
        + sql_minhash_sig("TRUE").lstrip().lstrip("\n")
        + ",\n"
        + sql_lsh_pairs(
            name="e0", select="a.doc_id AS u, b.doc_id AS v", materialized=True, compact=True
        )
        + ","
        + _sql_kcore_round("e0", 1, 2)
        + ","
        + _sql_kcore_round("e1", 2, 2)
        + ","
        + _sql_kcore_round("e2", 3, 2)
        + """
SELECT * FROM (
  SELECT 1 AS round, (SELECT count(*) FROM k1) AS n_nodes, (SELECT count(*) FROM e1) AS n_edges
  UNION ALL
  SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
  UNION ALL
  SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
) ORDER BY round
"""
    ),
    doc="2-core peeling of the MinHash-LSH candidate graph, 3 unrolled "
    "rounds: drop degree-<2 nodes, drop their edges, repeat. The "
    "surviving core is where transitive near-dup clusters live (tree-ish "
    "spurious candidates peel away) — the standard pre-filter before "
    "running connected components at corpus scale. Each round is one "
    "degree aggregate + two semi joins on node ids; round count is fixed "
    "so the whole decomposition is a static 3-stage plan, no driver "
    "iteration. Emits (round, n_nodes, n_edges) so convergence is "
    "visible in the result. Round-4 scale fix: candidate edges come "
    "from buckets with <= 20 members only (lsh_candidate_pairs "
    "max_bucket) — the harness corpus's ~30-word vocabulary makes "
    "minhash values concentrate, so uncapped buckets held most of the "
    "corpus and the bucket self-join went quadratic at sf1.0; "
    "oversized buckets are non-discriminative noise and dropping them "
    "is the standard production guard (pair count becomes linear in "
    "corpus size).",
    tags=("graph", "dedup", "iterative"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint (the pagerank pattern): every unrolled round
    # references the previous edge set 3x (degree agg + 2 semi joins)
    # and the stats union re-references all of them, so without lineage
    # truncation the LSH self-join chain re-executes combinatorially
    # (~44s at sf0.1 in the round-4 iterative bench; seconds after).
    # Eager cut (operators/graph.py round-12 discipline): every round
    # reads the previous edge set three times (degree agg + two semi
    # joins), so the round-11 lazy cut + size-guarded broadcasts left a
    # multiply-referenced un-persisted frame — the scheme behind the
    # driver's 32-core regression. Blocks land before round 1 reads
    # them; the semi joins plan as plain exchange joins again.
    edges = materialize(
        dd.lsh_candidate_pairs(dd.minhash_signatures(docs), max_bucket=20)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    stats = []
    cur = edges
    for r in (1, 2, 3):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 2).select("node")
        cur = materialize(
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        stats.append(
            keep.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(cur.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(F.lit(r).alias("round"), "n_nodes", "n_edges")
        )
    out = stats[0].unionByName(stats[1]).unionByName(stats[2])
    return out.orderBy("round")
