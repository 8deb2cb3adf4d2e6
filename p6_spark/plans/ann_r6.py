"""IVF+PQ composed ANN search (round 6): the production vector-index
architecture (Jegou et al., "Product Quantization for Nearest Neighbor
Search" — FAISS's IndexIVFPQ): an IVF coarse quantizer prunes the
corpus to n_probe centroid lists per query, and inside the probed
lists the ranking reads ONLY the per-vector PQ codes via the query's
precomputed asymmetric-distance lookup table — the full-precision
vectors are never touched after indexing. At 100 TB this is THE
operating point: the coarse index caps the scan at n_probe/k of the
corpus and the PQ codes cut the bytes-per-vector ~32x, so a petabyte
of floats is searched from the codes file alone.

A genuine composition of two already-certified stages: the coarse
model is bit-identical to sim_ivf_ann's fixed-point Lloyd build
(plans/twins.SQL_IVF_MODEL replays it), and the codes/LUT are
bit-identical to sim_pq_search's sign-grid codebook
(plans/twins.sql_pq_codes and sql_pq_lut) — so the composed oracle
reuses both CTE chains verbatim and every emitted value stays an exact integer.

Reference scope: the reference engine has no vector surface at all
(it is a clinical pandas CLI); this family exists for the harness's
LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from p6_spark.materialize import materialize
from p6_spark.operators.similarity import pq_adc_lut, pq_code_array
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_IVF_MODEL, sql_pq_codes, sql_pq_lut, sql_ranker_legs
from p6_spark.sources.tables import load_table

_N_PROBE = 2
_TOP_K = 5


@register(
    "sim_ivfpq_search",
    oracle=f"""
WITH {SQL_IVF_MODEL},
probes AS (
  SELECT query_id, cid FROM (
    SELECT vec_id AS query_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM df WHERE vec_id < 3
  ) WHERE rn <= {_N_PROBE}
),
cand AS (
  SELECT p.query_id, af.vec_id AS match_id
  FROM probes p JOIN af ON af.cid = p.cid
  WHERE af.vec_id <> p.query_id
),
ef AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
{sql_pq_codes("ef")},
{sql_pq_lut("ef")},
scored AS (
  SELECT c.query_id, c.match_id, cast(sum(l.adc) AS bigint) AS adc_x1000
  FROM cand c
  JOIN codes k ON k.vec_id = c.match_id
  JOIN lut l ON l.qid = c.query_id AND l.sub = k.sub AND l.code = k.code
  GROUP BY 1, 2
)
SELECT query_id, rnk, match_id, adc_x1000 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_x1000 DESC, match_id) AS rnk
  FROM scored
) WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
""",
    doc="IVF+PQ composed ANN top-k (FAISS IndexIVFPQ shape): the "
    "fixed-point IVF coarse quantizer (sim_ivf_ann's exact model — "
    "md5-seeded, two trunc-div Lloyd rounds over x1e4 bigints) prunes "
    f"each query to its {_N_PROBE} nearest centroid lists, then ADC "
    "ranking inside the probed lists reads ONLY the 8 sign-grid PQ "
    "codes per vector against the query's broadcast 8x256 LUT "
    "(sim_pq_search's exact codebook; x1000-long inner products). "
    "The corpus is touched twice, both linearly: once to assign+code "
    "(index build), once filtered to probed lists for scoring — no "
    "full-precision vector is read at query time. Final top-k is a "
    "query-partitioned window over candidate rows only. Every value "
    "is an exact integer, so the full build+probe+ADC chain replays "
    "in the DuckDB oracle.",
    tags=("similarity", "ivf", "quantization", "ann", "fixed-point"),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ivf import (
        _assign_fixed,
        _centroid_array_long,
        _sq_dist_long,
        quantize,
        train_centroids_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Round-11: one materialized quantized projection feeds the seed
    # scan, both Lloyd rounds, and the coarse assignment (previously 4
    # parquet re-reads + re-quantizes). The PQ code pass still reads
    # the raw floats — it needs the un-quantized sign grid.
    qc = materialize(
        emb.select(
            "vec_id", quantize(F.col("embedding")).alias("qv")
        )
    )
    model = train_centroids_fixed(qc, k=8, iters=2, vec_col="qv", pre_quantized=True)

    # index build: coarse list assignment + PQ codes, one corpus pass each
    assigned = _assign_fixed(
        qc.select(F.col("vec_id").alias("match_id"), F.col("qv").alias("mqv")),
        "mqv",
        model,
    ).select("match_id", "cid")

    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select(F.col("vec_id").alias("match_id"), v.alias("v"))
    codes = e.select("match_id", F.explode(pq_code_array(F.col("v"))).alias("c")).select(
        "match_id", F.col("c.sub").alias("sub"), F.col("c.code").alias("code")
    )

    # query side: n_probe nearest lists (integer L2 against the model)
    # + the x1000 ADC lookup table — both broadcast-sized
    carr = _centroid_array_long(model)
    dists = F.transform(
        carr,
        lambda c: F.struct(
            _sq_dist_long(F.col("qqv"), c["cvec"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    probes = F.slice(F.array_sort(dists), 1, _N_PROBE)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        quantize(F.col("embedding")).alias("qqv"),
        F.expr(
            "transform(transform(embedding, x -> cast(x as double)),"
            " x -> cast(round(x * 1000, 0) as bigint))"
        ).alias("qi"),
    )
    qp = F.broadcast(
        q.select("qid", F.explode(F.transform(probes, lambda p: p["cid"])).alias("cid"))
    )
    lut = F.broadcast(pq_adc_lut(spark, q))

    cand = (
        assigned.join(qp, "cid")
        .filter(F.col("match_id") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), "match_id")
    )
    scored = (
        cand.join(codes, "match_id")
        .join(lut.withColumnRenamed("qid", "query_id"), ["query_id", "sub", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("adc").cast("long").alias("adc_x1000"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("adc_x1000"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "rnk", "match_id", "adc_x1000")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of dense + lexical rankers
# ---------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant
_RRF_LIST_DEPTH = 20  # per-ranker candidate depth
_RRF_TOP = 10


def _ranker_legs(emb: DataFrame, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two top-_RRF_LIST_DEPTH legs per query doc (vec_id/doc_id < 3;
    the tables are id-aligned): dense (qid, match_id, drnk) by round-6
    cosine, and lexical (qid, match_id, lrnk) by exact x1e6
    distinct-token Jaccard over a posting equi-join."""
    from p6_spark.operators import dedup as dd
    from p6_spark.operators import similarity as sim

    dense = (
        sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=_RRF_LIST_DEPTH)
        .select(F.col("query_id").alias("qid"), "match_id", F.col("rnk").alias("drnk"))
    )

    toks = materialize(dd.distinct_tokens(docs, "doc_id", "text"))
    tsz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    qt = toks.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("qid"), "tok"
    )
    inter = (
        F.broadcast(qt)
        .join(toks.select(F.col("doc_id").alias("match_id"), "tok"), "tok")
        .filter(F.col("match_id") != F.col("qid"))
        .groupBy("qid", "match_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    wl = W.partitionBy("qid").orderBy(
        F.desc(
            F.expr("(n_common * cast(1000000 as bigint)) div (n_q + n_m - n_common)")
        ),
        F.asc("match_id"),
    )
    lex = (
        inter.join(
            tsz.select(F.col("doc_id").alias("qid"), F.col("n_tok").alias("n_q")),
            "qid",
        )
        .join(
            tsz.select(
                F.col("doc_id").alias("match_id"), F.col("n_tok").alias("n_m")
            ),
            "match_id",
        )
        .withColumn("lrnk", F.row_number().over(wl))
        .filter(F.col("lrnk") <= _RRF_LIST_DEPTH)
        .select("qid", "match_id", "lrnk")
    )
    return dense, lex


@register(
    "sim_hybrid_rrf",
    oracle=f"""
WITH {sql_ranker_legs(_RRF_LIST_DEPTH)},
fused AS (
  SELECT coalesce(d.qid, l.qid) AS query_id,
         coalesce(d.match_id, l.match_id) AS match_id,
         cast(coalesce(1000000 // ({_RRF_K} + d.rnk), 0)
              + coalesce(1000000 // ({_RRF_K} + l.rnk), 0) AS bigint) AS rrf_x1e6,
         cast(d.rnk AS bigint) AS dense_rnk,
         cast(l.rnk AS bigint) AS lex_rnk
  FROM dense d FULL JOIN lex l ON l.qid = d.qid AND l.match_id = d.match_id
)
SELECT query_id, rnk, match_id, rrf_x1e6, dense_rnk, lex_rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_x1e6 DESC, match_id) AS rnk
  FROM fused
) WHERE rnk <= {_RRF_TOP}
ORDER BY query_id, rnk
""",
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al., "
    "'Reciprocal Rank Fusion outperforms Condorcet'): each query doc "
    "(vec_id < 3; the embeddings and documents tables are id-aligned) "
    f"retrieves a dense top-{_RRF_LIST_DEPTH} (round-6 cosine, the "
    "sim_cosine_topk baseline) and a lexical top-"
    f"{_RRF_LIST_DEPTH} (exact x1e6 distinct-token Jaccard through a "
    "posting equi-join — only docs sharing a term are ever scored, the "
    "inverted-index shape), then fuses on rrf = sum over lists of "
    f"1e6 div ({_RRF_K} + rank) — exact integers, so ties and ordering "
    "replay in DuckDB. The full-outer union keeps single-list hits "
    "with NULL rank on the missing leg (standard RRF over the union). "
    "At scale each leg is the certified retrieval operator it reuses "
    "(ANN for dense, postings for lexical); the fusion itself is "
    "rank-only — list-depth-bounded rows per query, no score "
    "calibration across heterogeneous rankers needed.",
    tags=("similarity", "retrieval", "rag", "fixed-point"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dense, lex = _ranker_legs(emb, load_table(spark, sf_dir, "documents"))

    fused = (
        dense.join(lex, ["qid", "match_id"], "full")
        .select(
            F.col("qid").alias("query_id"),
            "match_id",
            (
                F.coalesce(
                    F.expr(f"cast(1000000 as bigint) div ({_RRF_K} + drnk)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"cast(1000000 as bigint) div ({_RRF_K} + lrnk)"), F.lit(0)
                )
            ).cast("long").alias("rrf_x1e6"),
            F.col("drnk").cast("long").alias("dense_rnk"),
            F.col("lrnk").cast("long").alias("lex_rnk"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_x1e6"), F.asc("match_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= _RRF_TOP)
        .select("query_id", "rnk", "match_id", "rrf_x1e6", "dense_rnk", "lex_rnk")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Ranker agreement: overlap@k + Kendall tau between dense and lexical
# ---------------------------------------------------------------------------


@register(
    "sim_ranker_agreement",
    oracle=f"""
WITH {sql_ranker_legs(_RRF_LIST_DEPTH)},
shared AS (
  SELECT d.qid, d.match_id, d.rnk AS drnk, l.rnk AS lrnk
  FROM dense d JOIN lex l ON l.qid = d.qid AND l.match_id = d.match_id
),
pairs AS (
  SELECT a.qid,
         cast(count(*) FILTER (WHERE (a.drnk - b.drnk) * (a.lrnk - b.lrnk) > 0)
              AS bigint) AS n_conc,
         cast(count(*) FILTER (WHERE (a.drnk - b.drnk) * (a.lrnk - b.lrnk) < 0)
              AS bigint) AS n_disc
  FROM shared a JOIN shared b ON b.qid = a.qid AND a.match_id < b.match_id
  GROUP BY a.qid
),
base AS (
  SELECT qid, cast(count(*) AS bigint) AS n_shared FROM shared GROUP BY qid
)
SELECT q.qid AS query_id,
       coalesce(b.n_shared, 0) AS n_shared,
       cast(coalesce(b.n_shared, 0) * 1000000
            // ({2 * _RRF_LIST_DEPTH} - coalesce(b.n_shared, 0)) AS bigint)
         AS jac20_x1e6,
       coalesce(p.n_conc, 0) AS n_conc,
       coalesce(p.n_disc, 0) AS n_disc,
       cast(CASE WHEN coalesce(b.n_shared, 0) < 2 THEN 0
                 ELSE (coalesce(p.n_conc, 0) - coalesce(p.n_disc, 0)) * 1000000
                      // (b.n_shared * (b.n_shared - 1) / 2) END AS bigint)
         AS tau_x1e6
FROM q
LEFT JOIN base b ON b.qid = q.qid
LEFT JOIN pairs p ON p.qid = q.qid
ORDER BY query_id
""",
    doc="Ranker-agreement report for the hybrid-retrieval stack: per "
    f"query, the dense (round-6 cosine) and lexical (posting-join exact "
    f"Jaccard) top-{_RRF_LIST_DEPTH} lists — the same two legs "
    "sim_hybrid_rrf fuses — are compared by overlap (shared docs + "
    "x1e6 Jaccard of the two sets) and Kendall tau over the shared "
    "docs' rank pairs (row_number ranks are tie-free, so no tie "
    "correction; tau = (C - D) x1e6 div C(n,2), 0 when n_shared < 2). "
    "This is the diagnostic that decides whether fusion is worth "
    "running: tau near 1 means the rankers are redundant, near 0 "
    "complementary. Shared lists are depth-bounded, so the pair stage "
    f"is <= C({_RRF_LIST_DEPTH},2) rows per query — constant work per "
    "query at any corpus size. All integers; full DuckDB replay.",
    tags=("similarity", "evaluation", "retrieval", "fixed-point"),
)
def sim_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dense, lex = _ranker_legs(emb, load_table(spark, sf_dir, "documents"))

    shared = materialize(dense.join(lex, ["qid", "match_id"]))
    a, b = shared.alias("a"), shared.alias("b")
    disagree = (F.col("a.drnk") - F.col("b.drnk")) * (
        F.col("a.lrnk") - F.col("b.lrnk")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.match_id") < F.col("b.match_id")),
        )
        .groupBy(F.col("a.qid").alias("qid"))
        .agg(
            F.count(F.when(disagree > 0, 1)).alias("n_conc"),
            F.count(F.when(disagree < 0, 1)).alias("n_disc"),
        )
    )
    base = shared.groupBy("qid").agg(F.count(F.lit(1)).alias("n_shared"))

    qs = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"))
    return (
        qs.join(base, "qid", "left")
        .join(pairs, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            F.expr(
                f"cast(coalesce(n_shared, 0) * cast(1000000 as bigint)"
                f" div ({2 * _RRF_LIST_DEPTH} - coalesce(n_shared, 0)) as bigint)"
            ).alias("jac20_x1e6"),
            F.coalesce(F.col("n_conc"), F.lit(0)).cast("long").alias("n_conc"),
            F.coalesce(F.col("n_disc"), F.lit(0)).cast("long").alias("n_disc"),
            F.expr(
                "cast(CASE WHEN coalesce(n_shared, 0) < 2 THEN 0"
                " ELSE (coalesce(n_conc, 0) - coalesce(n_disc, 0))"
                " * cast(1000000 as bigint)"
                " div (n_shared * (n_shared - 1) div 2) END as bigint)"
            ).alias("tau_x1e6"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance: assign a new batch, report drift
# ---------------------------------------------------------------------------

_SQL_IVF_CORPUS = SQL_IVF_MODEL.replace(
    "FROM embeddings\n)", "FROM embeddings WHERE vec_id % 4 <> 0\n)"
)


@register(
    "sim_ivf_incremental",
    oracle=f"""
WITH {_SQL_IVF_CORPUS},
eb AS (
  SELECT vec_id,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings WHERE vec_id % 4 = 0
),
elb AS (
  SELECT eb.vec_id, g.i AS pos, qv[g.i] AS v
  FROM eb, generate_series(1, 64) AS g(i)
),
dbb AS (
  SELECT elb.vec_id, c.cid, sum((elb.v - c.m) * (elb.v - c.m)) AS d
  FROM elb JOIN c2 c ON c.pos = elb.pos
  GROUP BY elb.vec_id, c.cid
),
ab AS (
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dbb
  ) WHERE rn = 1
),
acs AS (
  SELECT af.cid, cast(count(*) AS bigint) AS n_corpus,
         cast(sum(df.d) AS bigint) AS sd_c
  FROM af JOIN df ON df.vec_id = af.vec_id AND df.cid = af.cid
  GROUP BY af.cid
),
abs_ AS (
  SELECT cid, cast(count(*) AS bigint) AS n_batch,
         cast(sum(d) AS bigint) AS sd_b
  FROM ab GROUP BY cid
),
grid AS (SELECT unnest(generate_series(0, 7)) AS cid)
SELECT g.cid,
       coalesce(c.n_corpus, 0) AS n_corpus,
       coalesce(b.n_batch, 0) AS n_batch,
       cast(coalesce(b.n_batch, 0) * 1000000
            // greatest(coalesce(c.n_corpus, 0), 1) AS bigint) AS growth_x1e6,
       cast(CASE WHEN coalesce(c.n_corpus, 0) = 0 THEN 0
                 ELSE c.sd_c // c.n_corpus END AS bigint) AS mean_d2_corpus,
       cast(CASE WHEN coalesce(b.n_batch, 0) = 0 THEN 0
                 ELSE b.sd_b // b.n_batch END AS bigint) AS mean_d2_batch
FROM grid g
LEFT JOIN acs c ON c.cid = g.cid
LEFT JOIN abs_ b ON b.cid = g.cid
ORDER BY g.cid
""",
    doc="Incremental IVF index maintenance: the coarse quantizer is "
    "trained on the EXISTING corpus only (vec_id % 4 <> 0; same "
    "fixed-point Lloyd build as sim_ivf_ann), then the new increment "
    "assigns into the frozen centroid lists — no retrain per ingest, "
    "exactly how production vector indexes absorb writes between "
    "rebuilds. Per list: corpus/batch occupancy, x1e6 growth ratio, "
    "and mean integer-L2 distortion of each population — rising batch "
    "distortion or lopsided growth is THE retrain/rebalance trigger. "
    "Assignment is the codegen argmin fold; per-list stats are one "
    "8-row aggregate each; only the k x dim model crosses the driver. "
    "All integers; the oracle replays the corpus-only Lloyd build via "
    "the sim_ivf_ann CTE chain filtered to the corpus.",
    tags=("similarity", "ivf", "incremental", "fixed-point"),
)
def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ivf import (
        _assign_fixed,
        _centroid_array_long,
        _sq_dist_long,
        quantize,
        train_centroids_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    model = train_centroids_fixed(corpus, k=8, iters=2)
    carr = _centroid_array_long(model)

    def _stats(df: DataFrame, n_name: str, d_name: str) -> DataFrame:
        a = _assign_fixed(
            df.select(quantize(F.col("embedding")).alias("qv")), "qv", model
        )
        a = a.withColumn(
            "d2",
            _sq_dist_long(F.col("qv"), F.element_at(carr, F.col("cid") + 1)["cvec"]),
        )
        return a.groupBy("cid").agg(
            F.count(F.lit(1)).alias(n_name), F.sum("d2").alias(d_name)
        )

    cs = _stats(corpus, "n_corpus", "sd_c")
    bs = _stats(batch, "n_batch", "sd_b")
    grid = spark.range(8).select(F.col("id").cast("int").alias("cid"))
    return (
        grid.join(cs, "cid", "left")
        .join(bs, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_corpus", F.lit(0)).cast("long").alias("n_corpus"),
            F.coalesce("n_batch", F.lit(0)).cast("long").alias("n_batch"),
            F.expr(
                "cast(coalesce(n_batch, 0) * cast(1000000 as bigint)"
                " div greatest(coalesce(n_corpus, 0), cast(1 as bigint))"
                " as bigint)"
            ).alias("growth_x1e6"),
            F.expr(
                "cast(CASE WHEN coalesce(n_corpus, 0) = 0 THEN 0"
                " ELSE sd_c div n_corpus END as bigint)"
            ).alias("mean_d2_corpus"),
            F.expr(
                "cast(CASE WHEN coalesce(n_batch, 0) = 0 THEN 0"
                " ELSE sd_b div n_batch END as bigint)"
            ).alias("mean_d2_batch"),
        )
        .orderBy("cid")
    )
