"""Retrieval scoring and in-engine linear algebra, certified exactly:
BM25 (the standard lexical ranking function) evaluated in pure rational
integer arithmetic, dominant-eigenvector power iteration over the
integer Gram matrix, and a simplified-silhouette clustering audit —
each with a DuckDB twin replaying the identical integer steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.operators.similarity import gram_products
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_IVF_MODEL, SQL_TOKENS
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# BM25 in exact rational arithmetic
# ---------------------------------------------------------------------------

_BM25_QUERY = ("vector", "stream", "window")
# k1 = 6/5, b = 3/4. With T = total corpus tokens, N = n_docs, dl = doc
# length, avgdl = T/N, the tf component
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# multiplies out to the integer-exact   44*tf*T / (20*tf*T + 6*T + 18*dl*N).


@register(
    "txt_bm25",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents),
dl AS (SELECT doc_id, cast(count(*) AS bigint) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast(sum(dl) AS bigint) AS t_total
  FROM dl
),
qtf AS (
  SELECT doc_id, t, cast(count(*) AS bigint) AS tf
  FROM tok WHERE t IN {_BM25_QUERY!r}
  GROUP BY doc_id, t
),
df AS (SELECT t, cast(count(*) AS bigint) AS df FROM qtf GROUP BY t),
idf AS (
  SELECT t,
         cast(round(ln(2 * s.n - 2 * df + 1) * 1000000, 0) AS bigint)
           - cast(round(ln(2 * df + 1) * 1000000, 0) AS bigint) AS idf_x1e6
  FROM df, stats s
),
scored AS (
  SELECT q.doc_id,
         cast((i.idf_x1e6::HUGEINT * 44 * q.tf * s.t_total)
              // (20 * q.tf::HUGEINT * s.t_total + 6 * s.t_total
                  + 18 * d.dl::HUGEINT * s.n) AS bigint) AS term_score_x1e6
  FROM qtf q
  JOIN dl d ON d.doc_id = q.doc_id
  JOIN idf i ON i.t = q.t
  CROSS JOIN stats s
)
SELECT doc_id, cast(sum(term_score_x1e6) AS bigint) AS bm25_x1e6,
       cast(count(*) AS bigint) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25_x1e6 DESC, doc_id
LIMIT 20
""",
    doc="BM25 top-20 for a fixed 3-term query, EXACT: with rational "
    "constants k1=6/5, b=3/4, the tf-normalization term multiplies out "
    "to 44*tf*T / (20*tf*T + 6*T + 18*dl*N) — pure integers (T = corpus "
    "tokens, N = docs), and the Robertson idf is two x1e6-snapped lns of "
    "integers. The plan is the retrieval shape that scales: postings "
    "restricted to the query terms FIRST (qtf is query-sized, not "
    "corpus-sized), doc-length and 1-row corpus stats join on, "
    "per-term scores sum per doc, TakeOrderedAndProject takes 20. "
    "Complements txt_tfidf (weights) and txt_inverted_index (postings).",
    tags=("text", "retrieval", "bm25", "fixed-point"),
)
def txt_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tok

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t_total")
    )
    qtf = (
        tok.filter(F.col("t").isin(*_BM25_QUERY))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = qtf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df.crossJoin(F.broadcast(stats)).select(
        "t",
        (
            F.round(F.log(2 * F.col("n") - 2 * F.col("df") + 1) * 1000000, 0).cast(
                "long"
            )
            - F.round(F.log(2 * F.col("df") + 1) * 1000000, 0).cast("long")
        ).alias("idf_x1e6"),
    )
    scored = (
        qtf.join(dl, "doc_id")
        .join(F.broadcast(idf), "t")
        .crossJoin(F.broadcast(stats))  # 1-row scalar attach
        .select(
            "doc_id",
            F.expr(
                "cast((cast(idf_x1e6 as decimal(38,0)) * 44 * tf * t_total)"
                " div (20 * cast(tf as decimal(38,0)) * t_total + 6 * t_total"
                " + 18 * cast(dl as decimal(38,0)) * n) as bigint)"
            ).alias("term_score_x1e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score_x1e6").alias("bm25_x1e6"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25_x1e6"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Power iteration on the integer Gram matrix
# ---------------------------------------------------------------------------

_PI_SCALE = 10000
_PI_ITERS = 3


def _sql_power_iteration() -> str:
    # full symmetric gram from the upper triangle, then 3 unrolled rounds of
    # v <- (G v) * SCALE div max|G v|
    steps = []
    prev = "v0"
    for k in range(1, _PI_ITERS + 1):
        steps.append(
            f"""mv{k} AS (
  SELECT g.i, cast(sum(g.gram::HUGEINT * v.v) AS HUGEINT) AS mv
  FROM gramf g JOIN {prev} v ON v.i = g.j GROUP BY g.i
),
v{k} AS (
  SELECT i, cast((mv * {_PI_SCALE}) // (SELECT max(abs(mv)) FROM mv{k}) AS bigint) AS v
  FROM mv{k}
)"""
        )
        prev = f"v{k}"
    chain = ",\n".join(steps)
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
el AS (
  SELECT e.vec_id, g.i AS pos, qv[g.i] AS v
  FROM e, generate_series(1, 64) AS g(i)
),
gram AS (
  SELECT a.pos AS i, b.pos AS j, cast(sum(a.v * b.v) AS bigint) AS gram
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND b.pos >= a.pos
  GROUP BY 1, 2
),
gramf AS (
  SELECT i, j, gram FROM gram
  UNION ALL
  SELECT j, i, gram FROM gram WHERE i <> j
),
v0 AS (SELECT unnest(generate_series(1, 64)) AS i, {_PI_SCALE}::bigint AS v),
{chain},
mv_final AS (
  SELECT g.i, cast(sum(g.gram::HUGEINT * v.v) AS HUGEINT) AS mv
  FROM gramf g JOIN v{_PI_ITERS} v ON v.i = g.j GROUP BY g.i
),
ray AS (
  SELECT cast(sum(v.v::HUGEINT * m.mv) // sum(v.v::HUGEINT * v.v) AS bigint)
           AS eig_gram
  FROM v{_PI_ITERS} v JOIN mv_final m ON m.i = v.i
)
SELECT v.i, v.v AS v_x1e4, r.eig_gram
FROM v{_PI_ITERS} v CROSS JOIN ray r
ORDER BY v.i
"""


@register(
    "ml_power_iteration",
    oracle=_sql_power_iteration(),
    doc="Dominant eigenvector of the embedding Gram matrix by power "
    "iteration — PCA's first component, computed IN the engine: 3 "
    "matvec rounds over the 64x64 integer Gram table (itself built "
    "from x1e4-quantized embeddings without any vector pair-join), "
    "renormalizing v to x1e4 by integer division after each round, plus "
    "the Rayleigh-quotient eigenvalue in Gram units. Every step is "
    "associative integer arithmetic, so the DuckDB unrolled-CTE replay "
    "is bit-identical — the fixed-point-iteration trick of sim_ivf_ann/"
    "q_graph_pagerank applied to linear algebra. At scale the one big "
    "job is the Gram build (embeddings scan, 4096-row result); the "
    "iterations touch only the tiny matrix.",
    tags=("ml", "linalg", "iterative", "fixed-point"),
)
def ml_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    prods = gram_products(emb)
    gram = prods.groupBy("i", "j").agg(F.sum("p").alias("gram"))
    # the expensive embeddings scan happens once; iterations reuse it
    gramf = materialize(
        gram.unionAll(
            gram.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "gram"
            )
        )
    )
    v = spark.range(1, 65).select(
        F.col("id").alias("i"), F.lit(_PI_SCALE).cast("long").alias("v")
    )
    # v is DIMENSION-bounded (64 rows, never corpus-sized), so
    # broadcasting it in every multiply is unconditionally scale-safe:
    # each mat-vec round becomes broadcast-hash-join + one groupBy
    # exchange instead of exchanging the checkpointed gram both ways
    # (localCheckpoint loses stats, so the SMJ plan was the default).
    for _ in range(_PI_ITERS):
        mv = (
            gramf.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.expr("sum(cast(gram as decimal(38,0)) * v)").alias("mv"))
        )
        mx = mv.agg(F.max(F.abs(F.col("mv"))).alias("mx"))
        v = mv.crossJoin(F.broadcast(mx)).select(
            "i", F.expr(f"cast((mv * {_PI_SCALE}) div mx as bigint)").alias("v")
        )
    mv_final = (
        gramf.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
        .groupBy("i")
        .agg(F.expr("sum(cast(gram as decimal(38,0)) * v)").alias("mv"))
    )
    ray = (
        v.join(mv_final, "i")
        .agg(
            F.expr(
                "cast(sum(cast(v as decimal(38,0)) * mv)"
                " div sum(cast(v as decimal(38,0)) * v) as bigint)"
            ).alias("eig_gram")
        )
    )
    return (
        v.crossJoin(F.broadcast(ray))  # 1-row scalar attach
        .select("i", F.col("v").alias("v_x1e4"), "eig_gram")
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# Simplified silhouette (squared distances) per label
# ---------------------------------------------------------------------------


@register(
    "ml_silhouette",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::double[],
                        x -> cast(round(x * 10000, 0) AS bigint)) AS qv
  FROM embeddings
),
sums AS (
  SELECT e.label, g.i AS pos,
         cast(sum(qv[g.i]) AS bigint) AS s, cast(count(*) AS bigint) AS n
  FROM e, generate_series(1, 64) AS g(i)
  GROUP BY e.label, g.i
),
means AS (SELECT label, pos, s // n AS m FROM sums),
d2 AS (
  SELECT e.vec_id, e.label AS own, m.label AS clabel,
         cast(sum((qv[m.pos] - m.m) * (qv[m.pos] - m.m)) AS bigint) AS d2
  FROM e JOIN means m ON TRUE
  GROUP BY e.vec_id, e.label, m.label
),
ab AS (
  SELECT vec_id, own,
         max(CASE WHEN clabel = own THEN d2 END) AS a2,
         min(CASE WHEN clabel <> own THEN d2 END) AS b2
  FROM d2 GROUP BY vec_id, own
),
s AS (
  SELECT vec_id, own,
         ((b2 - a2) * 1000000) // greatest(a2, b2) AS s_x1e6
  FROM ab
)
SELECT own AS label, cast(count(*) AS bigint) AS n_points,
       cast(sum(s_x1e6) // count(*) AS bigint) AS mean_s_x1e6,
       cast(sum(CASE WHEN s_x1e6 < 0 THEN 1 ELSE 0 END) AS bigint)
         AS n_misassigned
FROM s GROUP BY own ORDER BY label
""",
    doc="Simplified silhouette per label (squared integer distances): "
    "a2 = distance to the OWN label centroid, b2 = distance to the "
    "nearest OTHER centroid, s = (b2-a2)/max(a2,b2) x1e6 — the "
    "clustering-quality audit that says which labels bleed into which "
    "(s<0 = the point sits closer to a foreign centroid). Centroids "
    "quantize-first like sim_centroid_stats, the k-centroid table "
    "broadcasts, distances run in codegen — the embeddings table never "
    "shuffles; full silhouette's O(n^2) pairwise term is exactly what "
    "this variant deletes at scale.",
    tags=("ml", "clustering", "similarity", "fixed-point"),
)
def ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 10000, 0).cast("long")
    )
    e = emb.select("vec_id", "label", qv.alias("qv"))
    sums = (
        e.select("label", F.posexplode("qv").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    means = sums.select("label", "pos", F.expr("s div n").alias("m"))
    mean_arrs = means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda st: st["m"]
        ).alias("m_arr")
    ).select(F.col("label").alias("clabel"), "m_arr")
    d2 = (
        e.crossJoin(F.broadcast(mean_arrs))
        .select(
            "vec_id",
            F.col("label").alias("own"),
            "clabel",
            F.aggregate(
                F.zip_with("qv", "m_arr", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    ab = d2.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("clabel") == F.col("own"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("d2"))).alias("b2"),
    )
    s = ab.select(
        "own",
        F.expr("((b2 - a2) * 1000000) div greatest(a2, b2)").alias("s_x1e6"),
    )
    return (
        s.groupBy(F.col("own").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("cast(sum(s_x1e6) div count(*) as bigint)").alias(
                "mean_s_x1e6"
            ),
            F.sum(F.when(F.col("s_x1e6") < 0, 1).otherwise(0)).alias(
                "n_misassigned"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# IVF n_probe recall/cost sweep
# ---------------------------------------------------------------------------


def _ivf_sweep_oracle() -> str:
    return f"""
WITH {SQL_IVF_MODEL},
bf AS (
  SELECT eq.vec_id AS query_id, em.vec_id AS match_id,
         sum((eq.v - em.v) * (eq.v - em.v)) AS dist2
  FROM el eq JOIN el em ON em.pos = eq.pos AND em.vec_id <> eq.vec_id
  WHERE eq.vec_id % 100 = 0
  GROUP BY 1, 2
),
truth AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, match_id) AS rn
    FROM bf
  ) WHERE rn = 1
),
truth_cid AS (
  SELECT t.query_id, af.cid AS tcid FROM truth t JOIN af ON af.vec_id = t.match_id
),
qprobe AS (
  SELECT vec_id AS query_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM df WHERE vec_id % 100 = 0
),
list_sizes AS (SELECT cid, cast(count(*) AS bigint) AS sz FROM af GROUP BY cid),
hitrank AS (
  SELECT t.query_id, min(p.rn) AS hit_rn
  FROM truth_cid t JOIN qprobe p ON p.query_id = t.query_id AND p.cid = t.tcid
  GROUP BY t.query_id
),
rankcost AS (
  SELECT p.rn, cast(sum(s.sz) AS bigint) AS sz_at_rank
  FROM qprobe p JOIN list_sizes s ON s.cid = p.cid
  GROUP BY p.rn
),
nps AS (SELECT unnest([1, 2, 4]) AS n_probe)
SELECT n.n_probe,
       (SELECT cast(count(*) AS bigint) FROM hitrank) AS n_queries,
       (SELECT cast(count(*) AS bigint) FROM hitrank WHERE hit_rn <= n.n_probe)
         AS n_hits,
       cast((SELECT count(*) FROM hitrank WHERE hit_rn <= n.n_probe) * 1000000
            // (SELECT count(*) FROM hitrank) AS bigint) AS recall1_x1e6,
       (SELECT cast(sum(sz_at_rank) AS bigint) FROM rankcost WHERE rn <= n.n_probe)
         AS candidate_rows
FROM nps n
ORDER BY n.n_probe
"""


@register(
    "sim_ivf_probe_sweep",
    oracle=_ivf_sweep_oracle(),
    doc="IVF n_probe tuning sweep — the recall/cost curve that picks the "
    "probe count from measurement (the IVF counterpart of dd_lsh_tuning "
    "and dd_lsh_recall): for a deterministic query sample, exact-NN "
    "ground truth (bounded brute force: |queries| x corpus, never "
    "all-pairs), then recall@1 and probed-candidate volume at n_probe "
    "in {1,2,4} against the SAME fixed-point IVF model sim_ivf_ann "
    "serves. The model build is shared integer k-means (one corpus "
    "scan); the sweep itself touches only centroid-ranked metadata "
    "and the k-row list-size table.",
    tags=("similarity", "ivf", "tuning", "fixed-point"),
)
def sim_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from p6_spark.operators.ivf import (
        _assign_fixed,
        _centroid_array_long,
        _sq_dist_long,
        quantize,
        train_centroids_fixed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Round-11 A/B note: materializing a quantized projection +
    # checkpointing `indexed` (the ml_kmeans_elbow treatment) was
    # tried and measured 1.44x SLOWER here (sf0.1 min-of-3): the three
    # `indexed` consumers below share one AQE-reused exchange already,
    # and the two extra materialization jobs cost more than the
    # recompute they saved. Lazy plan retained — the measured-slower
    # precedent, like q_graph_link_predict's r7 A/B.
    model = train_centroids_fixed(emb, k=8, iters=2)
    indexed = _assign_fixed(
        emb.select(F.col("vec_id").alias("match_id"), quantize(F.col("embedding")).alias("mqv")),
        "mqv",
        model,
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), quantize(F.col("embedding")).alias("qqv")
    )
    # exact ground truth: |queries| x corpus, queries broadcast
    bf = (
        indexed.crossJoin(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _sq_dist_long(F.col("qqv"), F.col("mqv")).alias("dist2"),
        )
    )
    truth = (
        bf.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("dist2", "match_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("query_id", "match_id")
    )
    truth_cid = truth.join(
        indexed.select("match_id", F.col("cid").alias("tcid")), "match_id"
    ).select("query_id", "tcid")
    # centroid ranking per query (rank = probe order)
    carr = _centroid_array_long(model)
    dists = F.transform(
        carr,
        lambda c: F.struct(
            _sq_dist_long(F.col("qqv"), c["cvec"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    qprobe = q.select(
        "query_id", F.posexplode(F.array_sort(dists)).alias("rn0", "s")
    ).select(
        "query_id", (F.col("rn0") + 1).alias("rn"), F.col("s.cid").alias("cid")
    )
    list_sizes = indexed.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    hitrank = (
        truth_cid.join(
            qprobe, (qprobe.query_id == truth_cid.query_id) & (qprobe.cid == F.col("tcid"))
        )
        .groupBy(truth_cid.query_id)
        .agg(F.min("rn").alias("hit_rn"))
    )
    rankcost = (
        qprobe.join(F.broadcast(list_sizes), "cid")
        .groupBy("rn")
        .agg(F.sum("sz").alias("sz_at_rank"))
    )
    nps = spark.createDataFrame([(1,), (2,), (4,)], "n_probe int")
    hit_agg = (
        nps.crossJoin(F.broadcast(hitrank))
        .groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("hit_rn") <= F.col("n_probe"), 1).otherwise(0)
            ).alias("n_hits"),
        )
    )
    cost_agg = (
        nps.crossJoin(F.broadcast(rankcost))
        .groupBy("n_probe")
        .agg(
            F.sum(
                F.when(F.col("rn") <= F.col("n_probe"), F.col("sz_at_rank")).otherwise(
                    0
                )
            ).alias("candidate_rows")
        )
    )
    return (
        hit_agg.join(cost_agg, "n_probe")
        .select(
            "n_probe",
            "n_queries",
            "n_hits",
            F.expr("cast(n_hits * 1000000 div n_queries as bigint)").alias(
                "recall1_x1e6"
            ),
            "candidate_rows",
        )
        .orderBy("n_probe")
    )
