"""Graph community quality, information-theoretic feature relevance,
and per-document keyword extraction — rounding out the graph/text
analytics families in the exact-integer certification style.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS, sql_lsh_pairs, sql_minhash_sig
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Modularity of the connected-component clustering
# ---------------------------------------------------------------------------


@register(
    "q_graph_modularity",
    oracle=f"""
WITH RECURSIVE {sql_minhash_sig('doc_id < 1000')},
{sql_lsh_pairs(cap=None, select="a.doc_id AS u, b.doc_id AS v", materialized=True)},
edges AS MATERIALIZED (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (SELECT node, min(label) AS community FROM reach GROUP BY node),
m AS (SELECT cast(count(*) AS bigint) AS m_edges FROM pairs),
intra AS (
  SELECT cu.community, cast(count(*) AS bigint) AS m_c
  FROM pairs p JOIN comp cu ON cu.node = p.u JOIN comp cv ON cv.node = p.v
  WHERE cu.community = cv.community
  GROUP BY cu.community
),
deg AS (
  SELECT c.community, cast(count(*) AS bigint) AS d_c
  FROM edges e JOIN comp c ON c.node = e.u
  GROUP BY c.community
),
per AS (
  SELECT d.community,
         coalesce(i.m_c, 0) AS m_c, d.d_c,
         cast(coalesce(i.m_c, 0) * 1000000 // m.m_edges AS bigint)
           - cast((d.d_c::HUGEINT * d.d_c * 1000000)
                  // (4 * m.m_edges::HUGEINT * m.m_edges) AS bigint) AS q_c_x1e6
  FROM deg d LEFT JOIN intra i ON i.community = d.community, m
)
SELECT (SELECT cast(count(*) AS bigint) FROM per) AS n_communities,
       (SELECT m_edges FROM m) AS m_edges,
       cast(sum(q_c_x1e6) AS bigint) AS modularity_x1e6
FROM per
""",
    doc="Newman modularity of the duplicate clustering: Q = sum_c "
    "(m_c/m - (d_c/2m)^2) over the connected components of the LSH "
    "candidate graph, each community term an exact x1e6 integer "
    "(cross-multiplied squares in HUGEINT/decimal) — the number that "
    "says whether the dedup clusters are real communities (Q near the "
    "1 - 1/k ceiling here, since components have no inter-edges by "
    "construction; the ceiling gap measures cluster-size skew). Two "
    "broadcast-sized joins of the component map onto the pair list; "
    "per-community terms aggregate map-side. Runs on a bounded id "
    "partition (doc_id < 1000, the dd_ngram_jaccard convention) so the "
    "certified recursive-closure twin stays tractable; the plan is "
    "partition-agnostic.",
    tags=("graph", "modularity", "dedup", "fixed-point"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = materialize(
        dd.lsh_candidate_pairs(dd.minhash_signatures(docs)).select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v")
        )
    )
    comp = connected_components(
        pairs.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    ).select(F.col("node"), F.col("component").alias("community"))
    m = pairs.agg(F.count(F.lit(1)).alias("m_edges"))
    cu = comp.select(F.col("node").alias("u"), F.col("community").alias("comm_u"))
    cv = comp.select(F.col("node").alias("v"), F.col("community").alias("comm_v"))
    intra = (
        pairs.join(F.broadcast(cu), "u")
        .join(F.broadcast(cv), "v")
        .filter(F.col("comm_u") == F.col("comm_v"))
        .groupBy(F.col("comm_u").alias("community"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    edges = pairs.select("u").unionAll(
        pairs.select(F.col("v").alias("u"))
    )
    deg = (
        edges.join(F.broadcast(cu), "u")
        .groupBy(F.col("comm_u").alias("community"))
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    per = (
        deg.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))  # 1-row scalar attach
        .select(
            "community",
            F.expr(
                "cast(coalesce(m_c, 0) * 1000000 div m_edges as bigint)"
                " - cast((cast(d_c as decimal(38,0)) * d_c * 1000000)"
                "        div (4 * cast(m_edges as decimal(38,0)) * m_edges)"
                "        as bigint)"
            ).alias("q_c_x1e6"),
        )
    )
    return (
        per.agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("q_c_x1e6").alias("modularity_x1e6"),
        )
        .crossJoin(F.broadcast(m))
        .select("n_communities", "m_edges", "modularity_x1e6")
    )


# ---------------------------------------------------------------------------
# Mutual information between categorical pairs
# ---------------------------------------------------------------------------

_MI_PAIRS = [
    ("flag_status", "lineitem", "l_returnflag", "l_linestatus"),
    ("segment_nation", "customer", "c_mktsegment", "cast(c_nationkey % 5 AS varchar)"),
]


def _mi_sql_one(label: str, tbl: str, a: str, b: str) -> str:
    return f"""
SELECT '{label}' AS pair,
       cast(nt AS bigint) AS n_rows,
       cast(count(*) AS bigint) AS n_cells,
       cast(sum(n_xy * (
           cast(round(ln(n_xy::HUGEINT * nt) * 1000000, 0) AS bigint)
         - cast(round(ln(n_x::HUGEINT * n_y) * 1000000, 0) AS bigint)
       )) // nt AS bigint) AS mi_x1e6
FROM (
  SELECT n_xy, nt,
         sum(n_xy) OVER (PARTITION BY va) AS n_x,
         sum(n_xy) OVER (PARTITION BY vb) AS n_y
  FROM (
    SELECT {a} AS va, {b} AS vb, cast(count(*) AS bigint) AS n_xy,
           sum(count(*)) OVER () AS nt
    FROM {tbl} GROUP BY 1, 2
  )
)
GROUP BY nt"""


@register(
    "ml_mutual_info",
    oracle="\nUNION ALL\n".join(_mi_sql_one(*p) for p in _MI_PAIRS)
    + "\nORDER BY pair",
    doc="Mutual information between categorical pairs, I(X;Y) = sum "
    "p_xy ln(p_xy/(p_x p_y)) — the model-free relevance measure that "
    "catches nonlinear association chi-square only hints at (returnflag"
    "-linestatus is strongly dependent; segment-nation is ~0 by "
    "construction). Every ln argument collapses to integers first "
    "(ln(n_xy*N) - ln(n_x*n_y), x1e6-snapped), the contingency table "
    "is one (a,b)-keyed aggregate, and marginals come from windows "
    "over the cell table — the fact table is touched once per pair.",
    tags=("ml", "stats", "feature", "fixed-point"),
)
def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    specs = [
        ("flag_status", "lineitem", F.col("l_returnflag"), F.col("l_linestatus")),
        (
            "segment_nation",
            "customer",
            F.col("c_mktsegment"),
            (F.col("c_nationkey") % 5).cast("string"),
        ),
    ]
    out = None
    for label, tbl, ca, cb in specs:
        cells = (
            load_table(spark, sf_dir, tbl)
            .groupBy(ca.alias("va"), cb.alias("vb"))
            .agg(F.count(F.lit(1)).alias("n_xy"))
        )
        marg = cells.select(
            "n_xy",
            F.sum("n_xy").over(W.partitionBy()).alias("nt"),
            F.sum("n_xy").over(W.partitionBy("va")).alias("n_x"),
            F.sum("n_xy").over(W.partitionBy("vb")).alias("n_y"),
        )
        row = marg.groupBy("nt").agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.expr(
                "cast(sum(n_xy * ("
                " cast(round(ln(cast(n_xy as decimal(38,0)) * nt) * 1000000, 0) as bigint)"
                " - cast(round(ln(cast(n_x as decimal(38,0)) * n_y) * 1000000, 0) as bigint)"
                ")) div nt as bigint)"
            ).alias("mi_x1e6"),
        ).select(
            F.lit(label).alias("pair"),
            F.col("nt").cast("long").alias("n_rows"),
            "n_cells",
            "mi_x1e6",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("pair")


# ---------------------------------------------------------------------------
# Per-document keyword extraction (top TF-IDF terms)
# ---------------------------------------------------------------------------


@register(
    "txt_keywords",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents),
tf AS (SELECT doc_id, t, cast(count(*) AS bigint) AS tf FROM tok GROUP BY 1, 2),
n AS (SELECT cast(count(DISTINCT doc_id) AS bigint) AS n_docs FROM tok),
df AS (SELECT t, cast(count(*) AS bigint) AS df FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id, tf.t, tf.tf,
         tf.tf * (cast(round(ln(n.n_docs) * 1000000, 0) AS bigint)
                  - cast(round(ln(df.df) * 1000000, 0) AS bigint)) AS w_x1e6
  FROM tf JOIN df ON df.t = tf.t, n
),
ranked AS (
  SELECT doc_id, t, tf, w_x1e6,
         row_number() OVER (PARTITION BY doc_id ORDER BY w_x1e6 DESC, t) AS rnk
  FROM scored WHERE doc_id < 20
)
SELECT doc_id, rnk, t AS keyword, tf, cast(w_x1e6 AS bigint) AS w_x1e6
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
""",
    doc="Per-document keyword extraction: top-3 terms by tf * idf with "
    "idf = ln(N) - ln(df) as x1e6-snapped integer lns — the doc-level "
    "view of txt_tfidf's corpus weights (what IS this document about), "
    "feeding tagging and near-dup explainability. The df table is "
    "corpus-wide and joins once; per-doc ranking is a WindowGroupLimit "
    "that prunes to 3 rows map-side. Bounded output sample (doc_id < "
    "20) keeps the certified result small; the plan is id-range-"
    "agnostic.",
    tags=("text", "tfidf", "window"),
)
def txt_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tok

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "t")
        .crossJoin(F.broadcast(n))  # 1-row scalar attach
        .select(
            "doc_id",
            "t",
            "tf",
            (
                F.col("tf")
                * (
                    F.round(F.log("n_docs") * 1000000, 0).cast("long")
                    - F.round(F.log("df") * 1000000, 0).cast("long")
                )
            ).alias("w_x1e6"),
        )
    )
    ranked = scored.filter(F.col("doc_id") < 20).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("w_x1e6"), "t")
        ),
    )
    return (
        ranked.filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "rnk",
            F.col("t").alias("keyword"),
            "tf",
            F.col("w_x1e6").cast("long").alias("w_x1e6"),
        )
        .orderBy("doc_id", "rnk")
    )
