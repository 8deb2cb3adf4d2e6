"""Operational-analytics closers: period-over-period contribution
analysis (the why-did-the-metric-move decomposition) and a partition-
sizing advisor computed from in-data byte estimates — both exact
integers with DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Contribution analysis (period-over-period decomposition)
# ---------------------------------------------------------------------------


@register(
    "q_contribution_analysis",
    oracle="""
WITH per AS (
  SELECT n.n_name AS nation,
         cast(sum(CASE WHEN year(o.o_orderdate) = 1996
                  THEN cast(round(o.o_totalprice * 100, 0) AS bigint)
                  ELSE 0 END) AS bigint) AS cents_a,
         cast(sum(CASE WHEN year(o.o_orderdate) = 1997
                  THEN cast(round(o.o_totalprice * 100, 0) AS bigint)
                  ELSE 0 END) AS bigint) AS cents_b
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY n.n_name
),
tot AS (SELECT cast(sum(cents_b - cents_a) AS bigint) AS total_delta FROM per)
SELECT nation, cents_a, cents_b,
       cast(cents_b - cents_a AS bigint) AS delta_cents,
       cast((cents_b - cents_a) * 1000000 // t.total_delta AS bigint)
         AS delta_share_x1e6
FROM per, tot t
ORDER BY abs(cents_b - cents_a) DESC, nation
LIMIT 10
""",
    doc="Contribution analysis: the 1996->1997 revenue delta decomposed "
    "per customer nation — which segments DROVE the change and which "
    "offset it (negative shares) — the root-cause drilldown behind "
    "every 'why did the metric move' question, reduced to ONE "
    "conditional aggregate over the joined fact (both periods in one "
    "pass, no self-join of two period queries). Top-10 by absolute "
    "impact with a name tiebreak; the 1-row total-delta scalar "
    "broadcasts.",
    tags=("bi", "decomposition", "agg", "fixed-point"),
)
def q_contribution_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per = (
        orders.filter(F.year("o_orderdate").isin(1996, 1997))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") == 1996, cents).otherwise(0)
            ).alias("cents_a"),
            F.sum(
                F.when(F.year("o_orderdate") == 1997, cents).otherwise(0)
            ).alias("cents_b"),
        )
    )
    tot = per.agg(
        F.sum(F.col("cents_b") - F.col("cents_a")).alias("total_delta")
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row scalar attach
        .select(
            "nation",
            "cents_a",
            "cents_b",
            (F.col("cents_b") - F.col("cents_a")).alias("delta_cents"),
            F.expr(
                "cast((cents_b - cents_a) * 1000000 div total_delta as bigint)"
            ).alias("delta_share_x1e6"),
        )
        .orderBy(F.abs(F.col("delta_cents")).desc(), "nation")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Partition-sizing advisor
# ---------------------------------------------------------------------------

_PA_TARGET_MB = 128


def _pa_sql_one(tbl: str, row_bytes_expr: str) -> str:
    return f"""
SELECT '{tbl}' AS tbl,
       cast(count(*) AS bigint) AS n_rows,
       cast(sum({row_bytes_expr}) AS bigint) AS est_bytes,
       cast(greatest(1, sum({row_bytes_expr}) // ({_PA_TARGET_MB} * 1048576))
            AS bigint) AS rec_partitions,
       cast(count(*) // greatest(1, sum({row_bytes_expr})
            // ({_PA_TARGET_MB} * 1048576)) AS bigint) AS rows_per_partition
FROM {tbl}"""


_PA_TABLES = [
    (
        "lineitem",
        "8*4 + 4 + 8 + length(l_returnflag) + length(l_linestatus) + 8",
    ),
    ("orders", "8*2 + length(o_orderstatus) + 8 + 8 + length(o_orderpriority)"),
    ("documents", "8 + length(text) + length(lang) + length(source) + 8"),
    ("events", "8*3 + 8 + length(event_type) + length(props)"),
]


@register(
    "q_partition_advisor",
    oracle="\nUNION ALL\n".join(_pa_sql_one(t, e) for t, e in _PA_TABLES)
    + "\nORDER BY tbl",
    doc="Partition-sizing advisor: per table, estimated uncompressed "
    "bytes from typed column widths + string lengths, the recommended "
    "shuffle/write partition count at a 128 MB target, and rows per "
    "partition — the number that sets spark.sql.shuffle.partitions "
    "and repartition() before a big write (too few = spill, too many "
    "= small-files). One aggregate per table; byte estimation is "
    "map-side column math. At 100 TB this runs per table partition "
    "and feeds the write planner.",
    tags=("layout", "advisor", "agg"),
)
def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    specs = [
        (
            "lineitem",
            "8*4 + 4 + 8 + length(l_returnflag) + length(l_linestatus) + 8",
        ),
        ("orders", "8*2 + length(o_orderstatus) + 8 + 8 + length(o_orderpriority)"),
        ("documents", "8 + length(text) + length(lang) + length(source) + 8"),
        ("events", "8*3 + 8 + length(event_type) + length(props)"),
    ]
    target = _PA_TARGET_MB * 1048576
    out = None
    for tbl, expr in specs:
        df = load_table(spark, sf_dir, tbl)
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr(expr)).alias("est_bytes"),
        ).select(
            F.lit(tbl).alias("tbl"),
            "n_rows",
            "est_bytes",
            F.expr(f"greatest(1, est_bytes div {target})").alias("rec_partitions"),
            F.expr(
                f"cast(n_rows div greatest(1, est_bytes div {target}) as bigint)"
            ).alias("rows_per_partition"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("tbl")


# ---------------------------------------------------------------------------
# Share-of-parent hierarchy ratios
# ---------------------------------------------------------------------------


@register(
    "q_share_of_parent",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         cast(sum(cast(round(o.o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
),
shares AS (
  SELECT region, nation, cents,
         sum(cents) OVER (PARTITION BY region) AS region_cents,
         sum(cents) OVER () AS total_cents
  FROM rev
)
SELECT region, nation, cents,
       cast(cents * 1000000 // region_cents AS bigint) AS share_of_region_x1e6,
       cast(region_cents * 1000000 // total_cents AS bigint) AS region_share_x1e6
FROM shares
ORDER BY region, nation
""",
    doc="Share-of-parent hierarchy ratios: each nation's share of its "
    "region and each region's share of the total, off ONE "
    "(region, nation) aggregate with two windows over the 25-row "
    "result — the percent-of-parent column every drilldown UI shows. "
    "Dims broadcast onto the fact, the fact shuffles once for the "
    "rollup, and the windows never touch row-level data.",
    tags=("bi", "hierarchy", "window", "fixed-point"),
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    shares = rev.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(W.partitionBy("region")).alias("region_cents"),
        F.sum("cents").over(W.partitionBy()).alias("total_cents"),
    )
    return shares.select(
        "region",
        "nation",
        "cents",
        F.expr("cast(cents * 1000000 div region_cents as bigint)").alias(
            "share_of_region_x1e6"
        ),
        F.expr("cast(region_cents * 1000000 div total_cents as bigint)").alias(
            "region_share_x1e6"
        ),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# k-means elbow curve (inertia vs k) over the fixed-point Lloyd build
# ---------------------------------------------------------------------------


def _sql_kmeans_chain(k: int, p: str) -> str:
    """CTE chain (prefix `p`) replaying train_centroids_fixed(k, iters=2)
    over the shared e/el CTEs, ending in {p}df (vec x centroid dists)."""
    return f"""
{p}seeds AS (
  SELECT cid, qv FROM (
    SELECT qv,
           row_number() OVER (
             ORDER BY ('0x' || substr(md5(cast(vec_id AS varchar)), 1, 8))::bigint,
                      vec_id) - 1 AS cid
    FROM e
  ) WHERE cid < {k}
),
{p}c0 AS (
  SELECT cid, g.i AS pos, qv[g.i] AS m
  FROM {p}seeds, generate_series(1, 64) AS g(i)
),
{p}d1 AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN {p}c0 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
),
{p}a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM {p}d1
  ) WHERE rn = 1
),
{p}u1 AS (
  SELECT a.cid, el.pos, cast(sum(el.v) AS bigint) AS s, count(*) AS n
  FROM {p}a1 a JOIN el ON el.vec_id = a.vec_id
  GROUP BY a.cid, el.pos
),
{p}c1 AS (
  SELECT c0.cid, c0.pos, coalesce(u.s // u.n, c0.m) AS m
  FROM {p}c0 c0 LEFT JOIN {p}u1 u ON u.cid = c0.cid AND u.pos = c0.pos
),
{p}d2 AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN {p}c1 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
),
{p}a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM {p}d2
  ) WHERE rn = 1
),
{p}u2 AS (
  SELECT a.cid, el.pos, cast(sum(el.v) AS bigint) AS s, count(*) AS n
  FROM {p}a2 a JOIN el ON el.vec_id = a.vec_id
  GROUP BY a.cid, el.pos
),
{p}c2 AS (
  SELECT c1.cid, c1.pos, coalesce(u.s // u.n, c1.m) AS m
  FROM {p}c1 c1 LEFT JOIN {p}u2 u ON u.cid = c1.cid AND u.pos = c1.pos
),
{p}df AS (
  SELECT el.vec_id, c.cid, sum((el.v - c.m) * (el.v - c.m)) AS d
  FROM el JOIN {p}c2 c ON c.pos = el.pos
  GROUP BY el.vec_id, c.cid
)"""


def _sql_kmeans_elbow() -> str:
    chains = ",".join(_sql_kmeans_chain(k, p) for k, p in [(2, "ka_"), (4, "kb_"), (8, "kc_")])
    rows = []
    for k, p in [(2, "ka_"), (4, "kb_"), (8, "kc_")]:
        rows.append(f"""
SELECT {k} AS k,
       (SELECT cast(sum(md) AS bigint)
        FROM (SELECT vec_id, min(d) AS md FROM {p}df GROUP BY vec_id)) AS inertia,
       (SELECT cast(count(DISTINCT cid) AS bigint) FROM (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM {p}df) WHERE rn = 1)) AS n_clusters_used""")
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
),{chains}
{" UNION ALL ".join(rows)}
ORDER BY k
"""


@register(
    "ml_kmeans_elbow",
    oracle=_sql_kmeans_elbow(),
    doc="k-means elbow curve: total inertia after the same 2-round "
    "fixed-point Lloyd build sim_ivf_ann uses, at k = 2, 4, 8 — the "
    "measurement that picks k (the elbow where marginal inertia drop "
    "flattens), completing the clustering-tuning trio with "
    "sim_ivf_probe_sweep (n_probe) and dd_lsh_tuning (bands). Every "
    "build is integer arithmetic from md5-ordered seeds, so all three "
    "curves replay exactly in the DuckDB unrolled chains; Spark-side "
    "each k is one codegen-argmin scan + one broadcast-centroid "
    "distance pass over the shared quantized corpus.",
    tags=("ml", "clustering", "tuning", "fixed-point"),
)
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ivf import (
        _assign_fixed,
        _sq_dist_long,
        quantize,
        train_centroids_fixed,
    )

    from p6_spark.operators.text import md5_int

    emb = load_table(spark, sf_dir, "embeddings")
    q = materialize(emb.select("vec_id", quantize(F.col("embedding")).alias("qv")))
    # One seed collect serves all three k: the (md5_int(id), id) seed
    # order is a fixed total order, so seeds(k) is a prefix of seeds(8)
    # (round-11; previously 3 seed scans + 6 Lloyd jobs re-read parquet
    # and re-quantized — now every pass reads the one checkpointed
    # quantized projection). Identical models, identical output.
    seed_rows = (
        q.orderBy(md5_int(F.col("vec_id")), F.col("vec_id")).limit(8).collect()
    )
    seeds8 = [[int(x) for x in r["qv"]] for r in seed_rows]
    out = None
    for k in (2, 4, 8):
        model = train_centroids_fixed(
            q, k=k, iters=2, vec_col="qv", pre_quantized=True, init=seeds8[:k]
        )
        cent = spark.createDataFrame(
            [(cid, [int(x) for x in vec]) for cid, vec in enumerate(model)],
            "cid int, cvec array<bigint>",
        )
        assigned = _assign_fixed(q, "qv", model)
        row = (
            assigned.join(F.broadcast(cent), "cid")
            .select(_sq_dist_long(F.col("qv"), F.col("cvec")).alias("d"), "cid")
            .agg(
                F.sum("d").alias("inertia"),
                F.countDistinct("cid").alias("n_clusters_used"),
            )
            .select(F.lit(k).alias("k"), "inertia", "n_clusters_used")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("k")
