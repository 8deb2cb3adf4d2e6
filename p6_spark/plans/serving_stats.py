"""Serving-layer and optimizer-statistics operators: the continuous-
aggregate hybrid view (rolled-up history + raw tail) certified against
the direct aggregate, a referential-integrity audit over every FK
relation in the star schema, and KMV-sketch join-key overlap estimation
cross-checked against exact intersections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MD5INT
from p6_spark.sources.tables import load_table



# ---------------------------------------------------------------------------
# Continuous aggregate: partials for history + raw tail, served as one view
# ---------------------------------------------------------------------------

_CAGG_CUTOVER = "1997-01-01"


@register(
    "q_continuous_agg",
    oracle="""
SELECT o_orderpriority,
       cast(count(*) AS bigint) AS n_orders,
       cast(sum(cast(round(o_totalprice * 100, 0) AS bigint)) AS bigint) AS cents
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Continuous aggregate (the hypertable serving pattern): totals "
    "per priority answered by a HYBRID view — closed history (orderdate "
    "< 1997-01-01) read from the daily partial-aggregate table "
    "(operators/incremental.daily_order_partials, never re-scanning "
    "closed facts) UNION the still-open tail aggregated raw — while the "
    "oracle computes the same numbers DIRECT from the full fact table. "
    "Equality is the real-time continuous-agg contract: mergeable "
    "cent-exact partials + a bounded raw tail == the truth, at the cost "
    "of one tail scan instead of 100 TB of history.",
    tags=("incremental", "serving", "agg", "fixed-point"),
)
def q_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.incremental import daily_order_partials

    orders = load_table(spark, sf_dir, "orders")
    closed = orders.filter(F.col("o_orderdate") < _CAGG_CUTOVER)
    tail = orders.filter(F.col("o_orderdate") >= _CAGG_CUTOVER)
    hist = (
        daily_order_partials(closed)
        .drop("cust_sketch")
        .groupBy("o_orderpriority")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("cents").alias("cents"))
    )
    live = tail.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("cents"),
    )
    return (
        hist.unionAll(live)
        .groupBy("o_orderpriority")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("cents").alias("cents"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

_RI_RELATIONS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def _ri_sql_one(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{child}.{fk}' AS relation,
       (SELECT cast(count(*) AS bigint) FROM {child}) AS n_child_rows,
       cast(count(*) AS bigint) AS n_orphan_rows,
       cast(count(DISTINCT {fk}) AS bigint) AS n_orphan_keys
FROM {child} c WHERE NOT EXISTS (
  SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}
)"""


@register(
    "q_ri_audit",
    oracle="\nUNION ALL\n".join(_ri_sql_one(*r) for r in _RI_RELATIONS)
    + "\nORDER BY relation",
    doc="Referential-integrity audit over every FK edge of the star "
    "schema (orders->customer, lineitem->orders/part/supplier): orphan "
    "row and orphan key counts per relation — the not-null-FK test "
    "suite every warehouse runs before trusting a join, and the "
    "measurement behind choosing inner vs left joins downstream. Each "
    "relation is one left-anti join (broadcast for dim-sized parents, "
    "shuffle for orders) collapsed to a single audit row; clean "
    "relations cost one pass and report zeros rather than silently "
    "dropping rows later.",
    tags=("quality", "forensics", "join"),
)
def q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for child, fk, parent, pk in _RI_RELATIONS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias(fk))
        total = c.agg(F.count(F.lit(1)).alias("n_child_rows"))
        orphans = c.join(p, fk, "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphan_rows"),
            F.countDistinct(fk).alias("n_orphan_keys"),
        )
        row = (
            total.crossJoin(F.broadcast(orphans))  # two 1-row scalars
            .select(
                F.lit(f"{child}.{fk}").alias("relation"),
                "n_child_rows",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# KMV join-key overlap estimation vs exact
# ---------------------------------------------------------------------------

_KMV_K = 64


def _kmv_sql_pair(name: str, tbl_a: str, key_a: str, tbl_b: str, key_b: str) -> str:
    ha = SQL_MD5INT.format(x=f"cast({key_a} AS varchar)")
    hb = SQL_MD5INT.format(x=f"cast({key_b} AS varchar)")
    return f"""
SELECT '{name}' AS pair,
       (SELECT CASE WHEN count(*) < {_KMV_K} THEN count(*)
               ELSE ({_KMV_K - 1} * 4294967296)
                    // max(CASE WHEN rn <= {_KMV_K} THEN h END) END
        FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
              FROM (SELECT DISTINCT {ha} AS h FROM {tbl_a}
                    UNION SELECT DISTINCT {hb} FROM {tbl_b}))
       ) AS union_est,
       (SELECT cast(count(*) * 1000000 // {_KMV_K} AS bigint)
        FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
              FROM (SELECT DISTINCT {ha} AS h FROM {tbl_a}
                    UNION SELECT DISTINCT {hb} FROM {tbl_b})) u
        WHERE rn <= {_KMV_K}
          AND h IN (SELECT DISTINCT {ha} FROM {tbl_a})
          AND h IN (SELECT DISTINCT {hb} FROM {tbl_b})
       ) AS jaccard_est_x1e6,
       (SELECT cast(count(*) AS bigint) FROM
         (SELECT DISTINCT {key_a} AS k FROM {tbl_a}
          INTERSECT SELECT DISTINCT {key_b} FROM {tbl_b})) AS true_inter,
       (SELECT cast(count(*) AS bigint) FROM
         (SELECT DISTINCT {key_a} AS k FROM {tbl_a}
          UNION SELECT DISTINCT {key_b} FROM {tbl_b})) AS true_union"""


@register(
    "q_join_size_estimate",
    oracle=_kmv_sql_pair(
        "orders_customer", "orders", "o_custkey", "customer", "c_custkey"
    )
    + "\nUNION ALL\n"
    + _kmv_sql_pair(
        "lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"
    )
    + "\nORDER BY pair",
    doc="Join-key overlap estimation from KMV sketches — the optimizer "
    "statistic that prices a join before running it: for each join "
    "pair, the k=64 minimum md5 hashes of the UNION of both key sets "
    "give the union-cardinality estimate ((k-1)*2^32/kth_min, the "
    "q_kmv_distinct estimator) and the fraction of those k samples "
    "present in BOTH sides estimates the Jaccard x1e6 — inter ~= "
    "jaccard * union without touching either table again. True "
    "intersection/union computed alongside so the error is visible. "
    "Deterministic md5 sketches = exact DuckDB replay; at scale each "
    "side keeps a 64-value sketch per column as table metadata.",
    tags=("sketch", "join", "optimizer", "fixed-point"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import md5_int

    # Round-11 restructure (guide §2.1/§2.4 — same results, leaner
    # plan): the old shape ran a GLOBAL row_number window over the
    # unioned hash set (a single-partition stage over every distinct
    # key hash — the exact scale-killer class the r4 ntile fix
    # removed), plus two extra distinct scans and two semi joins to
    # test topk membership per side, plus a separate semi join and
    # union-distinct for the true counts. Provenance flags do all of
    # it in two aggregates: tag each side's keys (in_a, in_b), one
    # groupBy(k) merges the sides (true counts fall out of ONE 1-row
    # aggregate), one groupBy(h) over the same frame merges hash
    # membership, and the k=64 smallest hashes come from
    # orderBy().limit() — TakeOrdered, distributed partial top-k, no
    # single-partition window. Estimator arithmetic is unchanged and
    # the DuckDB oracle is untouched.
    out = None
    pairs = [
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ]
    for name, ta, ka, tb, kb in pairs:
        tagged = (
            load_table(spark, sf_dir, ta)
            .select(
                F.col(ka).alias("k"),
                F.lit(1).alias("in_a"),
                F.lit(0).alias("in_b"),
            )
            .unionAll(
                load_table(spark, sf_dir, tb).select(
                    F.col(kb).alias("k"),
                    F.lit(0).alias("in_a"),
                    F.lit(1).alias("in_b"),
                )
            )
        )
        keys = tagged.groupBy("k").agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
        # one pass over the merged key set: exact union + intersection
        truth = keys.agg(
            F.count(F.lit(1)).alias("true_union"),
            F.count_if((F.col("in_a") == 1) & (F.col("in_b") == 1)).alias(
                "true_inter"
            ),
        )
        # hash-space merge (32-bit md5 prefixes can collide across
        # keys, so membership flags re-aggregate per h — identical to
        # the oracle's DISTINCT-hash union + per-side IN tests)
        hashes = keys.select(
            md5_int(F.col("k").cast("string")).alias("h"), "in_a", "in_b"
        ).groupBy("h").agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
        topk = hashes.orderBy("h").limit(_KMV_K)
        sketch = topk.agg(
            F.expr(
                f"case when count(*) < {_KMV_K} then count(*)"
                f" else ({_KMV_K - 1} * 4294967296) div max(h) end"
            ).alias("union_est"),
            F.expr(
                f"cast(count_if(in_a = 1 and in_b = 1) * 1000000"
                f" div {_KMV_K} as bigint)"
            ).alias("jaccard_est_x1e6"),
        )
        row = (
            sketch.crossJoin(F.broadcast(truth))  # 1-row scalar attaches
            .select(
                F.lit(name).alias("pair"),
                "union_est",
                "jaccard_est_x1e6",
                "true_inter",
                "true_union",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("pair")
