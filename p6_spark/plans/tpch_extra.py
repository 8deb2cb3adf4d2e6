"""Second tranche of TPC-H-shaped engine-parity queries: returned-items
top-k (Q10), promo share (Q14), top supplier by revenue (Q15), distinct
supplier counts (Q16), disjunctive pushdown (Q19), idle customers with a
scalar-subquery threshold (Q22), exact percentiles, and GROUPING SETS.

Exactness conventions (see plans/registry.py): decimal(38,12) per-row
casts for double sums; ratios emitted integer-scaled with integer
division; the Q22 average-threshold comparison is done by cross-
multiplication (bal * n > total) so no division happens at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.materialize import materialize
from p6_spark.plans.core_relational import dsum
from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
  AND o_orderdate <  timestamp '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 shape: who returned the most revenue — fact-side "
    "filter pushed to the lineitem scan, two broadcast dims, top-20 with "
    "total-order tiebreak.",
    tags=("join", "agg", "topk"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
WITH sums AS (
  SELECT cast(round(sum(CASE WHEN p_type = 'PROMO'
                   THEN cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))
                   ELSE cast(0 AS decimal(38,12)) END), 4) * 10000 AS bigint) AS promo_x1e4,
         cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) * 10000 AS bigint) AS total_x1e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT cast(promo_x1e4 AS double) / 10000 AS promo_revenue,
       cast(total_x1e4 AS double) / 10000 AS total_revenue,
       cast((promo_x1e4::HUGEINT * 1000000) // total_x1e4 AS bigint) AS promo_share_x1e6
FROM sums
""",
    doc="TPC-H Q14 shape: conditional-aggregate ratio; both sums are "
    "exact decimals scaled to integers and the share is integer "
    "division in 128-bit arithmetic (HUGEINT / decimal(38,0) div) so it "
    "cannot overflow at any scale factor — bigint*1e6 overflows at "
    "sf>=0.1.",
    tags=("join", "agg", "ratio"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,12)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,12)"))
    sums = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.round(F.sum(promo), 4) * 10000).cast("bigint").alias("promo_x1e4"),
            (F.round(F.sum(rev), 4) * 10000).cast("bigint").alias("total_x1e4"),
        )
    )
    return sums.select(
        (F.col("promo_x1e4").cast("double") / 10000).alias("promo_revenue"),
        (F.col("total_x1e4").cast("double") / 10000).alias("total_revenue"),
        F.expr(
            "cast(promo_x1e4 as decimal(38,0)) * 1000000"
            " div cast(total_x1e4 as decimal(38,0))"
        ).alias("promo_share_x1e6"),
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
    AND l_shipdate <  timestamp '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
""",
    doc="TPC-H Q15 shape: argmax via scalar subquery, implemented as a "
    "1-row max aggregate broadcast back onto the per-supplier rollup — "
    "no second scan of the fact table and no single-partition window "
    "(the per-supplier table grows with the data: measured 10 -> 1000 "
    "rows across the sf0.001 -> sf0.1 decade, so the previous "
    "global-window max was in the r4-flagged scale-killer class).",
    tags=("agg", "subquery", "window"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    top = rev.crossJoin(
        F.broadcast(rev.agg(F.max("total_rev").alias("mx")))
    ).filter(F.col("total_rev") == F.col("mx"))
    return (
        top.join(F.broadcast(sup), top.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_cnt",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
""",
    doc="TPC-H Q16 shape (adapted: no partsupp table in the harness "
    "schema, lineitem supplies the part→supplier edges): distinct "
    "count per part attribute with dim-side IN/<> pushdown.",
    tags=("join", "distinct", "agg"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@register(
    "q19_disjunctive",
    oracle="""
SELECT cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 40)
""",
    doc="TPC-H Q19 shape: disjunction of conjunctive ranges across both "
    "join sides — Catalyst extracts the common p_brand/p_size terms into "
    "a dim-side pushdown while keeping the residual OR as a join filter.",
    tags=("join", "filter", "pushdown"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30) & q.between(20, 40))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q22_idle_customers",
    oracle="""
WITH bal AS (
  SELECT c_custkey, c_nationkey, cast(round(c_acctbal * 100, 0) AS bigint) AS bal_x100
  FROM customer
),
pos AS (
  SELECT count(*) AS n, sum(bal_x100) AS total FROM bal WHERE bal_x100 > 0
)
SELECT c_nationkey, count(*) AS numcust, cast(sum(bal_x100) AS bigint) AS totacctbal_x100
FROM bal, pos
WHERE bal_x100 * pos.n > pos.total
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= timestamp '2000-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    doc="TPC-H Q22 shape: customers above the positive-balance average "
    "with no recent orders — scalar-subquery threshold + anti join "
    "(every synthetic customer has *some* order, so the anti join is "
    "date-restricted to stay non-degenerate). The average comparison is "
    "cross-multiplied (bal*n > total) on cent-scaled bigints: exact "
    "integer arithmetic, no float division to drift between engines.",
    tags=("subquery", "anti", "agg"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal = cust.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_x100"),
    )
    pos = bal.filter(F.col("bal_x100") > 0).agg(
        F.count(F.lit(1)).alias("n"), F.sum("bal_x100").alias("total")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        bal.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_x100") * F.col("n") > F.col("total"))
        .join(recent, bal.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_x100").alias("totacctbal_x100"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "q_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_disc(l_quantity, 0.5) AS p50_qty,
       quantile_disc(l_quantity, 0.9) AS p90_qty,
       quantile_disc(l_extendedprice, 0.5) AS p50_price,
       quantile_disc(l_extendedprice, 0.99) AS p99_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Exact discrete percentiles per group (percentile_disc: first "
    "value whose cume_dist >= p — picks an actual data value, so no "
    "interpolation arithmetic to drift between engines). NOT Spark's "
    "built-in percentile_disc: that aggregate buffers every value per "
    "group in the agg buffer and merges the buffers on one reducer per "
    "group — the same funnel as an unpartitioned window (24.8s at sf1.0 "
    "locally, OOM-shaped at 100 TB). Instead: collapse to per-(group, "
    "value) counts, distributed prefix-sum via two_phase_rank with "
    "partition_cols (physical partitioning (bucket, group), so 3 groups "
    "still use every core), then each quantile is min(val | cum*den >= "
    "p_num*n) with the cume_dist >= p test cross-multiplied into exact "
    "long arithmetic. ~4x faster locally, and the only per-group "
    "sequential state left is the 64-row bucket summary. The "
    "approx_percentile sketch (q_approx_sketches) remains the cheap "
    "tool; this is the exact-correctness twin at the same shuffle "
    "shape as any hash aggregate.",
    tags=("percentile", "agg", "two-phase"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.ranking import two_phase_rank

    li = load_table(spark, sf_dir, "lineitem")
    # melt both value columns into ONE tall pass: a single shuffle and a
    # single two-phase prefix-sum serve all four quantiles
    tall = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "stack(2, 'qty', l_quantity, 'price', l_extendedprice)"
            " as (ck, val)"
        ),
    ).filter(F.col("val").isNotNull())
    # per-(column, flag, value) counts: the only row-count-sized
    # aggregate, an ordinary hash shuffle with map-side partials;
    # three downstream subtrees (bucket bounds, main pass, per-group
    # totals) — cut the lineage or the aggregate re-executes per subtree
    cnts = materialize(
        tall.groupBy("ck", "flag", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = two_phase_rank(
        cnts,
        order=[F.col("val")],
        range_expr=F.col("val"),
        cum_cols=["cnt"],
        partition_cols=["ck", "flag"],
    )
    tot = cnts.groupBy("ck", "flag").agg(F.sum("cnt").alias("nv"))
    j = ranked.join(F.broadcast(tot), ["ck", "flag"])

    # percentile_disc(p): smallest val with cume_dist >= p, i.e.
    # cum/nv >= num/den  <=>  cum*den >= num*nv (exact in longs)
    def pick(ck: str, num: int, den: int) -> Column:
        return F.min(
            F.when(
                (F.col("ck") == ck)
                & (F.col("cum_cnt") * F.lit(den) >= F.col("nv") * F.lit(num)),
                F.col("val"),
            )
        )

    quants = j.groupBy("flag").agg(
        pick("qty", 1, 2).alias("p50_qty"),
        pick("qty", 9, 10).alias("p90_qty"),
        pick("price", 1, 2).alias("p50_price"),
        pick("price", 99, 100).alias("p99_price"),
    )
    n = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        quants.join(n, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            "p50_qty",
            "p90_qty",
            "p50_price",
            "p99_price",
            "n",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_grouping_sets",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       cast(round(sum(cast(cast(l_quantity AS varchar) AS decimal(38,12))), 4) AS double) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY returnflag, linestatus
""",
    doc="Explicit GROUPING SETS (beyond rollup/cube): one shuffle "
    "produces all three granularities via Expand — the map-side expand "
    "is how Spark keeps this a single pass at scale.",
    tags=("grouping-sets", "agg"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               cast(round(sum(cast(l_quantity AS decimal(38,12))), 4) AS double) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY returnflag, linestatus
        """
    )


@register(
    "q08_market_share",
    oracle="""
WITH eu AS (
  SELECT cast(extract(year FROM o_orderdate) AS int) AS yr,
         sn.n_name AS supp_nation,
         cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar)
                             AS decimal(38,12))), 4) * 10000 AS bigint) AS vol_x1e4
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
  GROUP BY 1, 2
)
SELECT yr,
       cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_x1e4 ELSE 0 END) AS double) / 10000 AS nation_volume,
       cast(sum(vol_x1e4) AS double) / 10000 AS total_volume,
       cast((sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_x1e4 ELSE 0 END)::HUGEINT * 1000000)
            // sum(vol_x1e4) AS bigint) AS mkt_share_x1e6
FROM eu
GROUP BY yr
ORDER BY yr
""",
    doc="TPC-H Q8 shape: national market share — 7-table star join "
    "(fact + 6 broadcast dims, nation aliased twice) with region/type "
    "pushdown, then a per-year conditional-ratio. The share is exact: "
    "decimal sums scaled to bigint and divided in 128-bit integer "
    "arithmetic, so Spark and the oracle cannot drift.",
    tags=("join", "agg", "ratio", "star"),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    sup = load_table(spark, sf_dir, "supplier")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rk")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,12)")
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_rk") == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("yr"), F.col("supp_nation"))
        .agg((F.round(F.sum(rev), 4) * 10000).cast("bigint").alias("vol_x1e4"))
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol_x1e4")).otherwise(F.lit(0))
    )
    tot = F.sum(F.col("vol_x1e4"))
    return (
        per.groupBy("yr")
        .agg(
            (nat.cast("double") / 10000).alias("nation_volume"),
            (tot.cast("double") / 10000).alias("total_volume"),
            F.expr(
                "cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_x1e4 ELSE 0 END)"
                " as decimal(38,0)) * 1000000"
                " div cast(sum(vol_x1e4) as decimal(38,0))"
            ).alias("mkt_share_x1e6"),
        )
        .orderBy("yr")
    )


@register(
    "q09_product_profit",
    oracle="""
SELECT n_name AS nation, cast(extract(year FROM o_orderdate) AS int) AS yr,
       cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.01 AS varchar)
                           AS decimal(38,12))), 4) AS double) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, yr DESC
""",
    doc="TPC-H Q9 shape (adapted: the harness schema has no partsupp, so "
    "supply cost is modeled as 1% of p_retailprice per unit): profit by "
    "supplier nation and order year with a LIKE filter on the part dim. "
    "The per-row profit expression has identical shape on both sides so "
    "IEEE double arithmetic matches bit-for-bit before the decimal sum.",
    tags=("join", "agg", "like", "star"),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.01)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(dsum(profit).alias("profit"))
        .orderBy("nation", F.desc("yr"))
    )


@register(
    "q17_small_quantity",
    oracle="""
WITH li AS (
  SELECT l_partkey, l_extendedprice,
         cast(round(l_quantity * 100, 0) AS bigint) AS qty_x100
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#4'
),
per_part AS (
  SELECT l_partkey AS pk, count(*) AS n, sum(qty_x100) AS sum_qty_x100
  FROM li GROUP BY 1
)
SELECT cast(round(sum(cast(cast(l_extendedprice AS varchar) AS decimal(38,12))), 4) AS double) AS total_price,
       count(*) AS n_small
FROM li JOIN per_part ON l_partkey = pk
WHERE qty_x100 * 5 * n < sum_qty_x100
""",
    doc="TPC-H Q17 shape: lineitems below 20% of their part's average "
    "quantity — the correlated scalar subquery becomes a per-part "
    "aggregate broadcast-joined back to the (brand-filtered) fact rows. "
    "The avg comparison is cross-multiplied on cent-scaled bigints "
    "(qty*5n < sum ⟺ qty < 0.2·avg), so no division exists to drift.",
    tags=("subquery", "join", "agg"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_extendedprice",
            F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("qty_x100"),
        )
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("qty_x100").alias("sum_qty_x100")
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == per_part.pk)
        .filter(F.col("qty_x100") * 5 * F.col("n") < F.col("sum_qty_x100"))
        .agg(
            dsum(F.col("l_extendedprice")).alias("total_price"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q_outlier_trim",
    oracle="""
WITH thresh AS (
  SELECT l_returnflag AS rf,
         quantile_disc(l_extendedprice, 0.99) AS p99
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, count(*) AS n_outliers,
       cast(round(sum(cast(cast(l_extendedprice AS varchar) AS decimal(38,12))), 4) AS double) AS outlier_revenue,
       cast(max(p99) AS double) AS p99_price
FROM lineitem JOIN thresh ON l_returnflag = rf
WHERE l_extendedprice > p99
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Percentile-threshold outlier trim (winsorization's filter half): "
    "per-group exact p99 via percentile_disc (an actual data value — no "
    "interpolation to drift), broadcast back onto the fact rows as the "
    "filter bound. The 100 TB form swaps percentile_disc for the "
    "approx_percentile sketch; the join shape is identical.",
    tags=("percentile", "filter", "join"),
)
def q_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_trim")
    thresh = spark.sql(
        """
        SELECT l_returnflag AS rf,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99
        FROM li_trim GROUP BY l_returnflag
        """
    )
    return (
        li.join(F.broadcast(thresh), li.l_returnflag == thresh.rf)
        .filter(F.col("l_extendedprice") > F.col("p99"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            dsum(F.col("l_extendedprice")).alias("outlier_revenue"),
            F.max("p99").cast("double").alias("p99_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q12_late_priority",
    oracle="""
SELECT l_returnflag,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS bigint) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="TPC-H Q12 shape (reference has no shipmode column, so 'late' is "
    "shipdate > orderdate + 60d): fact-fact equi-join with a non-equi "
    "residual predicate, then conditional counts pivoting order priority "
    "into high/low columns. The residual lateness predicate is evaluated "
    "inside the join (no post-filter pass), and the two CASE sums are one "
    "aggregate over one joined stream — map-side partials shrink it to "
    "|returnflag| rows before the final shuffle.",
    tags=("join", "agg", "conditional"),
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
SELECT s_name, cast(count(*) AS bigint) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
    doc="TPC-H Q21 shape ('suppliers who kept orders waiting'; lateness = "
    "shipdate > orderdate + 60d since the reference schema has no "
    "commit/receipt dates): the textbook form is a correlated EXISTS plus "
    "a correlated NOT EXISTS over the same fact table — three lineitem "
    "scans and two correlated probes. This plan folds both subqueries "
    "into ONE per-order aggregate (distinct-supplier count and distinct-"
    "late-supplier count), computed from the same orderkey-partitioned "
    "join output the main branch uses: EXISTS(other supplier) becomes "
    "n_supp >= 2, NOT EXISTS(other late supplier) becomes n_late_supp = 1 "
    "for a row that is itself late. One lineitem scan feeds both "
    "branches; every post-join operator reuses the orderkey partitioning, "
    "and supplier is broadcast.",
    tags=("join", "subquery", "agg", "anti"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    sup = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    li_o = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).withColumn(
        "is_late", late
    )
    per_order = li_o.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    late_lines = li_o.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    return (
        late_lines.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
    )


@register(
    "q11_important_values",
    oracle="""
WITH v AS (
  SELECT l_partkey AS partkey,
         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS bigint)) AS bigint) AS value_x1e4
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
),
t AS (SELECT cast(sum(value_x1e4) AS bigint) AS total_x1e4 FROM v)
SELECT partkey, value_x1e4
FROM v, t
WHERE value_x1e4 * 1000 > total_x1e4
ORDER BY value_x1e4 DESC, partkey
""",
    doc="TPC-H Q11 shape (adapted: no partsupp in the harness, so 'stock "
    "value' is the discounted revenue of one nation's suppliers per "
    "part): per-part value vs a global-total scalar subquery. The "
    "HAVING value > 0.1% of total comparison is cross-multiplied on "
    "x1e4-scaled bigints (value * 1000 > total), so no division exists "
    "to drift. Plan: dims broadcast, ONE shuffle on partkey; the global "
    "total is a second tiny aggregate over the same partials broadcast "
    "back as a 1-row scalar (the Q22 pattern).",
    tags=("subquery", "agg", "scalar-broadcast"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value_x1e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    vals = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(value_x1e4).alias("value_x1e4"))
    )
    total = vals.agg(F.sum("value_x1e4").alias("total_x1e4"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value_x1e4") * 1000 > F.col("total_x1e4"))
        .select("partkey", "value_x1e4")
        .orderBy(F.desc("value_x1e4"), "partkey")
    )


@register(
    "q20_dominant_suppliers",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         cast(sum(cast(round(l_quantity * 100, 0) AS bigint)) AS bigint) AS supp_qty_x100
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= timestamp '1995-01-01 00:00:00'
    AND l_shipdate <  timestamp '1996-01-01 00:00:00'
  GROUP BY 1, 2
),
p AS (
  SELECT l_partkey, cast(sum(supp_qty_x100) AS bigint) AS part_qty_x100
  FROM ps GROUP BY 1
)
SELECT s_name, n_name,
       count(*) AS n_parts,
       cast(sum(supp_qty_x100) AS bigint) AS qty_x100
FROM ps JOIN p USING (l_partkey)
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
WHERE supp_qty_x100 * 2 > part_qty_x100
GROUP BY s_name, n_name
ORDER BY s_name
""",
    doc="TPC-H Q20 shape (adapted: no partsupp, so 'excess availability' "
    "becomes shipment dominance — suppliers who shipped more than half "
    "of a red part's 1995 volume): nested aggregate chain "
    "(part,supplier) -> part, the half-of-total comparison "
    "cross-multiplied on cent-scaled bigints, then a broadcast "
    "supplier/nation join and per-supplier rollup. The part-level total "
    "is a WINDOW sum over the (part,supplier) aggregate rather than a "
    "second aggregate joined back — the fact scans ONCE and everything "
    "after the first shuffle operates on the tiny aggregate.",
    tags=("subquery", "agg", "join", "like"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qty_x100 = F.round(F.col("l_quantity") * 100, 0).cast("long")
    ps = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qty_x100).alias("supp_qty_x100"))
    )
    dom = ps.withColumn(
        "part_qty_x100",
        F.sum("supp_qty_x100").over(W.partitionBy("l_partkey")),
    ).filter(F.col("supp_qty_x100") * 2 > F.col("part_qty_x100"))
    return (
        dom.join(F.broadcast(sup), dom.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("supp_qty_x100").alias("qty_x100"),
        )
        .orderBy("s_name")
    )
