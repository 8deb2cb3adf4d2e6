"""Core relational operator surface: scans, filters, projections, the full
join matrix (broadcast/shuffle; inner/left/semi/anti), aggregation,
grouping sets (rollup/cube), windows, sorts/limits/top-k, set ops, string
and date scalar functions, conditional aggregation.

The reference has no general query engine (SURVEY §2.5-2.7) — these
queries expose Spark's built-in surface as the engine-parity layer the
harness exercises. Scale notes are on each query: what shuffles, what
broadcasts, what pushes down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


def dsum(c: Column) -> Column:
    """Exact, order-independent sum of a double expression.

    Per-row cast to decimal(38,12) makes the aggregation integer
    arithmetic — associative and commutative — so a 1000-executor
    partial-agg tree and DuckDB's sequential sum produce bit-identical
    results. Cast back to double at the end.
    """
    return F.round(F.sum(c.cast("decimal(38,12)")), 4).cast("double")


def fast_exact_sums(
    df,
    keys: list[str],
    exprs: dict[str, Column],
    count_alias: str = "n",
):
    """Two-stage exact money sums — the fast path for scan-heavy
    aggregates where dsum's per-row decimal(38,12) dominates runtime
    (~4x the cost of the scan itself; see PLANS.md q01 notes).

    Stage 1 sums round(x * 1e6)::bigint per (keys, partition-id): pure
    long arithmetic in codegen, map-side combined. Stage 2 sums the few
    per-partition partials as decimal(38,0) — overflow-safe at any total
    — and emits round(total / 1e6, 4) as double. Integer addition is
    associative, so the result is EXACTLY the scaled-integer total under
    any partitioning; the per-partition bigint can only overflow past
    ~9e18/1e11 ≈ 90M money-rows per partition, two orders of magnitude
    above a 128 MiB split. The DuckDB oracle replays the same scaled
    sum with no partition split (same total by associativity).
    """
    scaled = [
        F.round(cexpr * 1000000, 0).cast("long").alias(f"__x_{name}")
        for name, cexpr in exprs.items()
    ]
    part = (
        df.select(*keys, *scaled, F.spark_partition_id().alias("__pid"))
        .groupBy(*keys, "__pid")
        .agg(
            *[F.sum(f"__x_{name}").alias(f"__s_{name}") for name in exprs],
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return part.groupBy(*keys).agg(
        *[
            F.round(
                F.sum(F.col(f"__s_{name}").cast("decimal(38,0)")).cast("double")
                / 1000000,
                4,
            ).alias(name)
            for name in exprs
        ],
        F.sum("__n").alias(count_alias),
    )


# ---------------------------------------------------------------------------
# Aggregation over the fact table
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(cast(sum(cast(round(l_quantity * 1000000, 0) AS bigint)) AS double) / 1000000, 4) AS sum_qty,
       round(cast(sum(cast(round(l_extendedprice * 1000000, 0) AS bigint)) AS double) / 1000000, 4) AS sum_base_price,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 1000000, 0) AS bigint)) AS double) / 1000000, 4) AS sum_disc_price,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS bigint)) AS double) / 1000000, 4) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: scan->filter(pushed to parquet)->partial agg->final agg. "
    "One shuffle on the (tiny-cardinality) group keys; map-side combine does "
    "almost all the work, so this scales linearly with input. Money sums use "
    "the two-stage fast_exact_sums path (x1e6 bigint per partition, decimal "
    "only over the partials) — ~1.7x faster than per-row decimal(38,12) with "
    "the same order-independent exactness; the oracle replays the scaled "
    "integer sum directly (associativity makes the partition split "
    "invisible).",
    tags=("agg", "filter"),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return fast_exact_sums(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        keys=["l_returnflag", "l_linestatus"],
        exprs={
            "sum_qty": F.col("l_quantity"),
            "sum_base_price": F.col("l_extendedprice"),
            "sum_disc_price": disc_price,
            "sum_charge": disc_price * (1 + F.col("l_tax")),
        },
        count_alias="count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q06_revenue_filter",
    oracle="""
SELECT cast(round(sum(cast(cast(l_extendedprice * l_discount AS varchar) AS decimal(38,12))), 4) AS double) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
  AND l_shipdate <  timestamp '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure selective scan + global agg. All three predicates "
    "push down to the parquet reader; no shuffle at all (single global agg).",
    tags=("agg", "filter", "pushdown"),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q03_shipping_priority",
    oracle="""
SELECT l_orderkey,
       cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1997-06-01 00:00:00'
  AND l_shipdate  > timestamp '1997-03-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k. "
    "customer filter shrinks the build side (AQE turns it broadcast); "
    "top-k via TakeOrderedAndProject, no global sort materialized.",
    tags=("join", "agg", "topk"),
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_region_revenue",
    oracle="""
SELECT n_name,
       cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS revenue
FROM region JOIN nation   ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey  = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
  AND o_orderdate <  timestamp '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    doc="TPC-H Q5 shape: star join. region/nation/customer broadcast "
    "(always-small dims), so the only shuffle is orders><lineitem; at "
    "100 TB that one survives as a co-partitioned sort-merge on orderkey.",
    tags=("join", "agg", "broadcast"),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = cust.join(
        F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
        cust.c_nationkey == nation.n_nationkey,
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q13_orders_per_customer",
    oracle="""
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
""",
    doc="TPC-H Q13 shape: left outer join preserving zero-order customers, "
    "double aggregation. count(col) skips nulls from the outer join.",
    tags=("join", "outer", "agg"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@register(
    "q_semi_anti_join",
    oracle="""
SELECT
  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS n_with_f_orders,
  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without_orders
""",
    doc="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins. On a cluster "
    "both run as broadcast-semi when the distinct key set is small; "
    "otherwise shuffle on the key with early distinct.",
    tags=("join", "semi", "anti"),
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    with_f = cust.join(f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi").count()
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").count()
    return spark.createDataFrame(
        [(with_f, without)], "n_with_f_orders long, n_without_orders long"
    )


# ---------------------------------------------------------------------------
# Windows / top-k per group
# ---------------------------------------------------------------------------


@register(
    "q_topk_orders_per_segment",
    oracle="""
SELECT c_mktsegment, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 5
ORDER BY c_mktsegment, rn
""",
    doc="Top-k per group via ranking window; one shuffle on the partition "
    "key. At scale this beats a global sort by never ordering across groups.",
    tags=("window", "topk", "join"),
)
def q_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "q_running_revenue",
    oracle="""
SELECT user_id, event_id,
       cast(round(sum(cast(cast(value AS varchar) AS decimal(38,12))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS double) AS running_value,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
FROM events
WHERE user_id < 20
ORDER BY user_id, event_id
""",
    doc="Running aggregate + lag over an ordered per-user window — the "
    "sessionization building block. Decimal accumulation keeps the "
    "running sum deterministic.",
    tags=("window",),
)
def q_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn(
            "running_value",
            F.round(
                F.sum(F.col("value").cast("decimal(38,12)")).over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                4,
            ).cast("double"),
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .select("user_id", "event_id", "running_value", "prev_type")
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube / pivot
# ---------------------------------------------------------------------------


@register(
    "q_rollup_orders",
    oracle="""
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n,
       cast(round(sum(cast(cast(o_totalprice AS varchar) AS decimal(38,12))), 4) AS double) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""",
    doc="Hierarchical rollup (status -> status+priority -> grand total). "
    "Spark expands grouping sets before the shuffle; coalesce labels the "
    "subtotal rows so both engines emit identical keys.",
    tags=("rollup", "agg"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


@register(
    "q_cube_lineitem",
    oracle="""
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       cast(round(sum(cast(cast(l_quantity AS varchar) AS decimal(38,12))), 4) AS double) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    doc="Full cube over two low-cardinality dims.",
    tags=("cube", "agg"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "q_pivot_status",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Pivot = grouped conditional aggregation; Spark's .pivot() emits the "
    "same plan as FILTER'd counts (one shuffle, map-side combine).",
    tags=("pivot", "agg"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderpriority")
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
WITH urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     high   AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT
  (SELECT count(*) FROM (SELECT * FROM urgent UNION SELECT * FROM high))     AS n_union,
  (SELECT count(*) FROM (SELECT * FROM urgent INTERSECT SELECT * FROM high)) AS n_intersect,
  (SELECT count(*) FROM (SELECT * FROM urgent EXCEPT SELECT * FROM high))    AS n_except
""",
    doc="UNION/INTERSECT/EXCEPT with set semantics; each is a shuffle on the "
    "full row. distinct-before-set-op keeps the shuffled volume minimal.",
    tags=("setop", "distinct"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct()
    n_union = urgent.union(high).distinct().count()
    n_intersect = urgent.intersect(high).count()
    n_except = urgent.exceptAll(high.intersect(urgent)).count()
    return spark.createDataFrame(
        [(n_union, n_intersect, n_except)], "n_union long, n_intersect long, n_except long"
    )


@register(
    "q_distinct_counts",
    oracle="""
SELECT count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
FROM lineitem
""",
    doc="Exact multi-column distinct counts. Spark expands multiple "
    "count-distincts via a single expand+agg; at scale prefer "
    "approx_count_distinct (HLL) — exposed separately rows-only since "
    "sketches aren't oracle-comparable.",
    tags=("distinct", "agg"),
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / scalar functions
# ---------------------------------------------------------------------------


@register(
    "q_top_parts",
    oracle="""
SELECT p_partkey, p_name, p_retailprice
FROM part
ORDER BY p_retailprice DESC, p_partkey
LIMIT 25
""",
    doc="Global top-k: TakeOrderedAndProject — each partition keeps its "
    "local top 25, driver merges; no full sort.",
    tags=("sort", "limit"),
)
def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select("p_partkey", "p_name", "p_retailprice").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    ).limit(25)


@register(
    "q_string_funcs",
    oracle="""
SELECT upper(substr(p_type, 1, 8)) AS type_prefix,
       count(*) AS n,
       min(length(p_name)) AS min_name_len,
       max(length(p_name)) AS max_name_len,
       min(replace(p_brand, 'Brand#', 'B')) AS min_brand,
       max(concat(p_brand, ':', cast(p_size AS varchar))) AS max_brand_size
FROM part
GROUP BY upper(substr(p_type, 1, 8))
ORDER BY type_prefix
""",
    doc="String scalar surface: upper/substr/length/replace/concat — all "
    "JVM-side codegen'd expressions, no UDFs.",
    tags=("string", "agg"),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(F.upper(F.substring("p_type", 1, 8)).alias("type_prefix"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.length("p_name")).alias("min_name_len"),
            F.max(F.length("p_name")).alias("max_name_len"),
            F.min(F.regexp_replace("p_brand", "Brand#", "B")).alias("min_brand"),
            F.max(F.concat("p_brand", F.lit(":"), F.col("p_size").cast("string"))).alias(
                "max_brand_size"
            ),
        )
        .orderBy("type_prefix")
    )


@register(
    "q_date_funcs",
    oracle="""
SELECT cast(extract(year FROM o_orderdate) AS int) AS yr,
       cast(extract(month FROM o_orderdate) AS int) AS mon,
       count(*) AS n_orders,
       cast(round(sum(cast(cast(o_totalprice AS varchar) AS decimal(38,12))), 4) AS double) AS total,
       min(strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')) AS month_start
FROM orders
GROUP BY 1, 2
ORDER BY yr, mon
""",
    doc="Date/time scalar surface: extract, date_trunc, formatting. Output "
    "as ints/strings for cross-engine hash stability.",
    tags=("date", "agg"),
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
            F.min(F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")).alias(
                "month_start"
            ),
        )
        .orderBy("yr", "mon")
    )


@register(
    "q_conditional_agg",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       count(*) FILTER (WHERE event_type = 'error') AS n_errors,
       cast(round(sum(cast(cast(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS varchar) AS decimal(38,12))), 4) AS double) AS purchase_value,
       max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup
FROM events
GROUP BY user_id
HAVING count(*) > 50
ORDER BY user_id
""",
    doc="Conditional aggregation + HAVING. CASE folds into the partial agg, "
    "so the shuffle carries only the per-user partials.",
    tags=("agg", "case"),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            dsum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)).alias(
                "purchase_value"
            ),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("has_signup"),
        )
        .filter(F.col("n_events") > 50)
        .orderBy("user_id")
    )


@register(
    "q_tumbling_events",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       cast(round(sum(cast(cast(value AS varchar) AS decimal(38,12))), 4) AS double) AS total_value
FROM events
WHERE ts < timestamp '2024-01-03 00:00:00'
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    doc="Tumbling-window aggregation in batch form — identical grouping to "
    "the Structured Streaming version in p6_spark.streaming.events "
    "(watermark + window); oracle-checkable here, stream-tested in pytest.",
    tags=("window", "streaming-parity"),
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .orderBy("window_start", "event_type")
    )
