"""Advanced relational coverage: EXISTS/IN subqueries, correlated-subquery
shapes (rewritten as windows), bilateral multi-joins, sessionization,
as-of joins, JSON extraction, array functions — the long tail of the
engine-parity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.core_relational import dsum
from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


@register(
    "q04_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
  AND o_orderdate <  timestamp '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 shape: EXISTS as a left-semi join with a non-equi "
    "residual predicate; the semi join shuffles only the key columns.",
    tags=("join", "semi", "subquery"),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q07_nation_volume",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       cast(extract(year FROM l_shipdate) AS int) AS yr,
       cast(round(sum(cast(cast(l_extendedprice * (1 - l_discount) AS varchar) AS decimal(38,12))), 4) AS double) AS volume
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, yr
""",
    doc="TPC-H Q7 shape: bilateral trade — two aliased broadcast joins of "
    "the same dim (nation) plus a theta filter between them.",
    tags=("join", "agg", "self-join"),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "yr")
    )


@register(
    "q_revenue_share",
    oracle="""
WITH per_nation AS (
  SELECT n_name,
         round(sum(cast(cast(o_totalprice AS varchar) AS decimal(38,12))), 4) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name,
       cast(rev AS double) AS revenue,
       cast(floor(rev * 1000000)::HUGEINT // floor(sum(rev) OVER ())::HUGEINT AS bigint) AS share_x1e6
FROM per_nation
ORDER BY n_name
""",
    doc="Correlated 'share of total' shape: aggregate + unpartitioned "
    "window over the (tiny) aggregate result — the scalable rewrite of a "
    "scalar subquery. Share emitted integer-scaled; both operands are "
    "floor()'d explicitly (Spark's decimal->bigint cast truncates, "
    "DuckDB's rounds — floor is the portable spelling) and the division "
    "runs in 128-bit so no scale factor overflows it.",
    tags=("window", "agg"),
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(38,12)")), 4).alias("rev"))
    )
    return per_nation.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.expr(
            "cast(floor(rev * 1000000) as decimal(38,0))"
            " div cast(floor(sum(rev) over ()) as decimal(38,0))"
        ).alias("share_x1e6"),
    ).orderBy("n_name")


@register(
    "q18_large_orders",
    oracle="""
SELECT c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       cast(round(sum(cast(cast(l_quantity AS varchar) AS decimal(38,12))), 4) AS double) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(cast(cast(l_quantity AS varchar) AS decimal(38,12))) > 95
)
GROUP BY c_name, o_orderkey, o_orderdate
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""",
    doc="TPC-H Q18 shape: IN over a grouped-HAVING subquery. The Spark "
    "plan reuses the per-order aggregate as the join input (each order "
    "key maps to one customer row, so re-joining raw lineitem would "
    "recompute the same sum) — one lineitem scan and one shuffle "
    "instead of two of each.",
    tags=("join", "subquery", "agg", "topk"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,12)")).alias("q"))
        .filter(F.col("q") > 95)
        .select("l_orderkey", F.round(F.col("q"), 4).cast("double").alias("total_qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q_min_price_supplier",
    oracle="""
WITH ranked AS (
  SELECT p_partkey, p_name, s_name, s_acctbal,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal DESC, s_name) AS rn
  FROM part JOIN lineitem ON l_partkey = p_partkey
            JOIN supplier ON s_suppkey = l_suppkey
  WHERE p_size < 5
)
SELECT p_partkey, p_name, s_name, s_acctbal
FROM ranked WHERE rn = 1
ORDER BY p_partkey
""",
    doc="TPC-H Q2 shape: correlated 'best row per group' subquery "
    "rewritten as a ranking window — one shuffle on the group key instead "
    "of a per-row subquery.",
    tags=("window", "join", "subquery-rewrite"),
)
def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 5)
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("p_partkey").orderBy(F.desc("s_acctbal"), F.asc("s_name"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
        .orderBy("p_partkey")
    )


@register(
    "q_sessionize",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER w) // 1000000) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         (epoch_us(max(ts)) // 1000000) - (epoch_us(min(ts)) // 1000000) AS duration_s
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       cast(sum(n_events) AS bigint) AS n_events,
       max(duration_s)::bigint AS max_session_s
FROM per_session GROUP BY user_id ORDER BY user_id
""",
    doc="Sessionization: lag-gap flag + running sum = session ids, then "
    "two-level aggregation (the 30-min-gap classic). One shuffle on "
    "user_id serves all three window/agg steps.",
    tags=("window", "sessionize"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("duration_s").cast("long").alias("max_session_s"),
        )
        .orderBy("user_id")
    )


@register(
    "q_asof_prior_view",
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type, value,
         last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
  FROM events
)
SELECT user_id, event_id AS purchase_id, prior_view_id
FROM marked
WHERE event_type = 'purchase'
ORDER BY user_id, purchase_id
""",
    doc="As-of join (each purchase matched to the user's most recent "
    "prior view) via last_value IGNORE NULLS over an ordered window — "
    "the co-partitioned rewrite of a range join; Spark lacks a native "
    "as-of operator (SURVEY: pd.merge_asof would be the applyInPandas "
    "fallback; this form stays in the JVM).",
    tags=("window", "asof"),
)
def q_asof_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "prior_view_id",
        F.last(
            F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return (
        marked.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), "prior_view_id")
        .orderBy("user_id", "purchase_id")
    )


@register(
    "q_range_join_bands",
    oracle="""
SELECT lo, hi, count(*) AS n_events,
       cast(round(sum(cast(cast(value AS varchar) AS decimal(38,12))), 4) AS double) AS total_value
FROM events
JOIN (SELECT x * 50 AS lo, x * 50 + 50 AS hi FROM range(10) t(x)) bands
  ON value >= lo AND value < hi
GROUP BY lo, hi
ORDER BY lo
""",
    doc="Range (point-in-interval) join via the banded equi-join rewrite "
    "(operators/rangejoin.py): bucket the value domain, replicate "
    "intervals per overlapped bucket, equi-join on the bucket, residual "
    "range filter — O(n) shuffle on an int key instead of the broadcast-"
    "nested-loop a naive theta join plans.",
    tags=("join", "range", "rewrite"),
)
def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.rangejoin import banded_range_join
    from p6_spark.plans.core_relational import dsum as _dsum

    ev = load_table(spark, sf_dir, "events")
    bands = spark.range(10).select(
        (F.col("id") * 50).cast("double").alias("lo"),
        (F.col("id") * 50 + 50).cast("double").alias("hi"),
    )
    return (
        banded_range_join(ev, bands, "value", band=50.0)
        # band bounds are exact multiples of 50: emit them as bigint to
        # match DuckDB's integer range() (double 0.0 vs int 0 would
        # hash-mismatch)
        .groupBy(
            F.col("lo").cast("long").alias("lo"),
            F.col("hi").cast("long").alias("hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("lo")
    )


@register(
    "q_salted_join",
    oracle="""
SELECT p_brand, count(*) AS n,
       cast(round(sum(cast(cast(l_extendedprice AS varchar) AS decimal(38,12))), 4) AS double) AS total_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
    doc="Skew-resistant salted join (operators/skew.py): the left side "
    "salts on an xxhash64 of the row, the right side replicates per "
    "salt, and the (key, salt) equi-join spreads any hot key over S "
    "partitions. Oracle is the plain join — salting must be invisible "
    "in the result.",
    tags=("join", "skew", "salting"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.skew import salted_join
    from p6_spark.plans.core_relational import dsum as _dsum

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li.select(F.col("l_partkey").alias("p_partkey"), "l_extendedprice"),
        part,
        on="p_partkey",
        num_salts=8,
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("l_extendedprice")).alias("total_price"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_full_outer_nations",
    oracle="""
WITH rich_c AS (
  SELECT c_nationkey AS nk, count(*) AS n_rich_cust
  FROM customer WHERE c_acctbal > 9000 GROUP BY 1
),
rich_s AS (
  SELECT s_nationkey AS nk, count(*) AS n_rich_supp
  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1
)
SELECT coalesce(rich_c.nk, rich_s.nk) AS nationkey,
       coalesce(n_rich_cust, 0) AS n_rich_cust,
       coalesce(n_rich_supp, 0) AS n_rich_supp
FROM rich_c FULL OUTER JOIN rich_s ON rich_c.nk = rich_s.nk
ORDER BY nationkey
""",
    doc="FULL OUTER join of two sparse aggregates (nations having "
    "high-balance customers vs suppliers) — selective filters make both "
    "sides partial so null-padding fires on each. Completes the join-"
    "type surface (inner/left/semi/anti/cross elsewhere).",
    tags=("join", "full-outer", "agg"),
)
def q_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    rich_c = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    rich_s = (
        sup.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return (
        rich_c.join(rich_s, rich_c.c_nk == rich_s.s_nk, "full_outer")
        .select(
            F.coalesce(F.col("c_nk"), F.col("s_nk")).alias("nationkey"),
            F.coalesce(F.col("n_rich_cust"), F.lit(0)).alias("n_rich_cust"),
            F.coalesce(F.col("n_rich_supp"), F.lit(0)).alias("n_rich_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "q_range_frame",
    oracle="""
WITH daily AS (
  SELECT (epoch_us(o_orderdate) // 86400000000)::bigint AS day_num,
         round(sum(cast(cast(o_totalprice AS varchar) AS decimal(38,12))), 4) AS rev
  FROM orders GROUP BY 1
)
SELECT day_num,
       cast(rev AS double) AS day_revenue,
       cast(round(sum(rev) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS double) AS rev_7d
FROM daily ORDER BY day_num
""",
    doc="RANGE-framed window (value-distance frame, not row-count): "
    "7-day rolling revenue over the daily aggregate. The frame skips "
    "missing days because RANGE bounds compare day numbers — semantics "
    "ROWS frames can't express. Window input is one row per day, so the "
    "unpartitioned sort is over ~2.4k rows regardless of fact size.",
    tags=("window", "range-frame"),
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        (F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("bigint")
        .alias("day_num")
    ).agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(38,12)")), 4).alias("rev"))
    w = W.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day_num",
        F.col("rev").cast("double").alias("day_revenue"),
        F.round(F.sum("rev").over(w), 4).cast("double").alias("rev_7d"),
    ).orderBy("day_num")


@register(
    "q_json_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       cast(sum(json_extract(props, '$.k')::bigint) AS bigint) AS sum_k,
       min(json_extract(props, '$.k')::bigint) AS min_k,
       max(json_extract(props, '$.k')::bigint) AS max_k
FROM events
GROUP BY event_type ORDER BY event_type
""",
    doc="Semi-structured JSON column extraction (get_json_object) + "
    "aggregation — stays in codegen, no UDF.",
    tags=("json", "agg"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_array_funcs",
    oracle="""
SELECT label,
       count(*) AS n,
       min(len(embedding)) AS min_dim,
       max(len(embedding)) AS max_dim,
       cast(sum(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) AS bigint) AS n_pos_first,
       min((floor(embedding[1]::double * 1000000))::bigint) AS min_first_x1e6
FROM embeddings
GROUP BY label ORDER BY label
""",
    doc="Array-column surface over embeddings: size, element access, "
    "conditional counts; floats integer-scaled via floor for exact "
    "comparison.",
    tags=("array", "agg"),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    first = F.element_at("embedding", 1).cast("double")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
            F.sum(F.when(first > 0, 1).otherwise(0)).alias("n_pos_first"),
            F.min(F.floor(first * 1000000).cast("long")).alias("min_first_x1e6"),
        )
        .orderBy("label")
    )


@register(
    "q_sliding_events",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       cast(round(sum(cast(cast(value AS varchar) AS decimal(38,12))), 4) AS double) AS total_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offsets
WHERE ts < timestamp '2024-01-03 00:00:00'
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    doc="Sliding (hopping) window aggregation via the real F.window "
    "operator (1 h length, 30 min hop): each event lands in exactly two "
    "overlapping windows — Spark's TimeWindow expression expands rows "
    "map-side, so the shuffle carries (window,type) keys, not raw events "
    "twice. Oracle replays the expansion with an unnest([0,1]) offset "
    "cross join. Batch twin of streaming.sliding_user_activity.",
    tags=("window", "streaming-parity"),
)
def q_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "q_map_funcs",
    oracle="""
SELECT event_type,
       count(*) AS n,
       max(len(json_keys(props))) AS max_nkeys,
       max(array_to_string(json_keys(props), ',')) AS key_sig,
       min(json_extract(props, '$.k')::bigint) AS min_k,
       cast(sum(json_extract(props, '$.k')::bigint) AS bigint) AS sum_vals
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="MapType column surface: props parsed once into map<string,bigint> "
    "(from_json), then cardinality, map_keys signature, element_at lookup, "
    "and a higher-order F.aggregate over map_values — all JVM-side Column "
    "expressions; the oracle reads the same facts through DuckDB's JSON "
    "functions. Complements q_json_extract (string-path extraction).",
    tags=("map", "json", "higher-order"),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "m", F.from_json("props", "map<string,bigint>")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("m")).alias("max_nkeys"),
            F.max(F.array_join(F.map_keys("m"), ",")).alias("key_sig"),
            F.min(F.element_at("m", F.lit("k"))).alias("min_k"),
            F.sum(
                F.aggregate(
                    F.map_values("m"),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                )
            ).alias("sum_vals"),
        )
        .orderBy("event_type")
    )


@register(
    "q_higher_order_arrays",
    oracle="""
WITH scaled AS (
  SELECT label,
         list_transform(embedding, x -> (floor(x::double * 1000))::bigint) AS t,
         len(list_filter(embedding, x -> x < 0)) AS n_neg
  FROM embeddings
)
SELECT label,
       count(*) AS n,
       min(cast(list_sum(list_transform(t, v -> v * v)) AS bigint)) AS min_norm2,
       max(cast(list_sum(list_transform(t, v -> v * v)) AS bigint)) AS max_norm2,
       cast(sum(n_neg) AS bigint) AS total_neg
FROM scaled
GROUP BY label
ORDER BY label
""",
    doc="Higher-order array functions on the embedding column, all "
    "JVM-side: transform (scale floats to exact bigints), zip_with + "
    "aggregate (self dot product = squared L2 norm in pure integer "
    "arithmetic, so partition order cannot drift), filter + size "
    "(negative-component count). This is the declarative path the "
    "similarity operators build on — no Python UDF anywhere.",
    tags=("array", "higher-order", "agg"),
)
def q_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    norm2 = F.aggregate(
        F.zip_with(t, t, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n_neg = F.size(F.filter("embedding", lambda x: x < 0))
    return (
        emb.select("label", norm2.alias("norm2"), n_neg.alias("n_neg"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
            F.sum("n_neg").alias("total_neg"),
        )
        .orderBy("label")
    )


@register(
    "q_math_funcs",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       bit_xor(l_orderkey) AS xor_keys,
       bit_and(l_orderkey) AS and_keys,
       bit_or(l_orderkey) AS or_keys,
       cast(sum(l_orderkey % 7) AS bigint) AS sum_mod7,
       cast(sum(greatest(l_partkey, l_suppkey)) AS bigint) AS sum_greatest,
       cast(sum(least(l_partkey, l_suppkey)) AS bigint) AS sum_least,
       cast(sum(l_linenumber << 2) AS bigint) AS sum_shl,
       cast(sum(abs(l_quantity - 25)::bigint) AS bigint) AS sum_absdev
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Math/bitwise scalar surface in exact integer arithmetic: bitwise "
    "aggregates (xor/and/or — xor doubles as an order-independent content "
    "checksum for 100 TB reconciliation), modulo, greatest/least, shift, "
    "integer absolute deviation. Every value is exact, so no float "
    "tolerance is needed anywhere.",
    tags=("math", "bitwise", "agg"),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(l_orderkey)").alias("xor_keys"),
            F.expr("bit_and(l_orderkey)").alias("and_keys"),
            F.expr("bit_or(l_orderkey)").alias("or_keys"),
            F.sum(F.col("l_orderkey") % 7).alias("sum_mod7"),
            F.sum(F.greatest("l_partkey", "l_suppkey")).alias("sum_greatest"),
            F.sum(F.least("l_partkey", "l_suppkey")).alias("sum_least"),
            F.sum(F.shiftleft(F.col("l_linenumber"), 2)).alias("sum_shl"),
            F.sum(F.abs(F.col("l_quantity") - 25).cast("bigint")).alias("sum_absdev"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_merge_upsert",
    oracle="""
WITH tgt AS (
  SELECT c_custkey, c_nationkey,
         cast(round(c_acctbal * 100, 0) AS bigint) AS bal_x100
  FROM customer WHERE c_custkey % 10 <> 0
),
src AS (
  SELECT o_custkey AS k, count(*) AS n_orders,
         cast(round(sum(cast(cast(o_totalprice AS varchar) AS decimal(38,12))), 4) * 100 AS bigint) AS total_x100
  FROM orders
  WHERE o_orderdate >= timestamp '2001-01-01 00:00:00'
  GROUP BY 1
),
merged AS (
  SELECT coalesce(tgt.c_custkey, src.k) AS c_custkey,
         tgt.c_nationkey AS c_nationkey,
         CASE WHEN tgt.c_custkey IS NOT NULL AND src.k IS NOT NULL THEN tgt.bal_x100 + src.total_x100
              WHEN tgt.c_custkey IS NULL THEN src.total_x100
              ELSE tgt.bal_x100 END AS bal_x100,
         CASE WHEN tgt.c_custkey IS NOT NULL AND src.k IS NOT NULL THEN 'updated'
              WHEN tgt.c_custkey IS NULL THEN 'inserted'
              ELSE 'kept' END AS merge_status
  FROM tgt FULL OUTER JOIN src ON tgt.c_custkey = src.k
)
SELECT merge_status, count(*) AS n,
       cast(sum(bal_x100) AS bigint) AS total_bal_x100,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM merged
GROUP BY merge_status
ORDER BY merge_status
""",
    doc="MERGE INTO / upsert semantics (operators/merge.py): a CDC-style "
    "source (recent per-customer order totals) merged into a customer "
    "snapshot — matched rows update the balance, unseen keys insert, the "
    "rest pass through. One full-outer join + per-column conditionals; "
    "every amount cent-scaled bigint so the merge arithmetic is exact. "
    "Summarized per merge_status for a compact stable result.",
    tags=("merge", "upsert", "join", "cdc"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.merge import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tgt = cust.filter(F.col("c_custkey") % 10 != 0).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_x100"),
    )
    src = (
        orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum(F.col("o_totalprice").cast("decimal(38,12)")), 4) * 100)
            .cast("bigint")
            .alias("total_x100"),
        )
    )
    merged = merge_upsert(
        tgt,
        src,
        key="c_custkey",
        updates={"bal_x100": F.col("t.bal_x100") + F.col("s.total_x100")},
        inserts={"bal_x100": F.col("s.total_x100")},
        status_col="merge_status",
    )
    return (
        merged.groupBy("merge_status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_x100").alias("total_bal_x100"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("merge_status")
    )


@register(
    "q_window_suite",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS prio,
         cast(round(o_totalprice * 100, 0) AS bigint) AS cents,
         o_orderkey
  FROM orders
),
wf AS (
  SELECT prio, cents,
         ntile(4)      OVER w AS quartile,
         rank()        OVER w AS rnk,
         dense_rank()  OVER w AS drnk,
         coalesce(cents - lag(cents)  OVER w, 0) AS lag_diff,
         coalesce(lead(cents) OVER w - cents, 0) AS lead_diff,
         first_value(cents) OVER w AS min_cents_in_prio,
         (floor(cume_dist() OVER w * 1000000))::bigint AS cume_x1e6
  FROM o
  WINDOW w AS (PARTITION BY prio ORDER BY cents, o_orderkey)
)
SELECT prio, quartile,
       count(*) AS n,
       cast(sum(cents) AS bigint) AS sum_cents,
       cast(sum(lag_diff) AS bigint) AS sum_lag_diff,
       cast(sum(lead_diff) AS bigint) AS sum_lead_diff,
       max(rnk) AS max_rank,
       max(drnk) AS max_dense_rank,
       max(min_cents_in_prio) AS first_cents,
       max(cume_x1e6) AS max_cume_x1e6
FROM wf
GROUP BY prio, quartile
ORDER BY prio, quartile
""",
    doc="The full ranking/navigation window-function family over one "
    "window definition — ntile, rank, dense_rank, lag, lead, first_value, "
    "cume_dist — summarized per (priority, quartile). Amounts are "
    "cent-scaled bigints; cume_dist is floor-scaled from an identical "
    "exact division on both engines. One sort per partition serves all "
    "eight functions (single Window physical node).",
    tags=("window", "rank", "agg"),
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = W.partitionBy("prio").orderBy("cents", "o_orderkey")
    wf = o.select(
        "prio",
        "cents",
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.coalesce(F.col("cents") - F.lag("cents").over(w), F.lit(0)).alias("lag_diff"),
        F.coalesce(F.lead("cents").over(w) - F.col("cents"), F.lit(0)).alias("lead_diff"),
        F.first("cents").over(w).alias("min_cents_in_prio"),
        F.floor(F.cume_dist().over(w) * 1000000).cast("bigint").alias("cume_x1e6"),
    )
    return (
        wf.groupBy("prio", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum("lag_diff").alias("sum_lag_diff"),
            F.sum("lead_diff").alias("sum_lead_diff"),
            F.max("rnk").alias("max_rank"),
            F.max("drnk").alias("max_dense_rank"),
            F.max("min_cents_in_prio").alias("first_cents"),
            F.max("cume_x1e6").alias("max_cume_x1e6"),
        )
        .orderBy("prio", "quartile")
    )


@register(
    "q_unpivot",
    oracle="""
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure, count(*) AS n,
       cast(round(sum(cast(cast(val AS varchar) AS decimal(38,12))), 4) AS double) AS total
FROM long
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
""",
    doc="Wide-to-long reshaping via the native unpivot operator (Expand "
    "node: rows multiply map-side, no shuffle until the aggregate) — the "
    "inverse of q_pivot_status. Oracle spells it as UNION ALL, the "
    "portable equivalent.",
    tags=("unpivot", "reshape", "agg"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("val")).alias("total"))
        .orderBy("l_returnflag", "measure")
    )


@register(
    "q_stats_moments",
    oracle="""
WITH x AS (
  SELECT l_returnflag,
         cast(round(l_extendedprice, 0) AS bigint) AS price_usd,
         cast(round(l_quantity, 0) AS bigint) AS qty
  FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n,
       cast(sum(price_usd) AS bigint) AS sum_x,
       cast(sum(qty) AS bigint) AS sum_y,
       cast(sum(price_usd * price_usd) AS bigint) AS sum_x2,
       cast(sum(qty * qty) AS bigint) AS sum_y2,
       cast(sum(price_usd * qty) AS bigint) AS sum_xy
FROM x
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Distributed statistics via exact sufficient moments: one pass "
    "collects n, Σx, Σy, Σx², Σy², Σxy per group as pure bigint sums — "
    "the merge-anywhere form of variance/covariance/correlation (Spark's "
    "built-in var_samp/corr use the same partial-merge idea with "
    "floats; emitting integer moments keeps the oracle comparison "
    "exact, and any final statistic derives from them in one driver-side "
    "division). tests/test_stats.py proves the derived correlation "
    "matches F.corr to 1e-9.",
    tags=("stats", "agg", "moments"),
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice"), 0).cast("bigint")
    y = F.round(F.col("l_quantity"), 0).cast("bigint")
    d = li.select("l_returnflag", x.alias("price_usd"), y.alias("qty"))
    return (
        d.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_usd").alias("sum_x"),
            F.sum("qty").alias("sum_y"),
            F.sum(F.col("price_usd") * F.col("price_usd")).alias("sum_x2"),
            F.sum(F.col("qty") * F.col("qty")).alias("sum_y2"),
            F.sum(F.col("price_usd") * F.col("qty")).alias("sum_xy"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_null_semantics",
    oracle="""
WITH x AS (
  SELECT l_linestatus,
         nullif(cast(round(l_discount * 100, 0) AS bigint), 0) AS disc_pct,
         nullif(cast(round(l_tax * 100, 0) AS bigint), 0) AS tax_pct
  FROM lineitem
)
SELECT l_linestatus,
       count(*) AS n_rows,
       count(disc_pct) AS n_discounted,
       count(DISTINCT disc_pct) AS n_distinct_disc,
       cast(sum(CASE WHEN disc_pct IS NOT DISTINCT FROM tax_pct THEN 1 ELSE 0 END) AS bigint) AS n_nullsafe_eq,
       cast(sum(coalesce(disc_pct, 0)) AS bigint) AS sum_disc_pct
FROM x
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    doc="SQL null semantics, pinned: count(*) vs count(col) (null-"
    "excluding), DISTINCT over a nullable column, null-safe equality "
    "(<=> / IS NOT DISTINCT FROM), and coalesce-defaulting — the "
    "three-valued-logic corners every engine must agree on. Percentage "
    "points integer-scaled; nullif manufactures the nulls the synthetic "
    "data lacks.",
    tags=("null", "semantics", "agg"),
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.nullif(F.round(F.col("l_discount") * 100, 0).cast("bigint"), F.lit(0))
    tax = F.nullif(F.round(F.col("l_tax") * 100, 0).cast("bigint"), F.lit(0))
    x = li.select("l_linestatus", disc.alias("disc_pct"), tax.alias("tax_pct"))
    return (
        x.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("disc_pct").alias("n_discounted"),
            F.countDistinct("disc_pct").alias("n_distinct_disc"),
            F.sum(
                F.when(F.col("disc_pct").eqNullSafe(F.col("tax_pct")), 1).otherwise(0)
            ).alias("n_nullsafe_eq"),
            F.sum(F.coalesce(F.col("disc_pct"), F.lit(0))).alias("sum_disc_pct"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q_histogram",
    oracle="""
WITH b AS (
  SELECT least(greatest((cast(round(o_totalprice * 100, 0) AS bigint) * 20)
                        // 20000000, 0), 19) AS bucket
  FROM orders
)
SELECT bucket,
       cast(bucket * 10000 AS double) AS lo_usd,
       count(*) AS n
FROM b
GROUP BY bucket
ORDER BY bucket
""",
    doc="Fixed-width histogram / binning (the width_bucket pattern "
    "spelled as integer arithmetic so both engines bin identically — "
    "float width_bucket boundaries are exactly the kind of edge that "
    "drifts): 20 equal bins over [0, 200k) order value, clamped tails. "
    "Binning is a pure map-side projection — the shuffle carries 20 "
    "keys, so a 100 TB histogram costs one scan plus nothing.",
    tags=("histogram", "binning", "agg"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # bucket = clamp(cents * 20 div 20_000_000, 0, 19) — pure bigint binning
    b = orders.select(
        F.least(
            F.greatest(
                F.expr(
                    "cast(round(o_totalprice * 100, 0) as bigint) * 20 div 20000000"
                ),
                F.lit(0),
            ),
            F.lit(19),
        ).alias("bucket")
    )
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 10000).cast("double").alias("lo_usd"),
            "n",
        )
        .orderBy("bucket")
    )


@register(
    "q_regex_funcs",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       cast(sum(len(regexp_extract_all(text, 'data|spark'))) AS bigint) AS n_matches,
       cast(sum(CASE WHEN regexp_matches(text, '^the ') THEN 1 ELSE 0 END) AS bigint) AS n_the_start,
       cast(sum(length(regexp_replace(text, '[aeiou]', '', 'g'))) AS bigint) AS chars_no_vowels,
       max(regexp_extract(text, '^(\\w+)', 1)) AS max_first_word
FROM documents
GROUP BY source
ORDER BY source
""",
    doc="Regex scalar surface over documents: global match counting "
    "(regexp_count / extract_all), anchored matching, global "
    "replacement, group extraction — all JVM-side regexp expressions "
    "(same engine family as the HPO/HGVS clinical parsers, exercised "
    "here on free text).",
    tags=("regex", "string", "agg"),
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.regexp_count("text", F.lit("data|spark"))).alias("n_matches"),
            F.sum(F.when(F.col("text").rlike("^the "), 1).otherwise(0)).alias(
                "n_the_start"
            ),
            F.sum(F.length(F.regexp_replace("text", "[aeiou]", ""))).alias(
                "chars_no_vowels"
            ),
            F.max(F.regexp_extract("text", r"^(\w+)", 1)).alias("max_first_word"),
        )
        .orderBy("source")
    )


@register(
    "q_try_cast",
    oracle="""
SELECT p_brand,
       count(*) AS n,
       count(try_cast(substr(p_brand, 7) AS bigint)) AS n_numeric_suffix,
       cast(sum(coalesce(try_cast(substr(p_brand, 7) AS bigint), -1)) AS bigint) AS sum_suffix,
       count(try_cast(p_name AS bigint)) AS n_name_numeric
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
    doc="try_cast semantics pinned: malformed casts yield NULL (never a "
    "runtime error) — the property that keeps a 100 TB job from dying on "
    "one bad row. Brand suffixes parse, free-text names do not; "
    "count(col) then exposes the null-vs-value split.",
    tags=("cast", "null", "semantics"),
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    suffix = F.expr("try_cast(substring(p_brand, 7, 10) as bigint)")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(suffix).alias("n_numeric_suffix"),
            F.sum(F.coalesce(suffix, F.lit(-1))).alias("sum_suffix"),
            F.count(F.expr("try_cast(p_name as bigint)")).alias("n_name_numeric"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_funnel",
    oracle="""
WITH staged AS (
  SELECT user_id, ts, event_id, event_type,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER w AS seen_view
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
staged2 AS (
  SELECT user_id, ts, event_id, event_type, seen_view,
         max(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END)
           OVER w AS seen_vc
  FROM staged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS did_view,
         max(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END) AS did_vc,
         max(CASE WHEN event_type = 'purchase' AND seen_vc = 1 THEN 1 ELSE 0 END) AS did_vcp
  FROM staged2 GROUP BY user_id
)
SELECT cast(count(*) AS bigint) AS n_users,
       cast(sum(did_view) AS bigint) AS n_view,
       cast(sum(did_vc) AS bigint) AS n_view_click,
       cast(sum(did_vcp) AS bigint) AS n_view_click_purchase,
       (cast(sum(did_vc) AS bigint) * 1000000)
         // greatest(cast(sum(did_view) AS bigint), 1) AS conv_click_x1e6,
       (cast(sum(did_vcp) AS bigint) * 1000000)
         // greatest(cast(sum(did_vc) AS bigint), 1) AS conv_purchase_x1e6
FROM per_user
""",
    doc="Ordered funnel analysis (view -> click -> purchase): cumulative "
    "per-user window flags mark each stage reached IN ORDER, then one "
    "rollup counts stage populations and integer-scaled conversion "
    "rates. Both windows and the per-user aggregate share the user_id "
    "hash partitioning, so the whole funnel costs ONE shuffle of the "
    "events stream plus a scalar rollup — no self-joins, no pattern "
    "explosion, regardless of corpus size.",
    tags=("events", "funnel", "window"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    is_view = F.when(F.col("event_type") == "view", 1).otherwise(0)
    staged = ev.withColumn("seen_view", F.max(is_view).over(w))
    is_vc = F.when(
        (F.col("event_type") == "click") & (F.col("seen_view") == 1), 1
    ).otherwise(0)
    staged2 = staged.withColumn("seen_vc", F.max(is_vc).over(w))
    is_vcp = F.when(
        (F.col("event_type") == "purchase") & (F.col("seen_vc") == 1), 1
    ).otherwise(0)
    per_user = staged2.groupBy("user_id").agg(
        F.max(is_view).alias("did_view"),
        F.max(is_vc).alias("did_vc"),
        F.max(is_vcp).alias("did_vcp"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("did_view").alias("n_view"),
        F.sum("did_vc").alias("n_view_click"),
        F.sum("did_vcp").alias("n_view_click_purchase"),
    ).select(
        "n_users",
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        F.expr("(n_view_click * 1000000) div greatest(n_view, 1)").alias(
            "conv_click_x1e6"
        ),
        F.expr(
            "(n_view_click_purchase * 1000000) div greatest(n_view_click, 1)"
        ).alias("conv_purchase_x1e6"),
    )


@register(
    "q_retention_cohorts",
    oracle="""
WITH weekly AS (
  SELECT DISTINCT user_id,
         (ts::date - DATE '2024-01-01') // 7 AS week_idx
  FROM events
),
cohorts AS (
  SELECT user_id, min(week_idx) AS cohort_week FROM weekly GROUP BY user_id
),
joined AS (
  SELECT c.cohort_week, w.week_idx - c.cohort_week AS offset_w, w.user_id
  FROM weekly w JOIN cohorts c ON c.user_id = w.user_id
  WHERE w.week_idx - c.cohort_week <= 3
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY cohort_week
)
SELECT j.cohort_week, j.offset_w,
       cast(count(DISTINCT j.user_id) AS bigint) AS n_active,
       s.cohort_size,
       (cast(count(DISTINCT j.user_id) AS bigint) * 1000000) // s.cohort_size
         AS retention_x1e6
FROM joined j JOIN sizes s ON s.cohort_week = j.cohort_week
GROUP BY j.cohort_week, j.offset_w, s.cohort_size
ORDER BY j.cohort_week, j.offset_w
""",
    doc="Weekly retention cohorts: users grouped by first-active week "
    "(integer week index from a fixed epoch — no engine-specific "
    "week-start rules), then distinct-user activity counted at offsets "
    "0-3 weeks with integer-scaled retention rates. The activity "
    "distinct, the cohort min, and the cohort join all hash on user_id "
    "(one shuffle reused thrice under AQE exchange reuse); only the "
    "tiny (cohort_week, offset) rollup reshuffles.",
    tags=("events", "retention", "cohort"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id",
        (F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7)
        .cast("long")
        .alias("week_idx"),
    ).distinct()
    cohorts = weekly.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    joined = (
        weekly.join(cohorts, "user_id")
        .withColumn("offset_w", F.col("week_idx") - F.col("cohort_week"))
        .filter(F.col("offset_w") <= 3)
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "offset_w")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "offset_w",
            "n_active",
            "cohort_size",
            F.expr("(n_active * 1000000) div cohort_size").alias("retention_x1e6"),
        )
        .orderBy("cohort_week", "offset_w")
    )


@register(
    "q_session_window_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       cast(round(sum(cast(cast(value AS varchar) AS decimal(38,12))), 4) AS double) AS total_value
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    doc="Native F.session_window in batch form — the EXACT expression the "
    "streaming session operator (streaming/events.py session_window_stats) "
    "groups by, so the oracle certifies Spark's session-merge semantics "
    "(session_end = last event + gap; sub-second gaps compared in "
    "microseconds) and the stream-subset pytest ties the streaming half "
    "to this query. Oracle replays sessions as lag-gap islands. One "
    "user_id shuffle; session state in streaming is per-open-session.",
    tags=("window", "sessionize", "streaming-parity"),
)
def q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q_user_event_totals",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       cast(round(sum(cast(cast(coalesce(value, 0) AS varchar) AS decimal(38,12))), 4) AS double) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="Per-user running-total batch twin of the stateful streaming "
    "operators (applyInPandasWithState / transformWithStateInPandas in "
    "streaming/events.py): the final state they converge to IS this "
    "aggregate, pinned here against the SQL oracle while the pytest "
    "stream-vs-batch tests pin the streams against the same expression. "
    "Map-side partial aggregation; one user_id shuffle.",
    tags=("agg", "streaming-parity"),
)
def q_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "q_view_purchase_join",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
FROM events p JOIN events v
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
ORDER BY p.user_id, purchase_id, view_id
""",
    doc="Batch twin of the watermarked stream-stream join "
    "(streaming/events.py view_purchase_join): every purchase matched to "
    "the same user's views in the preceding hour. Same-table self-join "
    "shuffles on user_id once per side with the event-time band as a "
    "post-join filter; the streaming version bounds its state by exactly "
    "this band. The pytest stream test asserts set-equality against this "
    "shape.",
    tags=("join", "range-join", "streaming-parity"),
)
def q_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        )
        .select("user_id", "purchase_id", "view_id")
        .orderBy("user_id", "purchase_id", "view_id")
    )


@register(
    "q_graph_pagerank",
    oracle="""
WITH e AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT cast(count(*) AS bigint) AS n FROM nodes),
deg AS (SELECT src, cast(count(*) AS bigint) AS outdeg FROM e GROUP BY 1),
r0 AS (
  SELECT node, cast(1000000000 AS bigint) // nn.n AS rank FROM nodes CROSS JOIN nn
),
c1 AS (
  SELECT e.dst, cast(sum(r.rank // d.outdeg) AS bigint) AS s
  FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r1 AS (
  SELECT nodes.node,
         (15 * cast(1000000000 AS bigint)) // (100 * nn.n) + (85 * coalesce(c1.s, 0)) // 100 AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node
),
c2 AS (
  SELECT e.dst, cast(sum(r.rank // d.outdeg) AS bigint) AS s
  FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r2 AS (
  SELECT nodes.node,
         (15 * cast(1000000000 AS bigint)) // (100 * nn.n) + (85 * coalesce(c2.s, 0)) // 100 AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node
),
c3 AS (
  SELECT e.dst, cast(sum(r.rank // d.outdeg) AS bigint) AS s
  FROM e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY 1
),
r3 AS (
  SELECT nodes.node,
         (15 * cast(1000000000 AS bigint)) // (100 * nn.n) + (85 * coalesce(c3.s, 0)) // 100 AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nodes.node
)
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       rank AS rank_x1e9
FROM r3
ORDER BY rank_x1e9 DESC, node_type, node_key
LIMIT 20
""",
    doc="Fixed-point integer PageRank (operators/graph.pagerank_fixed) "
    "over the customer->supplier purchase graph (distinct pairs from "
    "lineitem x orders; node ids namespaced even/odd): three Lloyd-style "
    "unrolled rounds of rank(v) <- 0.15/N + 0.85*sum(rank(u)/outdeg(u)) "
    "in x1e9 trunc-div bigints — the same quantize-first certification "
    "trick as sim_ivf_ann, replayed exactly by the DuckDB CTE chain. "
    "Each round shuffles edge contributions once on dst; top-20 emitted "
    "via TakeOrderedAndProject, never a global sort.",
    tags=("graph", "iterative", "fixed-point"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.graph import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank_fixed(edges, iters=3)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            F.col("rank").alias("rank_x1e9"),
        )
        .orderBy(F.desc("rank_x1e9"), "node_type", "node_key")
        .limit(20)
    )


@register(
    "q_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY prev_type, next_type
""",
    doc="Clickstream transition matrix (Markov first-order counts): each "
    "user's event sequence pairs via one lag window, then a "
    "(prev,next)-keyed rollup — the input to funnel optimization and "
    "next-action models. One user_id shuffle serves the window; the "
    "transition aggregate is event-type-squared bounded. No self-join "
    "(the naive spelling joins events to events on adjacency).",
    tags=("window", "events", "sequence"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "q_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type,
         quantile_disc(value, 0.5) AS med_value
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med_value,
         abs(e.value - m.med_value) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
),
mad AS (
  SELECT event_type, any_value(med_value) AS med_value,
         quantile_disc(adev, 0.5) AS mad_value
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       any_value(m.med_value) AS med_value,
       any_value(m.mad_value) AS mad_value,
       count(*) FILTER (WHERE d.adev > 3 * m.mad_value) AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
    doc="Robust outlier detection: per-type median and median-absolute-"
    "deviation via percentile_disc (picks ACTUAL data values, so both "
    "engines agree bit-for-bit — no interpolation), then a 3-MAD fence "
    "count. The deviation pass reuses the same event_type partitioning "
    "as the median pass; the med/mad tables are type-sized broadcasts. "
    "The robust counterpart of q_outlier_trim's stddev fences.",
    tags=("agg", "statistics", "robust"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med_value")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med_value"))
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med_value").alias("med_value"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad_value"),
    )
    return (
        dev.drop("med_value")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med_value").alias("med_value"),
            F.first("mad_value").alias("mad_value"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad_value"), 1)).alias(
                "n_outliers"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_scd2_point_in_time",
    oracle="""
WITH hist AS (
  SELECT user_id, value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM events WHERE event_type = 'signup' OR event_type = 'purchase'
),
probes AS (
  SELECT unnest([timestamp '2024-01-08 00:00:00',
                 timestamp '2024-01-15 00:00:00',
                 timestamp '2024-01-22 00:00:00']) AS probe_ts
)
SELECT p.probe_ts, count(*) AS n_users,
       cast(sum(cast(round(h.value * 100, 0) AS bigint)) AS bigint) AS total_value_x100
FROM hist h JOIN probes p
  ON h.valid_from <= p.probe_ts
 AND (h.valid_to IS NULL OR h.valid_to > p.probe_ts)
GROUP BY p.probe_ts
ORDER BY p.probe_ts
""",
    doc="SCD2 dimension build + point-in-time lookup — the warehouse "
    "pattern for 'what was each user's state as of T': validity "
    "intervals come from one lead() window over the change stream "
    "(valid_to = next change, NULL = current), then a tiny probe set "
    "broadcast-range-joins against the open intervals and rolls up "
    "state-as-of per probe. One user_id shuffle builds the history; "
    "the interval predicate evaluates map-side against the broadcast "
    "probes. Amounts cent-scaled for exactness.",
    tags=("window", "scd2", "range-join", "temporal"),
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    probes = F.broadcast(
        load_table(spark, sf_dir, "events")
        .sparkSession.createDataFrame(
            [("2024-01-08",), ("2024-01-15",), ("2024-01-22",)], "probe_ts string"
        )
        .select(F.col("probe_ts").cast("timestamp_ntz").alias("probe_ts"))
    )
    return (
        hist.join(
            probes,
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("probe_ts"))),
        )
        .groupBy("probe_ts")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "total_value_x100"
            ),
        )
        .orderBy("probe_ts")
    )


@register(
    "q_gapfill_locf",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         cast(count(*) AS bigint) AS n,
         cast(sum(cast(round(value * 100, 0) AS bigint)) AS bigint) AS v_x100
  FROM events WHERE user_id < 10 GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM hourly GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
),
filled AS (
  SELECT g.user_id, g.bucket, h.n, h.v_x100,
         count(h.n) OVER w AS grp
  FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
  WINDOW w AS (PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
locf AS (
  SELECT user_id, bucket,
         coalesce(n, 0) AS n,
         last_value(v_x100 IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_x100_locf,
         CASE WHEN n IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM filled
)
SELECT user_id,
       count(*) AS n_buckets,
       cast(sum(is_gap) AS bigint) AS n_gaps,
       cast(sum(v_x100_locf) AS bigint) AS locf_sum_x100
FROM locf GROUP BY user_id ORDER BY user_id
""",
    doc="Hypertable gap-fill + LOCF (TimescaleDB time_bucket_gapfill/"
    "locf): per-user hourly rollup, a dense bucket grid from each "
    "user's own [min,max] span (sequence explode — map-side), missing "
    "buckets filled by last-observation-carried-forward via last_value "
    "IGNORE NULLS. Everything after the first rollup shares the "
    "user_id partitioning: grid generation, the left join back, and "
    "the fill window. Amounts cent-scaled; per-user rollup emitted "
    "(bucket-level output is the same plan minus the final aggregate).",
    tags=("window", "timeseries", "gapfill", "temporal"),
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_x100"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
    )
    filled = grid.join(hourly, ["user_id", "bucket"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    locf = filled.select(
        "user_id",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("v_x100", ignorenulls=True).over(w).alias("v_x100_locf"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
    )
    return (
        locf.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("is_gap").alias("n_gaps"),
            F.sum("v_x100_locf").alias("locf_sum_x100"),
        )
        .orderBy("user_id")
    )


@register(
    "q_rolling_zscore",
    oracle="""
WITH v AS (
  SELECT event_type, ts, event_id,
         cast(round(value * 100, 0) AS bigint) AS x
  FROM events WHERE value IS NOT NULL
),
w AS (
  SELECT event_type, ts, event_id, x,
         cast(count(*) OVER win AS bigint) AS n,
         cast(sum(x) OVER win AS bigint) AS s,
         cast(sum(x * x) OVER win AS bigint) AS ss
  FROM v
  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       count(*) AS n_points,
       count(*) FILTER (
         WHERE n >= 10
           AND (n * x - s) * (n * x - s) * 1 > 9 * (n * ss - s * s)
       ) AS n_anomalies
FROM w
GROUP BY event_type
ORDER BY event_type
""",
    doc="Rolling z-score anomaly detection (|z| > 3 against a 50-point "
    "trailing window) entirely in integer space: values cent-scaled, "
    "rolling count/sum/sum-of-squares are exact bigint window "
    "aggregates, and the z test is cross-multiplied — "
    "(n*x - s)^2 > 9*(n*ss - s^2) is |x-mean| > 3*stddev without a "
    "single division or sqrt, so the flags are bit-identical on any "
    "engine. One event_type shuffle serves the window and the rollup. "
    "The monitoring-pipeline classic, warm-up guarded (n >= 10).",
    tags=("window", "anomaly", "statistics", "fixed-point"),
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    win = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, W.currentRow)
    )
    w = v.select(
        "event_type",
        "x",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("ss"),
    )
    anom = (F.col("n") >= 10) & (
        (F.col("n") * F.col("x") - F.col("s"))
        * (F.col("n") * F.col("x") - F.col("s"))
        > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count(F.when(anom, 1)).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


@register(
    "q_rate_burst",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
  FROM events
),
windowed AS (
  SELECT user_id, event_id,
         cast(count(*) OVER (PARTITION BY user_id ORDER BY sec
                             RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS bigint) AS burst
  FROM e
),
peaks AS (
  SELECT user_id, max(burst) AS peak_per_min, count(*) AS n_events
  FROM windowed GROUP BY user_id
)
SELECT user_id, peak_per_min, n_events
FROM peaks
ORDER BY peak_per_min DESC, user_id
LIMIT 20
""",
    doc="Burst / rate-spike detection: each event's trailing-60-second "
    "count via an event-time RANGE frame over epoch seconds (exact "
    "integer ordering — no timestamp arithmetic in the frame), per-user "
    "peak rate, top-20 burstiest users. The abuse/rate-limit monitoring "
    "primitive. One user_id shuffle serves the range window and the "
    "peak rollup; top-k is TakeOrderedAndProject.",
    tags=("window", "range-frame", "events", "monitoring"),
)
def q_rate_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000))
        .cast("long")
        .alias("sec"),
    )
    win = W.partitionBy("user_id").orderBy("sec").rangeBetween(-59, 0)
    windowed = e.select(
        "user_id", F.count(F.lit(1)).over(win).alias("burst")
    )
    return (
        windowed.groupBy("user_id")
        .agg(
            F.max("burst").alias("peak_per_min"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("peak_per_min"), "user_id")
        .limit(20)
    )


@register(
    "q_skew_profile",
    oracle="""
WITH freq AS (
  SELECT l_suppkey AS key, cast(count(*) AS bigint) AS c
  FROM lineitem GROUP BY 1
),
stats AS (
  SELECT cast(count(*) AS bigint) AS n_keys,
         cast(sum(c) AS bigint) AS n_rows,
         cast(max(c) AS bigint) AS max_c
  FROM freq
),
top AS (
  SELECT key, c, row_number() OVER (ORDER BY c DESC, key) AS rn FROM freq
)
SELECT t.rn AS rank, t.key, t.c AS key_rows,
       s.n_keys, s.n_rows,
       (t.c * s.n_keys * 1000000) // s.n_rows AS skew_x1e6
FROM top t CROSS JOIN stats s
WHERE t.rn <= 10
ORDER BY rank
""",
    doc="Join-key skew profiler — the measurement behind the "
    "salt-or-not decision (operators/skew.py): per-key frequencies of "
    "the join column, the top-10 hottest keys, and each key's skew "
    "ratio freq/avg as an exact x1e6 integer (freq * n_keys / n_rows "
    "cross-multiplied). A skew ratio near 1e6 is uniform; 10x that "
    "means AQE skew-split or salting. One key-grouped aggregate, "
    "scalar stats broadcast back, top-10 via TakeOrderedAndProject.",
    tags=("skew", "profiling", "agg"),
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_c"),
    )
    top = (
        freq.orderBy(F.desc("c"), "key")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("c"), F.asc("key"))),
        )
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "key",
            F.col("c").alias("key_rows"),
            "n_keys",
            "n_rows",
            F.expr("(c * n_keys * 1000000) div n_rows").alias("skew_x1e6"),
        )
        .orderBy("rank")
    )


@register(
    "q_yoy_growth",
    oracle="""
WITH yearly AS (
  SELECT l_suppkey AS suppkey, year(l_shipdate) AS yr,
         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS bigint)) AS bigint) AS rev_x1e4
  FROM lineitem GROUP BY 1, 2
),
with_prev AS (
  SELECT suppkey, yr, rev_x1e4,
         lag(rev_x1e4) OVER (PARTITION BY suppkey ORDER BY yr) AS prev_x1e4
  FROM yearly
),
growth AS (
  SELECT suppkey, yr, rev_x1e4, prev_x1e4,
         ((rev_x1e4 - prev_x1e4) * 1000000) // prev_x1e4 AS growth_x1e6
  FROM with_prev WHERE prev_x1e4 > 0
)
SELECT suppkey, yr, rev_x1e4, prev_x1e4, growth_x1e6
FROM growth
ORDER BY growth_x1e6 DESC, suppkey, yr
LIMIT 15
""",
    doc="Year-over-year growth movers: per-supplier yearly revenue in "
    "exact x1e4 bigints, the previous year attached by one lag window, "
    "growth as an integer ppm ratio (delta * 1e6 / prev, trunc div — "
    "no float anywhere), top-15 gainers. The BI staple; one "
    "(suppkey, yr) aggregate, the lag reuses the suppkey partitioning, "
    "top-k via TakeOrderedAndProject.",
    tags=("window", "agg", "bi", "fixed-point"),
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    yearly = li.groupBy(
        F.col("l_suppkey").alias("suppkey"), F.year("l_shipdate").alias("yr")
    ).agg(F.sum(rev).alias("rev_x1e4"))
    w = W.partitionBy("suppkey").orderBy("yr")
    growth = (
        yearly.withColumn("prev_x1e4", F.lag("rev_x1e4").over(w))
        .filter(F.col("prev_x1e4") > 0)
        .withColumn(
            "growth_x1e6",
            F.expr("((rev_x1e4 - prev_x1e4) * 1000000) div prev_x1e4"),
        )
    )
    return (
        growth.select("suppkey", "yr", "rev_x1e4", "prev_x1e4", "growth_x1e6")
        .orderBy(F.desc("growth_x1e6"), "suppkey", "yr")
        .limit(15)
    )
