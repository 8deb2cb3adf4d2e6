"""Modern SQL surface: recursive CTEs (calendar gap-fill), the VARIANT
semi-structured type (Spark 4), and date/interval arithmetic.

The reference has none of these (SURVEY §2.7 — no sorts/windows/recursion
exist in P6); they are engine-parity operators the harness's SQL surface
expects. The recursive CTE is the one genuinely iterative construct in
the registry: Spark executes it as repeated plan expansion with a union,
which is fine for short ladders (a calendar spine is bounded by the date
range, ~100 rows) — unbounded recursion over 100 TB facts would instead
be the iterative-join pattern in operators/graph.py (connected
components), which checkpoints between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.plans.registry import register
from p6_spark.sources.tables import load_table


_RECURSIVE_SPARK = """
WITH RECURSIVE yrs(y) AS (
  SELECT {lo_y} AS y
  UNION ALL
  SELECT y + 1 FROM yrs WHERE y < {hi_y}
),
months AS (
  SELECT make_timestamp_ntz(y, mth, 1, 0, 0, 0) AS m
  FROM yrs LATERAL VIEW explode(sequence(1, 12)) t AS mth
  WHERE make_timestamp_ntz(y, mth, 1, 0, 0, 0)
        BETWEEN TIMESTAMP_NTZ'{lo_lit}' AND TIMESTAMP_NTZ'{hi_lit}'
),
c AS (
  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT date_format(months.m, 'yyyy-MM') AS month, coalesce(c.n, 0) AS n_orders
FROM months LEFT JOIN c ON months.m = c.m
ORDER BY month
"""


@register(
    "q_recursive_cte",
    oracle="""
WITH RECURSIVE bounds AS (
  SELECT date_trunc('month', min(o_orderdate)) AS lo,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
),
months(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months, bounds WHERE m < hi
),
c AS (
  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT strftime(months.m, '%Y-%m') AS month, coalesce(c.n, 0) AS n_orders
FROM months LEFT JOIN c ON months.m = c.m
ORDER BY month
""",
    doc="Recursive CTE building a dense month spine between min and max "
    "order date, left-joined to per-month counts — the gap-filling "
    "calendar pattern (months with zero orders appear as 0, which a "
    "plain GROUP BY can never produce). Spark executes each recursion "
    "round as a separate job, so the Spark side recurses over YEARS "
    "(<=10 rounds) and explodes 12 months per year instead of walking "
    "month-by-month (~80 rounds, which measured 16 s at sf0.1 vs ~1 s "
    "for this shape); the bounds come from one scalar aggregate "
    "collected up front (same broadcast-a-scalar pattern as "
    "q_outlier_trim) so the recursive arm never re-scans the fact "
    "table. The oracle keeps the canonical month-ladder spelling — "
    "same result, per-engine-appropriate plan.",
    tags=("recursive", "cte", "date"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    b = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).collect()[0]
    sql = _RECURSIVE_SPARK.format(
        lo_y=b["lo"].year,
        hi_y=b["hi"].year,
        lo_lit=b["lo"].strftime("%Y-%m-01 00:00:00"),
        hi_lit=b["hi"].strftime("%Y-%m-01 00:00:00"),
    )
    return spark.sql(sql)


@register(
    "q_variant_json",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(cast(json_extract(props, '$.k') AS bigint)) AS min_k,
       max(cast(json_extract(props, '$.k') AS bigint)) AS max_k,
       cast(sum(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="Semi-structured VARIANT path (Spark 4): parse_json once into a "
    "VARIANT column, variant_get typed extraction, then aggregate — the "
    "shredded-JSON pattern that replaces per-access string re-parsing "
    "(q_json_extract covers the classic get_json_object spelling). "
    "VARIANT keeps a binary-encoded tree, so repeated extractions don't "
    "re-tokenize the text; extraction stays JVM-side codegen.",
    tags=("variant", "json", "agg"),
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_interval_arith",
    oracle="""
SELECT cast(extract(year FROM o_orderdate) AS int) AS yr,
       count(*) AS n,
       min(strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d')) AS min_due,
       max(date_diff('day', cast(o_orderdate AS date), DATE '1999-01-01')) AS max_age_days,
       min(strftime(last_day(cast(o_orderdate AS date)), '%Y-%m-%d')) AS min_month_end
FROM orders
GROUP BY 1
ORDER BY yr
""",
    doc="Date/interval arithmetic family: add_months (end-of-month "
    "clamping semantics match +INTERVAL MONTH), day difference on date "
    "granularity (both engines count date boundaries once the timestamp "
    "is floored to a date), last_day. Results emitted as formatted "
    "strings / ints for cross-engine hash stability; all expressions "
    "fold into the scan projection — no shuffle beyond the year rollup.",
    tags=("date", "interval", "agg"),
)
def q_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd")
            ).alias("min_due"),
            F.max(
                F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date"))
            ).alias("max_age_days"),
            F.min(
                F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd")
            ).alias("min_month_end"),
        )
        .orderBy("yr")
    )


_COLLATION_SPARK = """
SELECT t.label, count(*) AS n
FROM part p
JOIN VALUES ('economy', 'budget-tier'),
            ('promo', 'promo-tier'),
            ('standard', 'base-tier') AS t(key, label)
  ON p.p_type = t.key COLLATE UTF8_LCASE
GROUP BY t.label
ORDER BY t.label
"""


@register(
    "q_collation",
    oracle="""
SELECT t.label, count(*) AS n
FROM part p
JOIN (VALUES ('economy', 'budget-tier'),
             ('promo', 'promo-tier'),
             ('standard', 'base-tier')) t(key, label)
  ON lower(p_type) = t.key
GROUP BY t.label
ORDER BY t.label
""",
    doc="Collation-aware comparison (Spark 4): join uppercase part types "
    "to a lowercase tier dimension under UTF8_LCASE — no lower() "
    "wrapping on the fact column, so the predicate stays sargable and "
    "the tiny VALUES dim broadcasts. The oracle spells the same "
    "semantics with lower() since DuckDB scopes collations differently.",
    tags=("collation", "join", "sql-surface"),
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_COLLATION_SPARK)


_WINDOW_NAV_SPARK = """
SELECT o_orderpriority,
       n_orders,
       second_key,
       last_f_key
FROM (
  SELECT o_orderpriority,
         count(*) OVER w_full AS n_orders,
         nth_value(o_orderkey, 2) OVER w_full AS second_key,
         last_value(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END)
           IGNORE NULLS OVER w_full AS last_f_key,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
  WINDOW w_full AS (PARTITION BY o_orderpriority
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
WHERE rn = 1
ORDER BY o_orderpriority
"""


@register(
    "q_window_nav2",
    oracle="""
SELECT o_orderpriority,
       n_orders,
       second_key,
       last_f_key
FROM (
  SELECT o_orderpriority,
         count(*) OVER w_full AS n_orders,
         nth_value(o_orderkey, 2) OVER w_full AS second_key,
         last_value(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END
                    IGNORE NULLS) OVER w_full AS last_f_key,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
  WINDOW w_full AS (PARTITION BY o_orderpriority
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
WHERE rn = 1
ORDER BY o_orderpriority
""",
    doc="Window navigation completions over a named WINDOW clause: "
    "nth_value on the full frame, last_value IGNORE NULLS (latest "
    "completed order per priority — nulls synthesized by the CASE), and "
    "a count over the same frame, all sharing one Window node plus the "
    "row_number dedup pass; total-order tiebreaks on o_orderkey. "
    "q_window_suite covers rank/lag/lead/ntile/cume_dist.",
    tags=("window", "navigation"),
)
def q_window_nav2(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_WINDOW_NAV_SPARK)


@register(
    "q_asof_nearest",
    oracle="""
WITH m AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
marked AS (
  SELECT user_id, event_id, event_type, us,
    last_value(CASE WHEN event_type = 'view'
                    THEN struct_pack(us := us, id := event_id) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
    first_value(CASE WHEN event_type = 'view'
                     THEN struct_pack(us := us, id := event_id) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
  FROM m
),
scored AS (
  SELECT user_id, event_id, us,
         prev, nxt,
         us - (prev).us AS dprev,
         (nxt).us - us AS dnext,
         prev IS NOT NULL AND us - (prev).us <= 1800000000 AS prev_ok,
         nxt IS NOT NULL AND (nxt).us - us <= 1800000000 AS next_ok
  FROM marked WHERE event_type = 'purchase'
)
SELECT user_id, event_id AS purchase_id,
       CASE WHEN prev_ok AND (NOT next_ok OR dprev <= dnext) THEN (prev).id
            WHEN next_ok THEN (nxt).id END AS nearest_view_id,
       CASE WHEN prev_ok AND (NOT next_ok OR dprev <= dnext) THEN dprev
            WHEN next_ok THEN dnext END AS dist_us
FROM scored
ORDER BY user_id, purchase_id
""",
    doc="Nearest-neighbor as-of join: each purchase matched to the "
    "CLOSEST view by absolute event-time distance within +-30 min, tie "
    "to the earlier view — q_asof_prior_view covers the backward-only "
    "form. Both candidate directions come from the same ordered window "
    "pass (last/first IGNORE NULLS carrying (ts,id) structs), so the "
    "whole operator is one shuffle on user_id and never materializes "
    "candidate pairs — the join-free rewrite that survives any key "
    "cardinality. Distances in exact epoch microseconds (unix_micros / "
    "epoch_us agree bit-for-bit).",
    tags=("asof", "window", "nearest"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    lim = 1_800_000_000  # 30 min in microseconds
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    view_struct = F.when(
        F.col("event_type") == "view",
        F.struct(F.col("us").alias("us"), F.col("event_id").alias("id")),
    )
    order = [F.col("us"), F.col("event_id")]
    w_prev = (
        W.partitionBy("user_id").orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    )
    w_next = (
        W.partitionBy("user_id").orderBy(*order).rowsBetween(1, W.unboundedFollowing)
    )
    marked = m.select(
        "*",
        F.last(view_struct, ignorenulls=True).over(w_prev).alias("prev"),
        F.first(view_struct, ignorenulls=True).over(w_next).alias("nxt"),
    )
    scored = marked.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        (F.col("us") - F.col("prev.us")).alias("dprev"),
        (F.col("nxt.us") - F.col("us")).alias("dnext"),
        (F.col("prev").isNotNull() & ((F.col("us") - F.col("prev.us")) <= lim)).alias(
            "prev_ok"
        ),
        (F.col("nxt").isNotNull() & ((F.col("nxt.us") - F.col("us")) <= lim)).alias(
            "next_ok"
        ),
        F.col("prev.id").alias("prev_id"),
        F.col("nxt.id").alias("next_id"),
    )
    prefer_prev = F.col("prev_ok") & (~F.col("next_ok") | (F.col("dprev") <= F.col("dnext")))
    return scored.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.when(prefer_prev, F.col("prev_id"))
        .when(F.col("next_ok"), F.col("next_id"))
        .alias("nearest_view_id"),
        F.when(prefer_prev, F.col("dprev"))
        .when(F.col("next_ok"), F.col("dnext"))
        .alias("dist_us"),
    ).orderBy("user_id", "purchase_id")
