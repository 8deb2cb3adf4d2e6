"""Aggregate / subquery surface extensions: ordered string aggregation
(LISTAGG shape), exact median + deterministic mode, boolean and filtered
aggregates, correlated LATERAL top-k join, NOT-IN null-trap semantics
(null-aware anti join), and TF-IDF term scoring over the documents table.

The reference (VarenyaJ/P6) has no aggregation surface beyond
group-collect (SURVEY §2.6, src/P6/mapper.py:759-791); these are
engine-parity operators the harness exercises. Exactness conventions per
plans/registry.py: integer outputs where possible; the one transcendental
(ln in TF-IDF) is snapped to decimal(38,12) before any further arithmetic
so both engines agree to 12 decimals, then rounded to 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_TOKENS
from p6_spark.sources.tables import load_table


@register(
    "q_string_agg",
    oracle="""
WITH d AS (SELECT DISTINCT p_type, p_brand FROM part),
b AS (
  SELECT p_type,
         count(*) AS n_brands,
         string_agg(p_brand, ',' ORDER BY p_brand) AS brands
  FROM d GROUP BY p_type
),
c AS (SELECT p_type, count(*) AS n_parts FROM part GROUP BY p_type)
SELECT c.p_type, c.n_parts, b.n_brands, b.brands
FROM c JOIN b ON c.p_type = b.p_type
ORDER BY c.p_type
""",
    doc="Ordered string aggregation (LISTAGG/string_agg shape): per part "
    "type, the sorted comma-joined distinct brand list. Spark spells it "
    "array_join(array_sort(collect_set)) — collect_set partials merge "
    "map-side, and the explicit sort makes the gather order-deterministic "
    "(bare listagg/string_agg without ORDER BY is not). Group count is "
    "bounded (6 types x ~25 brands), so the collected arrays stay tiny "
    "no matter the fact size — the scale-safe shape for this operator.",
    tags=("agg", "string"),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    per_type = part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.size(F.collect_set("p_brand")).alias("n_brands"),
        F.array_join(F.array_sort(F.collect_set("p_brand")), ",").alias("brands"),
    )
    return per_type.orderBy("p_type")


@register(
    "q_mode_median",
    oracle="""
WITH c AS (
  SELECT l_returnflag, cast(l_quantity AS bigint) AS qty, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
m AS (
  SELECT l_returnflag, qty AS mode_qty, n AS mode_cnt,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, qty) AS rn
  FROM c
),
med AS (
  SELECT l_returnflag, count(*) AS n_rows,
         cast(median(l_quantity) AS double) AS median_qty
  FROM lineitem GROUP BY 1
)
SELECT med.l_returnflag, med.n_rows, med.median_qty, m.mode_qty, m.mode_cnt
FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND m.rn = 1
ORDER BY med.l_returnflag
""",
    doc="Exact order statistics: per return flag, the exact median "
    "(continuous interpolation — both engines compute lo + (hi-lo)*0.5 "
    "over integer-valued quantities, so the double is exact) and the "
    "deterministic mode (smallest most-frequent value via count-then-"
    "rank, never the built-in mode() whose tie-break is undefined). The "
    "mode path is two shuffles of tiny cardinality (flag x 50 distinct "
    "quantities); median is Spark's exact percentile aggregate. At 100 TB "
    "swap median for approx_percentile — exposed in q_approx_sketches.",
    tags=("agg", "window", "statistics"),
)
def q_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count(F.lit(1)).alias("n"))
    rn = W.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("qty"))
    mode = (
        counts.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_qty"),
            F.col("n").alias("mode_cnt"),
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.median("l_quantity").cast("double").alias("median_qty"),
    )
    return (
        med.join(F.broadcast(mode), "l_returnflag")
        .select("l_returnflag", "n_rows", "median_qty", "mode_qty", "mode_cnt")
        .orderBy("l_returnflag")
    )


@register(
    "q_bool_aggs",
    oracle="""
SELECT event_type,
       count(*) AS n,
       count(*) FILTER (WHERE value > 100) AS n_big,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(value > 10000) AS any_huge,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="Boolean & filtered aggregates: count_if / bool_and / bool_or "
    "plus a distinct count, one pass over events. All four fold into the "
    "partial aggregate (bool_and partial is a running AND), so the "
    "shuffle carries one row per (event_type, user_id) — only the "
    "distinct forces that key; without it this is map-side-only.",
    tags=("agg", "boolean"),
)
def q_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("value") > 100).alias("n_big"),
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 10000).alias("any_huge"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@register(
    "q_lateral_topk",
    oracle=_LATERAL_SQL,
    doc="Correlated LATERAL subquery with LIMIT: top-2 customers by "
    "account balance per nation. Catalyst decorrelates the lateral into "
    "a join + per-group limit (same WindowGroupLimit machinery as the "
    "window top-k), so despite the correlated spelling there is no "
    "nested-loop re-execution per outer row. Balances pass through "
    "unmodified (no arithmetic), so doubles hash exactly.",
    tags=("lateral", "subquery", "topk"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


_NOT_IN_SQL = """
WITH sub AS (
  SELECT nullif(o_custkey,
                (SELECT min(o_custkey) FROM orders
                 WHERE o_orderpriority = '1-URGENT')) AS k
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
)
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey IN (SELECT k FROM sub)) AS n_in,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_not_in,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)) AS n_not_in_clean
"""


@register(
    "q_not_in_nulls",
    oracle=_NOT_IN_SQL,
    doc="NOT IN vs a subquery containing NULL — the classic three-valued-"
    "logic trap: one NULL in the list makes NOT IN yield zero rows "
    "(x <> NULL is UNKNOWN), while IN still matches and the null-filtered "
    "variant behaves like an anti join. Spark plans the NOT IN as a "
    "null-aware anti join (broadcast when the subquery side is small); "
    "the null is synthesized with nullif on the smallest urgent-order "
    "customer so the trap provably fires at every scale factor.",
    tags=("subquery", "null-semantics", "anti-join"),
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_NOT_IN_SQL)




@register(
    "txt_tfidf",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * cast(floor(ln(cast(n_docs AS double) / df) * 1000000 + 0.5)
                      AS bigint) AS tfidf_x1e6
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
  WHERE tf.doc_id < 50
)
SELECT doc_id, token, tf, df, tfidf_x1e6
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf_x1e6 DESC, token) <= 3
ORDER BY doc_id, tfidf_x1e6 DESC, token
""",
    doc="TF-IDF term scoring: corpus-wide document frequency (over the "
    "(doc,token) partials from the same shuffle txt_vocab uses), idf = "
    "ln(N/df) snapped to an x1e6 integer via floor(x*1e6 + 0.5) so both "
    "engines agree despite ln being transcendental (floor is identical "
    "cross-engine for positive values; a raw bigint cast would truncate "
    "in Spark but round in DuckDB), then tf x idf in exact bigint "
    "arithmetic; top-3 terms per document with a token tiebreak. The df "
    "table is vocab-sized — it GROWS with the corpus, so it is the "
    "streamed probe side: the output-spec-bounded 50-doc tf slice "
    "broadcasts instead (round-11 sweep; broadcasting df was an "
    "unbounded-build-side cliff at 100 TB). The only wide shuffle is "
    "the (doc,token) count. Output restricted to 50 docs; df is still "
    "computed corpus-wide.",
    tags=("text", "tfidf", "agg", "window"),
)
def txt_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Broadcast the 50-DOC tf slice, never the vocab-sized df table:
    # dfreq grows with the corpus (Heaps' law — billions of distinct
    # tokens at 100 TB) while the probed slice is output-spec-bounded
    # (50 docs x per-doc vocab), so the bounded side is the build side
    # and the corpus-wide df stream probes past it (round-11 broadcast
    # sweep, same cliff class as dd_contamination's bench set).
    scored = (
        dfreq.join(F.broadcast(tf.filter(F.col("doc_id") < 50)), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_x1e6",
            F.col("tf")
            * F.floor(
                F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000 + 0.5
            ).cast("bigint"),
        )
    )
    top = W.partitionBy("doc_id").orderBy(F.desc("tfidf_x1e6"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf_x1e6")
        .orderBy("doc_id", F.desc("tfidf_x1e6"), "token")
    )


@register(
    "q_generators",
    oracle="""
WITH t AS (
  SELECT p_partkey,
         unnest(string_split(p_name, ' ')) AS tok,
         generate_subscripts(string_split(p_name, ' '), 1) AS ord
  FROM part
)
SELECT ord, count(*) AS n, count(DISTINCT tok) AS n_distinct,
       min(tok) AS min_tok, max(tok) AS max_tok
FROM t GROUP BY ord ORDER BY ord
""",
    doc="Positional table generator: posexplode over the tokenized part "
    "name (1-based ordinal to match SQL ordinality), rolled up per "
    "position. Generate runs inside the scan stage (no shuffle before "
    "the tiny per-position aggregate); the oracle spells the same thing "
    "with unnest + generate_subscripts since DuckDB lacks WITH "
    "ORDINALITY.",
    tags=("generator", "explode", "agg"),
)
def q_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    toks = part.select(
        "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "tok")
    )
    return (
        toks.groupBy((F.col("pos") + 1).cast("bigint").alias("ord"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("tok").alias("n_distinct"),
            F.min("tok").alias("min_tok"),
            F.max("tok").alias("max_tok"),
        )
        .orderBy("ord")
    )


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       cast(extract(year FROM min(o_orderdate)) AS int) AS first_yr
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "q_group_by_all",
    oracle=_GROUP_BY_ALL_SQL,
    doc="GROUP BY ALL / ORDER BY ALL (the DuckDB-originated shorthand, "
    "in Spark since 3.4/4.0): grouping keys inferred from the "
    "non-aggregate select items, total order over the full row. "
    "Identical SQL text runs on both engines.",
    tags=("agg", "sql-surface"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


@register(
    "q_bag_set_ops",
    oracle="""
WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
high AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
ex AS (SELECT o_custkey FROM urgent EXCEPT ALL SELECT o_custkey FROM high),
ia AS (SELECT o_custkey FROM urgent INTERSECT ALL SELECT o_custkey FROM high)
SELECT 'except_all' AS op, o_custkey, count(*) AS n FROM ex GROUP BY 2
UNION ALL
SELECT 'intersect_all' AS op, o_custkey, count(*) AS n FROM ia GROUP BY 2
ORDER BY op, o_custkey
""",
    doc="Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): "
    "per-customer order multiplicities under two priorities, differenced "
    "and intersected WITH duplicates preserved — q_set_ops covers the "
    "distinct forms. Spark lowers both to a single hash aggregation on "
    "the key carrying two counts (no join, no sort): one shuffle each, "
    "same shape at any scale. Output re-aggregated per key for a "
    "deterministic compact result.",
    tags=("set-ops", "bag", "agg"),
)
def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    ex = (
        urgent.exceptAll(high)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "n")
    )
    ia = (
        urgent.intersectAll(high)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "n")
    )
    return ex.unionAll(ia).orderBy("op", "o_custkey")
