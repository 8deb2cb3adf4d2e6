"""Entity-resolution completion, bounded graph traversal, and exact
time-series smoothing: BFS hop distance over the duplicate-candidate
graph, duration-weighted averages (TWAP), shingle containment (the
asymmetric near-dup metric Jaccard misses), functional-dependency
discovery, golden-record survivorship, and a 16-tap exponential moving
average — all in the registry's exact-integer certification style.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_SHINGLE_OVERLAP, sql_lsh_pairs, sql_minhash_sig
from p6_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Bounded BFS over the LSH candidate graph
# ---------------------------------------------------------------------------

_SQL_LSH_EDGES = f"""{sql_minhash_sig('TRUE')},
{sql_lsh_pairs()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges)"""


@register(
    "q_graph_bfs",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_EDGES},
reach AS (
  SELECT node, 0 AS d FROM nodes WHERE node % 10 = 0
  UNION
  SELECT e.v AS node, r.d + 1 AS d
  FROM reach r JOIN edges e ON e.u = r.node
  WHERE r.d < 4
),
dist AS (SELECT node, min(d) AS hop FROM reach GROUP BY node)
SELECT coalesce(d.hop, -1) AS hop, cast(count(*) AS bigint) AS n_nodes
FROM nodes n LEFT JOIN dist d ON d.node = n.node
GROUP BY 1 ORDER BY hop
""",
    doc="Multi-source BFS hop-distance histogram over the MinHash-LSH "
    "candidate graph (seeds: doc_id % 10 == 0; hop bound 4; unreached "
    "= -1) — 'how far is every document from an audited seed set', the "
    "graph-proximity audit behind transitive-contamination tracing. "
    "operators/graph.bfs_hops: min-distance label propagation, one "
    "node-id shuffle per hop, localCheckpoint lineage truncation; the "
    "hop BOUND is what keeps the cost fixed on a 100 TB graph. DuckDB "
    "twin replays it as a depth-bounded recursive CTE.",
    tags=("graph", "bfs", "iterative", "dedup"),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd
    from p6_spark.operators.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents")
    # max_bucket=20: same degenerate-bucket guard as q_graph_kcore
    pairs = dd.lsh_candidate_pairs(dd.minhash_signatures(docs), max_bucket=20)
    dist = bfs_hops(pairs, seed_mod=10, max_hops=4)
    return (
        dist.groupBy(F.coalesce(F.col("hop"), F.lit(-1)).alias("hop"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP)
# ---------------------------------------------------------------------------


@register(
    "q_twap",
    oracle="""
WITH base AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, ts, event_id,
         cast(round(coalesce(value, 0) * 100, 0) AS bigint) AS vx,
         epoch_us(ts) // 1000000 AS sec
  FROM events
),
led AS (
  SELECT *, lead(sec) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS nxt
  FROM base
)
SELECT event_type, day,
       cast(count(*) AS bigint) AS n_intervals,
       cast(sum(nxt - sec) AS bigint) AS covered_s,
       cast(sum(vx * (nxt - sec)) // sum(nxt - sec) AS bigint) AS twap_x100
FROM led WHERE nxt IS NOT NULL
GROUP BY event_type, day
ORDER BY event_type, day
""",
    doc="Time-weighted average value per (event_type, day) — TWAP, the "
    "correct mean for irregularly-sampled series (arithmetic mean "
    "over-weights bursts). Each observation is weighted by its holding "
    "duration (lead() to the next same-partition event, in integer "
    "epoch seconds); day boundaries clip the last interval. Cent-scaled "
    "integer values x integer seconds -> exact integer division. "
    "Windows partition by (type, day) so parallelism scales with the "
    "calendar, not 1/n_types — the same sharding a per-instrument "
    "market-data TWAP uses.",
    tags=("timeseries", "window", "fixed-point"),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "ts",
        "event_id",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100, 0)
        .cast("long")
        .alias("vx"),
        F.unix_timestamp("ts").alias("sec"),
    )
    w = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    led = base.withColumn("nxt", F.lead("sec").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    return (
        led.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("nxt") - F.col("sec")).alias("covered_s"),
            F.expr("sum(vx * (nxt - sec)) div sum(nxt - sec)").alias("twap_x100"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Shingle containment (asymmetric near-dup)
# ---------------------------------------------------------------------------


@register(
    "dd_containment",
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents WHERE doc_id < 150
),
{SQL_SHINGLE_OVERLAP}
SELECT id_a, id_b, n_common,
       (n_common * 1000000) // least(sa.n_sh, sb.n_sh) AS containment_x1e6,
       (n_common * 1000000) // (sa.n_sh + sb.n_sh - n_common) AS jaccard_x1e6
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE (n_common * 1000000) // least(sa.n_sh, sb.n_sh) >= 100000
ORDER BY id_a, id_b
""",
    doc="Shingle CONTAINMENT |A n B| / min(|A|,|B|) alongside Jaccard for "
    "every pair sharing a 3-word shingle — the asymmetric metric that "
    "catches a short document embedded inside a long one (quote/excerpt "
    "duplication), which size-imbalance pushes below any Jaccard "
    "threshold. Same bounded-subset shingle equi-join as "
    "dd_ngram_jaccard (at scale: run on LSH candidates); x1e6 floor-div "
    "integers throughout.",
    tags=("dedup", "containment", "jaccard"),
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from p6_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return (
        dd.shingle_overlap(docs)
        .withColumn(
            "containment_x1e6",
            F.expr("(n_common * 1000000) div least(n_a, n_b)"),
        )
        .withColumn(
            "jaccard_x1e6",
            F.expr("(n_common * 1000000) div (n_a + n_b - n_common)"),
        )
        .filter(F.col("containment_x1e6") >= 100000)
        .select("id_a", "id_b", "n_common", "containment_x1e6", "jaccard_x1e6")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_size"),
    ("customer", "c_nationkey", "c_mktsegment"),
]


def _fd_sql_one(tbl: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
       cast(count(*) AS bigint) AS n_groups,
       cast(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS bigint) AS n_violating,
       cast(max(d) AS bigint) AS max_rhs_variants,
       cast(CASE WHEN sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS bigint) AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS d FROM {tbl} GROUP BY {lhs})"""


@register(
    "q_fd_audit",
    oracle="\nUNION ALL\n".join(
        _fd_sql_one(t, l, r) for t, l, r in _FD_CANDIDATES
    )
    + "\nORDER BY tbl, lhs",
    doc="Functional-dependency discovery: for candidate rules lhs -> rhs "
    "(nationkey->regionkey holds — key confirmation; brand->type, "
    "type->size, nation->segment don't), count violating lhs "
    "groups and the worst rhs fan-out — the schema-forensics pass that "
    "finds denormalization errors and candidate keys before modeling. "
    "Each candidate is one groupBy(lhs)/count-distinct aggregate with "
    "map-side partials collapsed to a single audit row; candidates "
    "union into the report, so cost is one shuffle per rule over "
    "distinct lhs values, never rows.",
    tags=("quality", "forensics", "agg"),
)
def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        df = load_table(spark, sf_dir, tbl)
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        row = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0)).cast("long").alias(
                "n_violating"
            ),
            F.max("d").cast("long").alias("max_rhs_variants"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_groups",
            "n_violating",
            "max_rhs_variants",
            F.when(F.col("n_violating") == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("holds"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("tbl", "lhs")


# ---------------------------------------------------------------------------
# Golden-record survivorship
# ---------------------------------------------------------------------------

_SQL_PKEY = (
    "md5(array_to_string(list_filter(string_split_regex(trim(lower(text)), "
    "'\\s+'), x -> x <> '')[1:10], ' '))"
)


@register(
    "dd_survivorship",
    oracle=f"""
WITH k AS (
  SELECT doc_id, source, length(text) AS len, {_SQL_PKEY} AS pkey
  FROM documents
),
surv AS (
  SELECT pkey, doc_id, len,
         row_number() OVER (PARTITION BY pkey ORDER BY len DESC, doc_id) AS rn
  FROM k
),
cl AS (
  SELECT pkey, count(*) AS n_members, count(DISTINCT source) AS n_sources
  FROM k GROUP BY pkey HAVING count(*) > 1
)
SELECT c.pkey AS cluster_key,
       cast(c.n_members AS bigint) AS n_members,
       cast(c.n_sources AS bigint) AS n_sources,
       s.doc_id AS survivor_id,
       cast(s.len AS bigint) AS survivor_len
FROM cl c JOIN surv s ON s.pkey = c.pkey AND s.rn = 1
ORDER BY cluster_key
""",
    doc="Golden-record survivorship — the step AFTER blocking/matching/"
    "clustering in the ER pipeline: documents blocked by a 10-token "
    "prefix fingerprint (the deterministic stand-in for a match-cluster "
    "id), and each multi-member cluster elects one survivor by the "
    "(longest text, lowest id) completeness rule, reporting how many "
    "source feeds the cluster spans. One shuffle on the 16-byte "
    "fingerprint shared by the window and the cluster rollup; "
    "WindowGroupLimit prunes each map task to its local top row before "
    "the shuffle.",
    tags=("dedup", "er", "survivorship", "window"),
)
def dd_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    k = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("len"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 10))).alias("pkey"),
    )
    w = W.partitionBy("pkey").orderBy(F.col("len").desc(), F.col("doc_id"))
    surv = (
        k.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "pkey",
            F.col("doc_id").alias("survivor_id"),
            F.col("len").alias("survivor_len"),
        )
    )
    cl = (
        k.groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_members") > 1)
    )
    return (
        cl.join(surv, "pkey")
        .select(
            F.col("pkey").alias("cluster_key"),
            "n_members",
            "n_sources",
            "survivor_id",
            "survivor_len",
        )
        .orderBy("cluster_key")
    )


# ---------------------------------------------------------------------------
# 16-tap exponential moving average
# ---------------------------------------------------------------------------

_EWMA_TAPS = 16
_EWMA_DENOM = (1 << _EWMA_TAPS) - 1  # 65535


def _ewma_sql() -> str:
    lags = ",\n         ".join(
        f"lag(vx, {k}) OVER w AS l{k}" for k in range(_EWMA_TAPS)
    )
    wsum = " + ".join(
        f"l{k} * {1 << (_EWMA_TAPS - 1 - k)}" for k in range(_EWMA_TAPS)
    )
    return f"""
WITH base AS (
  SELECT user_id, event_id, ts,
         cast(round(coalesce(value, 0) * 100, 0) AS bigint) AS vx
  FROM events
),
lagged AS (
  SELECT user_id, event_id,
         row_number() OVER w AS rn,
         {lags}
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, l0 AS value_x100,
       cast(({wsum}) // {_EWMA_DENOM} AS bigint) AS ewma_x100
FROM lagged
WHERE rn >= {_EWMA_TAPS} AND event_id % 5 = 0
ORDER BY user_id, event_id
"""


@register(
    "q_ewma16",
    oracle=_ewma_sql(),
    doc="Exponentially-weighted moving average per user's event series, "
    "realized as a 16-tap FIR filter with power-of-two weights "
    "2^15..2^0 / 65535 (alpha=1/2 EWMA truncated at 16 taps, where the "
    "dropped tail weighs < 2^-16) — the trick that turns an IIR "
    "recurrence no engine can parallelize into 16 lag() reads over ONE "
    "per-user window, exact in integer arithmetic. Emitted on a "
    "deterministic id sample to bound output; partitions by user_id so "
    "smoothing shards horizontally. The certified-series counterpart "
    "of q_rolling_zscore's uniform window.",
    tags=("timeseries", "window", "fixed-point"),
)
def q_ewma16(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100, 0)
        .cast("long")
        .alias("vx"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = base.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        *[F.lag("vx", k).over(w).alias(f"l{k}") for k in range(_EWMA_TAPS)],
    )
    wsum = " + ".join(
        f"l{k} * {1 << (_EWMA_TAPS - 1 - k)}" for k in range(_EWMA_TAPS)
    )
    return (
        lagged.filter((F.col("rn") >= _EWMA_TAPS) & (F.col("event_id") % 5 == 0))
        .select(
            "user_id",
            "event_id",
            F.col("l0").alias("value_x100"),
            F.expr(f"cast(({wsum}) div {_EWMA_DENOM} as bigint)").alias(
                "ewma_x100"
            ),
        )
        .orderBy("user_id", "event_id")
    )
