"""Round-8 evaluation-pipeline operators: the aggregate computations an
LLM eval/alignment stack runs at corpus scale — unbiased pass@k over
per-task sample outcomes, and Bradley-Terry strength estimation from
pairwise preference outcomes (the reward-model data computation).

Both are exact-integer fixed-point with DuckDB twins; wide products
stage through decimal(38,0)/HUGEINT per the pipe_domain_mixture lesson.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6_spark.materialize import materialize
from p6_spark.plans.registry import register
from p6_spark.plans.twins import SQL_MATCH_CTES, sql_cal_binned
from p6_spark.sources.tables import load_table

_PASS_KS = (1, 2, 5)
_N_TASKS = 97  # prime task-bucket count for the synthetic eval panel

# Loud-failure ceiling (ADVICE r8): the k=5 denominator stage is
# n^5 x 1e6, which exceeds decimal(38,0) / the safe HUGEINT headroom
# past n ~= 2.51e6 samples per task (10^(32/5)). Spark non-ANSI decimal
# overflow yields NULL silently (sum() skips it while count(*) keeps the
# row, corrupting mean_pass_x1e6) whereas DuckDB HUGEINT raises much
# later — so BOTH engines raise identically at this documented bound
# instead. 2M samples per task is far beyond any real eval run; past it,
# split tasks or subsample before scoring.
_PASS_N_MAX = 2_000_000


def _pass_sql(k: int, engine: str) -> str:
    """Per-task unbiased pass@k (Chen et al.: 1 - C(n-c,k)/C(n,k)) as an
    exact x1e6 integer, for columns n (samples) and c (successes), valid
    under n >= k. C(n-c,k)/C(n,k) = prod_{i<k} (n-c-i)/(n-i); both
    products are staged wide (decimal(38,0) / HUGEINT — n^5 x 1e6
    overflows int64 past n ~= 6.2k samples per task) and the quotient is
    one trunc division, so both engines compute the identical integer.
    Tasks with n > _PASS_N_MAX raise identically in both engines (the
    decimal(38,0) product ceiling — see _PASS_N_MAX)."""
    msg = (
        f"ml_pass_at_k: n > {_PASS_N_MAX} samples in one task exceeds the "
        "decimal(38,0) product ceiling of the exact k=5 combinatorics — "
        "split the task or subsample before scoring"
    )
    if engine == "spark":
        num = " * ".join(f"cast(n - c - {i} as decimal(38,0))" for i in range(k))
        den = " * ".join(f"cast(n - {i} as decimal(38,0))" for i in range(k))
        guard = f"WHEN n > {_PASS_N_MAX} THEN raise_error('{msg}')"
    else:
        num = " * ".join(f"(n - c - {i})::HUGEINT" for i in range(k))
        den = " * ".join(f"(n - {i})::HUGEINT" for i in range(k))
        guard = f"WHEN n > {_PASS_N_MAX} THEN error('{msg}')"
    div = "div" if engine == "spark" else "//"
    return (
        f"CASE {guard} WHEN n - c < {k} THEN 1000000 "
        f"ELSE 1000000 - cast((({num}) * 1000000) {div} ({den}) AS bigint) END"
    )


@register(
    "ml_pass_at_k",
    oracle=f"""
WITH samples AS (
  SELECT l_partkey % {_N_TASKS} AS task_id,
         CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS ok
  FROM lineitem
),
per_task AS (
  SELECT task_id, count(*) AS n, cast(sum(ok) AS bigint) AS c
  FROM samples GROUP BY task_id
),
ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in _PASS_KS)}) t(k)),
scored AS (
  SELECT ks.k,
         CASE ks.k {" ".join(f"WHEN {k} THEN {_pass_sql(k, 'duck')}" for k in _PASS_KS)}
         END AS pass_x1e6
  FROM per_task, ks
  WHERE per_task.n >= ks.k
)
SELECT k,
       cast(count(*) AS bigint) AS n_tasks,
       cast(sum(pass_x1e6) // count(*) AS bigint) AS mean_pass_x1e6,
       cast(min(pass_x1e6) AS bigint) AS min_pass_x1e6,
       cast(max(pass_x1e6) AS bigint) AS max_pass_x1e6
FROM scored GROUP BY k
ORDER BY k
""",
    doc="Unbiased pass@k estimation — THE eval metric for sampled code/"
    "math generations (Chen et al. 2021): per task, pass@k = "
    "1 - C(n-c,k)/C(n,k) over n samples with c successes, computed as "
    "EXACT integer combinatorics (the binomial ratio telescopes to a "
    "k-factor product; factors staged decimal(38,0)/HUGEINT because "
    "n^5 x 1e6 overflows int64 past ~6.2k samples/task, then ONE trunc "
    f"division). Synthetic panel: task = l_partkey % {_N_TASKS}, "
    "success = l_quantity >= 25; ks = "
    f"{list(_PASS_KS)}; tasks with n < k are excluded (the estimator is "
    f"undefined there) and tasks with n > {_PASS_N_MAX} raise loudly in "
    "BOTH engines (the decimal(38,0) ceiling of the exact k=5 product — "
    "silent Spark decimal-overflow NULLs would corrupt the mean while "
    "DuckDB HUGEINT raises later; loud-over-drift, ADVICE r8). "
    "Output per k: task count, mean/min/max pass "
    "(x1e6). Scale shape: one hash aggregate to (task, n, c) — "
    "map-side combined, the only shuffle — then a 3-row broadcast "
    "k-panel and row-wise arithmetic; 100 TB of samples reduce to "
    "|tasks| rows before anything pairwise happens.",
    tags=("ml", "eval", "fixed-point"),
)
def ml_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_task = (
        li.select(
            (F.col("l_partkey") % _N_TASKS).alias("task_id"),
            F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("ok"),
        )
        .groupBy("task_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ok").cast("long").alias("c"))
    )
    ks = F.broadcast(
        spark.createDataFrame([(k,) for k in _PASS_KS], "k int")
    )
    case = "CASE k " + " ".join(
        f"WHEN {k} THEN {_pass_sql(k, 'spark')}" for k in _PASS_KS
    ) + " END"
    scored = (
        per_task.crossJoin(ks)
        .filter(F.col("n") >= F.col("k"))
        .select("k", F.expr(case).alias("pass_x1e6"))
    )
    return (
        scored.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.expr("sum(pass_x1e6) div count(*)").alias("mean_pass_x1e6"),
            F.min("pass_x1e6").alias("min_pass_x1e6"),
            F.max("pass_x1e6").alias("max_pass_x1e6"),
        )
        .orderBy("k")
    )


def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_a, t_b, n_games, a_wins): the Spark twin of SQL_MATCH_CTES."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    ordered = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("value").over(w).alias("prev_value"),
    )
    a_beats = (F.col("value") > F.col("prev_value")) | (
        (F.col("value") == F.col("prev_value"))
        & (F.col("event_type") < F.col("prev_type"))
    )
    matches = ordered.filter(
        F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type"))
    ).select(
        F.when(a_beats, F.col("event_type")).otherwise(F.col("prev_type")).alias(
            "winner"
        ),
        F.when(a_beats, F.col("prev_type")).otherwise(F.col("event_type")).alias(
            "loser"
        ),
    )
    return (
        matches.select(
            F.least("winner", "loser").alias("t_a"),
            F.greatest("winner", "loser").alias("t_b"),
            F.when(F.col("winner") < F.col("loser"), 1).otherwise(0).alias("a_win"),
        )
        .groupBy("t_a", "t_b")
        .agg(
            F.count(F.lit(1)).alias("n_games"),
            F.sum("a_win").cast("long").alias("a_wins"),
        )
    )


@register(
    "ml_bt_strength",
    oracle=f"""
WITH {SQL_MATCH_CTES},
sided AS (
  SELECT t_a AS t, t_b AS opp, n_games, a_wins AS wins FROM pair_counts
  UNION ALL
  SELECT t_b, t_a, n_games, n_games - a_wins FROM pair_counts
),
totals AS (
  SELECT t, cast(sum(wins) AS bigint) AS w_total,
         cast(sum(n_games) AS bigint) AS games
  FROM sided GROUP BY t
),
s1 AS (
  SELECT t, sum((n_games::HUGEINT * 1000000000000) // 2000000) AS s1
  FROM sided GROUP BY t
),
w1 AS (
  SELECT tt.t,
         cast(greatest(1, (tt.w_total::HUGEINT * 1000000000000) // s1.s1)
              AS bigint) AS w1_x1e6
  FROM totals tt JOIN s1 ON s1.t = tt.t
),
w2 AS (
  SELECT s.t,
         cast((tt.w_total::HUGEINT * 1000000000000)
              // sum((s.n_games::HUGEINT * 1000000000000)
                     // (wa.w1_x1e6 + wb.w1_x1e6)) AS bigint) AS w2_x1e6
  FROM sided s
  JOIN w1 wa ON wa.t = s.t
  JOIN w1 wb ON wb.t = s.opp
  JOIN totals tt ON tt.t = s.t
  GROUP BY s.t, tt.w_total
)
SELECT tt.t AS event_type, tt.w_total AS wins, tt.games,
       w1.w1_x1e6, w2.w2_x1e6
FROM totals tt JOIN w1 ON w1.t = tt.t JOIN w2 ON w2.t = tt.t
ORDER BY event_type
""",
    doc="Bradley-Terry strength estimation from pairwise outcomes — the "
    "aggregate behind preference-data curation and reward-model "
    "sanity checks: consecutive events of one user form a match "
    "between their two event types (higher value wins, ties break to "
    "the lexicographically smaller type), and two "
    "minorization-maximization iterations w_i <- W_i / sum_j "
    "n_ij/(w_i+w_j) run from the uniform start as EXACT fixed-point "
    "integers — each n_ij/(w_i+w_j) term is one trunc division at "
    "x1e12 staging (HUGEINT/decimal: n_ij x 1e12 overflows int64 past "
    "~9.2M games per pair), summed exactly, so both engines produce "
    "identical strengths with no float iteration drift. First-iteration "
    "strengths are floored at 1 (one x1e-6 ulp) in BOTH engines "
    "(ADVICE r8): win rates below ~5e-7 of game count truncate w1 to 0 "
    "and zero the (w_a + w_b) denominator, where DuckDB raises but "
    "Spark div NULLs silently — the floor keeps degenerate inputs "
    "cross-engine identical. Output per "
    "type: wins, games, first- and second-iteration strengths (x1e6). "
    "Scale shape: the match stream is a lag window per user (group "
    "size bounded, user count scales); everything after is a "
    "|types|^2 matrix (25 cells) — driver-free MM iterations over a "
    "broadcast-size table, the standard shape for ranking millions of "
    "model-comparison battles.",
    tags=("ml", "preference", "fixed-point", "window"),
)
def ml_bt_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair_counts = _pair_counts(spark, sf_dir)
    sided = pair_counts.select(
        F.col("t_a").alias("t"),
        F.col("t_b").alias("opp"),
        "n_games",
        F.col("a_wins").alias("wins"),
    ).unionAll(
        pair_counts.select(
            F.col("t_b").alias("t"),
            F.col("t_a").alias("opp"),
            "n_games",
            (F.col("n_games") - F.col("a_wins")).alias("wins"),
        )
    )
    return _bt_mm(sided)


def _bt_mm(sided: DataFrame) -> DataFrame:
    """Two exact fixed-point MM iterations over a ``sided`` match table
    (t, opp, n_games, wins) — the Bradley-Terry core, factored out so the
    degenerate-input gate (tests/test_advice_r8.py) can feed it a panel
    with truncated-to-zero win rates directly."""
    # the 2x|pairs| sided table feeds totals + two MM iterations: cut once
    sided = materialize(sided)
    totals = sided.groupBy("t").agg(
        F.sum("wins").cast("long").alias("w_total"),
        F.sum("n_games").cast("long").alias("games"),
    )
    term_uniform = "(cast(n_games as decimal(38,0)) * 1000000000000) div 2000000"
    s1 = sided.groupBy("t").agg(F.expr(f"sum({term_uniform})").alias("s1"))
    # greatest(1, ...) floors the iterated strength (ADVICE r8): a type
    # whose win rate is below ~5e-7 of its game count truncates w1 to 0,
    # and two such types that ever met make the second-iteration
    # denominator (wa + wb) zero — DuckDB // raises while Spark div
    # returns NULL and silently drops the term from s2. Flooring at 1
    # (one x1e-6 ulp, far below the estimator's resolution) keeps both
    # engines identical on degenerate win rates.
    w1 = totals.join(s1, "t").select(
        "t",
        F.expr(
            "greatest(1, (cast(w_total as decimal(38,0))"
            " * 1000000000000) div s1)"
        ).alias("w1_x1e6"),
    )
    wa = w1.select(F.col("t"), F.col("w1_x1e6").alias("wa"))
    wb = w1.select(F.col("t").alias("opp"), F.col("w1_x1e6").alias("wb"))
    term2 = "(cast(n_games as decimal(38,0)) * 1000000000000) div (wa + wb)"
    s2 = (
        sided.join(wa, "t")
        .join(wb, "opp")
        .groupBy("t")
        .agg(F.expr(f"sum({term2})").alias("s2"))
    )
    w2 = totals.join(s2, "t").select(
        "t",
        F.expr(
            "(cast(w_total as decimal(38,0)) * 1000000000000) div s2"
        ).alias("w2_x1e6"),
    )
    return (
        totals.join(w1, "t")
        .join(w2, "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("w_total").alias("wins"),
            "games",
            "w1_x1e6",
            "w2_x1e6",
        )
        .orderBy("event_type")
    )


_CAL_BINS = 10


def _cal_binned(df: DataFrame) -> DataFrame:
    """(bin, conf_x1e6, y) scored projection shared by ml_calibration_bins,
    ml_brier_decomposition, AND the streaming twin
    (streaming/evals.calibration_bins_stream) — one definition so the
    batch report and the streaming ledger cannot drift. Expects lineitem
    columns l_quantity / l_extendedprice (the synthetic scored panel); a
    real deployment swaps this projection for its model's scores."""
    width = 1_000_000 // _CAL_BINS
    return df.select(
        F.least(
            F.lit(1_000_000),
            F.greatest(F.lit(0), F.col("l_quantity").cast("bigint") * 20000),
        ).alias("conf_x1e6"),
        F.when(F.col("l_extendedprice") >= 30000, 1).otherwise(0).alias("y"),
    ).select(
        F.least(F.lit(_CAL_BINS - 1), F.expr(f"conf_x1e6 div {width}")).alias(
            "bin"
        ),
        "conf_x1e6",
        "y",
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
WITH {sql_cal_binned(_CAL_BINS)},
per_bin AS (
  SELECT bin, count(*) AS n,
         cast(sum(conf_x1e6) AS bigint) AS sum_conf,
         cast(sum(y) AS bigint) AS n_pos
  FROM binned GROUP BY bin
),
stats AS (
  SELECT bin, n,
         cast(sum_conf // n AS bigint) AS mean_conf_x1e6,
         cast((n_pos::HUGEINT * 1000000) // n AS bigint) AS acc_x1e6
  FROM per_bin
),
gaps AS (
  SELECT bin, n, mean_conf_x1e6, acc_x1e6,
         abs(mean_conf_x1e6 - acc_x1e6) AS gap_x1e6
  FROM stats
),
t AS (
  SELECT cast(sum(n::HUGEINT * gap_x1e6) // sum(n) AS bigint) AS ece_x1e6
  FROM gaps
)
SELECT g.bin, g.n, g.mean_conf_x1e6, g.acc_x1e6, g.gap_x1e6, t.ece_x1e6
FROM gaps g, t
ORDER BY g.bin
""",
    doc="Model-calibration report (reliability table + expected "
    "calibration error) — the standard eval artifact for any scored "
    "classifier or reward model: predictions bucket into "
    f"{_CAL_BINS} equal-width confidence bins; per bin the mean "
    "confidence, empirical accuracy, and |gap| are exact x1e6 integers "
    "(one trunc division each, HUGEINT/decimal staged — n x 1e6 and "
    "n x gap overflow int64 in the trillion-row regime); ECE is the "
    "n-weighted mean gap, attached as a broadcast 1-row scalar. "
    "Synthetic panel: confidence = quantity scaled to [0, 1e6], "
    "outcome = price threshold — the REPORT is the operator; a real "
    "deployment swaps the two input expressions. Scale shape: one hash "
    "aggregate to <= 10 bins, then constant-size arithmetic — 100 TB "
    "of predictions reduce in one map-side-combined pass.",
    tags=("ml", "eval", "calibration", "fixed-point"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    binned = _cal_binned(li)
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conf_x1e6").alias("sum_conf"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    gaps = materialize(
        per_bin.select(
            "bin",
            "n",
            F.expr("sum_conf div n").alias("mean_conf_x1e6"),
            F.expr(
                "(cast(n_pos as decimal(38,0)) * 1000000) div n"
            ).alias("acc_x1e6"),
        ).select(
            "bin",
            "n",
            "mean_conf_x1e6",
            "acc_x1e6",
            F.abs(F.col("mean_conf_x1e6") - F.col("acc_x1e6")).alias("gap_x1e6"),
        )
    )  # feeds the ECE aggregate AND the projection
    t = gaps.agg(
        F.expr(
            "sum(cast(n as decimal(38,0)) * gap_x1e6) div sum(n)"
        ).alias("ece_x1e6")
    )
    return (
        gaps.crossJoin(F.broadcast(t))
        .select("bin", "n", "mean_conf_x1e6", "acc_x1e6", "gap_x1e6", "ece_x1e6")
        .orderBy("bin")
    )


@register(
    "ml_brier_decomposition",
    oracle=f"""
WITH {sql_cal_binned(_CAL_BINS)},
direct AS (
  SELECT count(*) AS n_total,
         cast(sum(y) AS bigint) AS n_pos,
         cast(sum((conf_x1e6 - y * 1000000)::HUGEINT
                  * (conf_x1e6 - y * 1000000)) // count(*) AS bigint)
           AS brier_x1e12
  FROM binned
),
per_bin AS (
  SELECT bin, count(*) AS n,
         cast(sum(conf_x1e6) // count(*) AS bigint) AS conf_k,
         cast((sum(y)::HUGEINT * 1000000) // count(*) AS bigint) AS acc_k
  FROM binned GROUP BY bin
),
base AS (
  SELECT cast((n_pos::HUGEINT * 1000000) // n_total AS bigint) AS base_x1e6,
         n_total
  FROM direct
),
decomp AS (
  SELECT
    cast(sum(p.n::HUGEINT * (p.conf_k - p.acc_k) * (p.conf_k - p.acc_k))
         // b.n_total AS bigint) AS reliability_x1e12,
    cast(sum(p.n::HUGEINT * (p.acc_k - b.base_x1e6) * (p.acc_k - b.base_x1e6))
         // b.n_total AS bigint) AS resolution_x1e12
  FROM per_bin p, base b
  GROUP BY b.n_total
)
SELECT d.brier_x1e12, dc.reliability_x1e12, dc.resolution_x1e12,
       cast((b.base_x1e6::HUGEINT * (1000000 - b.base_x1e6)) AS bigint)
         AS uncertainty_x1e12,
       b.base_x1e6
FROM direct d, decomp dc, base b
""",
    doc="Murphy decomposition of the Brier score — reliability (bin "
    "miscalibration), resolution (how much the bins separate the base "
    "rate), uncertainty (base-rate variance) — alongside the directly "
    "computed Brier, all exact x1e12 fixed-point (squares of x1e6 "
    "terms; every product HUGEINT/decimal staged, one trunc division "
    "per component). The textbook identity brier = reliability - "
    "resolution + uncertainty holds up to the documented trunc-div "
    "residue of the binned means (within-bin confidence variance plus "
    "<= 3 ulp of x1e6 rounding) — both engines compute each component "
    "identically, which is the bar. Same synthetic scored panel as "
    "ml_calibration_bins. Scale shape: two hash aggregates (10 bins + "
    "one global) over one scan; everything else is 10-row arithmetic.",
    tags=("ml", "eval", "calibration", "fixed-point"),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # feeds the direct pass AND the bin pass: cut once
    binned = materialize(_cal_binned(li))
    direct = binned.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr(
            "sum(cast(conf_x1e6 - y * 1000000 as decimal(38,0))"
            " * (conf_x1e6 - y * 1000000)) div count(*)"
        ).alias("brier_x1e12"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(conf_x1e6) div count(*)").alias("conf_k"),
        F.expr(
            "(cast(sum(y) as decimal(38,0)) * 1000000) div count(*)"
        ).alias("acc_k"),
    )
    base = direct.select(
        F.expr(
            "(cast(n_pos as decimal(38,0)) * 1000000) div n_total"
        ).alias("base_x1e6"),
        "n_total",
    )
    decomp = (
        per_bin.crossJoin(F.broadcast(base))
        .groupBy("n_total")
        .agg(
            F.expr(
                "sum(cast(n as decimal(38,0)) * (conf_k - acc_k)"
                " * (conf_k - acc_k)) div first(n_total)"
            ).alias("reliability_x1e12"),
            F.expr(
                "sum(cast(n as decimal(38,0)) * (acc_k - base_x1e6)"
                " * (acc_k - base_x1e6)) div first(n_total)"
            ).alias("resolution_x1e12"),
        )
        .drop("n_total")
    )
    return (
        direct.select("brier_x1e12")
        .crossJoin(F.broadcast(decomp))
        .crossJoin(
            F.broadcast(
                base.select(
                    F.expr(
                        "cast((cast(base_x1e6 as decimal(38,0))"
                        " * (1000000 - base_x1e6)) as bigint)"
                    ).alias("uncertainty_x1e12"),
                    "base_x1e6",
                )
            )
        )
        .select(
            "brier_x1e12",
            "reliability_x1e12",
            "resolution_x1e12",
            "uncertainty_x1e12",
            "base_x1e6",
        )
    )
