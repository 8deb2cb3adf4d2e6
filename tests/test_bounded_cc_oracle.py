"""The bounded-round CC oracle (_sql_bounded_cc, VERDICT r8 item 4)
must track the ENGINE's bounded min-label loop exactly — including on a
graph whose diameter exceeds the 25-round bound, where both sides stop
at the same non-converged fixed point (and where the old transitive-
closure oracle would instead report true components and mismatch).
"""

from __future__ import annotations

import duckdb

from p6_spark.operators.graph import connected_components
from p6_spark.plans.twins import (
    CC_ORACLE_ROUNDS as _CC_ORACLE_ROUNDS,
    sql_bounded_cc as _sql_bounded_cc,
)


def _duck_cc(edge_pairs):
    values = ", ".join(f"({a}, {b})" for a, b in edge_pairs)
    sql = f"""
WITH pairs AS (SELECT * FROM (VALUES {values}) p(id_a, id_b)),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
{_sql_bounded_cc()}
SELECT node, component FROM comp ORDER BY node
"""
    con = duckdb.connect()
    try:
        return {n: c for n, c in con.execute(sql).fetchall()}
    finally:
        con.close()


def _spark_cc(spark, edge_pairs):
    edges = spark.createDataFrame(edge_pairs, "id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }


def test_bound_matches_engine_max_iter():
    from p6_spark.operators import graph
    import inspect

    sig = inspect.signature(graph.connected_components)
    assert sig.parameters["max_iter"].default == _CC_ORACLE_ROUNDS


def test_bounded_twin_equals_engine_on_small_components(spark):
    """Converged case (diameter << 25): both sides equal TRUE components."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    got = _spark_cc(spark, edges)
    assert got == _duck_cc(edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_bounded_twin_equals_engine_past_the_diameter_bound(spark):
    """A 61-node chain (diameter 60 > 25 rounds): neither side converges
    to the true single component — node 60's label is min{u : dist <= 25}
    = 35, not 0 — but they stop at the IDENTICAL bounded fixed point.
    The old RECURSIVE closure oracle would report true components here
    and hash-mismatch; this is the divergence class the rewrite kills."""
    chain = [(i, i + 1) for i in range(60)]
    got = _spark_cc(spark, chain)
    want = _duck_cc(chain)
    assert got == want
    # the bound really bites: after k rounds label(v) = min(v - k, 0...)
    assert got[60] == 60 - _CC_ORACLE_ROUNDS
    assert got[25] == 0
    # and the result is NOT the true component labeling (all-zero)
    assert len(set(got.values())) > 1
