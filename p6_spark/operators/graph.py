"""Distributed connected components — exact duplicate clustering.

The greedy near-dedup in pipelines/llm_corpus.py drops the larger id of
every LSH candidate pair; that can over-drop when pairs chain (a-b,
b-c: exact clustering keeps one of {a,b,c}, greedy may keep none... it
keeps a only). Connected components computes the true duplicate
clusters from the pair graph, so exactly one representative per cluster
survives.

Algorithm: iterative min-label propagation (the standard Spark shape —
GraphFrames does the same under the hood):

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each iteration is one shuffle on the node id;
convergence takes O(graph diameter) rounds — duplicate clusters are
tiny and dense, so 3-5 rounds in practice. localCheckpoint every round
truncates the lineage so the plan doesn't grow exponentially (the
classic iterative-Spark trap).

Lineage cuts go through ``p6_spark.materialize`` (its docstring holds
the eager/lazy rule and the cluster-deployment note). Round 12, after
the round-11 32-core regression: every cut here is EAGER except the
single safe lazy shape. Round 11 deferred round cuts to whatever action
came next (often a broadcast build on the driver's broadcast thread, or
a plan that referenced the cut twice, e.g. a union of two selects over
it); at local[32] concurrent tasks then recomputed the un-persisted
subtree while racing the block store, which the driver measured as
q_graph_pagerank 2.6 -> 14.8 s plus a ten-query contamination window
(VERDICT r11). The per-round ``F.broadcast`` hints from round 11 are
gone for the same reason: they were size-guarded to <= 1M nodes, so
they could never engage at the 100 TB regime — all they did was couple
every round to driver-side broadcast builds at local[32]. The round
joins plan as plain exchange joins again (the round-10 shape the driver
measured fast at 32 cores).

Not SQL-expressible in one query (recursive), so the registry entry is
rows-only; correctness is pinned by tests against a driver-side
union-find on the same edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6_spark.materialize import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; the
    component id is the smallest node id in the component.

    Semantics are the SAME bounded synchronous min-label fixpoint the
    DuckDB twins replay (_sql_bounded_cc: l0..l{max_iter}): after k
    rounds label(v) = min{u : dist(u, v) <= k}. Kept from round 11
    (guide §2.4 — fewer shuffles/jobs, identical results):

    - The init round is FUSED: l1 = min(u, min over neighbors v) is one
      groupBy over the symmetric edge list, replacing the distinct-node
      init plus a full first propagation round (which at l0 reduces to
      exactly that expression because every label still equals its node
      id). The loop then runs at most max_iter - 1 further rounds, so
      the reachable bound stays l{max_iter} exactly.
    - Convergence detection carries the previous label through the
      round's projection and counts label != _old on the materialized
      blocks — a cheap scan instead of the old join of two checkpoints
      (one full shuffle join + exchange per round removed).
    - Each round's cut is lazy and materialized by the changed-count
      that immediately follows (one job per round, the safe lazy shape
      per the module docstring).

    Dropped from round 11: the per-round size-guarded broadcasts — see
    the module docstring (driver-measured 32-core regression; the guard
    meant they never engaged at 100 TB anyway).
    """
    sym = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct(),
        eager=False,
    )
    # fused round 1 (see docstring): every node appears as u in sym
    labels = materialize(
        sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("label")
        ).select(F.col("u").alias("node"), "label"),
        eager=False,
    )
    # Materializing scalar for the two lazy cuts above: this one job
    # scans sym exactly once (labels' groupBy) and labels exactly once
    # (the count), landing both block sets before any round reads them.
    # The scalar itself is discarded — it exists to fuse what would be
    # two standalone checkpoint jobs into one (guide §1.2).
    labels.count()
    for _ in range(max_iter - 1):
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = materialize(  # truncate lineage each round
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            ),
            eager=False,
        )
        # one job: materializes the round's blocks AND counts changes
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cluster-aware dedup: keep the minimum-id document of every
    connected component of the candidate-pair graph (and every document
    that appears in no pair)."""
    cc = connected_components(pairs)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank (damping 0.85) — the second iterative
    algorithm certified by the quantize-first trick (see operators/ivf.py
    for k-means): ranks live as x1e9 bigints, every step is integer
    truncating division and associative integer sums, so an unrolled
    DuckDB replay is bit-identical and the result is hash-exact under any
    partitioning.

    Per round: rank(v) <- (0.15*scale)/N + 0.85 * sum over in-edges of
    rank(u)/outdeg(u), all in trunc-div integer space. Dangling-node mass
    (sinks with no out-edges) is dropped, not redistributed — documented
    simplification, identical on both engines.

    Scale shape: each round is ONE shuffle of edge contributions grouped
    by dst (the canonical distributed PageRank); the rank and out-degree
    tables are node-sized and join back onto the edge list. N arrives as
    a broadcast 1-row scalar, never a driver literal.

    All cuts here are EAGER (module docstring): `nodes` reads `e` twice
    (the src/dst union) and every damping round reads `nodes` plus the
    previous round's `ranks`, so no frame qualifies for the lazy-cut
    shape. The round-11 lazy cuts deferred each round's materialization
    to the NEXT round's broadcast build, which is the scheme the driver
    measured at 14.8 s / 32 cores (2.6 s in this shape).
    """
    # materialize the (deduped) edge list once: every damping round and
    # the degree/node derivations reuse it, instead of re-running the
    # upstream joins per round (the iterative-Spark lineage trap —
    # same localCheckpoint pattern as connected_components)
    e = materialize(edges.select(F.col("src"), F.col("dst")).distinct())
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # out-degree table cut once and reused by every damping round
    # (round 11's one keeper here: previously each round re-aggregated
    # it from e's blocks — one extra exchange per round)
    deg = materialize(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{scale}L div n").alias("rank")
    )
    for _ in range(iters):
        contribs = (
            e.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div outdeg")).alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.expr(f"{15 * scale}L div (100 * n)")
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            )
        )
        # materialize each round once: without this, round k's lazy
        # lineage re-executes every earlier round on each reference
        ranks = materialize(ranks)
    return ranks


def bfs_hops(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    seed_mod: int = 10,
    max_hops: int = 4,
) -> DataFrame:
    """Bounded multi-source BFS: (node, hop) with hop = shortest hop
    distance (<= max_hops) from the seed set {node : node % seed_mod == 0};
    hop is NULL for nodes no seed reaches within the bound.

    Frontier BFS, the Pregel shape: each round equi-joins the edge list
    against ONLY the nodes discovered last round, anti-joins out the
    already-reached set, and stops early once the frontier drains. On a
    dense duplicate graph (the LSH candidate graph at sf0.1 is ~5k nodes
    x ~9M pairs) this beats min-label propagation by a large factor:
    full-relabel joins touch every edge every round, while the frontier
    variant touches an edge only the round its source is discovered.
    The hop BOUND keeps the worst case fixed-cost on a 100 TB graph
    (unbounded diameters belong to connected_components' fixpoint loop).
    Seeds come from a deterministic id predicate so reruns and the
    DuckDB recursive-CTE twin agree exactly.

    `edges` must be a distinct pair list (as lsh_candidate_pairs emits).
    The pair list is materialized ONCE in its single direction and each
    round probes it from both ends — half the bytes of materializing a
    symmetrized copy, the win that matters when the edge list is the
    biggest thing in the job.

    Cuts: `e`, `nodes`, `reached` are EAGER (each is read twice by the
    plan that follows — both probe directions, the seed filter plus the
    final left join, the anti-join plus the union). `discovered` is the
    one safe lazy cut: the drain-check count that immediately follows
    references it exactly once and lands its blocks (count also replaces
    the old isEmpty — the eager checkpoint computed every partition
    anyway, so this is strictly fewer jobs, not more work).
    """
    e = materialize(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    nodes = materialize(
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    reached = materialize(
        nodes.filter(F.col("node") % seed_mod == 0).withColumn("hop", F.lit(0))
    )
    frontier = reached.select("node")
    for k in range(1, max_hops + 1):
        fwd = e.join(frontier.withColumnRenamed("node", "a"), "a").select(
            F.col("b").alias("node")
        )
        bwd = e.join(frontier.withColumnRenamed("node", "b"), "b").select(
            F.col("a").alias("node")
        )
        discovered = materialize(
            fwd.union(bwd)
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(k)),
            eager=False,
        )
        # one job: materializes the frontier blocks AND tests drain
        if discovered.count() == 0:
            break
        reached = materialize(reached.union(discovered))
        frontier = discovered.select("node")
    final = reached.select("node", "hop")
    return nodes.join(final, "node", "left").select("node", "hop")
