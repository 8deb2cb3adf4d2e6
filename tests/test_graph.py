"""Connected components vs a driver-side union-find oracle, on both a
hand-built graph and the real LSH candidate-pair graph."""

from __future__ import annotations

from pyspark.sql import functions as F

from p6_spark.materialize import materialize, release
from p6_spark.operators import dedup as dd
from p6_spark.operators.graph import connected_components, dedup_clusters
from p6_spark.sources.tables import load_table


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then map every node to the min id of its set
    comp = {}
    for x in list(parent):
        comp[x] = find(x)
    return comp


def test_cc_chain_and_islands(spark):
    # chain 1-2-3-4, island {10,11}, singleton edge (20,21)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want
    assert got[4] == 1 and got[11] == 10 and got[21] == 20


def test_cc_matches_union_find_on_lsh_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == _union_find(edge_list)


def test_dedup_clusters_keeps_one_per_component(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs)
    kept = dedup_clusters(docs, pairs)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    comp = _union_find([(r["id_a"], r["id_b"]) for r in pairs.collect()])
    # exactly the component representatives survive among clustered docs
    clustered = set(comp)
    reps = {v for v in comp.values()}
    assert kept_ids & clustered == reps
    # and every unclustered doc survives
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert all_ids - clustered <= kept_ids


def test_pagerank_fixed_properties(spark, sf_dir):
    """Integer PageRank invariants: deterministic across runs; suppliers
    (pure sinks in the purchase graph) accumulate rank above the 0.15/N
    floor; customers (no in-edges) sit exactly AT the floor; total mass
    never exceeds the initial scale (trunc division only loses)."""
    from pyspark.sql import functions as F

    from p6_spark.operators.graph import pagerank_fixed
    from p6_spark.sources.tables import load_table

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
    r1 = {r["node"]: r["rank"] for r in pagerank_fixed(edges, iters=3).collect()}
    r2 = {r["node"]: r["rank"] for r in pagerank_fixed(edges, iters=3).collect()}
    assert r1 == r2
    n = len(r1)
    floor = (15 * 1_000_000_000) // (100 * n)
    customers = {k: v for k, v in r1.items() if k % 2 == 0}
    suppliers = {k: v for k, v in r1.items() if k % 2 == 1}
    assert customers and suppliers
    assert all(v == floor for v in customers.values())
    assert all(v > floor for v in suppliers.values())
    assert sum(r1.values()) <= 1_000_000_000


def _bfs_oracle(edges, seeds, max_hops):
    from collections import deque

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds if s in adj}
    dq = deque(dist)
    while dq:
        u = dq.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    return dist


def test_bfs_hops_chain(spark):
    from p6_spark.operators.graph import bfs_hops

    # seeds (mod 10): 0 and 20. chain 0-1-2-3-4-5-6, pair (20,21), island (30? no)
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (20, 21), (33, 34)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["hop"] for r in bfs_hops(df, seed_mod=10, max_hops=4).collect()
    }
    # 30 is a seed-free island: both nodes unreached (NULL hop)
    assert got[0] == 0 and got[1] == 1 and got[4] == 4
    assert got[5] is None and got[6] is None  # beyond the 4-hop bound
    assert got[20] == 0 and got[21] == 1
    assert got[33] is None and got[34] is None


def test_bfs_hops_matches_driver_bfs_on_lsh_pairs(spark, sf_dir):
    from p6_spark.operators.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.lsh_candidate_pairs(dd.minhash_signatures(docs))
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    nodes = {x for e in edge_list for x in e}
    want = _bfs_oracle(edge_list, {n for n in nodes if n % 10 == 0}, 4)
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(pairs, seed_mod=10, max_hops=4).collect()
    }
    assert set(got) == nodes
    for n in nodes:
        assert got[n] == want.get(n), n


def test_cc_reliable_checkpoint_mode(spark, tmp_path):
    """Smoke test for the documented cluster-deployment swap
    (p6_spark/materialize.py): with a checkpoint dir set, every lineage
    cut goes through reliable DataFrame.checkpoint() — results must be
    identical to the default localCheckpoint mode, and the swap must
    stay compilable. The dir is unset again afterwards, or every later
    test in the shared session would cut reliably."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _union_find(edges)
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert list((tmp_path / "ckpt").glob("*/rdd-*"))  # cuts were reliable
    assert got == want


def test_release_drains_materialized_blocks(spark):
    """release() must leave no persistent RDD behind: its py4j walk is
    best-effort (a swallowed exception), so only this check notices a
    broken walk."""
    materialize(spark.range(100))
    jsc = spark.sparkContext._jsc
    assert len(jsc.getPersistentRDDs()) > 0
    release(spark)
    assert len(jsc.getPersistentRDDs()) == 0


def _sync_min_label_rounds(edges, rounds):
    """Reference synchronous min-label propagation: label state after
    exactly `rounds` rounds from label(v)=v — the l{rounds} CTE of
    plans/twins.sql_bounded_cc, driver-side."""
    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    labels = {v: v for v in sym}
    for _ in range(rounds):
        labels = {
            v: min([labels[v]] + [labels[u] for u in sym[v]]) for v in sym
        }
    return labels


def test_cc_bounded_round_semantics(spark):
    """Round-11 guard for the fused-init optimization: with a diameter
    LARGER than max_iter, connected_components must still produce the
    exact l{max_iter} synchronous state (the bound the DuckDB
    bounded-CC oracles replay), not the true components."""
    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=3).collect()
    }
    want = _sync_min_label_rounds(chain, 3)
    assert got == want
    # and the bound genuinely binds here: node 12 has not reached 0
    assert got[12] != 0


def test_cc_single_round_convergence(spark):
    """The fused init (labels = l1 in one aggregate) must early-exit on
    graphs that converge in one synchronous round."""
    edges = [(5, 9), (1, 3), (1, 7)]  # stars: converge at l1
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find(edges)
