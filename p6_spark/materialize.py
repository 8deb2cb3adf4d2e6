"""Lineage cuts and block-store release: the one place the policy lives.

Every iterative loop and every frame a plan reads more than once is cut
with ``materialize``; every caller that runs many queries in one session
frees the cut blocks between them with ``release``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint`` when the session has
    a checkpoint dir, ``localCheckpoint`` otherwise.

    Cluster deployment: ``localCheckpoint`` pins the cut to
    executor-local block storage, which is the right call in local mode
    and on short jobs, but the blocks die with the executor — on a
    1000-executor / 100 TB run a single executor loss would fail the job
    instead of recomputing. There, set a checkpoint dir
    (``spark.sparkContext.setCheckpointDir('hdfs://...')``): every cut
    then lands on HDFS/object storage and survives executor churn, at
    the cost of one write+read round-trip per cut. The reliable mode is
    smoke-tested (tests/test_graph.py) so the swap can't bit-rot.

    Eager vs lazy: ``eager=False`` is allowed ONLY when the caller's
    NEXT driver action is a scalar (count) whose plan references this
    frame exactly once — that one job materializes the blocks and
    computes the scalar, and nothing else can race it. Every other cut
    is eager. A lazy cut whose first materialization rides on a
    broadcast build, or on a plan that reads the frame twice, lets
    concurrent tasks recompute the un-persisted subtree while racing the
    block store (measured on q_graph_pagerank at local[32]: 2.6 -> 14.8 s).
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release(spark: SparkSession) -> None:
    """Free every cached relation and materialized block in the session.

    Checkpoint blocks persist for the session; over a long query sweep
    they accumulate into storage-memory pressure that slowed late
    checkpoint-heavy queries ~10x (q_graph_modularity: 124 s in-sweep vs
    12 s standalone at sf1.0). ``clearCache()`` is the public API and
    covers cached relations; the py4j ``getPersistentRDDs`` walk also
    reaches checkpoint blocks but is version-brittle, so it is
    best-effort.
    """
    spark.catalog.clearCache()
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    except Exception:
        pass
