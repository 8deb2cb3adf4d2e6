"""Query registry: the declared operator surface.

Each entry pairs an idiomatic PySpark DataFrame implementation with an
ANSI-SQL oracle string that DuckDB runs on the same parquet tables (the
driver's t2 gate hashes both results). Conventions that make exact
hash-matching possible:

- Every computed column is aliased identically on both sides.
- Double aggregations go through ``decimal(38,12)`` per-row casts so the
  sum is exact integer arithmetic — associative, so partition order
  (Spark) vs sequential order (DuckDB) cannot change the result. The
  final value is cast back to double.
- Timestamps are never emitted raw: formatted strings / extracted ints.
- Every top-k has a total-order tiebreaker.

Shared twins live in ``plans/twins.py``: an oracle fragment that more than
one query uses (the token rule, MinHash/LSH banding, bounded CC, ...) is
written there once and imported, never pasted into a second oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver records rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(name=name, build=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _load_all() -> None:
    # Importing registers queries via the decorator.
    from p6_spark.plans import core_relational  # noqa: F401
    from p6_spark.plans import p6_parity  # noqa: F401
    from p6_spark.plans import llm_ops  # noqa: F401
    from p6_spark.plans import advanced  # noqa: F401
    from p6_spark.plans import tpch_extra  # noqa: F401
    from p6_spark.plans import agg_extra  # noqa: F401
    from p6_spark.plans import modern_sql  # noqa: F401
    from p6_spark.plans import analytics_ml  # noqa: F401
    from p6_spark.plans import retrieval_er  # noqa: F401
    from p6_spark.plans import corpus_quality  # noqa: F401
    from p6_spark.plans import robust_stats  # noqa: F401
    from p6_spark.plans import drift_quality  # noqa: F401
    from p6_spark.plans import eval_sketch  # noqa: F401
    from p6_spark.plans import dataops  # noqa: F401
    from p6_spark.plans import market_ml  # noqa: F401
    from p6_spark.plans import frontier_ops  # noqa: F401
    from p6_spark.plans import pipeline_extra  # noqa: F401
    from p6_spark.plans import journey_ops  # noqa: F401
    from p6_spark.plans import bi_extra  # noqa: F401
    from p6_spark.plans import er_graph_ts  # noqa: F401
    from p6_spark.plans import merge_proofs  # noqa: F401
    from p6_spark.plans import retrieval_linalg  # noqa: F401
    from p6_spark.plans import forensics_ts  # noqa: F401
    from p6_spark.plans import serving_stats  # noqa: F401
    from p6_spark.plans import privacy_ops  # noqa: F401
    from p6_spark.plans import feature_ops  # noqa: F401
    from p6_spark.plans import density_index  # noqa: F401
    from p6_spark.plans import layout_crm  # noqa: F401
    from p6_spark.plans import graph_info  # noqa: F401
    from p6_spark.plans import aging_paths  # noqa: F401
    from p6_spark.plans import growth_novelty  # noqa: F401
    from p6_spark.plans import sketch_mvols  # noqa: F401
    from p6_spark.plans import opsadvice  # noqa: F401
    from p6_spark.plans import ordinal_risk  # noqa: F401
    from p6_spark.plans import signal_eval  # noqa: F401
    from p6_spark.plans import sweepline_ineq  # noqa: F401
    from p6_spark.plans import last_mile  # noqa: F401
    from p6_spark.plans import closing_r4  # noqa: F401
    from p6_spark.plans import scale_r5  # noqa: F401
    from p6_spark.plans import incremental_r6  # noqa: F401
    from p6_spark.plans import ann_r6  # noqa: F401
    from p6_spark.plans import recall_r7  # noqa: F401
    from p6_spark.plans import packing_r7  # noqa: F401
    from p6_spark.plans import curation_r8  # noqa: F401
    from p6_spark.plans import eval_r8  # noqa: F401
    from p6_spark.plans import rigor_r9  # noqa: F401
    from p6_spark.plans import retrieval_r9  # noqa: F401
    from p6_spark.plans import inference_r9  # noqa: F401
    from p6_spark.plans import prod_r10  # noqa: F401
    from p6_spark.plans import prod_r11  # noqa: F401


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: q.build for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
