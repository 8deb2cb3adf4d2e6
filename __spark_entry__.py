"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on /root/testdata/sf0.001
queries()     -> every declared operator (SURVEY.md §2 + engine-parity +
                 LLM-data-pipeline surface), keyed by name
oracle_sql()  -> matching DuckDB SQL per query (omitted => rows-only check)

Implementations live in p6_spark/plans/ (registry pattern).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from p6_spark.plans import get_oracles, get_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the TPC-H Q5-shaped star join (multi-way broadcast +
    shuffle join + exact decimal aggregation) at sf0.001."""
    qs = get_queries()
    return qs["q05_region_revenue"](spark, "/root/testdata/sf0.001")


# --- rotating correctness-sample proposal (round-9, VERDICT r8 item 5) ----
#
# The driver's CORRECTNESS_r0N.json has sampled the same 50 queries since
# round 1, so queries registered later never appear in a driver artifact
# (the builder's own 294-query sweeps cover them, but the driver's record
# does not). If the sample is derived from queries() iteration order, the
# rotation below fixes that with zero driver changes: queries() now yields
# a deterministic round-keyed order — _FIXED_N anchor queries first (the
# earliest-registered core-relational set, stable across rounds), then
# _ROTATING_N rotating picks (md5(round:name) order over the remainder, so
# every query eventually lands in a driver sample), then everything else.
# The round number is inferred from the CORRECTNESS_r*.json artifacts
# already committed. If the driver ignores iteration order, nothing is
# lost — the mapping itself is unchanged.
#
# Round 10 (VERDICT r9 item 4): the rotation demonstrably works (20
# never-before-certified queries in CORRECTNESS_r09.json), so the fixed
# window shrinks to the 10 queries that are genuinely anchor-worthy —
# the flagship + Q1 + the 8 p6_* reference-parity queries — and the
# rotating window doubles to 40: full driver coverage of the registry
# in ~7 rounds instead of ~15. Anchors are named explicitly (they are
# no longer a registration-order prefix).

# Round 11 (VERDICT r10 item 2): the r10 artifact confirmed 34 fresh
# names all green at 40 rotating. The driver samples the FIRST 50 of
# queries() order, so widening the rotation means narrowing the anchor
# set, not growing past 50: anchors shrink to the flagship + headline +
# the three structurally-distinctive p6 parity queries (each certified
# in ten consecutive driver artifacts already), the other five p6_*
# queries join the rotating pool (they recur by hash like everything
# else), and the rotating window grows to 45 — cumulative driver
# coverage (108/317 after r10) closes the registry ~a round sooner.
_ANCHORS = [
    "q05_region_revenue",   # flagship (entry())
    "q01_pricing_summary",  # the headline aggregate
    "p6_zip_explode",       # reference parity: explode + truncation
    "p6_audit_split",       # reference parity: error-channel-as-data
    "p6_packet_nest",       # reference parity: nested-document build
]
_FIXED_N = len(_ANCHORS)
_ROTATING_N = 45


def _current_round() -> int:
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))) + 1


def _certified_names() -> set[str]:
    """Query names that already appear in ANY committed driver
    correctness artifact (certified or attempted — either way the
    driver has a record for them)."""
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    seen: set[str] = set()
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                seen |= set(json.load(f))
        except (OSError, ValueError):
            continue
    return seen


def proposed_sample(round_no: int | None = None) -> list[str]:
    """Deterministic 50-query correctness sample for a given round:
    _FIXED_N stable anchors + _ROTATING_N round-keyed rotating picks.

    Round 11: the rotation is coverage-aware — pure md5 rotation wastes
    ~1/4 of the window re-picking names a driver artifact already
    records (r10: 34 fresh of 40; this round's hash would give 35 of
    45). Names with NO driver record sort ahead of recorded ones
    (md5-keyed within each group, so the pick is still deterministic
    and round-rotating), which keeps every rotating slot fresh until
    the registry is fully driver-certified, then degrades to exactly
    the old behavior."""
    import hashlib

    names = list(get_queries())
    rn = _current_round() if round_no is None else round_no
    fixed = [n for n in _ANCHORS if n in names]
    rest = [n for n in names if n not in _ANCHORS]
    certified = _certified_names()
    rotating = sorted(
        rest,
        key=lambda n: (n in certified, hashlib.md5(f"{rn}:{n}".encode()).hexdigest()),
    )[:_ROTATING_N]
    return fixed + rotating


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = get_queries()
    ordered: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for n in proposed_sample():
        ordered[n] = qs[n]
    for n, fn in qs.items():
        if n not in ordered:
            ordered[n] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    return get_oracles()
