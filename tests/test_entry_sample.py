"""The rotating driver-sample proposal in __spark_entry__ (VERDICT r8
item 5; window widened round 10 per VERDICT r9 item 4, widened again
round 11 per VERDICT r10 item 2): deterministic, 50 names, valid,
rotating — anchors cut to the flagship + headline + the three
structurally-distinctive p6_* parity queries, 45 rotating picks."""

from __future__ import annotations

import __spark_entry__ as e


def test_proposed_sample_is_deterministic_and_valid():
    names = set(e.queries())
    s1 = e.proposed_sample(round_no=10)
    s2 = e.proposed_sample(round_no=10)
    assert s1 == s2
    assert len(s1) == e._FIXED_N + e._ROTATING_N == 50
    assert len(set(s1)) == 50
    assert set(s1) <= names


def test_anchor_window_is_flagship_plus_parity():
    assert e._FIXED_N == 5 and e._ROTATING_N == 45
    assert e._ANCHORS[0] == "q05_region_revenue"  # entry()'s flagship
    assert "q01_pricing_summary" in e._ANCHORS  # the headline aggregate
    assert sum(n.startswith("p6_") for n in e._ANCHORS) == 3


def test_rotation_prefers_changed_code_then_never_certified():
    # the rotating window leads with never-certified names while any remain
    certified = e._certified_names()
    rotating = e.proposed_sample()[e._FIXED_N :]
    uncertified_pool = [
        n for n in e.queries() if n not in certified and n not in e._ANCHORS
    ]
    n_fresh = min(len(uncertified_pool), len(rotating))
    assert all(n not in certified for n in rotating[:n_fresh])
    assert all(n in certified for n in rotating[n_fresh:])


def test_sample_rotates_across_rounds_with_stable_anchors():
    s10 = e.proposed_sample(round_no=10)
    s11 = e.proposed_sample(round_no=11)
    assert s10[: e._FIXED_N] == s11[: e._FIXED_N]  # anchors stable
    assert s10[e._FIXED_N :] != s11[e._FIXED_N :]  # rotation rotates


def test_queries_iteration_order_leads_with_the_sample():
    order = list(e.queries())
    assert order[:50] == e.proposed_sample()
    # and the mapping itself is complete and un-reordered in content
    from p6_spark.plans import get_queries

    assert set(order) == set(get_queries())
