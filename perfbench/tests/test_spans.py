import pytest

from perfbench.spans import Span, Tracer, self_times


def _span(sid, start, end, parent=None):
    return Span(sid=sid, name=f"s{sid}", layer="x", op=0, parent=parent, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, parent=1), _span(3, 5.0, 9.0, parent=1)]
    st = self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 2.0, 6.0, parent=1),
        _span(3, 4.0, 8.0, parent=1),  # overlaps span 2
        _span(4, 9.0, 12.0, parent=1),  # runs past its parent
        _span(5, 2.5, 3.0, parent=2),  # grandchild: only span 2 loses it
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0 - 1.0)
    assert st[2] == pytest.approx(3.5)


def test_tracer_nests_spans_without_spark():
    tr = Tracer(enabled=True)
    with tr.span("op", "bench", op=7):
        with tr.span("build", "plans"):
            pass
        with tr.span("collect", "session"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["build"].parent == by_name["op"].sid
    assert by_name["collect"].op == 7
    assert by_name["op"].parent is None
    recs = tr.records()
    assert {r["name"] for r in recs} == {"op", "build", "collect"}
    assert all(r["self_seconds"] >= 0 for r in recs)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", "bench", op=1) as s:
        assert s is None
    assert tr.spans == [] and tr.records() == []
