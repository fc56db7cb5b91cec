"""Span arithmetic: a span's self time is its duration minus the part of
it that its children cover."""

from __future__ import annotations

import pytest

from tracing import Span, Tracer, covered, self_time
from workloads import GroupWatcher


def sp(a: float, b: float, parent=None) -> Span:
    return Span("s", a, b, parent, "t")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(3, 4), (3, 4)], 0, 10) == pytest.approx(1)
    assert covered([(12, 15)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    parent = sp(0, 10)
    assert self_time(parent, []) == pytest.approx(10)
    # disjoint children
    assert self_time(parent, [sp(1, 3), sp(5, 6)]) == pytest.approx(7)
    # overlapping children are counted once
    assert self_time(parent, [sp(1, 4), sp(3, 6)]) == pytest.approx(5)
    # a child reaching past its parent only covers the parent's part
    assert self_time(parent, [sp(8, 12)]) == pytest.approx(8)
    # children covering everything leave no self time
    assert self_time(parent, [sp(0, 6), sp(5, 10)]) == pytest.approx(0)


def test_tracer_records_parents_and_traces():
    t = Tracer(enabled=True)
    t.trace_id = "u0"
    with t.span("unit"):
        with t.span("a"):
            pass
        with t.span("b"):
            with t.span("c"):
                pass
    t.trace_id = "u1"
    with t.span("unit"):
        pass
    names = [(s.name, s.parent, s.trace_id) for s in t.spans]
    assert names == [
        ("unit", None, "u0"), ("a", 0, "u0"), ("b", 0, "u0"), ("c", 2, "u0"), ("unit", None, "u1"),
    ]
    (unit,) = t.durations("unit", {"u0"})
    (self_u0,) = t.self_times("unit", {"u0"})
    kids = t.spans[1].duration + t.spans[2].duration
    assert self_u0 == pytest.approx(unit - kids)
    assert len(t.durations("unit", {"u0", "u1"})) == 2


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("unit"):
        pass
    assert t.spans == []


def test_group_cpu_is_interpolated_between_polls():
    w = GroupWatcher.__new__(GroupWatcher)  # no polling thread
    w.timeline = [(10.0, 0.0), (10.1, 0.2), (10.2, 0.6)]
    assert w.cpu_at(10.0) == pytest.approx(0.0)
    assert w.cpu_at(10.05) == pytest.approx(0.1)
    assert w.cpu_at(10.15) == pytest.approx(0.4)
    assert w.cpu_at(11.0) == pytest.approx(0.6)  # after the last poll
