"""Span self time, nesting and job-group tagging."""

from spans import Span, Tracer, self_time


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, _desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def sp(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", parent, None, start, end)


def test_self_time_subtracts_covered_time_once():
    root = sp(0, 0.0, 10.0)
    assert self_time(root, []) == 10.0
    assert self_time(root, [sp(1, 1.0, 3.0, 0), sp(2, 5.0, 6.0, 0)]) == 7.0
    # overlapping children cover their union, not their sum
    assert self_time(root, [sp(1, 1.0, 4.0, 0), sp(2, 3.0, 5.0, 0)]) == 6.0
    # a child reaching past the parent counts only inside it
    assert self_time(root, [sp(1, 8.0, 12.0, 0)]) == 8.0


def test_tracer_nests_spans_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("query", "q0") as outer:
        with tr.span("query.plan") as inner:
            pass
        assert sc.groups[-1] == outer.group
    assert sc.groups == [outer.group, inner.group, outer.group, None]
    assert inner.parent == outer.sid and inner.request == "q0"
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert 0.0 <= tr.coverage(outer) <= 1.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("query") as s:
        assert s is None
    assert tr.spans == []
