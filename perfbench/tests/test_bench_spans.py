import pytest
from spans import Span, SpanRecorder, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_child_coverage():
    spans = [
        Span(0, None, "plans.build", 0.0, 10.0),
        Span(1, 0, "io.load_table", 1.0, 3.0),
        Span(2, 0, "io.load_table", 2.0, 4.0),  # overlaps its sibling
        Span(3, 1, "journal.manifest", 1.5, 2.0),
        Span(4, None, "plans.exec", 10.0, 12.0),
    ]
    got = self_times(spans)
    assert got["plans.build"] == pytest.approx(10.0 - 3.0)
    assert got["io.load_table"] == pytest.approx((2.0 - 0.5) + 2.0)
    assert got["journal.manifest"] == pytest.approx(0.5)
    assert got["plans.exec"] == pytest.approx(2.0)


def test_self_time_clips_children_to_the_parent():
    spans = [Span(0, None, "a", 0.0, 1.0), Span(1, 0, "b", 0.5, 2.0)]
    assert self_times(spans)["a"] == pytest.approx(0.5)


def test_recorder_nests_per_thread():
    rec = SpanRecorder()
    with rec.span("outer") as outer:
        with rec.span("inner") as inner:
            pass
    assert inner.parent == outer.sid
    assert outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert rec.between(outer.start, outer.end) == [outer, inner]
