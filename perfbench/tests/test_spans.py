"""Span self-time arithmetic."""

import pytest

from perfbench.spans import Span, self_times


def test_self_time_subtracts_children():
    spans = [
        Span(0, "pipeline", None, 0.0, 10.0),
        Span(1, "checkpoint.a", 0, 1.0, 4.0),
        Span(2, "checkpoint.a.write", 1, 1.5, 3.0),
        Span(3, "checkpoint.b", 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(4.0)


def test_overlapping_children_count_once():
    spans = [
        Span(0, "p", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 5.0),
        Span(2, "b", 0, 3.0, 6.0),
        Span(3, "c", 0, 8.0, 9.0),
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_children_are_clipped_to_the_parent():
    spans = [Span(0, "p", None, 2.0, 4.0), Span(1, "a", 0, 1.0, 3.0), Span(2, "b", 0, 5.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_grandchildren_do_not_count_against_the_grandparent():
    spans = [Span(0, "p", None, 0.0, 4.0), Span(1, "a", 0, 0.0, 2.0), Span(2, "a1", 1, 0.0, 2.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(0.0)
