import math

import pytest

from perfbench.trace import Span, Tracer, self_time_by_name, self_times, tail_percentile


def test_tail_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (100, 90), (1000, 99)])
def test_tail_leaves_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)][::-1]
    value, p, count = tail_percentile(values)
    assert (p, count) == (pct, n)
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    assert p == 99 or math.ceil((p + 1) * n / 100) > n - 10


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "t"),
        Span(2, "a", 1.0, 3.0, 1, "t"),
        Span(3, "a", 2.0, 5.0, 1, "t"),  # overlaps the first child
        Span(4, "b", 8.0, 12.0, 1, "t"),  # runs past the parent
        Span(5, "c", 2.5, 3.5, 3, "t"),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own[3] == pytest.approx(3.0 - 1.0)
    assert own[4] == pytest.approx(4.0)
    by_name = self_time_by_name(spans)
    assert by_name["a"] == pytest.approx(2.0 + 2.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x") as sid:
        assert sid is None
    assert t.add("y", 0.0, 1.0) is None
    assert t.spans == []


def test_spans_nest_and_share_trace(tmp_path):
    t = Tracer(enabled=True)
    with t.span("outer", trace="q1") as outer:
        with t.span("inner", parent=outer, trace="q1"):
            pass
    inner = next(s for s in t.spans if s.name == "inner")
    assert inner.parent == outer and inner.trace == "q1"
    t.write(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 2
