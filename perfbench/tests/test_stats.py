import pytest

from perfbench.stats import (Span, percentile, self_times, summarize,
                             tail_pct, union_length)


def test_percentile_nearest_rank():
    vals = list(range(1, 101))            # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 99) == 99
    assert percentile([5.0], 99) == 5.0
    assert percentile([3, 1, 2], 100) == 3
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, want", [
    (1, None), (11, None), (39, None),   # p75 needs 10 beyond rank 30
    (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0),
    (10000, 99.9),
])
def test_tail_pct_keeps_ten_samples_beyond(n, want):
    assert tail_pct(n) == want


def test_tail_rule_holds_for_every_size():
    import math
    for n in range(1, 3000):
        pct = tail_pct(n)
        if pct is None:
            continue
        rank = math.ceil(round(pct * n / 100, 9))
        assert n - rank >= 10
        assert percentile(list(range(n)), pct) == rank - 1


def test_summarize():
    s = summarize([float(v) for v in range(200)])
    assert s["n"] == 200 and s["median"] == 99.5
    assert s["tail_pct"] == 95.0 and s["tail"] == 189.0
    small = summarize([1.0, 2.0, 4.0])
    assert small["median"] == 2.0 and small["tail"] is None
    assert summarize([])["n"] == 0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(1, 3), (0, 10), (4, 5)]) == 10
    assert union_length([(0, 1), (1, 2)]) == 2


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "root", 0.0, 10.0),
        Span(2, "a", 1.0, 4.0, parent=1),
        Span(3, "b", 3.0, 6.0, parent=1),      # overlaps a: union is 1..6
        Span(4, "a.child", 1.5, 2.0, parent=2),
        Span(5, "late", 9.0, 12.0, parent=1),  # runs past its parent
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 5 - 1)   # minus 1..6 and 9..10
    assert own[2] == pytest.approx(3 - 0.5)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)
    assert own[5] == pytest.approx(3.0)


def test_self_time_ignores_grandchildren_directly():
    spans = [Span(1, "p", 0.0, 4.0), Span(2, "c", 0.0, 2.0, parent=1),
             Span(3, "g", 0.0, 2.0, parent=2)]
    own = self_times(spans)
    assert own == {1: 2.0, 2: 0.0, 3: 2.0}
