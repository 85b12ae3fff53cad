"""The percentile rule and span self-time arithmetic."""

import common
from tracing import Span, self_times


def test_p90_needs_a_hundred_samples_for_ten_beyond():
    assert common.min_samples_for(90) == 100
    assert common.min_samples_for(50) == 20
    assert common.beyond(list(range(100)), 90) == 10
    assert common.beyond(list(range(99)), 90) < 10


def test_nearest_rank_percentile_and_median():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert common.percentile(vals, 90) == 5.0
    assert common.percentile(vals, 50) == 3.0
    assert common.percentile(list(range(1, 101)), 90) == 90
    assert common.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run", f"g{i}")


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 4.0, parent=1),      # overlaps span 2: [1, 4] is covered
        _span(4, 6.0, 7.0, parent=1),
        _span(5, 6.5, 7.0, parent=4),      # grandchild: not subtracted from 1
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 3.0 - 1.0
    assert st[2] == 2.0
    assert st[4] == 0.5
    assert st[5] == 0.5


def test_self_time_clips_children_to_the_parent():
    st = self_times([_span(1, 0.0, 2.0), _span(2, 1.5, 3.0, parent=1)])
    assert st[1] == 1.5


def test_rows_equal_tolerates_float_noise_and_order():
    nan = float("nan")
    assert common.rows_equal([(1, 0.1 + 0.2, nan, None)], [(1, 0.3, nan, None)], True)
    assert common.rows_equal([(2, "b"), (1, None)], [(1, None), (2, "b")], False)
    assert not common.rows_equal([(2, "b"), (1, None)], [(1, None), (2, "b")], True)
    assert not common.rows_equal([(1, 0.3)], [(1, 0.31)], True)
    assert not common.rows_equal([(1, nan)], [(1, None)], True)
