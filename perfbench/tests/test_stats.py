"""Tests for the benchmark's own bookkeeping (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    Span,
    attribute_jobs,
    covered,
    pass_time,
    percentile,
    quartile_spread,
    self_time,
    tail,
    tail_percentile,
)


def _beyond(values, p):
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


@pytest.mark.parametrize("n,expected", [(11, 9), (20, 50), (40, 75), (110, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    values = [float(i) for i in range(n)]
    p = tail_percentile(n)
    assert p == expected
    assert _beyond(values, p) >= 10
    # the next percentile up no longer has ten samples beyond it
    if p < 99:
        assert _beyond(values, p + 1) < 10


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_percentile_none_when_too_few_samples(n):
    assert tail_percentile(n) is None
    assert tail([1.0] * n) == (None, None)


def test_tail_value_is_the_nearest_rank_sample():
    values = [float(i) for i in range(1, 21)]  # 1..20, shuffled order irrelevant
    values.reverse()
    assert tail(values) == (50, 10.0)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        Span("root", 0.0, 10.0, op_id=1),
        Span("a", 1.0, 4.0, op_id=1, parent=0),
        Span("b", 3.0, 6.0, op_id=1, parent=0),  # overlaps a on [3, 4]
        Span("c", 8.0, 9.0, op_id=1, parent=0),
        Span("grandchild", 1.5, 2.0, op_id=1, parent=1),  # inside a, not root's child
    ]
    # children cover [1, 6] and [8, 9]: 6 s of the root's 10 s
    assert self_time(spans, 0) == pytest.approx(4.0)
    assert self_time(spans, 1) == pytest.approx(2.5)


def test_self_time_clips_children_to_the_parent():
    spans = [
        Span("root", 2.0, 5.0, op_id=1),
        Span("spill", 1.0, 3.0, op_id=1, parent=0),
        Span("late", 4.5, 7.0, op_id=1, parent=0),
    ]
    assert self_time(spans, 0) == pytest.approx(1.5)


def test_covered_handles_nested_and_touching_intervals():
    assert covered([(0, 4), (1, 2), (4, 5)], 0, 10) == pytest.approx(5)
    assert covered([], 0, 10) == 0


def test_job_attribution_adds_up_to_the_delta():
    delta = list(range(100, 120))
    groups = {
        "construct": {100, 101, 102, 103, 99},  # 99 predates the operation
        "action": {118, 119},
        "streaming": {105, 106, 101},  # 101 already claimed by construct
    }
    counts, unattributed = attribute_jobs(delta, groups)
    assert counts == {"construct": 4, "action": 2, "streaming": 2}
    assert sum(counts.values()) + unattributed == len(delta)
    assert unattributed == 12


def test_job_attribution_with_no_groups_is_all_unattributed():
    counts, unattributed = attribute_jobs([1, 2, 3], {})
    assert counts == {} and unattributed == 3


def test_pass_time_sums_per_operation_medians():
    lat = {"a": [1.0, 3.0, 2.0], "b": [0.5], "c": []}
    assert pass_time(lat) == pytest.approx(2.5)


def test_quartile_spread_matches_statistics_quantiles():
    values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    # quantiles(n=4), exclusive method: 11.75, 14.5, 17.25
    assert quartile_spread(values) == pytest.approx((17.25 - 11.75) / 14.5)
