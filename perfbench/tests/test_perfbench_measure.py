"""Metric arithmetic: percentiles, failure share and span self time."""

from __future__ import annotations

import os
import statistics
import subprocess

import pytest

from measure import (
    Span,
    covered,
    descendants,
    failed_share,
    peak_rss_mib_by_process,
    percentile,
    self_time_within,
    self_times,
    summarize,
)


def test_percentile_interpolates_between_ranks():
    values = [4.0, 1.0, 3.0, 2.0]
    assert percentile(values, 0) == 1.0
    assert percentile(values, 100) == 4.0
    assert percentile(values, 50) == pytest.approx(2.5)
    assert percentile(list(range(101)), 99) == pytest.approx(99.0)
    assert percentile([7.0], 99) == 7.0


@pytest.mark.parametrize("values,q", [([], 50), ([1.0], 101), ([1.0], -1)])
def test_percentile_rejects_bad_input(values, q):
    with pytest.raises(ValueError):
        percentile(values, q)


def test_summarize_matches_statistics_quartiles():
    values = [10.0, 12.0, 11.0, 15.0, 9.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert summarize(values) == {"median": 11.0, "q1": q1, "q3": q3, "n": 5}
    assert summarize([3.0]) == {"median": 3.0, "q1": 3.0, "q3": 3.0, "n": 1}


def test_failed_share_counts_missing_internal_and_raised():
    assert failed_share(1000, 0, 0, 0) == 0.0
    assert failed_share(1000, 3, 2, 0) == pytest.approx(0.005)
    assert failed_share(2000, 0, 0, 1000) == 0.5
    with pytest.raises(ValueError):
        failed_share(0, 0, 0, 0)
    with pytest.raises(ValueError):
        failed_share(10, 11, 0, 0)


def test_covered_is_the_union_clipped_to_the_window():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert covered([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0.0


def _span(i, name, start, end, parent=None):
    return Span(name, start, end, i, parent, "r")


def test_self_time_subtracts_the_union_of_children_not_their_sum():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "append", 1.0, 6.0, parent=0),
        # overlapping children (e.g. async work): union is [5, 8], not 2 + 2
        _span(2, "read", 5.0, 7.0, parent=0),
        _span(3, "sidecar", 6.0, 8.0, parent=0),
        _span(4, "nested", 2.0, 3.0, parent=1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 7.0)
    assert selfs[1] == pytest.approx(4.0)
    assert selfs[4] == pytest.approx(1.0)
    assert self_time_within(spans[0], spans, 0.0, 1.0) == pytest.approx(1.0)
    assert self_time_within(spans[0], spans, 6.0, 10.0) == pytest.approx(2.0)
    assert self_time_within(spans[0], spans, 11.0, 12.0) == 0.0


def test_peak_rss_sums_over_child_processes_by_name():
    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in descendants(os.getpid())
        assert peak_rss_mib_by_process()["sleep"] > 0.0
    finally:
        child.kill()
        child.wait()
