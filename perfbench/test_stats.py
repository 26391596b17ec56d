"""Self-tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    Tally,
    gap_s,
    geomean,
    geomean_of_medians,
    interval_union,
    self_times,
    tail,
    wait_s,
)


def test_tail_needs_ten_samples_beyond():
    assert tail([float(i) for i in range(10)]) is None
    assert tail([float(i) for i in range(11)]) == (100 / 11, 0.0)
    pct, value = tail([float(i) for i in range(1, 201)])
    assert value == 190.0 and pct == 95.0  # ten samples (191..200) beyond


def test_tail_counts_ties_as_not_beyond():
    samples = [1.0] * 5 + [2.0] * 20
    # only the five 1.0s have anything above them; 20 samples lie beyond
    assert tail(samples) == (20.0, 1.0)
    assert tail([2.0] * 30) is None


def test_failures_count_against_attempts_and_add_no_latency():
    t = Tally()
    t.record("a", 1.0, ok=True)
    t.record("a", 9.0, ok=False)
    t.record("b", 2.0, ok=True)
    assert (t.attempted, t.failed, t.completed) == (3, 1, 2)
    assert sorted(t.all_latencies()) == [1.0, 2.0]
    other = Tally()
    other.record("b", 4.0, ok=False)
    t.merge(other)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.latencies == {"a": [1.0], "b": [2.0]}


def test_wait_is_latency_minus_service():
    assert wait_s(0.73, 0.23) == pytest.approx(0.5)
    assert wait_s(0.2, 0.25) == 0.0  # never negative


def test_gap_is_wall_minus_busy():
    assert gap_s(3.0, 1.25) == pytest.approx(1.75)
    assert gap_s(1.0, 1.5) == 0.0


def test_busy_time_is_the_union_of_job_intervals_in_the_window():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert interval_union(jobs, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert interval_union(jobs, 2.5, 5.5) == pytest.approx(1.0)
    assert interval_union([], 0.0, 1.0) == 0.0


def test_geometric_mean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_geomean_of_medians_weights_kinds_not_samples():
    by_kind = {"fast": [0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 5.0], "slow": [1.5, 1.4, 1.6]}
    assert geomean_of_medians(by_kind) == pytest.approx(math.sqrt(0.1 * 1.5))


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"id": 3, "name": "a", "start": 7.0, "end": 8.0, "parent": 0},
        {"id": 4, "name": "c", "start": 1.5, "end": 2.0, "parent": 1},
    ]
    st = self_times(spans)
    assert st["op"] == [pytest.approx(10.0 - 6.0)]  # children cover 1..6, 7..8
    assert st["a"] == [pytest.approx(2.5), pytest.approx(1.0)]
    assert st["b"] == [pytest.approx(3.0)]
