"""The benchmark's own arithmetic, kept free of Spark so it can be tested
on its own (test_stats.py)."""

from __future__ import annotations

import math
import statistics


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``samples`` with at least ``min_beyond``
    samples above it, as (percentile, value); None when there are too few
    samples for any tail. A tail read from fewer samples is one sample,
    not a percentile."""
    ordered = sorted(samples)
    for rank in range(len(ordered) - min_beyond, 0, -1):
        value = ordered[rank - 1]
        if sum(1 for s in ordered if s > value) >= min_beyond:
            return 100.0 * rank / len(ordered), value
    return None


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def geomean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean of the per-kind median latencies. Kinds whose
    latencies differ by an order of magnitude make a pooled median jump
    between kinds from run to run; this does not."""
    return geomean([statistics.median(v) for v in by_kind.values() if v])


class Tally:
    """Attempted and failed operations. An op fails on an error, a
    non-200 reply, a timeout or a wrong answer; a failed op contributes no
    latency sample."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.latencies: dict[str, list[float]] = {}

    def record(self, kind: str, latency_s: float, ok: bool) -> None:
        self.attempted += 1
        if ok:
            self.latencies.setdefault(kind, []).append(latency_s)
        else:
            self.failed += 1

    def merge(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        for kind, vals in other.latencies.items():
            self.latencies.setdefault(kind, []).extend(vals)

    @property
    def completed(self) -> int:
        return self.attempted - self.failed

    def all_latencies(self) -> list[float]:
        return [v for vals in self.latencies.values() for v in vals]


def wait_s(latency_s: float, service_s: float) -> float:
    """Time a request spent not being served: client-observed latency
    minus the single-threaded service time of the same query."""
    return max(latency_s - service_s, 0.0)


def interval_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap_s(wall_s: float, busy_s: float) -> float:
    """Driver-side time of an op: its wall time minus the time at least
    one Spark job was running."""
    return max(wall_s - busy_s, 0.0)


def self_times(spans: list[dict]) -> dict[str, list[float]]:
    """Self time of every span, grouped by name: its duration minus the
    part of it covered by its child spans (``parent`` is the parent span's
    id)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, list[float]] = {}
    for s in spans:
        covered = interval_union(children.get(s["id"], []), s["start"], s["end"])
        out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
    return out
