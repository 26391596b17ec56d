"""Measurement from outside the engine: spans around calls into the
package's public functions, Spark's status store read after each timed
call, and peak resident memory from /proc."""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import interval_union, self_times


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out at
    exit. Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "op": self.op_id})
            self.overhead_s += time.perf_counter() - end

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def mark(self) -> int:
        """Position to pass as ``since`` to count only later spans."""
        return len(self.spans)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def self_durations(self, name: str, since: int = 0) -> list[float]:
        return self_times(self.spans[since:]).get(name, [])

    def total(self, name: str, since: int = 0) -> float:
        return sum(self.durations(name, since))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusHarvest:
    """Executor-side counters from Spark's status store, which works with
    ``spark.ui.enabled=false``. The store keeps only the newest stages
    (``spark.ui.retainedStages``), so call ``harvest`` after every timed
    call; stage ids that vanished before they were read are counted in
    ``evicted`` rather than dropped silently."""

    KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_rows", "evicted")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()
        self._max_stage = -1
        self.totals = dict.fromkeys(self.KEYS, 0.0)
        self.job_intervals: list[tuple[float, float]] = []

    def _stages(self):
        lst = self._jvm.java.util.ArrayList
        seq = self._store.stageList(lst(), False, False, self._no_quantiles, lst())
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def _jobs(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def harvest(self, count: bool = True) -> dict[str, float]:
        """Read every stage and job finished since the last call; add them
        to ``totals`` when ``count`` (a timed call), else only mark them
        seen (set-up and oracle work)."""
        got = dict.fromkeys(self.KEYS, 0.0)
        ids, running = [], set()
        store_min = None
        for s in self._stages():
            sid = s.stageId()
            store_min = sid if store_min is None else min(store_min, sid)
            status = s.status().toString()
            if status in ("ACTIVE", "PENDING"):
                running.add(sid)
                continue
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            ids.append(sid)
            if status == "SKIPPED":
                continue
            got["stages"] += 1
            got["tasks"] += s.numTasks()
            got["run_s"] += s.executorRunTime() / 1e3
            got["cpu_s"] += s.executorCpuTime() / 1e9
            got["gc_s"] += s.jvmGcTime() / 1e3
            got["shuffle_write_bytes"] += s.shuffleWriteBytes()
            got["shuffle_read_bytes"] += s.shuffleReadBytes()
            got["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            got["input_rows"] += s.inputRecords()
        if ids:
            lo = self._max_stage + 1
            self._max_stage = max(self._max_stage, *ids)
            # ids below the oldest retained stage were evicted unread; ids
            # above it that never appear were planned but never submitted
            # (adaptive execution re-plans stages)
            gone = set(range(lo, self._max_stage + 1)) - self._seen_stages - running
            got["evicted"] = sum(1 for i in gone if i < store_min)
            self._seen_stages |= gone
        intervals = []
        for j in self._jobs():
            jid = j.jobId()
            end = _opt_ms(j.completionTime())
            if jid in self._seen_jobs or end is None:
                continue
            self._seen_jobs.add(jid)
            got["jobs"] += 1
            start = _opt_ms(j.submissionTime())
            intervals.append((start if start is not None else end, end))
        if count:
            for k, v in got.items():
                self.totals[k] += v
            self.job_intervals.extend(intervals)
        return got

    def busy_s(self, windows: list[tuple[float, float]]) -> float:
        """Wall time within ``windows`` (epoch seconds) with at least one
        counted job running."""
        return sum(interval_union(self.job_intervals, a, b) for a, b in windows)


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident set."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
