"""Span recorder and memory sampler for the benchmark.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer of the scanner. A span keeps its name, start, end,
parent and run id, plus the Spark task counts of the jobs it ran (read
from the status tracker through a per-span job group). Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans for one traced iteration at a time.

    ``span(name)`` opens a child of the innermost open span. Every Spark
    job the block starts runs in the span's job group, so the span can
    sum the tasks of exactly its own jobs."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        group = f"{self.run_id}-{s.span_id}"
        self._sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.tasks, s.failed_tasks = self._task_counts(group)
            if parent is not None:
                self._sc.setJobGroup(f"{self.run_id}-{parent.span_id}",
                                     parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def _task_counts(self, group: str) -> tuple[int, int]:
        st = self._sc.statusTracker()
        done = failed = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                si = st.getStageInfo(stage)
                if si is not None:
                    done += si.numCompletedTasks
                    failed += si.numFailedTasks
        return done, failed

    def self_times(self) -> dict[str, float]:
        """Per span name: summed self time (duration minus the part of
        it the span's children cover)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child.get(s.span_id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "id": s.span_id, "parent": s.parent,
                 "run_id": s.run_id, "start": s.start, "end": s.end,
                 "spark.tasks": s.tasks,
                 "spark.failed_tasks": s.failed_tasks,
                 "counts": s.counts} for s in self.spans]


def _parents() -> dict[int, int]:
    """pid -> ppid for every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows the closing paren
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def descendant_rss_mb(root: int) -> float:
    """Resident memory of every descendant of ``root`` (the driver JVM
    and its Python workers, for the benchmark's own pid)."""
    return sum(_rss_kb(p) for p in descendants(root)) / 1024.0


def cpu_times() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a busy neighbour shows here, not in our
    own numbers."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """Samples ``descendant_rss_mb`` of this process on a thread while
    ``active``; ``peak`` is the largest sample since the last reset."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._active = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self._interval):
            if self._active.is_set():
                rss = descendant_rss_mb(me)
                with self._lock:
                    self._peak = max(self._peak, rss)

    @contextmanager
    def sampling(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def take_peak(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak
