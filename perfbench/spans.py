"""Spans, Spark counters and peak memory, recorded from the benchmark side.

A span is one timed call into the library: name, kind ("build" while a
DataFrame is constructed, "call" otherwise), start, end and parent. All
spans of one workload run share that run's id. Spans stay in memory and
are summarised once at the end of the process.

With ``counters=True`` (traced runs) each span also runs its Spark jobs
under its own job group and, on exit, reads the jobs, stages, tasks,
executor run time, shuffle write and spill of that group from the
driver's status store. That bookkeeping costs driver time, which is why
end-to-end figures come from runs with ``counters=False``.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    run_id: int
    span_id: int
    parent_id: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, counters: bool):
        self.spark = spark
        self.counters = counters
        self.spans: list[Span] = []
        self.run_id = 0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def new_run(self) -> int:
        self.run_id += 1
        return self.run_id

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self.run_id,
            next(self._ids),
            parent.span_id if parent else None,
            name,
            kind,
            time.perf_counter(),
        )
        self._stack.append(sp)
        sc = self.spark.sparkContext
        if self.counters:
            sc.setJobGroup(f"pb-{sp.span_id}", name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if self.counters:
                if parent is not None:
                    sc.setJobGroup(f"pb-{parent.span_id}", parent.name, False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                sp.counters = self._group_counters(f"pb-{sp.span_id}")

    def _group_counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # status updates arrive on the listener bus asynchronously
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["executor_run_ms"] += d.executorRunTime()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out

    # ------------------------------------------------------------ summaries
    def self_time(self, sp: Span) -> float:
        """Span duration minus the part covered by its direct children
        (children of one span run one after another, never overlapping)."""
        kids = sum(
            c.duration for c in self.spans if c.parent_id == sp.span_id
        )
        return sp.duration - kids

    def run_counters(self, run_id: int) -> dict:
        """Counters summed over every span of one workload run, plus the
        jobs launched while DataFrames were being built."""
        tot = dict.fromkeys(COUNTER_KEYS, 0)
        tot["build_jobs"] = 0
        for s in self.spans:
            if s.run_id != run_id or not s.counters:
                continue
            for k in COUNTER_KEYS:
                tot[k] += s.counters[k]
            if s.kind == "build":
                tot["build_jobs"] += s.counters["jobs"]
        return tot


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size: the Python workers are forked from
    one daemon and share most of their pages, which plain RSS would count
    once per worker."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
