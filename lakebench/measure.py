"""Measurement plumbing shared by the workloads: spans, Spark job counters
and process-tree memory.

Everything here observes the program from outside: spans wrap calls into the
repository's public functions, Spark counters are read from the status store
after each operation, and memory is read from /proc.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    index: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a bare pass-through, so
    the untraced run pays one generator frame per layer call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        rec = Span(name, time.perf_counter(), 0.0, parent, op, len(self.spans))
        self.spans.append(rec)
        self._stack.append(rec.index)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "op": s.op,
                    }
                    for s in self.spans
                ],
                fh,
            )


def self_times_by_op(spans: list[Span]) -> dict[int | None, dict[str, float]]:
    """Seconds of self time per operation and span name: each span's
    duration minus the part of it covered by its children (children of one
    span never overlap, because the benchmark calls layers one after
    another)."""
    child_cover = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_cover[s.parent] += s.end - s.start
    out: dict[int | None, dict[str, float]] = {}
    for s in spans:
        own = out.setdefault(s.op, {})
        own[s.name] = own.get(s.name, 0.0) + (s.end - s.start) - child_cover[s.index]
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per span name, summed over operations."""
    out: dict[str, float] = {}
    for own in self_times_by_op(spans).values():
        for name, secs in own.items():
            out[name] = out.get(name, 0.0) + secs
    return out


# ---------------------------------------------------------------------------
# Spark job counters


COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_mb", "spill_mb")


class SparkCounters:
    """Per-operation job, stage and task counts plus executor time, read from
    the Spark status store. Each operation runs under its own job group; the
    store works with the UI disabled. ``heap_after_gc_mb`` is the largest
    live JVM heap seen after a collection, read after each operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        self.heap_pools = [
            p.getName()
            for p in mgmt.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        ]
        self.collectors = list(mgmt.getGarbageCollectorMXBeans())
        self.heap_after_gc_mb = 0.0

    def _heap_after_gc(self) -> None:
        # the heap left by each collector's latest collection
        for gc in self.collectors:
            info = gc.getLastGcInfo()
            if info is None:
                continue
            after = info.getMemoryUsageAfterGc()
            used = sum(after.get(p).getUsed() for p in self.heap_pools if after.containsKey(p))
            self.heap_after_gc_mb = max(self.heap_after_gc_mb, used / 1e6)

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"lakebench-op-{op}", f"op {op}")

    def end(self, op: int) -> dict[str, float]:
        self._heap_after_gc()
        # status updates travel on the asynchronous listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        for job in self.tracker.getJobIdsForGroup(f"lakebench-op-{op}"):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    stage = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # planned by AQE, never submitted
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["run_ms"] += stage.executorRunTime()
                out["cpu_ms"] += stage.executorCpuTime() / 1e6
                out["shuffle_mb"] += (
                    stage.shuffleReadBytes() + stage.shuffleWriteBytes()
                ) / 1e6
                out["spill_mb"] += (
                    stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                ) / 1e6
        return out


# ---------------------------------------------------------------------------
# memory


def _tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes of ``root`` and all its descendants
    (driver, JVM and Python workers). PSS splits a shared page between its
    sharers, so a child caught between fork and exec does not count the
    JVM's pages twice."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's proportional resident memory on a thread;
    ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
