"""Shared pieces of the benchmark: percentiles, the calibration probe,
peak-RSS reading, in-memory spans and Spark counters per job group."""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import threading
import time

import numpy as np


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def calibration_ms(reps: int = 3) -> float:
    """Median wall time of a fixed CPU loop that never touches Spark.

    Half of it is interpreted Python, half NumPy, so it tracks box speed
    for both the interpreter and native kernels; no change to the engine
    can move it."""
    times = []
    rng = np.random.default_rng(12345)
    a = rng.random((160, 160))
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc + i * i) % 1_000_003
        m = a
        for _ in range(20):
            m = np.tanh(m @ a)
        times.append((time.perf_counter() - t0) * 1000.0)
    if acc < 0 or not np.isfinite(m).all():
        raise RuntimeError("calibration loop produced an impossible value")
    return statistics.median(times)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _status(pid: int) -> dict[str, str]:
    with open(f"/proc/{pid}/status") as f:
        return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of Python process `pid` plus its JVM descendants."""
    kids = _children()
    total_kb = int(_status(pid)["VmHWM"].split()[0])
    todo = list(kids.get(pid, []))
    while todo:
        child = todo.pop()
        todo.extend(kids.get(child, []))
        try:
            st = _status(child)
        except OSError:
            continue
        if st.get("Name") == "java":
            total_kb += int(st["VmHWM"].split()[0])
    return total_kb / 1024.0


class Tracer:
    """In-memory spans: name, start, end, parent and operation id.

    `enabled` is checked when a span opens, so tracing can be switched
    between operations. Spans nest per thread; a span's parent is the
    innermost open span of the same thread."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        """Return `fn` with every call recorded as span `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in self.spans}


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_ms",
    "executor_cpu_ms", "gc_ms",
)


def job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def spark_counters(sc, jobs: list[int]) -> dict[str, float]:
    """Sum stage metrics of `jobs` from the status tracker and the
    status store. Read it right after the operation: the store keeps
    only the last `spark.ui.retainedJobs` jobs."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    out["jobs"] = len(jobs)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for s in stage_ids:
        # A stage a job planned but never submitted is not in the store.
        if tracker.getStageInfo(s) is None:
            continue
        sd = store.lastStageAttempt(s)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
    return out


def cache_state(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return int(sc._jsc.getPersistentRDDs().size()), int(held)
