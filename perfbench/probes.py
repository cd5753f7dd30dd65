"""Measurement taken from outside the engine.

- ``Tracer``: spans (name, start, end, parent, run id), each call's span
  with Spark's own per-stage counters (status store) summed over the jobs
  it ran; kept in memory and written as JSON when the run ends.
- ``PeakRss``: peak resident memory of the JVM and its Python workers,
  sampled from ``/proc`` (the process tree below this process).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans around the benchmark's calls into each layer.  Each call runs
    under its own job group; after it returns, the listener bus is drained
    and the summed counters of every stage its jobs ran are read from the
    status store, so the numbers are final, not a live snapshot."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._origin = time.perf_counter()
        self._stack: list[int] = []

    def _open(self, name: str, start: float) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": start - self._origin,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        span = self._open(name, time.perf_counter())
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter() - self._origin

    def call(self, name: str, fn):
        """Runs ``fn`` as a child span; returns ``(result, wall_s, counters)``.
        The wall time bounds the call alone; the counters are read after it."""
        group = f"perfbench-{len(self.spans)}"
        self._sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        span = self._open(name, t0)
        span["end"] = t1 - self._origin
        span["counters"] = self._counters(group)
        return result, t1 - t0, span["counters"]

    def _counters(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = Counter(jobs=len(jobs))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: nothing to add
                continue
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["task_s"] += st.executorRunTime() / 1000.0
            c["gc_s"] += st.jvmGcTime() / 1000.0
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_write_rows"] += st.shuffleWriteRecords()
        return dict(c)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed it
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def cpu_steal_jiffies() -> int:
    """Machine-wide CPU time stolen by the hypervisor so far (``/proc/stat``),
    in clock ticks; 0 where the kernel does not report it."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class PeakRss:
    """Peak of the summed resident memory of every process below this one
    (the Spark JVM, the PySpark worker daemon and its workers), sampled on
    a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        tree = _children()
        total, todo = 0, list(tree.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(tree.get(pid, []))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
