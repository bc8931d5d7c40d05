"""Spans, Spark task metrics and process memory for the benchmark.

A span times one call into an engine layer from the benchmark's own code.
Spark jobs started inside a span carry the span's unique tag as their job
group and description; when the span closes, the task metrics of those jobs
are read from Spark's status store and attributed to the span.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

RSS_INTERVAL_S = 0.2
TASK_FIELDS = ("tasks", "executor_run_s", "fetch_wait_s", "gc_s", "failed_tasks")


def spark_task_metrics(sc, tag: str) -> dict:
    """Task metrics summed over the stages of every job in group ``tag``.

    ``failed_tasks`` counts failed and killed task attempts plus retried
    stage attempts; skipped stages (shuffle reuse) contribute nothing.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    out["shuffle_write_mb"] = 0.0
    for job_id in tracker.getJobIdsForGroup(tag):
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # stage evicted from the store or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks() + sd.attemptId()
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
    return out


class Tracer:
    """Collects span durations, counters and per-span task metrics.

    Values are kept per span name as lists (one entry per span occurrence);
    ``summary`` reduces each list to its median.
    """

    def __init__(self, sc):
        self.sc = sc
        self.values: dict[str, list] = {}
        self.last: dict = {}  # task metrics of the most recently closed span
        self._seq = 0

    def record(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(float(value))

    @contextmanager
    def span(self, name: str):
        """Time the body as ``<name>_s`` and record ``<name>.<task field>``
        from the task metrics of the Spark jobs it ran."""
        self._seq += 1
        tag = f"{name}#{self._seq}"
        self.sc.setLocalProperty("spark.jobGroup.id", tag)
        self.sc.setLocalProperty("spark.job.description", tag)
        t0 = time.perf_counter()
        try:
            yield tag
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.record(f"{name}_s", dt)
        self.last = spark_task_metrics(self.sc, tag)
        for field in TASK_FIELDS:
            self.record(f"{name}.{field}", self.last[field])

    def summary(self) -> dict:
        return {k: statistics.median(v) for k, v in self.values.items()}


class NullTracer:
    """Stands in for a Tracer in untraced jobs."""

    @contextmanager
    def span(self, name: str):
        yield name


def _children_map() -> dict:
    kids: dict[int, list] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _jvm_spawning(pid: int) -> bool:
    """True for a java process whose parent is java: the JVM starts child
    processes with posix_spawn, whose child shares the JVM's memory until it
    execs, so its RSS reads as a second copy of the JVM's (a sample caught
    one and read 6.4 GB instead of 3.7 GB)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    ppid = int(stat[stat.rindex(")") + 2:].split()[1])
    return _exe(pid).endswith("/java") and _exe(ppid).endswith("/java")


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks) on a background thread; ``peak_mb`` is
    the largest sum seen."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in descendants(os.getpid()) if not _jvm_spawning(p))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
