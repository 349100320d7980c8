"""Measurement taken from outside the engine.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  writes them out once, when the run ends; self time per layer comes
  from the spans.
* ``SparkStatus`` reads job and stage metrics for a job group from the
  SparkContext's status store (works with the UI disabled).
* ``RssSampler`` tracks the peak resident memory of this process and all
  of its descendants (the JVM and the Python workers it forks).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, fields


class Tracer:
    """In-memory span recorder. Times are epoch seconds, so spans built
    from Spark's job timestamps line up with the benchmark's own."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, op: str | None,
            parent: int | None) -> int:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": op})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        idx = self.add(name, time.time(), 0.0, op, parent)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Summed self time per span name over the spans of ``ops``: a
        span's duration minus the part of it that its children cover
        (overlapping children, such as concurrent Spark jobs, count
        once)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in ops:
                continue
            own = s["end"] - s["start"]
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + max(own - covered, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


@dataclass
class JobCounts:
    """Spark work done by one job group. Every field but the times and
    ``intervals`` is a count that should repeat exactly."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0

    def __post_init__(self) -> None:
        self.intervals: list[tuple[float, float]] = []

    def __iadd__(self, other: "JobCounts") -> "JobCounts":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        self.intervals += other.intervals
        return self

    def exact(self) -> dict[str, int]:
        return {f.name: getattr(self, f.name) for f in fields(self)
                if f.type == "int"}


class SparkStatus:
    """Job and stage metrics per job group, read through py4j from the
    status store (``lastStageAttempt`` per stage)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def counts(self, group: str) -> JobCounts:
        # job-end events reach the status store through the listener bus
        self._bus.waitUntilEmpty()
        out = JobCounts()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out.jobs += 1
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                out.intervals.append(
                    (start.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            ids = job.stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.input_bytes += st.inputBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.executor_run_s += st.executorRunTime() / 1e3
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
        return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its live descendants,
    children they have already reaped included."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's virtual CPUs,
    summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process tree, sampled on a thread."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.period_s)

    def sample(self, root: int) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in descendants(root)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
