"""Measurement from outside the program: process-tree CPU and memory
from ``/proc``, Spark's status store per job group, and in-memory spans.

The benchmark process, the JVM it launches and the Python workers the
JVM forks form one process tree; its CPU time is the run's cost in
core-seconds.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a worker that exited is counted in its parent's cutime/cstime)."""
    total = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(pids: list[int] | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM) of each live process in the tree, in
    MB, keyed by ``pid:command``."""
    out = {}
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                hwm = next(line for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # exited, or a kernel thread
            continue
        out[f"{pid}:{comm}"] = int(hwm.split()[1]) / 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from
    /proc/stat; the stolen share of a time span shows how much a
    hypervisor's other guests took from this one."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class StatusStore:
    """Per-job-group counters from Spark's own status store.

    Jobs are found through the job group the benchmark sets before each
    step, which also covers barrier and broadcast jobs that Spark
    reports under anonymous call sites."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def drain(self) -> None:
        # Listener events are delivered asynchronously; wait until the
        # store has seen every job and stage end before reading it.
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, name: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        c = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_records": 0, "map_s": 0.0, "reduce_s": 0.0,
        }
        for job_id in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(job_id)
            c["jobs"] += 1
            for stage_id in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                c["input_mb"] += sd.inputBytes() / 1e6
                c["output_mb"] += sd.outputBytes() / 1e6
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                c["shuffle_records"] += sd.shuffleWriteRecords()
                span = _stage_span_s(sd)
                if sd.shuffleWriteBytes() > 0:
                    c["map_s"] += span
                elif sd.shuffleReadBytes() > 0:
                    c["reduce_s"] += span
        return c


def _stage_span_s(sd) -> float:
    start, end = sd.submissionTime(), sd.completionTime()
    if start.isEmpty() or end.isEmpty():
        return 0.0
    return (end.get().getTime() - start.get().getTime()) / 1e3


class Tracer:
    """Spans kept in memory: name, start, end, parent and trace id
    (one trace per pass). ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
