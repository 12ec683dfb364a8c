"""Readings taken from outside the engine: /proc for the host and the
process tree, Spark's StatusTracker for jobs, stages and tasks, and the
JVM's management beans for garbage collection.

Nothing here changes what the engine does. Every reading is a delta
between two snapshots, so a layer's figure for one pass is
``after - before``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def proc_start_s() -> float:
    """Seconds since this process started, from the kernel's record
    (so interpreter start-up and imports are included)."""
    fields = _stat_fields(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / _HZ


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _HZ if len(cpu) > 8 else 0.0


def cpu_speed_s(reps: int = 2) -> float:
    """Best-of-``reps`` time of a fixed single-threaded Python loop: a
    reading of how fast this host runs right now. Slowdowns that the
    hypervisor does not report as steal (lost turbo, busy neighbours on
    the physical host) show here."""
    best = float("inf")
    for _ in range(reps):
        t, acc = time.perf_counter(), 0
        for i in range(1_500_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User+system CPU of one process; with ``reaped`` also the CPU of
    its children that have exited and been waited for."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _HZ


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident memory of the engine's process tree: the Spark driver,
    the JVM and the JVM's Python workers.

    The Spark driver and the JVM live for the whole run, so their kernel
    high-water marks (VmHWM) are exact. Python workers come and go, so
    their part is the largest sum of their current RSS seen at a
    sample; samples are taken at every query boundary."""

    def __init__(self, driver_pid: int, jvm_pid: int) -> None:
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid
        self.workers_kb = 0

    def sample(self) -> None:
        workers = descendants(self.jvm_pid)[1:]
        self.workers_kb = max(
            self.workers_kb, sum(_status_kb(pid, "VmRSS:") for pid in workers)
        )

    def parts_gb(self) -> dict[str, float]:
        return {
            "driver.rss_peak_gb": _status_kb(self.driver_pid, "VmHWM:") / 1048576,
            "jvm.rss_peak_gb": _status_kb(self.jvm_pid, "VmHWM:") / 1048576,
            "operators.pyworker_rss_peak_gb": self.workers_kb / 1048576,
        }

    def gb(self) -> float:
        return sum(self.parts_gb().values())


@dataclass
class CpuSnapshot:
    driver: float
    jvm: float
    pyworkers: float
    gc: float
    steal: float

    def minus(self, other: "CpuSnapshot") -> dict[str, float]:
        return {
            "driver.cpu_s": self.driver - other.driver,
            "jvm.cpu_s": self.jvm - other.jvm,
            "operators.pyworker_cpu_s": self.pyworkers - other.pyworkers,
            "jvm.gc_s": self.gc - other.gc,
            "host.steal_s": self.steal - other.steal,
        }


class Probe:
    """CPU and GC readings for the Spark driver, the JVM and the Python
    workers that the JVM forks (the ``pyspark.daemon`` process and its
    children)."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000

    def pyworker_cpu_s(self) -> float:
        # Workers are children of the daemon; a worker that exited has
        # been reaped by the daemon, so its CPU sits in the daemon's
        # cutime/cstime and is read from there.
        kids = _children()
        total = 0.0
        for daemon in kids.get(self.jvm_pid, ()):
            total += cpu_s(daemon, reaped=True)
            for worker in descendants(daemon, kids)[1:]:
                total += cpu_s(worker)
        return total

    def snapshot(self) -> CpuSnapshot:
        times = os.times()
        return CpuSnapshot(
            driver=times.user + times.system,
            jvm=cpu_s(self.jvm_pid),
            pyworkers=self.pyworker_cpu_s(),
            gc=self.gc_s(),
            steal=steal_s(),
        )


def group_counts(sc, group: str, settle_s: float = 5.0) -> dict[str, int]:
    """Jobs, stages that ran, and tasks completed under one job group.

    Job-end events reach the status store through Spark's listener bus,
    a little after the action returns; the counts are read once every
    job of the group has finished (bounded by ``settle_s``) so they
    repeat exactly from run to run."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        done = all(
            j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs
        )
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stages = tasks = 0
    for sid in {s for j in jobs if j is not None for s in j.stageIds}:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def planning_phases(df) -> dict[str, float]:
    """Catalyst phase times (seconds) of a DataFrame's own query
    execution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out
