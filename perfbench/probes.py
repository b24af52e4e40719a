"""Read-outs taken from outside the program under test.

* ``StatusStore`` reads Spark's own AppStatusStore (populated with the UI
  off) for jobs and stages: wall intervals, executor run/CPU/GC time,
  task counts, result, shuffle and spill bytes.
* ``tree_pids``/``tree_peak_rss_mb``/``tree_cpu_s`` read ``/proc`` for
  the benchmark process and everything below it: the driver JVM and its
  Python workers.
* ``jvm_heap_peak_mb`` reads the driver JVM's heap memory pools. The
  JVM pre-touches its whole heap at launch, so its resident set does not
  show how much of the heap is used; the pools' peak usage does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # the command name may contain spaces; fields follow the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    return sum(_status_kb(p, "VmHWM:") for p in tree_pids()) / 1024.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12])  # utime, stime
    return total / _CLK_TCK


def jvm_heap_peak_mb(spark, reset: bool = False) -> float:
    """Summed peak usage of the driver JVM's heap pools since the last
    reset, in MiB; with `reset`, start a new peak from current usage."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    heap = mgmt.MemoryType.HEAP
    total = 0
    for pool in mgmt.ManagementFactory.getMemoryPoolMXBeans():
        if not pool.getType().equals(heap):
            continue
        if reset:
            pool.resetPeakUsage()
        else:
            total += pool.getPeakUsage().getUsed()
    return total / float(1 << 20)


@dataclass
class Job:
    job_id: int
    name: str
    start_ms: int
    end_ms: int
    stage_ids: list[int] = field(default_factory=list)


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start_ms, end_ms) intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "tasks",
                "result_mb", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb")


class StatusStore:
    """Jobs and stages recorded by Spark's AppStatusStore since a mark."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def job_ids(self) -> set[int]:
        jobs = self._store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def jobs_since(self, seen: set[int]) -> list[Job]:
        """Finished jobs not in `seen`, once the listener has caught up."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() in seen:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            ids = j.stageIds()
            out.append(Job(j.jobId(), j.name(), sub.get().getTime(),
                           comp.get().getTime(),
                           [ids.apply(k) for k in range(ids.size())]))
        return sorted(out, key=lambda job: job.job_id)

    def stage_totals(self, jobs: list[Job]) -> dict[str, float]:
        """Summed task metrics over every attempt of the jobs' stages
        (skipped stages have no attempts and add nothing)."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        wanted = {s for j in jobs for s in j.stage_ids}
        defaults = [getattr(self._store, f"stageList$default${i}")()
                    for i in range(2, 6)]
        stages = self._store.stageList(self._sc._jvm.java.util.ArrayList(),
                                       *defaults)
        mb = float(1 << 20)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in wanted:
                continue
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["tasks"] += s.numCompleteTasks()
            tot["result_mb"] += s.resultSize() / mb
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            tot["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / mb
        return tot
