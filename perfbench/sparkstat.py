"""Reads of Spark's own bookkeeping, from outside the engine.

Job and stage figures come from the application status store (the
data behind the Spark UI), reached through the public status tracker
and the JVM `AppStatusStore`.  These reads run only in traced runs.
CPU time and peak memory of the benchmark's own processes are read
from the kernel.
"""

from __future__ import annotations

import os
import re
import resource
from dataclasses import dataclass, field

from .trace import _covered

_BATCH = re.compile(r"batch = (\d+)")


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_ms: float = 0.0  # union of the jobs' [submit, complete]
    executor_run_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self) -> dict[int, object]:
        out = {}
        lst = self._store.stageList(
            None, False, False, self._no_quantiles, None
        )
        for i in range(lst.size()):
            s = lst.apply(i)
            out[s.stageId()] = s  # last attempt wins
        return out

    def _jobs(self):
        lst = self._store.jobsList(None)
        return [lst.apply(i) for i in range(lst.size())]

    def jobs_by_batch(self, run_id: str) -> dict[int, JobStats]:
        """Stats of the jobs a streaming run launched, per batch id
        (its jobs carry the run id as group and `batch = N` in the
        description)."""
        per: dict[int, list] = {}
        for j in self._jobs():
            if _opt(j.jobGroup()) != run_id:
                continue
            m = _BATCH.search(str(_opt(j.description()) or ""))
            if m:
                per.setdefault(int(m.group(1)), []).append(j)
        stages = self._stages()
        return {b: self._summarise(js, stages) for b, js in per.items()}

    def jobs_in_group(self, group: str) -> JobStats:
        jobs = [j for j in self._jobs() if _opt(j.jobGroup()) == group]
        return self._summarise(jobs, self._stages())

    @staticmethod
    def _summarise(jobs, stages) -> JobStats:
        st = JobStats(jobs=len(jobs))
        for j in jobs:
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                st.intervals.append((sub.getTime(), done.getTime()))
            ids = j.stageIds()
            for i in range(ids.size()):
                s = stages.get(ids.apply(i))
                if s is None:  # skipped stage: never ran
                    continue
                st.stages += 1
                st.tasks += s.numTasks()
                st.executor_run_ms += s.executorRunTime()
                st.shuffle_read_bytes += s.shuffleReadBytes()
                st.shuffle_write_bytes += s.shuffleWriteBytes()
                st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if st.intervals:
            lo = min(a for a, _ in st.intervals)
            hi = max(b for _, b in st.intervals)
            st.job_wall_ms = _covered(st.intervals, lo, hi)
        return st


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from `/proc/stat`, all cores:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


_TICK = os.sysconf("SC_CLK_TCK")


def _ppid_ticks(pid: str) -> tuple[int, int] | None:
    """(parent pid, user + system ticks of the process and of the
    children it has reaped) from `/proc/<pid>/stat`."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process has exited
        return None
    # fields after the parenthesised command: state, ppid, ...;
    # utime, stime, cutime and cstime are fields 14 to 17
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def own_cpu_s() -> float:
    """CPU seconds, user plus system, spent by this process and every
    live process below it: the driver JVM it launched and that JVM's
    Python workers.  Other processes on the machine are not counted."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _ppid_ticks(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1] if pid in stats else 0
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two `cpu_ticks()` readings that
    the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(int(jvm_pid)) + py_kb) / 1024.0
