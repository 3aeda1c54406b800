"""Spans around the program's public calls, attributed via Spark job groups.

Every span sets its own job group, so the driver's status store can tell
which jobs, stages and tasks ran inside it.  Spans are kept in memory;
their Spark metrics are read after the measured work, once the listener
bus has drained, so reading them adds nothing to the spans' wall time.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"
_MB = 1e6


@dataclass
class Span:
    name: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled = False`` makes ``span`` a bare pass-through
    so the untraced runs execute the same code path."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # seconds spent in the tracer's own bookkeeping inside spans: the
        # tracing overhead the traced run reports
        self.cost = 0.0

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self.current
        sp = Span(name, parent.name if parent else None,
                  f"bench-{len(self.spans)}", c0)
        self.spans.append(sp)
        self._stack.append(sp)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(sp.group, name)
        self.cost += time.perf_counter() - c0
        try:
            yield sp
        finally:
            c1 = time.perf_counter()
            sp.end = c1
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            self.cost += time.perf_counter() - c1

    def dump(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "group": s.group,
                 "start": s.start, "end": s.end, **s.attrs}
                for s in self.spans]


class StatusStore:
    """Per-job-group task metrics from the driver's AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def metrics(self, groups: list[str]) -> dict:
        """Summed task metrics of every stage run by jobs of ``groups``."""
        jobs = [j for g in groups for j in self.jobs(g)]
        stage_ids = set()
        for j in jobs:
            ids = self.store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {"jobs": len(jobs), "task_s": 0.0, "cpu_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0}
        durations = []
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:      # skipped stage: never attempted
                continue
            out["task_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            tasks = self.store.taskList(sid, st.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    durations.append(m.get().executorRunTime())
        # max over median task time; a 1 ms floor keeps trivial tasks
        # (0 ms medians) from dividing by zero
        out["skew"] = (max(durations) / max(statistics.median(durations), 1)
                       if durations else 1.0)
        return out


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1e3


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid → (ppid, /proc/<pid>/stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:                # exited while scanning
            continue
        out[int(d)] = (int(rest[1]), rest)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def pyworker_cpu_s(jvm: int) -> float:
    """User + system CPU of the JVM's child processes (the Python worker
    daemon and its workers), reaped children included."""
    table = _proc_table()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(jvm, table):
        rest = table[pid][1]
        # fields 14-17 of stat: utime stime cutime cstime
        total += sum(int(x) for x in rest[11:15])
    return total / tick


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory (the kernel's high-water mark, VmHWM) of the
    JVM plus its Python worker processes."""
    total = 0
    for pid in [jvm] + descendants(jvm):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:                # exited while scanning
            continue
    return total / _MB


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU time of the machine in clock ticks, from
    /proc/stat: the time a hypervisor gave other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])
