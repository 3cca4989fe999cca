"""Spans, Spark stage attribution and host probes for the benchmark.

Spans are recorded by the benchmark around its calls into each layer and
kept in memory; ``Tracer.dump`` writes them as JSON when the run ends.
Spark stages are assigned to the innermost span whose time window holds
the stage's submit and complete times. Windows rather than job groups,
because the sink and bucket writers submit jobs from their own threads,
which do not inherit a job group. Stages are read from the application
status store, which works with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def now_ms() -> float:
    return time.time() * 1000.0


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "gc_s", "python_cpu_s")

    def __init__(self, name: str, parent: "Span | None"):
        self.name, self.parent = name, parent
        self.t0, self.t1 = now_ms(), None
        self.gc_s = self.python_cpu_s = 0.0

    @property
    def wall_s(self) -> float:
        return (self.t1 - self.t0) / 1000.0


class Tracer:
    """Span recorder plus Spark stage/job attribution for one session."""

    def __init__(self, spark, cores: int):
        self.spark, self.cores = spark, cores
        self.jvm_pid = jvm_pid()
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block, with the JVM's collection
        time and the Python workers' CPU time inside it."""
        gc0, cpu0 = jvm_gc_ms(self.spark), python_worker_cpu_s(self.jvm_pid)
        span = Span(name, self.stack[-1] if self.stack else None)
        self.spans.append(span)
        self.stack.append(span)
        try:
            yield span
        finally:
            self.stack.pop()
            span.t1 = now_ms()
            span.gc_s = (jvm_gc_ms(self.spark) - gc0) / 1000.0
            span.python_cpu_s = python_worker_cpu_s(self.jvm_pid) - cpu0

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def stages(self) -> list[dict]:
        """Every completed stage attempt in the status store."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        lst = jvm.scala.jdk.javaapi.CollectionConverters.asJava(self._store().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ))
        out = []
        for i in range(lst.size()):
            s = lst.get(i)
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            out.append({
                "t0": float(sub.get().getTime()),
                "t1": float(done.get().getTime()),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "input_records": s.inputRecords(),
            })
        return out

    def jobs(self) -> list[tuple[float, float]]:
        jvm = self.spark.sparkContext._jvm
        lst = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self._store().jobsList(jvm.java.util.ArrayList()))
        out = []
        for i in range(lst.size()):
            j = lst.get(i)
            sub = j.submissionTime()
            if not sub.isEmpty():
                done = j.completionTime()
                t1 = float(done.get().getTime()) if not done.isEmpty() else now_ms()
                out.append((float(sub.get().getTime()), t1))
        return out

    def layer_metrics(self) -> dict[str, dict]:
        """Per span name: self time and the stage metrics of the stages
        whose window falls inside the span but inside none of its
        children. Spans of the same name are summed."""
        stages, jobs = self.stages(), self.jobs()
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(id(sp.parent), []).append(sp)

        def owner(t0: float, t1: float) -> Span | None:
            best = None
            for sp in self.spans:
                if sp.t1 is not None and sp.t0 <= t0 and t1 <= sp.t1:
                    if best is None or sp.t1 - sp.t0 < best.t1 - best.t0:
                        best = sp
            return best

        out: dict[str, dict] = {}

        def acc(sp: Span) -> dict:
            return out.setdefault(sp.name, {
                "self_s": 0.0, "run_core_s": 0.0, "cpu_core_s": 0.0, "idle_core_s": 0.0,
                "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0,
                "failed_tasks": 0, "jobs": 0, "input_records": 0, "python_cpu_s": 0.0,
            })

        for sp in self.spans:
            m = acc(sp)
            kids = children.get(id(sp), [])
            self_s = sp.wall_s - sum(k.wall_s for k in kids)
            m["self_s"] += self_s
            m["idle_core_s"] += self_s * self.cores
            m["gc_s"] += sp.gc_s - sum(k.gc_s for k in kids)
            m["python_cpu_s"] += sp.python_cpu_s - sum(k.python_cpu_s for k in kids)
        for st in stages:
            sp = owner(st["t0"], st["t1"])
            if sp is None:
                continue
            m = acc(sp)
            m["run_core_s"] += st["run_ms"] / 1000.0
            m["idle_core_s"] -= st["run_ms"] / 1000.0
            m["cpu_core_s"] += st["cpu_ns"] / 1e9
            m["shuffle_mb"] += st["shuffle_bytes"] / 1e6
            m["spill_mb"] += st["spill_bytes"] / 1e6
            m["tasks"] += st["tasks"]
            m["failed_tasks"] += st["failed_tasks"]
            m["input_records"] += st["input_records"]
        for t0, t1 in jobs:
            sp = owner(t0, t1)
            if sp is not None:
                acc(sp)["jobs"] += 1
        return out

    def dump(self, path: str) -> None:
        rows = [{
            "name": sp.name,
            "parent": sp.parent.name if sp.parent else None,
            "start_ms": sp.t0, "end_ms": sp.t1,
            "gc_s": sp.gc_s, "python_cpu_s": sp.python_cpu_s,
        } for sp in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# ---------------------------------------------------------------------------
# Host probes
# ---------------------------------------------------------------------------


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    total, it = 0, beans.iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return total


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def python_worker_cpu_s(jvm: int | None) -> float:
    """CPU seconds of the Python workers under the JVM, including
    workers that already exited and were reaped by the daemon."""
    if jvm is None:
        return 0.0
    total = 0
    for pid in descendants(jvm):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after ')': state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process, the JVM and
    every process under it (Python daemon and workers)."""
    pids = [os.getpid()]
    jvm = jvm_pid()
    if jvm is not None:
        pids += [jvm] + descendants(jvm)
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0
