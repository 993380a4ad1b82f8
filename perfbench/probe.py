"""Resource readings from /proc: CPU seconds of the driver, the JVM and
the JVM's Python workers; peak resident memory; the JVM's retained
memory (through its management interface); box load and CPU steal.

The Postgres server is deliberately not counted: it runs daemonized in
its own process tree and stands in for the source database, whose cost
is not the warehouse's.
"""

from __future__ import annotations

import gc
import os
import resource
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields restart after ')'
    return text[text.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields and int(fields[1]) == pid:
                out.append(int(entry))
    return out


def _tree_cpu(pid: int) -> float:
    """utime+stime of ``pid`` and its live descendants, plus what each
    has reaped from children that already exited."""
    total, todo, seen = 0.0, [pid], set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        fields = _stat_fields(p)
        if not fields:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15]) / _TICK
        todo += _children(p)
    return total


class ResourceProbe:
    def __init__(self, jvm_pid: int):
        with open(f"/proc/{jvm_pid}/comm") as f:
            comm = f.read().strip()
        if comm != "java":
            raise RuntimeError(f"gateway pid {jvm_pid} is {comm!r}, not java")
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        """CPU seconds of the driver, its reaped children and the JVM's
        process tree (every JVM thread: executors, JIT compiler and GC)."""
        me = resource.getrusage(resource.RUSAGE_SELF)
        kids = resource.getrusage(resource.RUSAGE_CHILDREN)
        driver = me.ru_utime + me.ru_stime + kids.ru_utime + kids.ru_stime
        return driver + _tree_cpu(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        hwm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + driver_kb) / 1024


def jvm_retained_mb(sc) -> float:
    """Heap the JVM still holds after full collections, plus its
    non-heap use (metaspace, code cache). The first collection lets
    Spark's context cleaner drop what only weak references held; the
    second frees what the cleaner released."""
    gc.collect()  # Python-side handles to JVM objects
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0
