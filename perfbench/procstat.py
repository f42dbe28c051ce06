"""CPU time and memory of the benchmark's processes, read from /proc."""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped children)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while scanning
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # utime stime cutime cstime
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def child_pids(pid: int) -> list[int]:
    return [p for p, (ppid, _) in proc_table().items() if ppid == pid]


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and all its descendants.

    For a workload process the tree is that process, its driver JVM,
    PySpark's daemon and the Python UDF workers the daemon forks. The
    daemon moves itself into a process group of its own, so the tree is
    followed by parent pid, not by group. A member that exited has its
    time in its parent's reaped-children fields, so nothing is lost or
    counted twice.
    """
    procs = proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / CLOCK_TICKS


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of one process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_live_mb(spark) -> float:
    """Memory the driver JVM holds: heap live after a full GC, plus the
    peak use of each non-heap pool (metaspace, code cache).

    The JVM's resident size would not do: the engine pre-touches the
    whole heap, so all of it is resident from start-up. Nor would the
    heap pools' peaks: they follow when G1 happens to reclaim garbage
    (the old generation's peak ranged 490-880 MB over runs of one
    workload) more than what the engine keeps.
    """
    mf = spark._jvm.java.lang.management.ManagementFactory
    spark._jvm.java.lang.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    non_heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "NON_HEAP"
    )
    return (heap + non_heap) / 2**20
