"""Readings taken from outside the program: process CPU from ``/proc``,
process start time, and the JVM's live heap through its management
beans."""

from __future__ import annotations

import gc
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids``."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        total += int(f[11]) + int(f[12])  # utime, stime
    return total / _CLK


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(_stat_fields("self")[19]) / _CLK  # starttime
    return time.time() - age


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())


# live_heap_mb: a System.gc() every GC_PAUSE_S until GC_SETTLE
# collections in a row free less than 0.5 MB, at most GC_LIMIT of them
GC_PAUSE_S, GC_SETTLE, GC_LIMIT = 0.5, 3, 16


def live_heap_mb(spark) -> float:
    """Heap in use once collections stop freeing anything: repeated
    ``System.gc()`` (see ``GC_*``); returns the least reading.

    Python's cyclic collector runs first: a DataFrame caught in a
    reference cycle keeps its JVM Dataset, plan and broadcast relations
    alive through py4j until Python collects it (68 vs 100 MB on two
    seeds of ``adhoc_queries`` without it). The JVM side then needs
    several collections: Spark's cleaner thread frees dead broadcasts,
    shuffles and blocks only after a collection has found them, so a
    ``warehouse_refresh`` run read 139, 115, then 81.5 MB flat."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    best, calm = float("inf"), 0
    for _ in range(GC_LIMIT):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        calm = calm + 1 if used > best - 0.5 else 0
        best = min(best, used)
        if calm >= GC_SETTLE:
            break
        time.sleep(GC_PAUSE_S)
    return best


def loadavg() -> float:
    return os.getloadavg()[0]
