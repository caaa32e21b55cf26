"""Counters the JVM and Spark already expose, read over py4j.

Nothing here changes what the engine does: every function reads a
counter the driver JVM keeps anyway.
"""

from __future__ import annotations

import os


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every live process
    below it, plus what their reaped children used, from /proc.  Time the
    host steals from a virtual machine's vCPUs is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _mgmt(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def jit_s(spark) -> float:
    """Total JIT compiler time of the driver JVM so far."""
    return _mgmt(spark).getCompilationMXBean().getTotalCompilationTime() / 1e3


def gc_s(spark) -> float:
    """Total collection time over all driver-JVM garbage collectors."""
    return sum(b.getCollectionTime() for b in _mgmt(spark).getGarbageCollectorMXBeans()) / 1e3


def heap_peak_mb(spark) -> float:
    """Peak heap use over the run: the sum of each heap pool's peak, as
    ``MemoryPoolMXBean.getPeakUsage`` records it since JVM start."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed()
        for p in _mgmt(spark).getMemoryPoolMXBeans()
        if p.getType().equals(heap)
    ) / 2**20


def codegen(spark) -> tuple[int, float]:
    """(whole-stage codegen compiles, their total compile ms) so far.

    ``CodegenMetrics`` keeps a histogram of compile times; its count is
    exact and the total is count times the histogram's mean."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    h = cm.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, (h.getSnapshot().getMean() * n if n else 0.0)


def cached_frames(spark) -> int:
    """DataFrames currently registered with the cache manager."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def snapshot(spark) -> dict:
    """The cumulative JVM counters, for per-pass differences."""
    compiles, compile_ms = codegen(spark)
    return {
        "jit_s": jit_s(spark),
        "gc_s": gc_s(spark),
        "codegen_compiles": compiles,
        "codegen_ms": compile_ms,
    }


def diff(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}
