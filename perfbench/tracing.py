"""Spans around public calls, and host-noise probes.

With tracing on, ``Tracer.span`` records (id, name, parent, iteration,
start, end) in memory, tags the Spark jobs launched inside it with the job
group of the span, and records how many persistent RDDs the span left
registered. With tracing off it records nothing and sets no job group,
so the untraced run measures the program alone.
"""

from __future__ import annotations

import os
import resource
import time
from contextlib import contextmanager

from eventlog import group_for


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._sc = spark.sparkContext
        self._stack: list[dict] = []

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.sc().getPersistentRDDs().size())

    @contextmanager
    def span(self, name: str, iteration: int):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": iteration,
            "rdds_before": self.persisted_rdds(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(group_for(rec["id"]), name)
        self.bookkeeping_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(group_for(parent["id"]), parent["name"])
            else:
                self._sc._jsc.clearJobGroup()
            rec["rdds_delta"] = self.persisted_rdds() - rec["rdds_before"]
            self.bookkeeping_s += time.perf_counter() - t


def steal_cpu_s() -> float:
    """CPU-seconds the hypervisor stole from this host so far (/proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def canary(spark) -> float:
    """Seconds for a fixed, input-free Spark job. Run between iterations:
    if it slows, the host slowed, not the program."""
    t = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t


def driver_rss_mb_peak(spark) -> float:
    """Peak resident memory of the driver: the Python process plus the
    driver JVM (which, in local mode, also runs the executor)."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_mb = 0.0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_mb = int(line.split()[1]) / 1024.0
                    break
    except OSError:
        pass
    return py_mb + jvm_mb
