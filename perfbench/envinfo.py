"""Per-run environment record, read from ``/proc`` (no extra packages).

A drifting set of runs is easier to explain with the load average, the
CPU time stolen by the hypervisor and the JVM's peak memory next to each
result."""

from __future__ import annotations

import os
import platform
import sys
import time


def _cpu_ticks() -> dict[str, int]:
    """Aggregate CPU tick counters from the first line of /proc/stat."""
    fields = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
              "steal")
    with open("/proc/stat") as f:
        values = f.readline().split()[1:1 + len(fields)]
    return dict(zip(fields, map(int, values)))


def snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"time": time.time(), "loadavg": load, "cpu_ticks": _cpu_ticks(),
            "nproc": os.cpu_count()}


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU ticks between two snapshots that were stolen."""
    a, b = start["cpu_ticks"], end["cpu_ticks"]
    total = sum(b.values()) - sum(a.values())
    return (b["steal"] - a["steal"]) / total if total else 0.0


def jvm_hwm_kb() -> int:
    """Peak resident set (VmHWM) of the driver JVM, in kB."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "platform": platform.platform()}
