"""Host/session record and the peak-memory sampler.

The record makes numbers from different host states comparable, or
visibly not: core count, memory, the hugepage pool before and after the
run (the benchmark only reads it; a pool that grew during the run is the
session's own side effect and is flagged), and the session settings in
effect.
"""
from __future__ import annotations

import os
import platform
import threading
import time

MEMINFO_KEYS = ("MemTotal", "MemAvailable", "Hugepagesize",
                "HugePages_Total", "HugePages_Free")


def meminfo() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in MEMINFO_KEYS:
                out[k] = int(v.split()[0])
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave other guests while this one wanted
    it, summed over all CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def session_record(spark) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "driver_java_options": conf.get("spark.driver.extraJavaOptions"),
        "arrow_max_records_per_batch":
            conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "event_log": conf.get("spark.eventLog.enabled", "false"),
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
        "java_input_args": list(jvm.java.lang.management.ManagementFactory
                                .getRuntimeMXBean().getInputArguments()),
        "python_version": platform.python_version(),
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _status_kb(pid: int) -> int:
    """VmRSS + HugetlbPages of one process, in kB."""
    kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(("VmRSS:", "HugetlbPages:")):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb


def tree_kb(root: int) -> int:
    """Summed VmRSS + HugetlbPages of every descendant of ``root``: the
    driver JVM and all its Python workers."""
    total, todo = 0, _children(root)
    while todo:
        pid = todo.pop()
        total += _status_kb(pid)
        todo.extend(_children(pid))
    return total


class PeakMem:
    """Background sampler of ``tree_kb(os.getpid())``; ``peak_mb`` after
    ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak_kb = max(self.peak_kb, tree_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_children(timeout: float = 30.0):
    """Block until every process this one started has exited."""
    deadline = time.time() + timeout
    while _children(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
