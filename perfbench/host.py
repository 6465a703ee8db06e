"""Host fingerprint, resource sizing and Spark session lifetime.

The benchmark sets only resource configs (cores, JVM heap, local and
event-log directories). Tuning configs such as shuffle partitions or
Arrow batch size stay with the program, so a later change to them shows
up in the numbers.
"""

from __future__ import annotations

import os
import platform
import subprocess

#: share of physical RAM given to the JVM heap; the rest stays with the
#: Python process, the page cache and other tenants of the host
HEAP_SHARE = 0.125
HEAP_CAP_MB = 4096


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return min(HEAP_CAP_MB, int(mem_total_mb() * HEAP_SHARE))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def fingerprint() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "jvm_heap_mb": heap_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }


def cpu_times() -> list[int]:
    """The host's aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings (the 8th counter is steal)."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


class Session:
    """Owns one SparkSession and the JVM behind it; ``stop()`` ends both
    and waits for the JVM process to exit."""

    def __init__(self, work: str, *, event_log_dir: str | None = None):
        self.work = work
        self.event_log_dir = event_log_dir
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{nproc()}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{heap_mb()}m")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_log_dir)
                # this Python has no zstd module to read Spark 4's default codec
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self) -> None:
        """Engine warm-up: one small scan-shuffle-collect job, so the
        first timed operation does not also pay executor start-up."""
        self.spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def jvm_proc(self):
        """The JVM's ``Popen``, or None before the session starts."""
        from pyspark import SparkContext

        return getattr(SparkContext._gateway, "proc", None)

    def jvm_pid(self) -> int | None:
        proc = self.jvm_proc()
        return proc.pid if proc else None

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = self.jvm_proc()
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def kill(self) -> None:
        """End the JVM without a clean shutdown (for a run that hangs)."""
        proc = self.jvm_proc()
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)

    def java_version(self) -> str:
        return self.spark._jvm.java.lang.System.getProperty("java.version")
