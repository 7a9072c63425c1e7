"""Process-level plumbing shared by every workload: the Spark session
lifecycle, the host CPU probe, and peak memory."""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile
import time


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe(rounds: int = 400_000) -> float:
    """Fixed pure-CPU probe: md5 over a constant integer range, the
    shape of ``bench.py``'s in-band probe, run in this process so it
    needs no Spark. A slow reading means the host was contended."""
    t0 = time.perf_counter()
    md5 = hashlib.md5
    for i in range(rounds):
        md5(str(i).encode()).digest()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time a hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def proc_cpu_s(pid: int) -> float:
    """CPU seconds (user and system, every thread) process ``pid`` has
    run. Time a hypervisor steals from this machine is not charged to
    any process, so this grows less than wall time while the host is
    contended."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """Owns the Spark session and the JVM behind it.

    ``start()`` may be called repeatedly: each call stops the previous
    session and builds a fresh one on the same JVM, which is how the
    benchmark repeats its set-up. ``close()`` stops Spark, shuts the
    JVM down and waits for it to exit."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None
        self.jvm_pid = None
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.tmp = tmp
        # Spark's block manager, the JVM and Python temp files all stay
        # inside the work directory
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"

    def start(self):
        from claims_data_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = ncpu()
        conf = {
            "spark.local.dir": self.tmp,
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        # the first action: scheduler, codegen and task launch paths
        self.spark.range(0, 10_000, 1, n).selectExpr("sum(id)").collect()
        return self.spark

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of this Python process and of its JVM."""
        return vm_hwm_mb(os.getpid()), vm_hwm_mb(self.jvm_pid)

    def cpu_s(self) -> float:
        """CPU seconds this Python process and its JVM have run."""
        return proc_cpu_s(os.getpid()) + proc_cpu_s(self.jvm_pid)

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
