"""Host-sized Spark session, process-tree accounting and host-weather guards.

The session is the package's own ``session.builder`` (RECOMMENDED_CONF, as
the CLI builds it) with only host-sized keys on top: ``local[<affinity
cores>]``, shuffle partitions = cores (what the CLI's ``--cores`` sets), a
driver heap sized from ``MemTotal``, and every scratch directory under the
benchmark's work dir.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
from typing import Dict, List, Optional

MIB = 1 << 20
_TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of MemTotal, between 1 and 8 GB: the rest stays for the
    Python workers (one per core) and the page cache the parquet scans use."""
    return max(1024, min(8192, mem_total_mb() // 4 // 256 * 256))


def build_session(work_dir: str, event_log: bool = False):
    from jarvis_ocr_service_spark.session import builder

    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    b = (
        builder(app_name="spexbench", master=f"local[{n}]", shuffle_partitions=n)
        .config("spark.driver.memory", f"{driver_heap_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
    )
    if event_log:
        log_dir = os.path.join(work_dir, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            # prepare's plans are deep: full plan strings in every SQL event
            # made a 1.2 GB log per traced run; the reader needs none of them
            .config("spark.sql.maxPlanStringLength", "1024")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------


def proc_stat(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including what
    they reaped from exited children."""
    ticks = 0
    for pid in [root] + descendants(root):
        st = proc_stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int) -> List[int]:
    """The pyspark daemon and the workers it forked."""
    return [p for p in descendants(root) if "pyspark" in _cmdline(p) and "java" not in _cmdline(p)]


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# JVM memory
# ---------------------------------------------------------------------------


class MemorySampler:
    """Samples the bytes held by persisted RDDs every 0.25 s and keeps the
    peak. On exit, runs a full collection and records the JVM heap still
    in use (``live_mb``): the memory the passes left behind, not the
    memory they used while running. Unlike the JVM's RSS or the peak heap
    in use after the collections that ran during the passes, this repeats
    from run to run."""

    def __init__(self, spark, period_s: float = 0.25):
        self._jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc
        self._period = period_s
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None
        self.storage_peak_mb = 0.0
        self.live_mb = 0.0

    def sample(self) -> None:
        stored = sum(r.memSize() + r.diskSize() for r in self._jsc.sc().getRDDStorageInfo())
        self.storage_peak_mb = max(self.storage_peak_mb, stored / MIB)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
        mem = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        self.live_mb = mem.getHeapMemoryUsage().getUsed() / MIB


# ---------------------------------------------------------------------------
# Host-weather guards
# ---------------------------------------------------------------------------


def cpu_ticks() -> Dict[str, int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def steal_frac(before: Dict[str, int], after: Dict[str, int]) -> float:
    total = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / total if total else 0.0


def md5_control_mib_s(mib: int = 256) -> float:
    """A fixed single-threaded md5 over ``mib`` MiB, no Spark involved."""
    buf = b"\x5a" * MIB
    t = time.perf_counter()
    h = hashlib.md5()
    for _ in range(mib):
        h.update(buf)
    h.digest()
    return mib / (time.perf_counter() - t)
