"""Host record, host-sized Spark session, and process-tree memory sampling.

Everything here reads ``/proc`` directly (psutil is not a dependency).
"""

from __future__ import annotations

import os
import platform
import threading
import time
from typing import Dict, List, Optional


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of MemTotal, clamped to [1 GiB, 4 GiB]: the benchmark's
    inputs are small and the host's memory is shared."""
    return max(1024, min(4096, mem_total_kb() // 4 // 1024))


def gflops_probe() -> float:
    """Single-call float64 matmul throughput, best of eight. A drop
    between the probes taken before and after a workload marks a host
    that lost CPU (steal, throttling) while the workload ran."""
    import numpy as np

    n = 384
    rng = np.random.default_rng(0)
    a = rng.standard_normal((n, n))
    b = rng.standard_normal((n, n))
    best = float("inf")
    for _ in range(8):
        t0 = time.perf_counter()
        a @ b
        best = min(best, time.perf_counter() - t0)
    return 2.0 * n**3 / best / 1e9


def cpu_ticks() -> Dict[str, int]:
    """Aggregate CPU jiffies from /proc/stat (user..steal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:9]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, map(int, fields)))


def steal_frac(before: Dict[str, int], after: Dict[str, int]) -> float:
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def host_record(master: str) -> Dict[str, object]:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": master,
    }


def make_spark(work_dir: str, repo_root: str):
    """Host-sized local session whose scratch space stays under
    ``work_dir``. Python workers import the package from ``repo_root``."""
    from pyspark.sql import SparkSession

    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    # one core is left to the driver side (driver JVM thread, JIT
    # compiler, GC, Python driver): on a shared 4-core host, runs with a
    # task thread on every core saw up to 10% CPU steal and 1.6x the
    # spread of entity_resolve's fold time
    n = max(1, nproc() - 1)
    # The serial collector sizes the heap from the allocation pattern, not
    # from pause-time feedback, so the peak memory reading repeats from run
    # to run (measured: the default G1 JVM peak spread 1.7-2.6 GB over five
    # seeds, the serial one 1.50-1.51 GB).
    java_opts = (
        f"-Djava.io.tmpdir={tmp_dir} -XX:+UseSerialGC -XX:-UsePerfData "
        f"-Dderby.system.home={tmp_dir}"
    )
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # an entity_resolve op plans more distinct stages than the default
        # 100-class codegen cache holds, so every op regenerated and re-JITed
        # them: 10-15 s of JIT time per ~13 s op on 4 cores, ops 35% slower
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every job's stages back from the status store
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "20000")
        .getOrCreate()
    )


def _children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``'s process tree, with the
    reaped children each process has waited for."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / hz


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return "jvm" if fh.read().strip() == "java" else "python"
    except OSError:
        return "python"


def tree_pids(root: int) -> List[int]:
    """``root`` and all its descendants (JVM, Python daemon, workers)."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


class MemSampler:
    """Samples the proportional set size (PSS) of the driver's process
    tree on a daemon thread and keeps the peaks: of the whole tree, of the
    JVM, and of the Python processes (driver, daemon, workers). PSS, unlike
    RSS, counts a page shared by forked Python workers once in the sum.
    Use as a context manager; read the peaks after exit."""

    INTERVAL_S = 0.5  # between samples
    REFRESH_S = 2.0  # between re-reads of the process tree

    def __init__(self):
        self.peak_kb = {"tree": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self, pids: Dict[int, str]) -> None:
        used = {"jvm": 0, "python": 0}
        for pid, kind in pids.items():
            used[kind] += _pss_kb(pid)
        used["tree"] = used["jvm"] + used["python"]
        for k, v in used.items():
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def _run(self) -> None:
        root, pids, refreshed = os.getpid(), {}, 0.0
        while not self._stop.is_set():
            if time.monotonic() - refreshed >= self.REFRESH_S:
                pids = {p: _kind(p) for p in tree_pids(root)}
                refreshed = time.monotonic()
            self._sample(pids)
            self._stop.wait(self.INTERVAL_S)

    def peak_mb(self, kind: str = "tree") -> float:
        return self.peak_kb[kind] / 1024.0

    def __enter__(self) -> "MemSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
