"""Host sizing, session lifetime and the per-run noise record.

Everything here is decided from outside the engine: the core count from
the process's CPU affinity, the driver heap from /proc/meminfo, and the
session's scratch locations from the benchmark's own work directory, so
a run reads and writes nothing outside its checkout. The engine's own
defaults in ``session.py`` (32 cores, a 48g heap) are never used.
"""

from __future__ import annotations

import os
import subprocess
import time

# share of MemTotal given to the local-mode JVM heap; the rest is left to
# off-heap buffers, the Python driver, DuckDB and the other tenants
HEAP_SHARE = 0.2
HEAP_FLOOR_MB = 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def sizing() -> dict:
    cores = nproc()
    total = meminfo_mb("MemTotal")
    heap = max(HEAP_FLOOR_MB, int(total * HEAP_SHARE) // 256 * 256)
    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "graph_partitions": cores,
        "mem_total_mb": total,
        "heap_mb": heap,
    }


def configure(size: dict, work: str) -> dict:
    """Point the engine's environment overrides and every scratch
    location at `work`; return the extra Spark conf for `get_spark`."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{size['heap_mb']}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(size["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData keeps the JVM out of /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        # Spark 4 compresses with zstd by default; keep the log readable
        # with the standard library
        "spark.eventLog.compress": "false",
        # one plain file per application instead of a rolling directory
        "spark.eventLog.rolling.enabled": "false",
    }


def jvm_proc():
    """The Popen of the local-mode JVM (spark-submit execs into java)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway and wait until the JVM has exited: closing
    its stdin is the gateway's own exit signal."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)


class Noise:
    """Host noise over a run: CPU steal share from /proc/stat and the
    load average at both ends."""

    def __init__(self):
        self._stat0 = _cpu_ticks()
        self._load0 = os.getloadavg()
        self._t0 = time.time()

    def record(self) -> dict:
        s1, t1 = _cpu_ticks()
        s0, t0 = self._stat0
        return {
            "steal_pct": round(100.0 * (s1 - s0) / max(1, t1 - t0), 3),
            "loadavg_start": [round(x, 2) for x in self._load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "wall_s": round(time.time() - self._t0, 3),
        }


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))
