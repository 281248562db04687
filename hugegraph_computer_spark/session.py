"""SparkSession factory tuned for iterative graph workloads.

Scale rationale (100 TB / 1000-executor target, tested on local[N]):
- AQE on: runtime coalescing of the per-superstep shuffles and skew-join
  splitting for hub vertices (the reference's "superedge cache" analogue,
  cf. /root/reference/.../trianglecount/TriangleCount.java:87-115).
- shuffle partitions sized to parallelism here; on a real cluster set
  ~2-3x total cores and let AQE coalesce.
- Arrow enabled for the few pandas-UDF paths (no per-row Python anywhere).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# share of the host's MemTotal given to the local-mode JVM heap (the
# driver JVM IS the executor); the rest is left to off-heap buffers,
# the Python workers and the OS. 6g on a 16 GiB host; 48g on the
# 128 GiB host the engine was first sized for.
HEAP_SHARE = 3 / 8


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """`SPARK_DRIVER_MEMORY` if set, else HEAP_SHARE of MemTotal."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    with open(meminfo) as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{int(kib * HEAP_SHARE) // 1024}m"


def get_spark(
    app_name: str = "hugegraph-computer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> default 32
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 32

    heap = driver_memory()
    log.info("spark.driver.memory=%s", heap)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # prefer the advisory partition size over raw parallelism when
        # coalescing: iterative jobs issue many small shuffles whose task-
        # scheduling overhead otherwise dominates; at 100 TB the advisory
        # size (64 MB) yields full parallelism anyway
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # iterative gather/scatter joins: shuffled-hash beats sort-merge
        # (no per-superstep O(E log E) sorts; build sides are bounded by
        # hash partitioning, and AQE still splits skewed partitions)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — sized from the
        # host (driver_memory). On a real cluster executor memory is the
        # operative knob instead.
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
