"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory
knob. On a real cluster the same configs apply per-executor; nothing
here is local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory_for(cgroup_max: str | None, physical_bytes: int) -> str:
    """Default driver heap: half the memory this process may use — the
    cgroup v2 ``memory.max`` limit when it sets one (the file holds
    ``max`` when it does not), else physical memory — in MiB, at least
    512m. Pure, so it is testable without a JVM."""
    limit = physical_bytes
    if cgroup_max is not None and cgroup_max.strip() not in ("", "max"):
        limit = min(limit, int(cgroup_max))
    return f"{max(512, (limit // 2) >> 20)}m"


def _host_driver_memory() -> str:
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            cgroup_max: str | None = f.read()
    except OSError:
        cgroup_max = None
    return driver_memory_for(cgroup_max, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def get_spark(
    app_name: str = "dedupe_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or the cores this process may
    run on; shuffle partitions default to ``cores`` (local rule of
    thumb — the 200 default over-parallelizes small data and
    under-parallelizes big). The heap defaults to
    $SPARK_GRAFT_DRIVER_MEM or ``driver_memory_for`` the host.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
