"""SparkSession factory.

Local-mode defaults size themselves from the host: the master takes one
thread per CPU this process may run on (``default_cpus``, overridden by
``$SPARK_GRAFT_CPUS``) and the driver heap half the host's memory limit
(``default_driver_memory``); on a real cluster the same config keys
apply, only the master and memory sizing change. AQE is always on: it
gives runtime shuffle-partition coalescing and skew-join splitting for
free, which matters at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cgroup v2 and v1 memory limits; "max" (v2) or a page-rounded 2^63 (v1)
# means no limit, which the min() with physical memory absorbs
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_DRIVER_MEMORY_CAP_MB = 48 * 1024


def default_driver_memory(cgroup_limits=_CGROUP_LIMITS) -> str:
    """Half of this host's memory limit, capped at 48g, as a
    ``spark.driver.memory`` value in megabytes.

    The limit is the smallest numeric cgroup limit in ``cgroup_limits``
    and the physical memory from ``os.sysconf``. A heap sized past what
    the host can hold never spills: Spark sizes execution memory from the
    heap, so sorts and window buffers grow until the kernel kills the JVM.
    Half leaves the other half to Python workers, the page cache and
    ``spark.local.dir`` on ``/dev/shm``."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in cgroup_limits:
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limit = min(limit, int(value))
    return f"{min(limit // 2 // 2**20, _DRIVER_MEMORY_CAP_MB)}m"


def default_cpus() -> int:
    """Local-mode parallelism: ``$SPARK_GRAFT_CPUS`` when set, else the
    number of CPUs this process may run on (its affinity mask, which a
    container's cpuset narrows; ``os.cpu_count`` would report the whole
    machine)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "geofeaturegeneration_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[default_cpus()]``.
    shuffle_partitions defaults to the local parallelism — at cluster scale
    you would size this to ~2-3x total cores instead, or simply rely on AQE
    coalescing from a higher initial value.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 routes lower()/upper() through ICU by default
        # (spark.sql.icu.caseMappings.enabled=true); the first evaluation
        # triggers CollationAwareUTF8String.<clinit>, which cold-loads ICU
        # break-iterator dictionaries and was observed to stall a task for
        # 20-70 s mid-job. JVM case mapping is identical for the UTF8_BINARY
        # collation on this workload (and for all common Unicode), without
        # the init cliff.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # the \r[Stage ...] bar shares terminal lines with tool output
        # (compare_oracle's OK lines), so line counts undercount
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # Shuffle/spill dirs on tmpfs when available: local-mode disk bandwidth
    # is shared across all threads and throttles scaling; on a real cluster
    # this corresponds to per-executor NVMe scratch (which scales with the
    # executor count). Override with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
