"""SparkSession factory tuned for this engine (local-mode testing, cluster-shaped plans)."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


def _host_driver_memory() -> str:
    """Driver heap sized from the host: 40% of physical memory in whole GiB
    (6g on a 16 GB host), at least 1g. The rest stays free for the Python
    workers and for the RAM-backed shuffle dir (/dev/shm)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(phys * 0.4) >> 30)}g"


def get_spark(
    app_name: str = "blacklab_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build or get a SparkSession.

    cores=None → local[*] (or $SPARK_GRAFT_CPUS if set). We keep
    shuffle.partitions ≈ cores for local runs (the 200 default over-
    parallelizes tiny data and under-parallelizes huge data); on a real
    cluster AQE coalescing re-plans at runtime anyway.

    driver_memory=None → $SPARK_GRAFT_DRIVER_MEM if set, else
    _host_driver_memory(); the value chosen is logged.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    sp = shuffle_partitions if shuffle_partitions is not None else max(n, 4)
    heap = (
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _host_driver_memory()
    )
    _log.info("spark.driver.memory=%s", heap)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    # Local-mode shuffle files on slow virtio disks serialize under many
    # threads (measured 9x degradation at 32 tasks); put them on tmpfs when
    # one is available. On a real cluster this is the usual fast local SSD.
    # Spark itself prefers $SPARK_LOCAL_DIRS over spark.local.dir
    # (Utils.getConfiguredLocalDirs), so the tmpfs default applies only
    # when that is unset.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
