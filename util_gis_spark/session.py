"""SparkSession builder tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow enabled for the
vectorized UDF path, shuffle partitions sized to cores instead of the
200 default (on a 1000-executor cluster this would be ~2-3x total
cores, set via --conf at submit time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local cores: SPARK_GRAFT_CPUS, else the CPUs this process may
    run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """Half of physical RAM (MemTotal), in MB. In local mode the driver
    heap also hosts every executor; a fixed 48g default let it outgrow
    a 15 GB machine until the kernel OOM-killed the JVM."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(total // 2 >> 20, 1024)}m"


def get_spark(
    app_name: str = "util_gis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES with a 1 MB partition floor, which
        # collapses the small-but-CPU-heavy shuffles feeding the
        # per-trajectory Python kernels to 1-4 partitions (measured:
        # split_road ran 320 x 31 ms numpy kernels on 3 workers,
        # loadavg < 1). Lowering the floor lets parallelismFirst size
        # partitions to the cluster's parallelism; at real data sizes
        # bytes/parallelism >> 64 KB so join behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
