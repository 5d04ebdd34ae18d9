"""SparkSession helpers with scale-oriented defaults.

Defaults target the driver environment (local[$SPARK_GRAFT_CPUS]) but the
config knobs are the same ones that matter on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (every Pandas-UDF boundary is Arrow-batched), shuffle-partition
count sized to the parallelism actually available.
"""

from __future__ import annotations

import os

# Allocator tuning, set BEFORE the JVM (and thus the forked Python
# workers) starts: this VM's memory is fast once touched (~470 GB/s
# aggregate) but page-faults fresh anonymous pages at only ~5 GB/s
# aggregate, so glibc must REUSE freed pages instead of returning them
# to the kernel. Raising the mmap/trim thresholds keeps numpy's large
# buffers on the reusable heap; routing Arrow through the system
# allocator lets it benefit from the same tuning.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xesmf_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # console progress bars write \r-spam that lands in the same
        # 2000-char stdout tail the driver keeps for BENCH_r{N}.json —
        # every junk byte there is a byte of the bench JSON line lost
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def shuffle_partition_count(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as a count. Some
    runtimes accept ``"auto"`` (or another non-integer) there and size
    shuffles themselves; an explicit partition count then falls back to
    ``defaultParallelism``."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(value)
    except ValueError:
        return spark.sparkContext.defaultParallelism
