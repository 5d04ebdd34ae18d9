"""SparkSession helpers with scale-oriented defaults.

Defaults target the driver environment (local[$SPARK_GRAFT_CPUS]) but the
config knobs are the same ones that matter on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (every Pandas-UDF boundary is Arrow-batched), shuffle-partition
count sized to the parallelism actually available.
"""

from __future__ import annotations

import os
import sys

# Allocator tuning, set BEFORE the JVM (and thus the forked Python
# workers) starts: this VM's memory is fast once touched (~470 GB/s
# aggregate) but page-faults fresh anonymous pages at only ~5 GB/s
# aggregate, so glibc must REUSE freed pages instead of returning them
# to the kernel. Raising the mmap/trim thresholds keeps numpy's large
# buffers on the reusable heap.
#
# Arrow's memory pool differs by process. ARROW_DEFAULT_MEMORY_POOL
# makes glibc malloc, with the tuning above, the default pool of this
# process and of the Python workers the JVM forks (they inherit the
# environment). Importing xesmf_spark.vectorized then switches that
# process to a jemalloc pool that keeps freed pages for 10 minutes
# (vectorized._init_worker_allocator). So:
# - a worker that has run an Arrow apply (smm_apply_vectorized,
#   smm_apply_files) uses jemalloc for the rest of its life;
# - a worker that has only run other Python UDFs uses the system pool;
# - the process that owns the SparkSession uses the system pool until
#   regrid_numpy or an Arrow apply imports vectorized, and jemalloc
#   after.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

from pyspark.sql import SparkSession


def install_zip_cache_hook() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the file changed. Once per process; a no-op on Python >= 3.12.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of EVERY task (``worker_util.setup_spark_files``). On Python
    3.11 each zipimporter on ``sys.path`` then re-reads its archive's
    whole directory: a warm worker holds 16 of them, 12 on pyspark.zip
    (1,328 entries, ~12 ms a read) and 2 on the 5,359-entry spark-core
    jar (~48 ms a read), which measured 135-265 ms per task before the
    UDF ran. Here an archive is re-read when its ``(st_ino, st_size,
    st_mtime_ns)`` differs from the last read's; otherwise the importer
    re-attaches the shared ``zipimport._zip_directory_cache`` entry.
    Python 3.12 made the re-read lazy itself."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    if zipimport.zipimporter.invalidate_caches.__module__ == __name__:
        return
    stamps: dict[str, tuple] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        try:
            self._files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(self.archive, None)
            self._files = {}
            return
        zipimport._zip_directory_cache[self.archive] = self._files
        # taken before the read: a write racing the read leaves a stale
        # stamp, so the next call reads again
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
