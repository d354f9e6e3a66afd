"""SparkSession factory tuned for the engine.

All jobs run through here so local tests, the driver's verify, and the
two-parallelism-level bench share one config story. The settings are the
scale knobs called out in SURVEY.md §4: AQE (runtime re-plan + skew
join), Arrow everywhere (no per-row Python), bounded shuffle partitions,
and broadcast-join for the small dimension tables (term stats, vocab).
"""

from __future__ import annotations

import os
import sys


def skip_unchanged_zip_rescans() -> None:
    """CPython < 3.13: make `importlib.invalidate_caches()` re-read a zip
    archive's directory only when the archive changed.

    pyspark's worker calls it at the start of every task
    (worker_util.setup_spark_files), and before 3.13 each zipimporter
    then re-reads its archive's whole central directory: 16 importers
    on pyspark.zip (1,328 entries) took most of a short task's Python
    time. 3.13 only drops the cached directory; here an archive whose
    (st_mtime_ns, st_size) is unchanged keeps it, and a changed one, or
    one whose stat fails, is re-read as before."""
    if sys.version_info >= (3, 13):
        return
    import zipimport
    reread, seen = zipimport.zipimporter.invalidate_caches, {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or seen.get(self.archive) != key:
            reread(self)
            seen[self.archive] = key
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def default_cpus() -> int:
    """Cores for `local[N]`: SPARK_GRAFT_CPUS when set, else the CPUs
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "pears-lite-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    from pyspark.sql import SparkSession
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "PEARS_SHUFFLE_PARTITIONS", cpus))
    b = (SparkSession.builder.appName(app_name).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.session.timeZone", "UTC")
         # int64-micros timestamps: parquet footers carry min/max stats
         # for them (INT96, Spark's legacy default, has none and is
         # banned by the Iceberg spec) — the catalog's manifest bounds
         # and time-range file pruning depend on this
         .config("spark.sql.parquet.outputTimestampType",
                 "TIMESTAMP_MICROS")
         .config("spark.driver.memory",
                 os.environ.get("PEARS_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false"))
    return b.getOrCreate()
