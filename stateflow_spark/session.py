"""SparkSession factory tuned for both local testing and cluster scale.

Everything here is plain Spark configuration — the same settings work on a
1000-executor cluster; only ``master`` and the partition counts change.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


# PySpark's worker calls importlib.invalidate_caches() at the start of every
# task (pyspark/worker_util.py::setup_spark_files). Before CPython 3.13,
# zipimporter.invalidate_caches re-parses the whole archive directory, and
# a worker holds one zipimporter per package path inside pyspark.zip and
# the py4j zip, so every Python task re-read both archives (150-300 ms per
# task on a 4-core box, CPython 3.11). 3.13 made it a lazy cache pop.
# Below 3.13 the wrapper re-reads an archive only once its (mtime, size)
# stamp differs from the one it was last read at; the importers over one
# archive share that read through zipimport's directory cache.
# It is installed in every process that imports this package: the driver,
# and each Python worker the first time it unpickles an engine or query
# function.
_zip_invalidate = zipimport.zipimporter.invalidate_caches
_zip_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _zip_stamps.pop(self.archive, None)
        return _zip_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _zip_invalidate(self)
        _zip_stamps[self.archive] = stamp


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def get_spark(
    app_name: str = "stateflow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on (runtime coalescing, skew-join splitting, dynamic join
      re-planning) — at 100 TB this is what turns a static 32-partition plan
      into a right-sized one.
    - Arrow on for every pandas-UDF boundary (the entity interpreter and the
      multimodal pipeline live behind Arrow batches, never row-at-a-time).
    - UTC session timezone so timestamp semantics are deterministic and match
      the DuckDB oracle.
    - Parquet filter pushdown / column pruning are Spark defaults; we keep
      them on explicitly so a config regression is visible in one place.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # legacy testdata layouts stored events.ts as TIMESTAMP(NANOS);
        # kept defensively so such files read as longs instead of erroring
        # (catalog.load normalizes both that and today's NTZ-micros layout
        # to TIMESTAMP)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
