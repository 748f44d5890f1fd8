"""SparkSession bootstrap tuned for this engine.

Local runs use ``local[<usable cores>]`` in one JVM with half the host's
memory as driver heap; ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``
override both.  The configs below are the ones that survive a
1000-executor cluster unchanged (AQE, adaptive skew join, Arrow for the
Python boundary) plus local-only sizing (``shuffle.partitions`` ~ cores).
At 100 TB the same code runs with ``spark.sql.shuffle.partitions`` sized
by AQE's coalescing and ``files.maxPartitionBytes`` kept at the 128 MB
default so scan tasks stay memory-bounded.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not on Linux
        return os.cpu_count() or 1


def _host_driver_mem() -> str:
    """Half the physical memory, in whole GiB: local mode runs every
    executor in the driver JVM and the Python workers share the rest."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "1g"  # Spark's own default
    return f"{max(1, phys // 2**31)}g"


def get_spark(app_name: str = "tiledb_mariadb_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem()
    warehouse = os.path.join(
        tempfile.gettempdir(), "tiledb_mariadb_spark", "spark-warehouse"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1): skips the per-partition
        # sort; scale-safe because the planner still falls back to
        # sort-merge when neither side's per-partition build fits
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_streaming(spark: SparkSession, use_rocksdb: bool = True) -> SparkSession:
    """Streaming-state sizing for corpus-scale jobs: the default
    state store holds everything in executor heap; RocksDB spills state
    to local disk with incremental checkpointing, which is the difference
    between OOM and steady state when watermark windows hold hours of a
    100 TB/day event stream.  Off by default in tests (tiny state), on
    for any real deployment."""
    if use_rocksdb:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings every conformance query needs regardless of who built the
    session (the driver may pass its own): UTC timestamps so parquet
    timestamp columns collect identically to DuckDB's UTC-naive values.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
