"""SparkSession factory.

Deliberately NOT the reference's configuration (reddit_pipeline.py:28-29 pins
spark.sql.shuffle.partitions=4 and disables AQE): we enable AQE so partition
counts, broadcast decisions and skew-join splitting adapt at runtime, which is
the setting that survives a 100 TB / 1000-executor scale-up. Session timezone
is pinned to UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# T8: the production state-store backend for large streaming state. The
# default (HDFSBackedStateStoreProvider) keeps every key in executor heap;
# RocksDB spills to local disk + supports changelog checkpointing, which is
# what survives 100 TB-scale streaming state. Results are backend-independent
# (streaming_rocksdb_window value-checks that against the same oracle). The
# streaming runner sets it per query start, never for the whole session.
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "stockmarket-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for columnar analytics.

    Defaults are scale-oriented: AQE (runtime partition coalescing, skew-join
    splitting, dynamic broadcast), Arrow for any pandas interchange, and a
    shuffle-partition count sized to local cores (AQE coalesces down from it;
    on a real cluster you would size it to ~2-3x total cores).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptivity: the 100 TB levers -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- python interchange ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism / oracle parity ---------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- sizing -------------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed tables (bucketing) land in /tmp, not the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # quieter local runs
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
