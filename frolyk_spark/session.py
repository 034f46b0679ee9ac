"""Tuned SparkSession factory.

Local mode is a single JVM; on a real cluster the same configs hold except
memory sizing. AQE handles runtime coalescing + skew joins so plans written
here survive scale-up without manual partition-count tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: RocksDB-backed state store — the 100 TB answer for large streaming state
#: (keys spill to local disk instead of living on the executor heap, and
#: changelog checkpointing ships deltas, not full snapshots, per commit).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> dict[str, str]:
    """Switch stateful streaming queries started after this call to the
    RocksDB state store provider (ships with Spark; no extra jars).

    Session-conf, takes effect at *query start* — running queries keep the
    provider they started with. Returns the previous values so tests can
    restore them.
    """
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        # deltas per commit instead of full snapshot uploads
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    prev: dict[str, str] = {}
    for k, v in keys.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return prev


def get_spark(app_name: str = "frolyk_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # load_table("events") sets this on any session; starting with it
        # keeps schemas inferred before the first events read valid
        # (the conf is part of catalog.read_parquet's cache key)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
