"""SparkSession factory tuned for the MySense-style workload.

Settings chosen for scale (the same confs hold on a 1000-executor cluster;
only master/shuffle-partition counts change):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
  the measurement fact table is skewed by chatty kits (reference throttles
  them by hand, MyDatacollector.py:937-970; we let AQE handle it).
- Arrow on: every pandas-UDF operator (LoRa decode, Grubbs) moves data in
  Arrow batches, not pickled rows.
- Session timezone UTC: event time in the reference is unix-seconds
  (grubbs.py:893-900); all window/bucket arithmetic must be tz-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_STATE_STORE_PROVIDERS = {
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
}


_CHANGELOG_CHECKPOINTING = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _state_store_provider() -> str:
    """Resolve $SPARK_GRAFT_STATE_STORE (case-insensitive) to a provider
    class, with a usable error instead of a bare KeyError deep inside
    the builder chain when the value is unrecognized."""
    name = os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb").strip().lower()
    if name not in _STATE_STORE_PROVIDERS:
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE={name!r} is not a known state store; "
            f"valid values: {sorted(_STATE_STORE_PROVIDERS)}"
        )
    return _STATE_STORE_PROVIDERS[name]


def get_spark(app_name: str = "mysense_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); read as long,
        # io.load converts to micros exactly like DuckDB's ns->us truncation
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # RocksDB-backed streaming state (overridable: SPARK_GRAFT_STATE_STORE=hdfs):
        # the stateful operators key state per device/(kit,event)/session —
        # at fleet scale (millions of keys) the default in-memory HDFS
        # store holds every key's state in executor heap, while RocksDB
        # spills to local SSD and bounds heap by the block cache. Each
        # key's state is tiny (throttle: 4 registers ~50 B; static-value
        # monitor: last value + run length; sessions: window bounds), so
        # capacity scales with disk, not heap. The provider is recorded
        # per checkpoint at first start; existing checkpoints keep theirs.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            _state_store_provider(),
        )
        # RocksDB commits write a changelog of the batch's key updates
        # instead of uploading a full snapshot per micro-batch; snapshots
        # move to the background maintenance task. Existing checkpoints
        # switch mode in either direction.
        .config(_CHANGELOG_CHECKPOINTING, "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
