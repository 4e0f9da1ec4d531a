"""SparkSession factory.

Scale notes (100 TB target): every config here is either neutral or
beneficial on a real cluster; the only local-mode specials are guarded by
``local`` in the master string. AQE is on so runtime statistics re-plan
joins (broadcast conversion, skew-join splitting, partition coalescing)
exactly where static planning would be wrong at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def get_spark(app_name: str = "oanda_stream_processor_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              rocksdb_state_store: bool = False) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults: master from $SPARK_GRAFT_CPUS (local[N]) or local[*];
    shuffle partitions ~= cores locally (the 200 default over-parallelizes
    small local runs and under-parallelizes 100 TB clusters — at scale this
    is handed to AQE's coalescing, so we set initialPartitionNum high and
    let AQE shrink).

    ``rocksdb_state_store=True`` (or SPARK_GRAFT_ROCKSDB=1) switches the
    streaming state store from the default in-JVM-heap HDFS-backed
    provider to RocksDB — the 100 TB path for stateful streaming
    (funnel/dedup state spills to local disk instead of executor heap,
    with changelog checkpointing to the checkpoint location). Opt-in
    because it applies per-SparkSession, the provider must match the
    one a checkpoint was created with, and tiny local test state is
    faster on the heap provider.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- determinism / oracle parity -------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- optimizer -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- python <-> jvm boundary ----------------------------------
        # workers import this package from where the driver found it
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, (
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            os.environ.get("PYTHONPATH")))))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- scan sizing (100 TB: keep parquet splits ~128 MB) --------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # -- write codec: zstd for everything we write (stores,
        # shards, matviews) — measured on the 12-batch sf0.1 BM25
        # store (tools/bench_store_codec.py, CODEC_r17.json): 20%
        # smaller on disk (bytes ratio 0.801), build-time parity,
        # served read no slower; reads of EXISTING snappy fixtures
        # are codec-transparent.  At 100 TB the 20% is shuffle-free
        # I/O reduction on every store read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- quieter local runs ---------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
    )
    if rocksdb_state_store or os.environ.get("SPARK_GRAFT_ROCKSDB") == "1":
        builder = (builder
                   .config("spark.sql.streaming.stateStore.providerClass",
                           ROCKSDB_PROVIDER)
                   # changelog checkpointing: upload per-batch deltas
                   # instead of full RocksDB snapshots — the setting a
                   # large-state production job runs with
                   .config("spark.sql.streaming.stateStore.rocksdb."
                           "changelogCheckpointing.enabled", "true"))
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory",
                                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
