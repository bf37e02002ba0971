"""SparkSession factory tuned for this engine.

Local testing runs a single JVM (``local[N]``); the settings below are the
ones that matter at cluster scale too: AQE on (runtime re-planning, skew
join splitting, partition coalescing) and Arrow for any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "apde-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's default keeps 100 compiled codegen classes per JVM, and
        # one steady pass of the benchmark's query workload needs about
        # 253, so LRU eviction recompiled ~145 classes (plus JIT warm-up)
        # on every pass. One session over all 302 registry entries at
        # sf0.01 compiled 4,485 distinct classes; holding them all cost
        # 127 MB of heap and 38 MB of metaspace after GC (~37 KB per
        # entry), against the 8g driver heap. 8192 covers that working
        # set with headroom. A static conf: it only takes effect when
        # this call starts the JVM's SparkContext.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    # Scale-dependent I/O knobs (guide §6/§9), env-parameterised with
    # Spark's own defaults locally so the driver's bench stays
    # comparable; production values are justified in
    # OPTIMIZATION_r10.md (e.g. 1g splits for large sequential scans,
    # zstd parquet, 256m advisory shuffle partitions).
    for key, env in (
        ("spark.sql.files.maxPartitionBytes",
         "SPARK_GRAFT_MAX_PARTITION_BYTES"),
        ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
         "SPARK_GRAFT_ADVISORY_PARTITION_BYTES"),
        ("spark.sql.parquet.compression.codec", "SPARK_GRAFT_PARQUET_CODEC"),
        ("spark.io.compression.codec", "SPARK_GRAFT_IO_CODEC"),
    ):
        if env in os.environ:
            builder = builder.config(key, os.environ[env])
    return builder.getOrCreate()
