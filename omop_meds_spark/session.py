"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same configuration keys are the
ones you would set on a real cluster (AQE, shuffle partitions, Arrow). The
engine itself never assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "omop_meds_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` uses ``local[*]``. ``shuffle_partitions`` defaults to the
    core count (local mode: more would only add scheduling overhead; on a
    real cluster you would size this to 2-3x total executor cores, or let
    AQE coalesce).
    """
    if cores is None:
        master = "local[*]"
        shuffle = shuffle_partitions or os.cpu_count() or 8
    else:
        master = f"local[{cores}]"
        shuffle = shuffle_partitions or cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # split parquet scans at row-group granularity well below the 128m
        # default so a micro-batch spanning few WAL files still yields ≥
        # cores input partitions (scan parallelism bounds batch scaling)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        # every table read names its files from the manifest; above 32
        # paths Spark would launch a parallel listing job just to stat
        # them, so keep that listing on the driver for any file count
        # the engine reads
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1000000")
        # INT96 (the legacy default) carries NO parquet column statistics,
        # which blinds zone-map file skipping and row-group pruning on
        # every timestamp column; standard int64 micros is what Iceberg /
        # Delta write and what the stats machinery needs
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Throughput collector for a throughput engine: the CDC hot loop is
        # batch-shaped (short-lived row/buffer allocations, no pause-time
        # SLO), where ParallelGC spends measurably less CPU than JDK 17's
        # default G1 — A/B on the bench replay @local[4]: 72.9 vs 76.7
        # JVM-CPU-seconds (-5%), wall 21.1 vs 21.9 s. G1's concurrent
        # mark/refine threads also ride OUTSIDE the task-thread count,
        # which distorts per-core accounting on a core-quota'd executor
        # (and on the pinned scaling bench). Override via extra_conf for
        # latency-sensitive mixed workloads.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
