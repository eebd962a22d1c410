"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same configuration keys are the
ones you would set on a real cluster (AQE, shuffle partitions, Arrow). The
engine itself never assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g. In local mode the
    driver JVM runs every task; a heap as large as the host's RAM lets
    it grow until the kernel kills it or its neighbours."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


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

    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEMORY`` when set, else
    half the host's physical memory, at most 16g.

    ``extra_conf`` entries override the engine's; an
    ``extra_conf["spark.driver.extraJavaOptions"]`` replaces the engine's
    whole JVM option string (GC and JIT settings), so repeat those flags in
    it to keep them.
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
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        # ParallelGC: the CDC hot loop is batch-shaped (short-lived row and
        # buffer allocations, no pause-time SLO), where it spends less CPU
        # than G1 (bench replay @local[4]: 72.9 vs 76.7 JVM-CPU-s), and it
        # runs no concurrent threads outside the task-thread count.
        # Tier-4 thresholds x10 (defaults 5000/600/15000/40000): a tail
        # cycle runs Catalyst and scheduler methods a few thousand times per
        # query, so C2 compiled them without ever paying the compile back.
        # Sampled per JVM thread over one perfbench tail cycle (seed 11,
        # 4-vCPU shared host), C2 compiler threads took 14.0-14.2 of
        # 28.7-29.0 CPU-s at the defaults and 2.5-3.3 of 18.0-18.7 with these;
        # over interleaved pairs, tail cpu_s_per_mevent fell 33% (10 pairs)
        # and catchup 20% (5 pairs). Per-row loops still reach C2. C1 only
        # (-XX:TieredStopAtLevel=1) also cuts the tail, but made a 90 s
        # catchup 5-12% slower.
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=50000 "
                "-XX:Tier4MinInvocationThreshold=6000 "
                "-XX:Tier4CompileThreshold=150000 "
                "-XX:Tier4BackEdgeThreshold=400000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
