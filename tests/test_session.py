"""The session factory's JVM options and heap size reach the JVM the
engine runs in."""

from __future__ import annotations

import os

from omop_meds_spark.table import _byte_size


def test_jvm_runs_with_the_engine_gc_and_jit_flags(spark):
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory
               .getRuntimeMXBean().getInputArguments())
    assert {"-XX:+UseParallelGC",
            "-XX:Tier4InvocationThreshold=50000",
            "-XX:Tier4MinInvocationThreshold=6000",
            "-XX:Tier4CompileThreshold=150000",
            "-XX:Tier4BackEdgeThreshold=400000"} <= args, sorted(args)


def test_driver_heap_is_at_most_half_the_host_memory(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    want = _byte_size(env) if env else min(phys // 2, 16 << 30)
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    # maxMemory is -Xmx less one survivor space
    assert 0.8 * want <= heap <= want, (heap, want)
