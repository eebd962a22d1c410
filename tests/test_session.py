"""The session factory's JVM options reach the JVM the engine runs in."""

from __future__ import annotations


def test_jvm_runs_with_the_engine_gc_and_jit_flags(spark):
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory
               .getRuntimeMXBean().getInputArguments())
    assert {"-XX:+UseParallelGC",
            "-XX:Tier4InvocationThreshold=50000",
            "-XX:Tier4MinInvocationThreshold=6000",
            "-XX:Tier4CompileThreshold=150000",
            "-XX:Tier4BackEdgeThreshold=400000"} <= args, sorted(args)
