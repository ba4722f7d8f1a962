"""The SparkSession factory's JVM settings reach the JVM it starts."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_driver_jvm_runs_the_jit_policy(spark):
    from flink_uba_spark.session import JIT_POLICY

    jvm = spark._jvm
    args = set(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = JIT_POLICY.split()
    assert flags and all(f.startswith("-XX:Tier4") for f in flags)
    for flag in flags:
        assert flag in args
        name, value = flag[len("-XX:"):].split("=")
        option = hotspot.getVMOption(name)
        assert (option.getValue(), option.getOrigin().toString()) == (value, "VM_CREATION")


def test_static_conf_sizes_the_codegen_cache(spark):
    from flink_uba_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark._jvm.org.apache.spark.SparkEnv.get().conf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_second_report_pass_compiles_no_class(spark, sf_dir):
    """A pass over perfbench's batch reports needs about 200 generated
    classes, more than Spark's default 100-entry cache holds; with the
    engine's cache a second pass finds every class compiled."""
    import __spark_entry__

    sys.path.insert(0, str(ROOT / "perfbench"))
    from workloads import REPORTS

    catalog = __spark_entry__.queries()
    janino = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass() -> int:
        before = janino.getCount()
        for name in REPORTS:
            catalog[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return janino.getCount() - before

    run_pass()  # compiles what earlier tests left uncached
    assert run_pass() == 0
