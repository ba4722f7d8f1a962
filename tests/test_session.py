"""The SparkSession factory's JVM settings reach the JVM it starts."""

from __future__ import annotations


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
