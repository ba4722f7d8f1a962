"""Isolated per-query timing: cold (first build+run in this JVM) plus N
warm repeats (median reported), noop sink, same session defaults as
bench.py. For before/after evidence on a handful of queries without the
full 242-query protocol.

Next to the wall times, each query reports the CPU seconds of the process
tree (this process, the JVM and its Python workers; perfbench's
``ProcessTree``) and of the processes the JVM forked and reaped
(``cutime+cstime`` of the JVM). The latter is 0 for a query that starts no
process; a large value means the JVM is forking, e.g. Hadoop shell-outs
for file renames and permissions.

Usage: python tools/time_queries.py <query> [...]   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, SPARK_GRAFT_TIME_REPS default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, root)
sys.path.insert(0, os.path.join(root, "perfbench"))

from probes import ProcessTree, median  # noqa: E402


def reaped_cpu_s(pid: int) -> float:
    """CPU seconds of the exited, reaped children of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_TIME_REPS", "3"))

    import __spark_entry__ as entrymod
    from flink_uba_spark.session import get_spark

    spark = get_spark("time_queries")
    qs = entrymod.queries()
    # same warmup as bench.py so the first cold number is comparable
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    if "hot_items" in qs:
        qs["hot_items"](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    if any(n.startswith("stream_") for n in names) and "stream_user_sessions" in qs:
        qs["stream_user_sessions"](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    tree = ProcessTree()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def run(name: str) -> tuple[float, float, float]:
        """(wall s, process-tree CPU s, JVM reaped-children CPU s)"""
        t0, cpu0, reaped0 = time.time(), tree.cpu_s(), reaped_cpu_s(jvm_pid)
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return (
            round(time.time() - t0, 3),
            round(tree.cpu_s() - cpu0, 2),
            round(reaped_cpu_s(jvm_pid) - reaped0, 2),
        )

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        cold, cold_cpu, cold_reaped = run(name)
        warm = [run(name) for _ in range(reps)]
        walls = sorted(w for w, _, _ in warm)
        out[name] = {
            "cold": cold,
            "warm_median": median(walls),
            "warm_all": walls,
            "cold_cpu_s": cold_cpu,
            "warm_cpu_s": median([c for _, c, _ in warm]),
            "cold_jvm_reaped_cpu_s": cold_reaped,
            "warm_jvm_reaped_cpu_s": median([r for _, _, r in warm]),
        }
        print(
            f"# {name}: cold {cold}s warm {walls} cpu {cold_cpu}/{out[name]['warm_cpu_s']}s "
            f"jvm-reaped {cold_reaped}/{out[name]['warm_jvm_reaped_cpu_s']}s",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
