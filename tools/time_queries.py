"""Isolated per-query timing: cold (first build+run in this JVM) plus N
warm repeats (median reported), noop sink, same session defaults as
bench.py. For before/after evidence on a handful of queries without the
full catalog protocol.

Next to the wall times, each query reports the CPU seconds of the process
tree (this process, the JVM and its Python workers; perfbench's
``ProcessTree``) and of the processes the JVM forked and reaped
(``cutime+cstime`` of the JVM). The latter is 0 for a query that starts no
process; a large value means the JVM is forking, e.g. Hadoop shell-outs
for file renames and permissions.

The process tree's CPU also splits by process: ``driver_py_cpu_s`` is
this Python process alone (plan building, py4j calls), ``jvm_cpu_s`` the
JVM's own threads (tasks, codegen, JIT, GC) and ``worker_cpu_s`` the
JVM's descendants: the Python daemon and its workers, reaped ones
included. A query whose worker CPU is high runs Python stages (pandas or
Arrow UDFs, folds); one that runs a Python stage twice shows it here.

The JIT is a layer of its own. Each query also reports the JVM's
compile-time delta (``CompilationMXBean``, ms of compiler-thread wall
time), the number of Janino compiles (Spark's generated code; 0 once the
codegen cache is warm) and the CPU seconds of HotSpot's C1 and C2
compiler threads, read from ``/proc/<jvm>/task/*/stat``. Compiler threads
come and go with the JIT's queue, so a sampler keeps each thread's last
reading; a thread that exits between two samples loses at most one
interval of CPU.

Usage: python tools/time_queries.py <query> [...]   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, SPARK_GRAFT_TIME_REPS default 3)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, root)
sys.path.insert(0, os.path.join(root, "perfbench"))

from probes import ProcessTree, _children, median  # noqa: E402


def _ticks(pid: int, reaped: bool) -> int:
    """utime+stime of ``pid`` (plus cutime+cstime if ``reaped``)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def split_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of this process, of the JVM's own threads and of the
    JVM's descendants (Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    kids = _children()
    workers, todo = 0, list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        try:
            workers += _ticks(pid, reaped=True)
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(kids.get(pid, []))
    return {
        "driver_py_cpu_s": _ticks(os.getpid(), reaped=False) / tick,
        "jvm_cpu_s": _ticks(jvm_pid, reaped=False) / tick,
        "worker_cpu_s": workers / tick,
    }


def reaped_cpu_s(pid: int) -> float:
    """CPU seconds of the exited, reaped children of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


class CompilerThreads:
    """CPU seconds of the JVM's C1 and C2 compiler threads, live or exited."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self._ticks: dict[int, tuple[str, int]] = {}  # tid -> (tier, ticks)
        self._lock = threading.Lock()
        threading.Thread(target=self._run, name="jit-sampler", daemon=True).start()

    def _sample(self) -> None:
        try:
            tids = os.listdir(f"/proc/{self.pid}/task")
        except OSError:  # the JVM has exited
            return
        for tid in tids:
            try:
                with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                    comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                fields = rest.split()
                with self._lock:
                    self._ticks[int(tid)] = (comm[:2], int(fields[11]) + int(fields[12]))

    def _run(self) -> None:
        while True:
            time.sleep(self.interval)
            self._sample()

    def cpu_s(self) -> dict[str, float]:
        self._sample()
        out = {"C1": 0.0, "C2": 0.0}
        with self._lock:
            for tier, ticks in self._ticks.values():
                out[tier] += ticks / os.sysconf("SC_CLK_TCK")
        return out


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
    jvm = spark._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    compilation = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = CompilerThreads(jvm_pid)

    def counters() -> dict[str, float]:
        threads = jit.cpu_s()
        return {
            "wall": time.time(),
            "cpu_s": tree.cpu_s(),
            **split_cpu_s(jvm_pid),
            "jvm_reaped_cpu_s": reaped_cpu_s(jvm_pid),
            "jit_compile_ms": compilation.getTotalCompilationTime(),
            "janino_compiles": janino.getCount(),
            "c1_cpu_s": threads["C1"],
            "c2_cpu_s": threads["C2"],
        }

    def run(name: str) -> dict[str, float]:
        """Each counter's delta over one build-and-run of ``name``."""
        before = counters()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = counters()
        return {k: round(after[k] - before[k], 3) for k in before}

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        cold = run(name)
        warm = [run(name) for _ in range(reps)]
        walls = sorted(w["wall"] for w in warm)
        out[name] = {"cold": cold["wall"], "warm_median": median(walls), "warm_all": walls}
        for k in (k for k in cold if k != "wall"):
            out[name][f"cold_{k}"] = cold[k]
            out[name][f"warm_{k}"] = round(median([w[k] for w in warm]), 3)
        r = out[name]
        print(
            f"# {name}: cold {r['cold']}s warm {walls} cpu {r['cold_cpu_s']}/{r['warm_cpu_s']}s "
            f"(driver-py {r['cold_driver_py_cpu_s']}/{r['warm_driver_py_cpu_s']}s "
            f"jvm {r['cold_jvm_cpu_s']}/{r['warm_jvm_cpu_s']}s "
            f"workers {r['cold_worker_cpu_s']}/{r['warm_worker_cpu_s']}s) "
            f"jvm-reaped {r['cold_jvm_reaped_cpu_s']}/{r['warm_jvm_reaped_cpu_s']}s "
            f"jit {r['cold_jit_compile_ms']}/{r['warm_jit_compile_ms']}ms "
            f"c1 {r['cold_c1_cpu_s']}/{r['warm_c1_cpu_s']}s c2 {r['cold_c2_cpu_s']}/{r['warm_c2_cpu_s']}s "
            f"janino {r['cold_janino_compiles']}/{r['warm_janino_compiles']}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
