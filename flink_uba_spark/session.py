"""SparkSession factory with scale-oriented defaults.

The reference pins parallelism per job (env.setParallelism(1|2),
HotItem.java:28, HotPages.java:35); we instead let AQE size exchanges at
runtime and keep correctness independent of parallelism (SURVEY.md §2 U2).

Defaults chosen for the 100 TB design point, testable on local[32]:
- AQE on (runtime partition coalescing + skew-join splitting),
- session timezone UTC so event-time semantics are deployment-independent,
- Arrow enabled for the (rare) Pandas-UDF paths,
- shuffle partitions from SPARK_GRAFT_CPUS locally; a real cluster would
  raise it (AQE coalesces back down, so over-provisioning is cheap).

Python workers fork from ``flink_uba_spark._pydaemon`` instead of
``pyspark.daemon``. Every PySpark task calls ``importlib.invalidate_caches()``,
and under Python 3.11 that re-reads the zip directory behind every cached
archive importer. A stream worker holds about 18 of them: 13 for
``pyspark.zip``, 2 for the py4j zip and 3 for the 5,359-entry spark-core
jar. On a 4-vCPU machine that cost 0.18-0.36 CPU-s per task, even for an
empty partition, and it dominated the small micro-batches of the stateful
stream operators.
The daemon skips those installation archives, the ones on the workers'
path when it starts; every other importer, ``addPyFile`` archives and the
SparkFiles directory included, is still invalidated on every task. The
engine root goes on ``spark.executorEnv.PYTHONPATH`` so the daemon (and
every pickled engine function) imports from any working directory.

The driver JVM runs one JIT policy, ``JIT_POLICY``: HotSpot's tier-4 (C2)
thresholds raised 10x. In local mode the driver is also the executor, so
the policy covers every query. A short-lived engine JVM runs most of its
code a handful of times (each plan's generated classes, each operator's
setup), yet by default C2 optimizes it anyway. CPU seconds per JVM thread
group over one ``perfbench/run.py`` run (seed 3, 4 cores), JDK default
thresholds vs the policy:

    thread group     batch_reports    stream_replay
                     default  10x     default  10x
    C2 compiler      56.7     19.4    27.0     7.3
    C1 compiler      10.4      9.0     6.0     5.4
    GC                3.0      5.7     1.4     0.9
    task threads     10.5     11.1     4.5     5.5
    other JVM        25.3     27.6    15.8    14.9
    JVM total       106.0     72.7    54.7    34.0

Over 10 alternating pairs (seeds 11-20, 4 cores) the policy raised
batch_reports events per CPU-s by 50% and stream_replay's by 21%, cut
both setup_s by about 30%, and left both wall rates unchanged. C1 alone
(``-XX:TieredStopAtLevel=1``) saves more CPU on these short runs, and is
rejected: no method ever reaches C2, so repeated queries keep running
slower C1 code. On bench.py's 20 ``HEADLINE_R01`` queries
(``tools/time_queries.py``, sf0.1, 4 cores) it took the warm-median total
from 12.2 s to 18.0 s; the 10x policy measured 12.3 s.

Spark caches the classes it generates for a plan (Janino compiles) in one
LRU per JVM, ``spark.sql.codegen.cache.maxEntries``, a static conf whose
default is 100 entries. The engine runs a fixed set of query shapes again
and again, and one pass over them needs far more than 100 classes: one
``perfbench`` batch_reports pass about 200, one pass over the catalog
thousands. With the default, every class is evicted before its plan runs
again, so every warm pass Janino-compiles its plans anew and HotSpot then
JIT-compiles the fresh classes anew. ``CODEGEN_CACHE_ENTRIES`` sizes the
cache to the engine's working set instead: the next power of two at or
above 1.5x the distinct classes one cold pass over the whole catalog
compiles (one session, no evictions, 4 cores; sf0.1 is bench.py's cold
pass, which follows its warm-up queries):

    testdata    distinct classes    x1.5     next power of two
    sf0.001     2,669               4,004    4,096
    sf0.01      2,683               4,025    4,096
    sf0.1       2,639               3,959    4,096

At sf0.001 with Spark's default, the first catalog pass compiled 3,981
classes and the second 3,952: a third of the first pass's compiles were
classes evicted earlier in the same pass. With 4,096 entries it compiled
2,669 and then 70, the JVM threads' CPU in the second pass fell from 173
to 113 s, and metaspace after one pass went from 199 to 218 MB (+9%). Over one batch_reports
pass (seed 3, medians of passes 3-5) the cache took Janino compiles from
199 to 0 and the process tree's CPU from 12.8 to 9.3 s: task threads
2.50 -> 1.33, C2 2.42 -> 1.91, C1 0.86 -> 0.58, GC 0.99 -> 0.20 s.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory holding the flink_uba_spark package
ENGINE_ROOT = str(Path(__file__).resolve().parent.parent)

# HotSpot's tier-4 (C2) thresholds at 10x the JDK 17 defaults (5000,
# 600, 15000, 40000): a method reaches C2 only after 50,000 calls, or 6,000
# calls plus enough loop iterations, and code run a few times stays in C1.
# Sweep of the multiple, perfbench/run.py --trace 0 at 4 cores, medians of
# seeds 3-6 (3x and 30x: seeds 4-6):
#
#   tier-4   batch_reports               stream_replay
#   scale    ev/CPU-s  setup_s  wall ev/s  ev/CPU-s  setup_s  wall ev/s
#   1x       5,900     106      14,425     1,162     49.2     3,650
#   3x       6,206     93.4     13,740     1,326     40.2     3,535
#   10x      8,005     78.6     13,595     1,383     36.3     3,277
#   30x      8,265     65.3     12,890     1,466     35.3     3,109
#
# 10x is the smallest multiple that gives batch_reports its CPU gain (3x
# stays inside the seed range of the JDK defaults); 30x gains little more
# CPU while both wall rates keep falling.
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

# entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries);
# sized from the catalog's working set in the module docstring
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "flink-uba-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    The driver JVM starts with ``JIT_POLICY`` as its
    ``spark.driver.extraJavaOptions``, and Spark's generated-class cache
    holds ``CODEGEN_CACHE_ENTRIES`` classes; a caller's ``extra_conf``
    overrides either. A caller's own
    ``spark.driver.extraJavaOptions`` in ``extra_conf`` replaces the
    default, so a caller that sets it and still wants the policy appends
    ``JIT_POLICY`` itself. The options only apply when this call starts the
    JVM; a session that already exists keeps the flags it started with.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Event streams replayed from files arrive roughly time-ordered;
        # larger split targets keep scan task counts sane at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's testdata timestamp encoding has drifted across rounds
        # (TIMESTAMP(NANOS) in round 1, TIMESTAMP_NTZ micros in round 2).
        # nanosAsLong reads nanos columns as long (no nanos TimestampType
        # exists; normalized to micros in sources.readers, matching DuckDB's
        # ns→us truncation); inferTimestampNTZ=false reads no-tz micros
        # columns as plain TimestampType (session tz is pinned UTC above, so
        # wall-clock values are identical and unix_micros() stays legal).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # keep managed-table data (bucketed tables etc.) out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "flink_uba_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
        .config("spark.driver.extraJavaOptions", JIT_POLICY)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
