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
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory holding the flink_uba_spark package
ENGINE_ROOT = str(Path(__file__).resolve().parent.parent)


def get_spark(
    app_name: str = "flink-uba-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
