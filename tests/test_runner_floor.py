"""``run_to_table``'s per-batch floor settings.

``run_to_table`` scopes two confs to each run: state partitions
``min(8, defaultParallelism)`` and the FileSystem-based checkpoint file
manager. These tests pin that

- each state family gives the same rows as the path they replaced: an
  explicit ``writeStream`` to memory with a ``checkpointLocation`` (so
  Spark's default FileContext manager) and ``shuffle.partitions=8``, over a
  multi-file replay, so state crosses micro-batch boundaries;
- both confs come back exactly as found, set or unset, also when the query
  raises, and a later query with its own checkpoint keeps Spark's default
  manager.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest
from pyspark.sql import functions as F

from flink_uba_spark.sources.readers import load_testdata
from flink_uba_spark.streaming.runner import run_to_table, write_replay

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(_ROOT, "tools"), os.path.join(_ROOT, "perfbench")]
from check import frame_hash  # noqa: E402
from probes import ProgressLog  # noqa: E402

PARTITIONS = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)


@pytest.fixture(scope="module")
def replay(spark, sf_dir):
    """The events table cut by event time into three files."""
    events = load_testdata(spark, sf_dir, ("events",))["events"]
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [lo + (hi - lo) * k / 3 for k in (1, 2)]
    parts = [
        events.filter(F.col("ts") <= F.lit(cuts[0])),
        events.filter((F.col("ts") > F.lit(cuts[0])) & (F.col("ts") <= F.lit(cuts[1]))),
        events.filter(F.col("ts") > F.lit(cuts[1])),
    ]
    return write_replay(parts, tag=f"floor_{uuid.uuid4().hex[:8]}"), events.schema


def _source(spark, replay):
    path, schema = replay
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def _windowed_counts(events):
    from flink_uba_spark.streaming.windows import stream_windowed_counts

    views = events.filter(F.col("event_type") == "view")
    return stream_windowed_counts(views, F.col("user_id"), "user_id", watermark_delay="0 seconds")


def _order_timeout(events):
    from flink_uba_spark.streaming.order_timeout import stream_order_timeout

    return stream_order_timeout(events, deadline="6 hours")


def _pattern_chain(events):
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    return stream_pattern_detect(
        events,
        key="user_id",
        steps=[("view", None), ("click", "INTERVAL 1 DAY"), ("purchase", "INTERVAL 2 DAYS")],
    )


def _reference_run(sdf, mode: str, checkpoint: str):
    """The replaced path: explicit checkpoint, default manager, 8 partitions."""
    spark = sdf.sparkSession
    name = "ref_" + uuid.uuid4().hex[:12]
    prev = spark.conf.get(PARTITIONS)
    spark.conf.set(PARTITIONS, "8")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(PARTITIONS, prev)
    out = spark.table(name).toPandas()
    spark.catalog.dropTempView(name)
    return out


FAMILIES = {
    "windowed_append": (_windowed_counts, "append"),
    "windowed_update": (_windowed_counts, "update"),
    "windowed_complete": (_windowed_counts, "complete"),
    "order_timeout": (_order_timeout, "append"),
    "pattern_bucketed": (_pattern_chain, "append"),
}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_same_rows_as_replaced_path(spark, replay, tmp_path, family):
    build, mode = FAMILIES[family]
    got = run_to_table(build(_source(spark, replay)), output_mode=mode).toPandas()
    assert spark.conf.get(MANAGER, None) is None
    want = _reference_run(build(_source(spark, replay)), mode, str(tmp_path / "ckpt"))
    assert len(want) > 0, "reference run emitted no rows — vacuous comparison"
    assert len(got) == len(want)
    assert frame_hash(got) == frame_hash(want)


def test_state_partitions_capped_at_cores(spark, replay):
    progress = ProgressLog()
    spark.streams.addListener(progress)
    try:
        run_to_table(_windowed_counts(_source(spark, replay)))
        (run,) = progress.wait_terminated(1)
    finally:
        spark.streams.removeListener(progress)
    ops = [o for p in progress.progress(run) for o in p["stateOperators"]]
    assert ops
    want = min(8, spark.sparkContext.defaultParallelism)
    assert {o["numShufflePartitions"] for o in ops} == {want}


def _manager_class(spark, path) -> str:
    jvm = spark._jvm
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return fm.getClass().getName()


def _failing_stream(spark, replay):
    @F.udf("long")
    def boom(v):
        raise ValueError("boom")

    return _source(spark, replay).select(boom(F.col("user_id")).alias("x"))


@pytest.mark.parametrize("preset", ["set", "unset"])
@pytest.mark.parametrize("outcome", ["returns", "raises"])
def test_confs_restored_as_found(spark, replay, tmp_path, preset, outcome):
    saved = {k: spark.conf.get(k, None) for k in (PARTITIONS, MANAGER)}
    try:
        if preset == "set":
            found = {PARTITIONS: "13", MANAGER: FC_MANAGER}
            for k, v in found.items():
                spark.conf.set(k, v)
        else:
            found = {PARTITIONS: None, MANAGER: None}
            for k in found:
                spark.conf.unset(k)
        if outcome == "returns":
            assert len(run_to_table(_windowed_counts(_source(spark, replay))).collect()) > 0
        else:
            with pytest.raises(Exception, match="boom"):
                run_to_table(_failing_stream(spark, replay))
        explicit = spark.conf.getAll
        for k, v in found.items():
            assert spark.conf.get(k, None) == v
            assert (k in explicit) == (v is not None)
        # a later query with its own checkpoint gets the manager found
        # (Spark's default when the key was unset)
        assert _manager_class(spark, tmp_path / "ckpt") == FC_MANAGER
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
