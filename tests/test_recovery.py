"""Checkpoint restart-recovery: stopping a streaming query between
micro-batches and restarting from the same checkpoint must produce the
exact batch answer with no duplicates or losses (Spark's WAL+state-store
recovery — the operational property Flink users get from checkpointing).
"""

from __future__ import annotations

import tempfile
import uuid
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_uba_spark.sources.readers import load_testdata
from flink_uba_spark.streaming.runner import write_replay
from flink_uba_spark.streaming.windows import stream_windowed_counts


def test_windowed_agg_recovers_from_checkpoint(spark, sf_dir):
    events = load_testdata(spark, sf_dir, ("events",))["events"]
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    # time-ordered split (real arrival order): windows that finalize during
    # run 1 can never need run-2 rows, so recovery must reproduce the batch
    # answer exactly
    b0 = events.filter(F.col("ts") <= F.lit(mid)).select("user_id", "ts")
    b1 = events.filter(F.col("ts") > F.lit(mid)).select("user_id", "ts")
    replay = write_replay([b0, b1], tag=f"recov_{uuid.uuid4().hex[:8]}")
    # deterministic interruption: hide batch 1 during the first run, so run 1
    # commits exactly one micro-batch; restore it for the recovery run (mtime
    # preserved, so FileStreamSource ordering is unchanged)
    second = Path(replay) / "01.parquet"
    hidden = Path(replay).parent / (Path(replay).name + "_hidden01")
    second.rename(hidden)

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    ckpt = str(Path(tempfile.mkdtemp(prefix="spark_graft_ckpt_")))
    out_dir = str(Path(tempfile.mkdtemp(prefix="spark_graft_recov_out_")))

    def run_until_drained():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay)
        )
        agg = stream_windowed_counts(
            sdf, F.col("user_id"), "user_id",
            size="1 hour", slide="30 minutes", watermark_delay="0 seconds",
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_until_drained()   # sees only batch 0, then "crashes"
    n_after_crash = spark.read.parquet(out_dir).count()
    hidden.rename(second)
    run_until_drained()   # recovers from checkpoint, processes batch 1 only

    assert n_after_crash > 0  # run 1 really committed work before the cut

    got = spark.read.parquet(out_dir)  # the file-sink commit log hides any
    # uncommitted files from the aborted attempt — the exactly-once mechanism
    # the recovered run must equal the one-shot batch answer exactly
    both = b0.unionByName(b1)
    tmax = both.agg(F.max("ts")).collect()[0][0]
    win = (
        both.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id", "cnt",
        )
        .filter(F.col("window_end") <= F.lit(tmax))
    )
    g = sorted(map(tuple, got.collect()))
    w_rows = sorted(map(tuple, win.collect()))
    assert g == w_rows
    assert len(g) == len(set(g))  # no duplicate emissions after restart


def test_pattern_nfa_recovers_from_checkpoint(spark, sf_dir):
    """The custom pattern NFA's state (pending chains) must survive a
    crash/restart between micro-batches: run 1 sees only the early events
    and "crashes"; the recovered run processes the rest from the same
    checkpoint, and the union of emissions equals the batch compiler's
    complete rows — chains anchored before the cut complete after it."""
    from flink_uba_spark.operators.sequence import pattern_detect
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    b0 = events.filter(F.unix_micros("ts") <= mid)
    b1 = events.filter(F.unix_micros("ts") > mid)
    replay = write_replay([b0, b1], tag=f"recov_nfa_{uuid.uuid4().hex[:8]}")
    second = Path(replay) / "01.parquet"
    hidden = Path(replay).parent / (Path(replay).name + "_hidden01")
    second.rename(hidden)

    ckpt = str(Path(tempfile.mkdtemp(prefix="spark_graft_ckpt_nfa_")))
    out_dir = str(Path(tempfile.mkdtemp(prefix="spark_graft_recov_nfa_out_")))
    steps = [("view", None), ("click", "INTERVAL 30 MINUTES"), ("purchase", "INTERVAL 2 HOURS")]

    def run_until_drained():
        sdf = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay)
        )
        q = (
            stream_pattern_detect(sdf, key="user_id", steps=steps)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_until_drained()
    n_after_crash = spark.read.parquet(out_dir).count()
    hidden.rename(second)
    run_until_drained()

    assert n_after_crash > 0

    got = spark.read.parquet(out_dir).toPandas()
    batch_steps = [
        (F.col("event_type") == t, w) for t, w in steps
    ]
    want = (
        pattern_detect(events, key="user_id", steps=batch_steps)
        .filter("state != 'incomplete'")
        .toPandas()
    )
    assert len(want) > n_after_crash, "every chain completed pre-cut — vacuous recovery"
    cols = sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(w)


def test_kleene_nfa_recovers_from_checkpoint(spark, sf_dir):
    """The Kleene NFA's richer state (open runs + the gap-horizon candidate
    buffer) must round-trip the state store: a crash/recover execution over
    the same two-batch replay equals the uninterrupted execution exactly."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    b0 = events.filter(F.unix_micros("ts") <= mid)
    b1 = events.filter(F.unix_micros("ts") > mid)
    replay = write_replay([b0, b1], tag=f"recov_kl_{uuid.uuid4().hex[:8]}")

    def run(ckpt, out_dir, until_drained=True):
        sdf = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay)
        )
        q = (
            stream_pattern_detect(
                sdf, key="user_id",
                steps=[
                    ("signup", None),
                    ("error", "INTERVAL 30 MINUTES", 5),
                    ("purchase", "INTERVAL 2 HOURS"),
                ],
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # uninterrupted reference execution
    ck_a = str(Path(tempfile.mkdtemp(prefix="ck_kl_a_")))
    out_a = str(Path(tempfile.mkdtemp(prefix="out_kl_a_")))
    run(ck_a, out_a)

    # crash/recover execution over the identical replay
    second = Path(replay) / "01.parquet"
    hidden = Path(replay).parent / (Path(replay).name + "_hidden01")
    second.rename(hidden)
    ck_b = str(Path(tempfile.mkdtemp(prefix="ck_kl_b_")))
    out_b = str(Path(tempfile.mkdtemp(prefix="out_kl_b_")))
    run(ck_b, out_b)
    hidden.rename(second)
    run(ck_b, out_b)

    a = spark.read.parquet(out_a).toPandas()
    b = spark.read.parquet(out_b).toPandas()
    assert len(a) > 0, "no emissions — vacuous"
    cols = sorted(a.columns)
    ga = a[cols].sort_values(cols).reset_index(drop=True)
    gb = b[cols].sort_values(cols).reset_index(drop=True)
    assert ga.equals(gb)


def test_fused_matcher_recovers_from_checkpoint(spark, sf_dir):
    """The fused multi-branch NFA's packed state (per-branch segments +
    seg_lens + the min-merged timer) must round-trip the state store: a
    crash/recover execution over a two-batch replay equals the
    uninterrupted execution exactly (round 8)."""
    from flink_uba_spark.streaming.pattern import (
        pattern_output_schema,
        stream_pattern_detect_fused,
    )

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    b0 = events.filter(F.unix_micros("ts") <= mid)
    b1 = events.filter(F.unix_micros("ts") > mid)
    replay = write_replay([b0, b1], tag=f"recov_fused_{uuid.uuid4().hex[:8]}")

    gap_us = 12 * 3600 * 1_000_000
    w3_us = 24 * 3600 * 1_000_000
    schema = pattern_output_schema(3, [None, (gap_us, 1, 1), None])
    cols = [f.name for f in schema.fields]

    def ident(frame):
        return frame[cols]

    def build(sdf):
        return stream_pattern_detect_fused(
            sdf,
            key="user_id",
            flags={
                "s": F.col("event_type") == "signup",
                "e": F.col("event_type") == "error",
                "p": F.col("event_type") == "purchase",
            },
            branches=[
                {
                    "engine": "chain",
                    "slots": ["s", "e", "p"],
                    "withins_us": [None, gap_us, w3_us],
                    "kleenes": [None, (gap_us, m, m), None],
                    "project": ident,
                }
                for m in (1, 2, 3)
            ],
            output_schema=schema,
        )

    def run_to_dir(ckpt, out_dir, hide_second):
        second = Path(replay) / "01.parquet"
        hidden = Path(replay).parent / (Path(replay).name + "_h01")
        if hide_second:
            second.rename(hidden)
        try:
            sdf = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(replay)
            )
            q = (
                build(sdf)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if hide_second:
                hidden.rename(second)

    ckpt = str(Path(tempfile.mkdtemp(prefix="sg_ckpt_fused_")))
    out_dir = str(Path(tempfile.mkdtemp(prefix="sg_out_fused_")))
    run_to_dir(ckpt, out_dir, hide_second=True)   # crash after batch 0
    n_after_crash = spark.read.parquet(out_dir).count()
    run_to_dir(ckpt, out_dir, hide_second=False)  # recover

    ckpt2 = str(Path(tempfile.mkdtemp(prefix="sg_ckpt_fused2_")))
    out2 = str(Path(tempfile.mkdtemp(prefix="sg_out_fused2_")))
    run_to_dir(ckpt2, out2, hide_second=False)    # uninterrupted

    got = spark.read.parquet(out_dir).toPandas()
    want = spark.read.parquet(out2).toPandas()
    assert len(want) > 0 and len(want) > n_after_crash
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def test_branching_matcher_recovers_from_checkpoint(spark, sf_dir):
    """The multi-match optional() operator packs its branch NFAs into one
    state row (per-branch segments + seg_lens + the min-merged timer);
    under a state ttl the branches also arm timers. Crash/recover must
    equal the uninterrupted run exactly."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_branching

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    # a ttl past the first half of the replay: no chain can be idle past
    # it at the cut, so the crashed run's watermark-only batch fires no
    # timer the uninterrupted run would not (see _order_timeout)
    lo, mid = events.agg(
        F.min(F.unix_micros("ts")), F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).collect()[0]
    hours = (mid - lo) // 3_600_000_000 + 1

    def build(sdf):
        return stream_pattern_detect_branching(
            sdf, key="user_id",
            steps=[
                ("signup", None),
                ("view", "INTERVAL 6 HOURS"),
                ("click", "INTERVAL 6 HOURS"),
                ("purchase", "INTERVAL 1 DAY"),
            ],
            optional={2, 3},
            state_ttl=f"INTERVAL {hours} HOURS",
        )

    got, want = _crash_recover_compare(spark, events, build, "branching")
    assert len(want) > 0
    assert set(want["skipped"]) == {"none", "2", "3", "2,3"}
    _assert_same_rows(got, want)


def test_ttl_flush_does_not_depend_on_the_cut(spark, sf_dir):
    """A state ttl short enough that chains anchored before the cut are
    idle past it when the next file arrives. The crashed run's
    watermark-only batch at the cut flushes them as ``incomplete``; the
    uninterrupted run must decide the same before the next batch's rows
    bind, so both runs emit the same rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_branching

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )

    def build(sdf):
        return stream_pattern_detect_branching(
            sdf, key="user_id",
            steps=[
                ("signup", None),
                ("view", "INTERVAL 6 HOURS"),
                ("click", "INTERVAL 6 HOURS"),
                ("purchase", "INTERVAL 1 DAY"),
            ],
            optional={2, 3},
            state_ttl="INTERVAL 12 HOURS",
        )

    got, want = _crash_recover_compare(spark, events, build, "ttl_cut")
    assert (want["state"] == "incomplete").any()
    _assert_same_rows(got, want)


def test_over_agg_recovers_from_checkpoint(spark, sf_dir):
    """The OVER aggregator's buffer state (rows + emitted flags) must
    round-trip the state store: crash/recover equals uninterrupted, with
    no duplicate emissions (exactly-once per input row) — round 8."""
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    b0 = events.filter(F.unix_micros("ts") <= mid)
    b1 = events.filter(F.unix_micros("ts") > mid)
    replay = write_replay([b0, b1], tag=f"recov_over_{uuid.uuid4().hex[:8]}")

    def run_to_dir(ckpt, out_dir, hide_second):
        second = Path(replay) / "01.parquet"
        hidden = Path(replay).parent / (Path(replay).name + "_h01")
        if hide_second:
            second.rename(hidden)
        try:
            sdf = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(replay)
            )
            q = (
                stream_over_aggregate(
                    sdf, key="user_id",
                    value=F.floor(F.col("value") * 100),
                    range_interval="INTERVAL 7 DAYS",
                    row_filter=F.col("event_type") == "purchase",
                )
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if hide_second:
                hidden.rename(second)

    ckpt = str(Path(tempfile.mkdtemp(prefix="sg_ckpt_over_")))
    out_dir = str(Path(tempfile.mkdtemp(prefix="sg_out_over_")))
    run_to_dir(ckpt, out_dir, hide_second=True)
    n_after_crash = spark.read.parquet(out_dir).count()
    run_to_dir(ckpt, out_dir, hide_second=False)

    ckpt2 = str(Path(tempfile.mkdtemp(prefix="sg_ckpt_over2_")))
    out2 = str(Path(tempfile.mkdtemp(prefix="sg_out_over2_")))
    run_to_dir(ckpt2, out2, hide_second=False)

    got = spark.read.parquet(out_dir).toPandas()
    want = spark.read.parquet(out2).toPandas()
    assert len(want) > 0 and n_after_crash > 0
    assert got["event_id"].is_unique          # exactly-once across the cut
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def _split_replay(events, out_prefix):
    """Two-file replay of ``events`` cut at the median event time."""
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    b0 = events.filter(F.unix_micros("ts") <= mid)
    b1 = events.filter(F.unix_micros("ts") > mid)
    return write_replay([b0, b1], tag=f"recov_{out_prefix}_{uuid.uuid4().hex[:8]}")


def _run_replay(spark, replay, schema, build, ckpt, out_dir, hide_second):
    """Drain ``replay`` through ``build`` into a parquet sink; with
    ``hide_second`` only its first file exists during the run (a crash
    after batch 0)."""
    second = Path(replay) / "01.parquet"
    hidden = Path(replay).parent / (Path(replay).name + "_h01")
    if hide_second:
        second.rename(hidden)
    try:
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay)
        )
        q = (
            build(sdf)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if hide_second:
            hidden.rename(second)


def _crash_recover_compare(spark, events, build, out_prefix):
    """Run a stateful streaming build crash/recover vs uninterrupted and
    return (got, want) pandas frames (shared round-9 harness)."""
    replay = _split_replay(events, out_prefix)

    def run_to_dir(ckpt, out_dir, hide_second):
        _run_replay(spark, replay, events.schema, build, ckpt, out_dir, hide_second)

    ckpt = str(Path(tempfile.mkdtemp(prefix=f"sg_ckpt_{out_prefix}_")))
    out_dir = str(Path(tempfile.mkdtemp(prefix=f"sg_out_{out_prefix}_")))
    run_to_dir(ckpt, out_dir, hide_second=True)
    run_to_dir(ckpt, out_dir, hide_second=False)
    ckpt2 = str(Path(tempfile.mkdtemp(prefix=f"sg_ckpt2_{out_prefix}_")))
    out2 = str(Path(tempfile.mkdtemp(prefix=f"sg_out2_{out_prefix}_")))
    run_to_dir(ckpt2, out2, hide_second=False)
    return spark.read.parquet(out_dir).toPandas(), spark.read.parquet(out2).toPandas()


def _assert_same_rows(got, want):
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def _order_timeout(events):
    """An order-timeout build whose deadline outlasts the first half of
    ``events``. A timer is then never due at the cut: a crashed run has a
    watermark-only batch there, the uninterrupted run does not, and a due
    timer would fire in one run while the next batch's pay resolves the
    anchor in the other."""
    from flink_uba_spark.streaming.order_timeout import stream_order_timeout

    lo, mid = events.agg(
        F.min(F.unix_micros("ts")), F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).collect()[0]
    hours = (mid - lo) // 3_600_000_000 + 1
    return lambda sdf: stream_order_timeout(sdf, deadline=f"{hours} hours")


def _view_click_purchase(sdf):
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    steps = [("view", None), ("click", "INTERVAL 30 MINUTES"), ("purchase", "INTERVAL 2 HOURS")]
    return stream_pattern_detect(sdf, key="user_id", steps=steps)


def _rolling_event_count(sdf):
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    return stream_over_aggregate(
        sdf, key="user_id", value=F.lit(1), range_interval="INTERVAL 7 DAYS"
    )


def test_order_timeout_recovers_from_checkpoint(spark, sf_dir):
    """The order-timeout bucket state (seen flags, pending anchors and
    per-key timers in one columnar blob) must round-trip the state store:
    crash/recover equals uninterrupted, exactly-once per anchor."""
    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    got, want = _crash_recover_compare(spark, events, _order_timeout(events), "otimeout")
    mid = events.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    cut = pd.Timestamp(mid, unit="us")
    # anchors pending at the cut resolve after the restart
    assert ((want["anchor_ts"] <= cut) & (want["follow_ts"] > cut)).any()
    assert got.dropna(subset=["anchor_id"])["anchor_id"].is_unique
    _assert_same_rows(got, want)


@pytest.mark.parametrize("op", ["pattern", "order_timeout", "over_agg"])
def test_restart_with_other_bucket_count_is_refused(spark, sf_dir, monkeypatch, op):
    """A key's state lives in bucket pmod(hash(key), B): restarting a
    checkpoint under another B must fail loudly (it used to drop matches
    silently), and resuming under the checkpoint's B must still equal the
    uninterrupted run."""
    from pyspark.errors import StreamingQueryException

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    build = {
        "pattern": _view_click_purchase,
        "order_timeout": _order_timeout(events),
        "over_agg": _rolling_event_count,
    }[op]
    replay = _split_replay(events, "rebucket")
    ckpt, out_dir, ckpt2, out2 = (
        str(Path(tempfile.mkdtemp(prefix=f"sg_rebucket{i}_"))) for i in range(4)
    )

    def run(b, ckpt, out_dir, hide_second):
        monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", str(b))
        _run_replay(spark, replay, events.schema, build, ckpt, out_dir, hide_second)

    run(4, ckpt, out_dir, hide_second=True)
    with pytest.raises(StreamingQueryException, match="state bucket count changed"):
        run(3, ckpt, out_dir, hide_second=False)
    run(4, ckpt, out_dir, hide_second=False)
    run(4, ckpt2, out2, hide_second=False)
    want = spark.read.parquet(out2).toPandas()
    assert len(want) > 0
    _assert_same_rows(spark.read.parquet(out_dir).toPandas(), want)


def test_skip_to_replayer_recovers_from_checkpoint(spark, sf_dir):
    """The skip-to replay's buffer + horizon + last-processed key must
    round-trip the state store (round 9): crash/recover equals
    uninterrupted, exactly-once per anchor."""
    from flink_uba_spark.streaming.skip_replay import (
        stream_quantified_chain_detect,
    )

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )

    def build(sdf):
        return stream_quantified_chain_detect(
            sdf, key="user_id",
            steps=[
                (F.col("event_type") == "signup", None),
                (F.col("event_type") == "click", "INTERVAL 6 HOURS"),
                (F.col("event_type") == "purchase", "INTERVAL 24 HOURS"),
            ],
            mode="skip_to",
            skip_step=2,
        )

    got, want = _crash_recover_compare(spark, events, build, "skipto")
    assert len(want) > 0
    assert got["anchor_id"].is_unique
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def test_lazy_replayer_recovers_from_checkpoint(spark, sf_dir):
    """The lazy-reluctant replay (the chain replayer with a reluctant
    step) must round-trip the state store, exactly-once per anchor."""
    from flink_uba_spark.streaming.skip_replay import (
        stream_quantified_chain_detect,
    )

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )

    def build(sdf):
        return stream_quantified_chain_detect(
            sdf, key="user_id",
            steps=[
                (F.col("event_type") == "signup", None),
                (F.col("event_type") == "error", "INTERVAL 12 HOURS",
                 (1, 3), "reluctant"),
                (F.col("event_type") == "purchase", "INTERVAL 24 HOURS"),
            ],
        )

    got, want = _crash_recover_compare(spark, events, build, "lazy")
    assert len(want) > 0
    assert got["anchor_id"].is_unique
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def test_preference_fused_recovers_from_checkpoint(spark, sf_dir):
    """The preference fold's packed branch states + pending buffer must
    round-trip the state store (round 9), exactly-once per anchor."""
    from flink_uba_spark.streaming.pattern import (
        stream_pattern_detect_preferred,
    )

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    h6 = 6 * 3600 * 1_000_000
    h24 = 24 * 3600 * 1_000_000

    def build(sdf):
        return stream_pattern_detect_preferred(
            sdf, key="user_id",
            flags={
                "fs": F.col("event_type") == "signup",
                "fc": F.col("event_type") == "click",
                "fv": F.col("event_type") == "view",
                "fp": F.col("event_type") == "purchase",
            },
            branch_slots=[["fs", "fc", "fp"], ["fs", "fv", "fp"]],
            withins_us=[[None, h6, h24], [None, h6, h24]],
        )

    got, want = _crash_recover_compare(spark, events, build, "pref")
    assert len(want) > 0
    assert got["anchor_id"].is_unique
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )


def test_trailing_run_replayer_recovers_from_checkpoint(spark, sf_dir):
    """The trailing-run SKIP PAST LAST replay's buffer + horizon +
    last-processed key must round-trip the state store (round 9 second
    pass): crash/recover equals uninterrupted, exactly-once per anchor."""
    from flink_uba_spark.streaming.skip_replay import (
        stream_quantified_chain_detect,
    )

    events = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )

    def build(sdf):
        return stream_quantified_chain_detect(
            sdf, key="user_id",
            steps=[
                (F.col("event_type") == "signup", None),
                (F.col("event_type") == "error", "INTERVAL 12 HOURS",
                 (1, 4)),
            ],
        )

    got, want = _crash_recover_compare(spark, events, build, "trailrun")
    assert len(want) > 0
    assert got["anchor_id"].is_unique
    c = sorted(want.columns)
    assert (
        got[c].sort_values(c).reset_index(drop=True)
        .equals(want[c].sort_values(c).reset_index(drop=True))
    )
