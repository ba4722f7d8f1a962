"""Round-10 lifts: overall WITHIN on the streaming skip routes
(VERDICT r9 item 5) and exclusion ``{- X -}`` on the SKIP TO routes
(item 6, batch + stream).

The replayer-level logic carries soak evidence (tools/nfa_soak.py
skip-to-stream / trail-stream, 3k cases each with randomized mode +
within_overall); these tests pin the FRONT-END wiring end-to-end: the
corner where the bound flips which anchor emits, batch ≡ stream on a
flushed replay, the exclusion column drops, and the remaining raises.
"""

from __future__ import annotations

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from flink_uba_spark.operators.match_recognize import (
    match_recognize,
    stream_match_recognize,
)
from flink_uba_spark.streaming.runner import run_to_table, write_replay

EPOCH = datetime.datetime(2020, 1, 1)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (uid, eid, EPOCH + datetime.timedelta(seconds=sec), et)
            for uid, eid, sec, et in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )


def _def3():
    return {
        "S": F.col("event_type") == "s",
        "C": F.col("event_type") == "c",
        "P": F.col("event_type") == "p",
    }


_SENTINEL_SEC = 10 ** 7  # ~115 days: flushes every real candidate


def _stream_of(spark, batch_df, n_batches=2):
    """Replay a batch frame as a file stream in ts-ordered batches, with
    a far-future sentinel anchor appended so the final watermark passes
    every real candidate's decidability horizon (the sentinel is an
    's' row that can never complete a match)."""
    rows = sorted(batch_df.collect(), key=lambda r: (r["ts"], r["event_id"]))
    sentinel = (
        10 ** 6,
        10 ** 6,
        EPOCH + datetime.timedelta(seconds=_SENTINEL_SEC),
        "s",
    )
    frames = []
    per = max(1, -(-len(rows) // n_batches))
    for i in range(0, len(rows), per):
        frames.append(
            spark.createDataFrame(
                [tuple(r) for r in rows[i : i + per]], batch_df.schema
            )
        )
    frames.append(
        spark.createDataFrame(
            [(sentinel[0], sentinel[1], sentinel[2], sentinel[3])],
            "user_id long, event_id long, ts timestamp, event_type string",
        )
    )
    replay = write_replay(frames, tag=f"r10_{uuid.uuid4().hex[:8]}")
    return (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay)
    )


def _assert_stream_equals_batch(spark, ev, spec, drop_sentinel=True):
    want = match_recognize(ev, **spec)
    got = run_to_table(stream_match_recognize(_stream_of(spark, ev), **spec))
    if drop_sentinel:
        got = got.filter(F.col("user_id") < 10 ** 6)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_stream_within_skip_past_prunes_before_fold(spark):
    """The corner the bound exists for: anchor 1's match violates the
    overall bound, so it must not advance the SKIP PAST LAST horizon —
    anchor 2's overlapping match emits instead (a post-filter after the
    in-NFA fold would emit NOTHING)."""
    rows = [(1, 1, 0, "s"), (1, 2, 2, "s"), (1, 3, 3, "c"), (1, 4, 6, "p")]
    ev = _mk_events(spark, rows)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C P",
        define=_def3(), default_within="INTERVAL 10 SECONDS",
        after_match="skip_past_last",
        within_overall="INTERVAL 5 SECONDS",
    )
    got = run_to_table(
        stream_match_recognize(_stream_of(spark, ev), **spec)
    ).filter(F.col("user_id") < 10 ** 6)
    assert [r["anchor_id"] for r in got.collect()] == [2]
    # and the full frame equals the batch compile
    _assert_stream_equals_batch(spark, ev, spec)


@pytest.mark.slow
def test_stream_within_skip_to_equals_batch(spark):
    rows = [
        (1, 1, 0, "s"), (1, 2, 2, "s"), (1, 3, 3, "c"), (1, 4, 6, "p"),
        (1, 5, 9, "c"), (1, 6, 11, "p"),
        (2, 7, 0, "s"), (2, 8, 1, "c"), (2, 9, 30, "p"),
    ]
    ev = _mk_events(spark, rows)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C P",
        define=_def3(), default_within="INTERVAL 40 SECONDS",
        after_match="skip_to_first C",
        within_overall="INTERVAL 8 SECONDS",
    )
    _assert_stream_equals_batch(spark, ev, spec)


@pytest.mark.slow
def test_stream_within_trailing_run_equals_batch(spark):
    rows = [
        (1, 1, 0, "s"), (1, 2, 2, "c"), (1, 3, 4, "c"), (1, 4, 9, "c"),
        (1, 5, 20, "s"), (1, 6, 22, "c"), (1, 7, 23, "c"),
    ]
    ev = _mk_events(spark, rows)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C{1,3}",
        define=_def3(), default_within="INTERVAL 6 SECONDS",
        after_match="skip_past_last",
        within_overall="INTERVAL 5 SECONDS",
    )
    _assert_stream_equals_batch(spark, ev, spec)


@pytest.mark.slow
def test_exclusion_on_skip_to_routes(spark):
    """Round-10 item 6: `{- X -}` is output shaping, so it now composes
    with SKIP TO on BOTH engines — same match set, excluded columns
    dropped."""
    rows = [
        (1, 1, 0, "s"), (1, 2, 3, "c"), (1, 3, 6, "p"),
        (1, 4, 9, "c"), (1, 5, 12, "p"),
    ]
    ev = _mk_events(spark, rows)
    base = dict(
        partition_by="user_id", order_by="ts", define=_def3(),
        default_within="INTERVAL 40 SECONDS",
        after_match="skip_to_first C",
    )
    plain = match_recognize(ev, pattern="S C P", **base)
    excl = match_recognize(ev, pattern="S {- C -} P", **base)
    assert excl.columns == [c for c in plain.columns if c != "C_ts"]
    assert sorted(map(tuple, excl.select(plain.drop("C_ts").columns).collect())) == sorted(
        map(tuple, plain.drop("C_ts").collect())
    )
    # streaming twin: same columns, same rows (flushed replay)
    got = run_to_table(
        stream_match_recognize(
            _stream_of(spark, ev), pattern="S {- C -} P", **base
        )
    ).filter(F.col("user_id") < 10 ** 6)
    assert got.columns == excl.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, excl.collect())
    )


def test_exclusion_skip_to_all_rows(spark):
    """Batch ALL ROWS + SKIP TO + exclusion: the excluded variable's
    per-event rows leave the output (the single-plan ALL ROWS rule)."""
    rows = [(1, 1, 0, "s"), (1, 2, 3, "c"), (1, 3, 6, "p")]
    ev = _mk_events(spark, rows)
    out = match_recognize(
        ev, "user_id", "ts", "S {- C -} P", _def3(),
        default_within="INTERVAL 40 SECONDS",
        after_match="skip_to_first C", rows_per_match="all",
    ).collect()
    assert sorted(r["var"] for r in out) == ["P", "S"]


@pytest.mark.slow
def test_within_overall_on_reluctant_routes(spark):
    """Round-10 second pass: within_overall composes with the reluctant
    routes. The bound depends only on the END ts, so per anchor the
    violating count candidates are a SUFFIX of the completion order —
    pruning before the lazy preference equals pruning after it, and the
    prune must precede the SKIP PAST LAST fold (the corner below: the
    bound kills anchor 1's only candidate, so anchor 2's overlapping
    match emits)."""
    rows = [
        (1, 1, 0, "s"), (1, 2, 2, "s"), (1, 3, 3, "e"),
        (1, 4, 4, "e"), (1, 5, 6, "p"),
    ]
    ev = _mk_events(spark, rows)
    d = {**_def3(), "E": F.col("event_type") == "e"}
    base = dict(
        partition_by="user_id", order_by="ts", pattern="S E{1,2}? P",
        define=d, default_within="INTERVAL 10 SECONDS",
    )
    # without the bound anchor 1 wins the fold; with a 5 s bound its
    # match (end +6 s) is not a match at all and anchor 2 (span 4 s)
    # emits instead
    unbounded = match_recognize(ev, after_match="skip_past_last", **base)
    assert [r["anchor_id"] for r in unbounded.collect()] == [1]
    bounded = match_recognize(
        ev, after_match="skip_past_last",
        within_overall="INTERVAL 5 SECONDS", **base,
    )
    assert [r["anchor_id"] for r in bounded.collect()] == [2]
    # NO SKIP multi-match: the bound is a stateless filter on the
    # per-count rows — identical to filtering the unbounded result
    nb = match_recognize(ev, after_match="no_skip", **base)
    b = match_recognize(
        ev, after_match="no_skip",
        within_overall="INTERVAL 5 SECONDS", **base,
    )
    want = [
        tuple(r) for r in nb.collect()
        if (r["P_ts"] - r["S_ts"]).total_seconds() <= 5
    ]
    assert sorted(map(tuple, b.collect())) == sorted(want)
    # streams: the fused NO SKIP engine (post-filter) and the lazy SKIP
    # PAST LAST replayer (in-replayer prune) both equal batch on a
    # flushed replay
    for am in ("no_skip", "skip_past_last"):
        got = run_to_table(
            stream_match_recognize(
                _stream_of(spark, ev), after_match=am,
                within_overall="INTERVAL 5 SECONDS", **base,
            )
        ).filter(F.col("user_id") < 10 ** 6)
        want_df = match_recognize(
            ev, after_match=am,
            within_overall="INTERVAL 5 SECONDS", **base,
        )
        assert got.columns == want_df.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want_df.collect())
        ), am


@pytest.mark.slow
def test_within_overall_on_alternation_and_iterative_streams(spark):
    """Round-10 second pass closes the stream within_overall matrix:
    the alternation preference operator prunes completions BEFORE the
    leftmost pick (the corner: branch C's match violates the bound, so
    branch E's qualifying one must win instead of being suppressed),
    and the iterative route takes the NO SKIP post-filter."""
    rows = [
        # anchor 1: C completes at +10 (violates 6 s), E at +5 (fits)
        (1, 1, 0, "s"), (1, 2, 4, "e"), (1, 3, 5, "p2"),
        (1, 4, 8, "c"), (1, 5, 10, "p"),
    ]
    ev = spark.createDataFrame(
        [
            (uid, eid, EPOCH + datetime.timedelta(seconds=sec), et)
            for uid, eid, sec, et in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    d = {
        "S": F.col("event_type") == "s",
        "C": F.col("event_type") == "c",
        "E": F.col("event_type") == "e",
        "P": F.col("event_type").startswith("p"),
    }
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S (C|E) P",
        define=d, default_within="INTERVAL 20 SECONDS",
        after_match="no_skip", within_overall="INTERVAL 6 SECONDS",
    )
    want = match_recognize(ev, **spec)
    got = run_to_table(
        stream_match_recognize(_stream_of(spark, ev), **spec)
    ).filter(F.col("user_id") < 10 ** 6)
    assert got.columns == want.columns
    a = sorted(map(tuple, got.collect()))
    assert a == sorted(map(tuple, want.collect()))
    # the preference corner actually exercised: E (branch 2) won
    assert len(a) == 1
    cls = want.columns.index("classifier_2")  # the group is token 2
    assert a[0][cls] == "E"
    # iterative + within: NO SKIP post-filter equals batch
    from flink_uba_spark.operators.match_recognize import match_recognize as mr

    spec_it = dict(
        partition_by="user_id", order_by="ts", pattern="S P",
        define={"S": d["S"], "P": d["P"]},
        default_within="INTERVAL 20 SECONDS", after_match="no_skip",
        within_overall="INTERVAL 6 SECONDS",
        payload={"cents": F.lit(1).cast("long")},
    )
    want_it = mr(
        ev, iter_define={"P": lambda b: b["P"]["cents"] >= b["S"]["cents"]},
        **spec_it,
    )
    got_it = run_to_table(
        stream_match_recognize(
            _stream_of(spark, ev),
            iter_define_py={"P": lambda pre, cand: cand[0] >= pre[0][0]},
            **spec_it,
        )
    ).filter(F.col("user_id") < 10 ** 6)
    # same columns (the two routes order anchor_id differently)
    assert sorted(got_it.columns) == sorted(want_it.columns)
    assert sorted(map(tuple, got_it.select(want_it.columns).collect())) == (
        sorted(map(tuple, want_it.collect()))
    )


@pytest.mark.slow
def test_exclusion_on_alternation_routes(spark):
    """Round-10 second pass: `{- X -}` composes with alternation/PERMUTE
    on BOTH engines — same match set (and CLASSIFIER), excluded columns
    dropped; ALL ROWS drops the excluded rows."""
    rows = [
        (1, 1, 0, "s"), (1, 2, 3, "c"), (1, 3, 6, "p"),
        (2, 4, 0, "s"), (2, 5, 2, "e"), (2, 6, 5, "p"),
    ]
    ev = _mk_events(spark, rows)
    d = {**_def3(), "E": F.col("event_type") == "e"}
    base = dict(
        partition_by="user_id", order_by="ts", define=d,
        default_within="INTERVAL 40 SECONDS", after_match="no_skip",
    )
    plain = match_recognize(ev, pattern="S (C|E) P", **base)
    excl = match_recognize(ev, pattern="{- S -} (C|E) P", **base)
    assert excl.columns == [c for c in plain.columns if c != "S_ts"]
    assert sorted(map(tuple, excl.collect())) == sorted(
        map(tuple, plain.drop("S_ts").collect())
    )
    allr = match_recognize(
        ev, pattern="{- S -} (C|E) P", rows_per_match="all", **base
    ).toPandas()
    assert set(allr["var"]) == {"C", "E", "P"}
    with pytest.raises(ValueError, match="non-excluded"):
        match_recognize(
            ev, pattern="{- S -} {- P -}", rows_per_match="all",
            **{**base, "define": {k: d[k] for k in ("S", "P")}},
        )
    # streaming twin: flushed replay equals the batch result
    got = run_to_table(
        stream_match_recognize(
            _stream_of(spark, ev), pattern="{- S -} (C|E) P", **base
        )
    ).filter(F.col("user_id") < 10 ** 6)
    assert got.columns == excl.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, excl.collect())
    )


def test_round10_remaining_raises(spark):
    # round 11 lifted the mid-pattern-quantifier AND optional cells (the
    # general quantified-chain replayer, tests/test_round11_ops.py) —
    # the whole r10 "in-NFA fold cannot compose with the bound" family
    # now compiles; only the FINITE-cap requirement remains a raise
    sdf_mid = stream_match_recognize(
        _mk_stream_like(spark), "user_id", "ts", "S C{1,2} P", _def3(),
        default_within="INTERVAL 1 HOUR",
        after_match="skip_past_last",
        within_overall="INTERVAL 2 HOURS",
    )
    assert "C_n" in sdf_mid.columns and "end_id" in sdf_mid.columns
    sdf_opt = stream_match_recognize(
        _mk_stream_like(spark), "user_id", "ts", "S C? P", _def3(),
        default_within="INTERVAL 1 HOUR",
        after_match="skip_past_last",
        within_overall="INTERVAL 2 HOURS",
    )
    assert "C_ts" in sdf_opt.columns and "end_id" in sdf_opt.columns
    with pytest.raises(ValueError, match="finite cap"):
        stream_match_recognize(
            _mk_stream_like(spark), "user_id", "ts", "S C+ P", _def3(),
            default_within="INTERVAL 1 HOUR",
            after_match="skip_past_last",
            within_overall="INTERVAL 2 HOURS",
        )
    # the reluctant fused engine now carries it (stateless post-filter)
    sdf_rel = stream_match_recognize(
        _mk_stream_like(spark), "user_id", "ts", "S C{1,2}? P", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
        within_overall="INTERVAL 2 HOURS",
    )
    assert "C_n" in sdf_rel.columns
    # ...and the trailing-reluctant rewrite carries it (compiles)
    sdf = stream_match_recognize(
        _mk_stream_like(spark), "user_id", "ts", "S C{1,2}?", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
        within_overall="INTERVAL 2 HOURS",
    )
    assert "C_ts" in sdf.columns


def _mk_stream_like(spark):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("event_id"),
            (F.col("value") % 5).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.lit("s").alias("event_type"),
        )
    )
