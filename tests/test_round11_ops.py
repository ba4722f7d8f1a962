"""Round-11 lifts: the streaming MEASURES / ALL ROWS surface
(VERDICT r10 item 4 — the SQL-text ONE-ROW-only asymmetry) and the
per-step-id plumbing behind it.

- ``rows_per_match="all"`` streams on the single-plan plain/optional
  routes (the NFA's per-step bound ids, ``s_bndid`` in its state) and
  equals the batch explode on a flushed replay.
- RunAgg ``COUNT`` MEASURES (incl. SUBSET unions) rewrite to stateless
  reads of the NFA's count columns and equal the batch band join.
- The text front-end compiles ``COUNT(V.*)`` / ``FIRST/LAST(V.ts)`` /
  ``ALL ROWS PER MATCH`` onto the stream engines. (Round 12 lifted
  value aggregates, offset navigation, and the replay-route ALL ROWS
  corners onto the quantified-chain replayer — see
  tests/test_round12_ops.py; only the genuinely batch-only shapes keep
  raises here.)
"""

from __future__ import annotations

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from flink_uba_spark.operators.match_recognize import (
    match_recognize,
    run_agg,
    stream_match_recognize,
)
from flink_uba_spark.operators.match_recognize_sql import (
    match_recognize_sql,
    stream_match_recognize_sql,
)
from flink_uba_spark.streaming.runner import run_to_table, write_replay

EPOCH = datetime.datetime(2020, 1, 1)


def _mk(spark, rows):
    return spark.createDataFrame(
        [
            (uid, eid, EPOCH + datetime.timedelta(seconds=sec), et)
            for uid, eid, sec, et in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )


def _def():
    return {v: F.col("event_type") == v.lower() for v in "SCP"}


def _stream_of(spark, batch_df, n_batches=2):
    rows = sorted(batch_df.collect(), key=lambda r: (r["ts"], r["event_id"]))
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
            [(10 ** 6, 10 ** 6, EPOCH + datetime.timedelta(seconds=10 ** 7), "s")],
            batch_df.schema,
        )
    )
    replay = write_replay(frames, tag=f"r11_{uuid.uuid4().hex[:8]}")
    return (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay)
    )


def _stream_run(spark, ev, **spec):
    out = run_to_table(stream_match_recognize(_stream_of(spark, ev), **spec))
    return out.filter(F.col("user_id") < 10 ** 6)


ROWS_PLAIN = [
    (1, 1, 0, "s"), (1, 2, 1, "c"), (1, 3, 2, "p"),
    (2, 10, 0, "s"), (2, 11, 7, "p"),
    (3, 20, 0, "s"), (3, 21, 4, "s"), (3, 22, 5, "c"), (3, 23, 8, "p"),
]

ROWS_RUN = [
    (1, 1, 0, "s"), (1, 2, 1, "c"), (1, 3, 2, "c"), (1, 4, 3, "p"),
    (2, 10, 0, "s"), (2, 11, 1, "c"), (2, 12, 9, "p"),
]


def test_stream_all_rows_plain_skip_equals_batch(spark):
    ev = _mk(spark, ROWS_PLAIN)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last", rows_per_match="all",
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert got.columns == want.columns == [
        "user_id", "anchor_id", "seq", "var", "event_id", "ts",
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_stream_all_rows_optional_no_skip_equals_batch(spark):
    """A skipped optional emits no per-event row — on both engines."""
    ev = _mk(spark, ROWS_PLAIN)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C? P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="no_skip", rows_per_match="all",
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # user 2's match skipped C: exactly 2 rows for it
    assert sum(1 for r in got.collect() if r["user_id"] == 2) == 2


@pytest.mark.slow
def test_stream_all_rows_exclusion_composes(spark):
    ev = _mk(spark, ROWS_PLAIN)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S {- C -} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last", rows_per_match="all",
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert all(r["var"] != "C" for r in got.collect())


@pytest.mark.slow
def test_stream_all_rows_raises(spark):
    # round 12 lifted the quantified / optional / skip-to /
    # within_overall ALL ROWS routes onto the replayers
    # (tests/test_round12_ops.py pins them against batch); the
    # remaining raises are the genuinely batch-only shapes
    ev = _mk(spark, ROWS_RUN)
    base = dict(
        partition_by="user_id", order_by="ts", define=_def(),
        default_within="INTERVAL 1000 SECONDS", rows_per_match="all",
    )
    with pytest.raises(ValueError, match="alternation/PERMUTE"):
        stream_match_recognize(
            _stream_of(spark, ev), pattern="S (C|P)",
            after_match="no_skip", **base,
        )
    with pytest.raises(ValueError, match="reluctant"):
        stream_match_recognize(
            _stream_of(spark, ev), pattern="S C{1,2}? P",
            after_match="no_skip", **base,
        )
    with pytest.raises(ValueError, match="finite cap"):
        stream_match_recognize(
            _stream_of(spark, ev), pattern="S C+ P",
            after_match="skip_past_last", **base,
        )
    with pytest.raises(ValueError, match="ONE ROW PER MATCH shape"):
        stream_match_recognize(
            _stream_of(spark, ev), pattern="S C P",
            after_match="no_skip",
            measures={"x": F.col("S_ts")}, **base,
        )


def test_stream_run_agg_count_and_subset_equal_batch(spark):
    ev = _mk(spark, ROWS_RUN)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C{1,3} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="no_skip",
        measures={
            "anchor_id": F.col("anchor_id"),
            "c_cnt": run_agg("count", "C"),
            "u_cnt": run_agg("count", "U"),
        },
        subset={"U": ("S", "C", "P")},
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert got.columns == want.columns
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    # user 1 binds the 2-rep greedy run: COUNT(C.*)=2, COUNT(U.*)=4
    assert (1, 1, 2, 4) in rows


@pytest.mark.slow
def test_stream_run_agg_value_aggregates_raise(spark):
    # round 12 lifted value aggregates under SKIP PAST LAST / NO SKIP
    # onto the quantified-chain replayer (tests/test_round12_ops.py
    # pins them against batch); SKIP TO FIRST/LAST keeps the raise —
    # its plain-chain fold carries no value state
    ev = _mk(spark, ROWS_RUN)
    with pytest.raises(ValueError, match="SKIP TO FIRST/LAST"):
        stream_match_recognize(
            _stream_of(spark, ev),
            partition_by="user_id", order_by="ts", pattern="S C{1,3} P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="skip_to_first C",
            measures={"s": run_agg("sum", "C", F.col("event_id"))},
        )
    # RunAgg over an EXCLUDED variable: the stream drops its columns
    # before MEASURES — documented batch-only corner
    with pytest.raises(ValueError, match="EXCLUDED"):
        stream_match_recognize(
            _stream_of(spark, ev),
            partition_by="user_id", order_by="ts",
            pattern="S {- C{1,3} -} P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="no_skip",
            measures={"c": run_agg("count", "C")},
        )
    # SUBSET without a consuming RunAgg
    with pytest.raises(ValueError, match="SUBSET is consumed"):
        stream_match_recognize(
            _stream_of(spark, ev),
            partition_by="user_id", order_by="ts", pattern="S C P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="no_skip", subset={"U": ("S", "C")},
        )


_SQL_RUN_AGG = """
PARTITION BY user_id ORDER BY ts
MEASURES COUNT(C.*) AS c_n, FIRST(C.ts) AS c_first, LAST(C.ts) AS c_last,
         COUNT(U.*) AS u_n
AFTER MATCH SKIP TO NEXT ROW
PATTERN (S C{1,3} P)
SUBSET U = (S, C, P)
DEFINE S AS S.event_type = 's', C AS C.event_type = 'c',
       P AS P.event_type = 'p'
"""


@pytest.mark.slow
def test_stream_sql_text_run_agg_equals_batch_text(spark):
    ev = _mk(spark, ROWS_RUN)
    got = run_to_table(
        stream_match_recognize_sql(
            _stream_of(spark, ev), _SQL_RUN_AGG,
            default_within="INTERVAL 1000 SECONDS",
        )
    ).filter(F.col("user_id") < 10 ** 6)
    want = match_recognize_sql(
        ev, _SQL_RUN_AGG, default_within="INTERVAL 1000 SECONDS"
    )
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_stream_sql_text_all_rows_equals_batch_text(spark):
    ev = _mk(spark, ROWS_PLAIN)
    sql = """
    PARTITION BY user_id ORDER BY ts
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (S C P)
    DEFINE S AS S.event_type = 's', C AS C.event_type = 'c',
           P AS P.event_type = 'p'
    """
    got = run_to_table(
        stream_match_recognize_sql(
            _stream_of(spark, ev), sql,
            default_within="INTERVAL 1000 SECONDS",
        )
    ).filter(F.col("user_id") < 10 ** 6)
    want = match_recognize_sql(
        ev, sql, default_within="INTERVAL 1000 SECONDS"
    )
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_stream_sql_text_value_measures_stream_or_raise(spark):
    # round 12: value aggregates STREAM through the quantified-chain
    # replayer — the text compile equals the batch compile
    ev = _mk(spark, ROWS_RUN)
    base = dict(default_within="INTERVAL 1000 SECONDS")
    sql = """
    PARTITION BY user_id ORDER BY ts
    MEASURES anchor_id AS anchor_id, SUM(C.event_id) AS s,
             FIRST(C.event_id, 1) AS second_id
    PATTERN (S C{1,3} P)
    DEFINE S AS S.event_type = 's', C AS C.event_type = 'c',
           P AS P.event_type = 'p'
    """
    want = match_recognize_sql(ev, sql, **base)
    got = run_to_table(
        stream_match_recognize_sql(_stream_of(spark, ev), sql, **base)
    ).filter(F.col("user_id") < 10 ** 6)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the remaining batch-only form: offset navigation over a SUBSET
    # union needs the merged (ts, id) row order — the batch band join
    with pytest.raises(ValueError, match="batch-only on the stream"):
        stream_match_recognize_sql(
            _stream_of(spark, ev),
            """
            PARTITION BY user_id ORDER BY ts
            MEASURES FIRST(U.event_id, 1) AS second_id
            PATTERN (S C{1,3} P)
            SUBSET U = (S, C)
            DEFINE S AS S.event_type = 's', C AS C.event_type = 'c',
                   P AS P.event_type = 'p'
            """,
            **base,
        )


# ---- round-11 exclusion lifts (the last cells: reluctant + iterative) ----


@pytest.mark.slow
def test_reluctant_exclusion_emits_duplicate_projections(spark):
    """Two per-count matches that bind the SAME purchase collapse to
    identical projections once the lazy run's columns drop — BOTH rows
    must survive (one row per match), batch and stream."""
    rows = [
        # counts 1 and 2 both complete at p@5 -> duplicate (S_ts, P_ts)
        (1, 1, 0, "s"), (1, 2, 1, "c"), (1, 3, 2, "c"), (1, 4, 5, "p"),
    ]
    ev = _mk(spark, rows)
    spec = dict(
        partition_by="user_id", order_by="ts",
        pattern="S {- C{1,2}? -} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="no_skip",
    )
    want = match_recognize(ev, **spec)
    assert want.columns == ["user_id", "anchor_id", "S_ts", "P_ts"]
    wrows = sorted(map(tuple, want.collect()))
    assert len(wrows) == 2 and wrows[0] == wrows[1], wrows
    got = _stream_run(spark, ev, **spec)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == wrows


@pytest.mark.slow
def test_reluctant_lazy_exclusion_equals_batch(spark):
    ev = _mk(spark, ROWS_RUN)
    spec = dict(
        partition_by="user_id", order_by="ts",
        pattern="S {- C{1,2}? -} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last",
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_iterative_exclusion_drops_payload_columns(spark):
    rows = [
        (1, 1, 0, "s", 1.0), (1, 2, 1, "c", 2.0), (1, 3, 2, "p", 0.0),
        (3, 20, 0, "s", 5.0), (3, 21, 1, "c", 2.0), (3, 22, 2, "c", 6.0),
        (3, 23, 3, "p", 0.0),
    ]
    ev = spark.createDataFrame(
        [
            (u, e, EPOCH + datetime.timedelta(seconds=s), t, a)
            for u, e, s, t, a in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string,"
        " amt double",
    )
    batch = match_recognize(
        ev,
        partition_by="user_id", order_by="ts",
        pattern="S {- C -} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="no_skip",
        payload={"amt": F.col("amt")},
        iter_define={"C": lambda b: b["C"]["amt"] > b["S"]["amt"]},
    )
    assert "C_ts" not in batch.columns and "amt_C" not in batch.columns
    assert "amt_S" in batch.columns and "S_ts" in batch.columns
    brows = sorted(map(tuple, batch.collect()))
    assert len(brows) == 2  # u1's c@1 passes (2>1); u3 skips c@1, binds c@2

    def _stream_of_amt(b):
        rws = sorted(b.collect(), key=lambda r: (r["ts"], r["event_id"]))
        frames = [
            spark.createDataFrame([tuple(r) for r in rws], b.schema),
            spark.createDataFrame(
                [
                    (
                        10 ** 6, 10 ** 6,
                        EPOCH + datetime.timedelta(seconds=10 ** 7),
                        "s", 0.0,
                    )
                ],
                b.schema,
            ),
        ]
        replay = write_replay(frames, tag=f"r11x_{uuid.uuid4().hex[:8]}")
        return (
            spark.readStream.schema(b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay)
        )

    got = run_to_table(
        stream_match_recognize(
            _stream_of_amt(ev),
            partition_by="user_id", order_by="ts",
            pattern="S {- C -} P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="no_skip",
            payload={"amt": F.col("amt")},
            iter_define_py={"C": lambda pre, c: c[0] > pre[0][0]},
        )
    ).filter(F.col("user_id") < 10 ** 6)
    assert "C_ts" not in got.columns and "amt_C" not in got.columns
    assert sorted(
        tuple(r[c] for c in batch.columns) for r in got.collect()
    ) == brows


# ---- round-11 quantified-chain SKIP PAST LAST replay (r10 item 6) ----


ROWS_MIDQ = [
    (1, 1, 0, "s"), (1, 2, 1, "c"), (1, 3, 2, "c"), (1, 4, 3, "p"),
    (2, 10, 0, "s"), (2, 11, 1, "c"), (2, 12, 7, "p"),
    # fold-shift key: anchor 20's match violates the bound, so it must
    # not advance the horizon — anchor 21's match emits instead
    (3, 20, 0, "s"), (3, 21, 3, "s"), (3, 22, 4, "c"), (3, 23, 7, "p"),
    # non-overlap: a second episode after the first for the same key
    (4, 30, 0, "s"), (4, 31, 1, "c"), (4, 32, 2, "c"), (4, 33, 3, "c"),
    (4, 34, 4, "p"), (4, 35, 5, "s"), (4, 36, 6, "c"), (4, 37, 8, "p"),
]


@pytest.mark.slow
def test_stream_mid_quant_skip_past_equals_batch(spark):
    """Mid-pattern greedy runs now STREAM under SKIP PAST LAST (the
    general quantified-chain replayer) — with and without the overall
    bound, equal to the batch fold on a flushed replay."""
    ev = _mk(spark, ROWS_MIDQ)
    for wo in (None, "INTERVAL 4 SECONDS"):
        spec = dict(
            partition_by="user_id", order_by="ts", pattern="S C{1,2} P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="skip_past_last", within_overall=wo,
        )
        want = match_recognize(ev, **spec)
        got = _stream_run(spark, ev, **spec)
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"within_overall={wo}"
    # the fold-shift corner specifically: bound 4s kills anchor 20
    # (span 7) and anchor 21 (span 4, inclusive) must emit
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C{1,2} P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last", within_overall="INTERVAL 4 SECONDS",
    )
    got = _stream_run(spark, ev, **spec)
    u3 = [r["anchor_id"] for r in got.collect() if r["user_id"] == 3]
    assert u3 == [21]


@pytest.mark.slow
def test_stream_two_runs_skip_past_equals_batch(spark):
    """TWO quantified steps in one chain through the same replayer."""
    ev = _mk(spark, ROWS_MIDQ)
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S C{1,2} P{1,2}",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last",
    )
    want = match_recognize(ev, **spec)
    got = _stream_run(spark, ev, **spec)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.slow
def test_stream_mid_quant_uncapped_raises(spark):
    ev = _mk(spark, ROWS_MIDQ)
    with pytest.raises(ValueError, match="finite cap"):
        stream_match_recognize(
            _stream_of(spark, ev),
            partition_by="user_id", order_by="ts", pattern="S C+ P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="skip_past_last",
        )


# ---- round-11 second pass: OPTIONAL steps on the replay route --------


@pytest.mark.slow
def test_stream_optional_skip_past_equals_batch(spark):
    """Interior optional under SKIP PAST LAST now streams (the greedy
    race inside the quantified-chain replayer) — including the
    race corner where the suffix's earlier candidate skips the
    optional, and the within_overall fold-shift corner."""
    rows = [
        (1, 1, 0, "s"), (1, 2, 1, "c"), (1, 3, 2, "p"),
        (2, 10, 0, "s"), (2, 11, 5, "p"),
        # race corner: p@1 precedes c@2 -> skip C, match (s@0, p@1)
        (3, 20, 0, "s"), (3, 21, 1, "p"), (3, 22, 2, "c"), (3, 23, 3, "p"),
        # fold-shift: anchor 30's span violates the bound below
        (4, 30, 0, "s"), (4, 31, 3, "s"), (4, 32, 4, "c"), (4, 33, 7, "p"),
    ]
    ev = _mk(spark, rows)
    for wo in (None, "INTERVAL 4 SECONDS"):
        spec = dict(
            partition_by="user_id", order_by="ts", pattern="S C? P",
            define=_def(), default_within="INTERVAL 1000 SECONDS",
            after_match="skip_past_last", within_overall=wo,
        )
        want = match_recognize(ev, **spec)
        got = _stream_run(spark, ev, **spec)
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"within_overall={wo}"
    got = _stream_run(
        spark, ev,
        partition_by="user_id", order_by="ts", pattern="S C? P",
        define=_def(), default_within="INTERVAL 1000 SECONDS",
        after_match="skip_past_last",
    )
    u3 = [(r["anchor_id"], r["C_ts"]) for r in got.collect()
          if r["user_id"] == 3]
    assert u3 == [(20, None)]  # the race skipped C


@pytest.mark.slow
def test_quantified_chain_replayer_randomized_equals_batch(spark):
    """Randomized replayer-level drive vs the batch compile: random
    event soups over optional/quantified/plain mixes, arbitrary
    ts-cohort batch splits, a far-future final watermark (everything
    decidable) — the replayer's match set must equal batch exactly."""
    import random

    import pandas as pd

    from flink_uba_spark.streaming.pattern import _interval_us
    from flink_uba_spark.streaming.skip_replay import (
        make_quantified_chain_replayer,
    )
    from tests.state_harness import StateHarness

    SHAPES = [
        ("S C? P", {2}, [None, None, None]),
        ("S C{1,2} P", set(), [None, (1, 2), None]),
        ("S C{1,2} P{1,2}", set(), [None, (1, 2), (1, 2)]),
        ("S C? P{1,2}", {2}, [None, None, (1, 2)]),
        ("S C{2,3} P", set(), [None, (2, 3), None]),
    ]
    rng = random.Random(411)
    n_fail = 0
    for case in range(25):
        pattern, opts, kl = SHAPES[case % len(SHAPES)]
        n = 3
        n_ev = rng.randint(3, 16)
        rows = sorted(
            (rng.randint(0, 30), i, rng.choice("scp"))
            for i in range(n_ev)
        )
        wo = rng.choice([None, "INTERVAL 6 SECONDS", "INTERVAL 12 SECONDS"])
        ev = _mk(spark, [(1, eid, sec, et) for sec, eid, et in rows])
        spec = dict(
            partition_by="user_id", order_by="ts", pattern=pattern,
            define=_def(), default_within="INTERVAL 10 SECONDS",
            after_match="skip_past_last", within_overall=wo,
        )
        want = sorted(map(tuple, match_recognize(ev, **spec).collect()))

        withins_us = [None] + [_interval_us("INTERVAL 10 SECONDS")] * 2
        kleenes = [
            None if k is None else (withins_us[i], k[0], k[1])
            for i, k in enumerate(kl)
        ]
        h_us = sum(withins_us[1:]) + sum(
            k[2] * k[0] for k in kleenes if k is not None
        )
        det = make_quantified_chain_replayer(
            n, withins_us, kleenes, h_us,
            within_overall_us=(
                None if wo is None else _interval_us(wo)
            ),
            optionals=opts,
        )
        # ts-cohort split into 1-3 batches
        secs = sorted({s for s, _i, _t in rows})
        cut_pool = secs[1:]
        cuts = sorted(rng.sample(cut_pool, min(len(cut_pool), rng.randint(0, 2))))
        bounds = [-1] + cuts + [10 ** 9]
        epoch_us = int((EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000

        def batch(chunk, key=1):
            return pd.DataFrame(
                {
                    "event_id": [i for _s, i, _t in chunk],
                    "ts": pd.to_datetime(
                        [epoch_us + s * 1_000_000 for s, _i, _t in chunk],
                        unit="us",
                    ),
                    "user_id": key,
                    "f1": [t == "s" for _s, _i, t in chunk],
                    "f2": [t == "c" for _s, _i, t in chunk],
                    "f3": [t == "p" for _s, _i, t in chunk],
                }
            )

        chunks = [
            [r for r in rows if bounds[bi] < r[0] <= bounds[bi + 1]]
            for bi in range(len(bounds) - 1)
        ]
        # a far-future row of key 2, matching nothing, makes the final
        # watermark decide everything
        frames = StateHarness(det).run(
            [batch(c) for c in chunks if c] + [batch([(10 ** 6, 0, "x")], key=2)]
        )
        frames = [f[f["user_id"] == 1] for f in frames]
        got = []
        for f in frames:
            for _, r in f.iterrows():
                tup = []
                for c in f.columns:
                    v = r[c]
                    if isinstance(v, pd.Timestamp):
                        tup.append(v.to_pydatetime())
                    elif pd.isna(v):
                        tup.append(None)
                    else:
                        tup.append(int(v))
                got.append(tuple(tup))
        if sorted(got) != want:
            n_fail += 1
            print(f"case {case} pattern={pattern} wo={wo} rows={rows}")
            print("  got ", sorted(got))
            print("  want", want)
    assert n_fail == 0
