"""The state harness against Spark, and every per-key state function
against its bucketed replay.

The calibration tests run one stream job through Spark (a multi-file
``maxFilesPerTrigger=1`` replay drained by ``run_to_table``) and the same
rows, cut at the same files, through ``tests/state_harness.py``: equal
rows pin the harness's watermark, late-row filter and no-data batch to
Spark's. The differential test then runs each per-key state function
that reaches ``make_bucketed_matcher`` per key and in B buckets over
seeded micro-batch cuts: every batch must emit the same rows.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PySparkRuntimeError

from flink_uba_spark.streaming.budget_run import make_budget_run_matcher
from flink_uba_spark.streaming.over_agg import make_over_aggregator
from flink_uba_spark.streaming.pattern import (
    _interval_us,
    _keyed_input,
    _pred,
    make_any_matcher,
    make_branching_matcher,
    make_fused_matcher,
    make_iterative_matcher,
    make_pattern_matcher,
    make_preference_fused,
    stream_pattern_detect,
    stream_pattern_detect_branching,
)
from flink_uba_spark.streaming.runner import run_to_table, write_replay
from flink_uba_spark.streaming.skip_replay import make_quantified_chain_replayer
from flink_uba_spark.streaming.temporal import make_temporal_join_matcher
from flink_uba_spark.streaming.transitions import make_transition_extractor
from tests.state_harness import NO_TIMEOUT, T0, StateHarness, cut, per_bucket, rows_of

# ---------------------------------------------------------------------------
# calibration against Spark
# ---------------------------------------------------------------------------

KLEENE_STEPS = [("view", None), ("click", "INTERVAL 2 DAYS", 3), ("purchase", "INTERVAL 3 DAYS")]
BRANCH_STEPS = [("view", None), ("click", "INTERVAL 2 DAYS"), ("purchase", "INTERVAL 3 DAYS")]


def _replay_files(spark, sf_dir, seed):
    """The events split into 4 time-ordered files, with every 10th row
    moved one file later (late against the next file's watermark)."""
    from flink_uba_spark.sources.readers import load_testdata

    ev = load_testdata(spark, sf_dir)["events"].select("event_id", "ts", "user_id", "event_type")
    pdf = ev.toPandas().sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    file_of = np.minimum(np.arange(len(pdf)) * 4 // len(pdf), 3)
    rng = np.random.default_rng(seed)
    late = rng.random(len(pdf)) < 0.1
    file_of = np.where(late, np.minimum(file_of + 1, 3), file_of)
    parts = [pdf[file_of == i].reset_index(drop=True) for i in range(4)]
    return ev.schema, parts


def _spark_and_harness_inputs(spark, schema, parts, flags):
    frames = [spark.createDataFrame(p, schema) for p in parts]
    replay = write_replay(frames, tag="harness_calib")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(replay)
    keyed = [_keyed_input(f, "user_id", flags, "event_id", "ts").toPandas() for f in frames]
    return stream, keyed


def _spark_rows(out):
    return rows_of([out.toPandas()])


def test_harness_matches_spark_with_watermark_and_timers(spark, sf_dir):
    """A Kleene step plus a state ttl: event-time timers, a watermark
    1 hour behind the data, late rows, and the final no-data batch."""
    schema, parts = _replay_files(spark, sf_dir, seed=7)
    flags = {f"__p{i}": _pred(s[0]) for i, s in enumerate(KLEENE_STEPS, 1)}
    stream, keyed = _spark_and_harness_inputs(spark, schema, parts, flags)
    got = _spark_rows(run_to_table(stream_pattern_detect(
        stream, "user_id", KLEENE_STEPS, state_ttl="INTERVAL 4 DAYS",
        watermark_delay="1 hour",
    )))
    assert {r[-1] for r in got} >= {"matched", "incomplete"}

    def det():
        return make_pattern_matcher(
            ["view", "click", "purchase"],
            [None, _interval_us("INTERVAL 2 DAYS"), _interval_us("INTERVAL 3 DAYS")],
            ttl_us=_interval_us("INTERVAL 4 DAYS"),
            kleenes=[None, (_interval_us("INTERVAL 2 DAYS"), 3), None],
        )

    per_key = StateHarness(det(), delay_ms=3_600_000)
    assert rows_of(per_key.run(keyed)) == got
    # the run dropped late rows and ended with a no-data batch
    assert per_key.last_wm == per_key.watermark_ms > 0
    assert rows_of(per_bucket(det(), 3, delay_ms=3_600_000).run(keyed)) == got


def test_harness_matches_spark_without_watermark(spark, sf_dir):
    """Branching without a ttl runs without a watermark and without
    timeouts: no row is late, and reading the watermark raises."""
    schema, parts = _replay_files(spark, sf_dir, seed=11)
    flags = {f"__p{i}": _pred(s[0]) for i, s in enumerate(BRANCH_STEPS, 1)}
    stream, keyed = _spark_and_harness_inputs(spark, schema, parts, flags)
    got = _spark_rows(run_to_table(
        stream_pattern_detect_branching(stream, "user_id", BRANCH_STEPS, optional={2})
    ))
    assert got

    withins = [None, _interval_us("INTERVAL 2 DAYS"), _interval_us("INTERVAL 3 DAYS")]
    harness = per_bucket(
        make_branching_matcher(["view", "click", "purchase"], withins, [2]), 2,
        timeout=NO_TIMEOUT, delay_ms=None,
    )
    assert rows_of(harness.run(keyed)) == got

    def reads_watermark(key, pdfs, state):
        state.getCurrentWatermarkMs()
        yield from ()

    with pytest.raises(PySparkRuntimeError, match="watermark"):
        StateHarness(reads_watermark, timeout=NO_TIMEOUT, delay_ms=None).run(keyed[:1])


# ---------------------------------------------------------------------------
# every per-key state function against its bucketed replay
# ---------------------------------------------------------------------------

MS = 1_000
KEYS = 4
TYPES = ["a", "b", "c"]


def _events(rng: random.Random) -> pd.DataFrame:
    """Up to 80 rows over KEYS keys on a 10 ms grid 3 s long, roughly
    time-ordered (a row may trail by up to 50 ms)."""
    n = rng.randint(0, 80)
    rows = []
    for i in range(n):
        t = rng.randint(0, 300) * 10 * MS
        rows.append({
            "event_id": i + 1,
            "ts": T0 + t,
            "user_id": rng.randint(1, KEYS),
            "event_type": rng.choice(TYPES),
            "f1": rng.random() < 0.4,
            "f2": rng.random() < 0.5,
            "f3": rng.random() < 0.4,
            "val": rng.randint(-3, 9),
            "__order": t + rng.randint(0, 50) * MS,
        })
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "f1", "f2", "f3", "val", "__order",
    ])
    pdf = pdf.sort_values("__order", kind="mergesort").drop(columns="__order")
    pdf["ts"] = pd.to_datetime(pdf["ts"].astype("int64"), unit="us")
    return pdf.reset_index(drop=True)


def _flags(pdf, names=("__p1", "__p2", "__p3")):
    out = pdf[["event_id", "ts", "user_id"]].copy()
    for nm, src in zip(names, ("f1", "f2", "f3")):
        out[nm] = pdf[src].astype(bool)
    return out


def _chain(rng):
    kleene = rng.choice([None, (120 * MS, 3), (120 * MS, 4, 2)])
    ttl = rng.choice([None, 900 * MS])
    det = make_pattern_matcher(
        ["s1", "s2", "s3"], [None, 600 * MS, 800 * MS], ttl_us=ttl, kleenes=[None, kleene, None],
    )
    return det, _flags, kleene is not None or ttl is not None


def _branching(rng):
    ttl = rng.choice([None, 900 * MS])
    det = make_branching_matcher(["s1", "s2", "s3"], [None, 600 * MS, 800 * MS], [2], ttl_us=ttl)
    return det, _flags, ttl is not None


def _any(rng):
    det = make_any_matcher(3, [0, 500 * MS, 500 * MS], after_match=rng.choice([None, "skip_to_next"]))
    return det, _flags, True


def _iterative(rng):
    det = make_iterative_matcher(
        3, [0, 500 * MS, 500 * MS], 1, {2: lambda prefix, cand: cand[0] >= prefix[0][0]}
    )

    def inputs(pdf):
        out = _flags(pdf)
        out["__v0"] = pdf["val"].astype("int64")
        return out

    return det, inputs, True


def _chain_branches(slot_sets, project, kleene=None):
    """Two-step chains, one per slot pair; ``kleene`` makes the last
    branch's second step a run."""
    last = len(slot_sets) - 1
    return [
        (make_pattern_matcher(["s1", "s2"], [None, 500 * MS], kleenes=[None, kleene if bi == last else None]),
         list(slots), lambda f, bi=bi: project(f, bi))
        for bi, slots in enumerate(slot_sets)
    ]


def _fused(rng):
    def project(frame, bi):
        f = frame[["user_id", "anchor_id", "t1", "t2", "state"]].copy()
        f["branch"] = bi
        return f

    det = make_fused_matcher(
        _chain_branches([("f1", "f2"), ("f1", "f3"), ("f2", "f3")], project, kleene=(200 * MS, 3))
    )
    return det, lambda pdf: pdf[["event_id", "ts", "user_id", "f1", "f2", "f3"]], True


def _preferred(rng):
    def project(frame, bi):
        f = frame[frame["state"] == "matched"]
        f = f[["user_id", "anchor_id", "t1", "t2"]].copy()
        f["__branch"] = bi
        return f

    det = make_preference_fused(
        _chain_branches([("f1", "f2"), ("f1", "f3")], project), 2, 500 * MS,
        within_overall_us=rng.choice([None, 300 * MS]),
    )
    return det, lambda pdf: pdf[["event_id", "ts", "user_id", "f1", "f2", "f3"]], True


def _replayer(rng):
    withins = [None, 300 * MS, 300 * MS]
    kleenes = [None, (150 * MS, 1, 3, False), None]
    mode = rng.choice(["past_last", "no_skip", "skip_to"])
    det = make_quantified_chain_replayer(
        3, withins, kleenes, 300 * MS + 300 * MS + 3 * 150 * MS, mode=mode,
        skip_step=2 if mode == "skip_to" else None,
    )
    return det, lambda pdf: pdf[["event_id", "ts", "user_id", "f1", "f2", "f3"]], True


def _budget(rng):
    det = make_budget_run_matcher(budget=10, cap=3, gap_us=400 * MS, sfx_us=600 * MS)

    def inputs(pdf):
        out = pdf[["event_id", "ts", "user_id", "f1", "f2", "f3"]].copy()
        out["pay"] = pdf["val"].clip(lower=0).astype("int64")
        return out

    return det, inputs, True


def _over(rng):
    rows = rng.choice([None, 2])
    det = make_over_aggregator(
        None if rows else 200 * MS, rows, funcs=rng.choice([None, ("sum", "count", "min", "max")])
    )
    return det, lambda pdf: pdf[["event_id", "ts", "user_id", "val"]], True


def _temporal(rng):
    def inputs(pdf):
        return pd.DataFrame({
            "user_id": pdf["user_id"],
            "row_id": pdf["event_id"],
            "ts": pdf["ts"],
            "is_fact": pdf["f2"].astype(bool),
            "payload": pdf["val"].astype("int64"),
        })

    return make_temporal_join_matcher(), inputs, True


def _transitions(rng):
    det = make_transition_extractor(200 * MS)
    return det, lambda pdf: pdf[["user_id", "event_id", "event_type", "ts"]], False


STATE_FUNCTIONS = {
    "chain": _chain,
    "branching": _branching,
    "any": _any,
    "iterative": _iterative,
    "fused": _fused,
    "preferred": _preferred,
    "quantified_chain_replayer": _replayer,
    "budget_run": _budget,
    "over_aggregate": _over,
    "temporal_join": _temporal,
    "transitions": _transitions,
}


def _traced(det, calls: list):
    """``det``, logging each call's key and timed-out flag to ``calls``."""

    def fn(key, pdfs, state):
        calls.append((key[0], state.hasTimedOut))
        yield from det(key, pdfs, state)

    return fn


@pytest.mark.parametrize("name", sorted(STATE_FUNCTIONS))
def test_bucketed_replay_equals_per_key(name):
    """Each batch, and the final no-data batch, emits the same rows per
    key and in B ∈ {1, 2, 7, keys + 1} buckets, and calls each key's
    function the same way: with its rows, or timed out. A case builds
    the state function, its input columns and whether it runs on
    event-time timers (a watermark and ``EventTimeTimeout``) or on
    neither, as the engine's wiring of that operator does."""
    build = STATE_FUNCTIONS[name]
    for seed in range(10):
        rng = random.Random(seed)
        _, inputs, timers = build(random.Random(seed))
        batches = cut(inputs(_events(rng)), rng, max_cuts=5)
        kw = dict(delay_ms=rng.choice([0, 30, 200])) if timers else dict(timeout=NO_TIMEOUT, delay_ms=None)
        for b in (1, 2, 7, KEYS + 1):
            want, got = [], []
            per_key = StateHarness(_traced(build(random.Random(seed))[0], want), **kw)
            bucketed = per_bucket(_traced(build(random.Random(seed))[0], got), b, **kw)
            for i, rows in enumerate([*batches, None]):
                if rows is None:  # the no-data batch
                    out, ref = bucketed.flush(), per_key.flush()
                else:
                    out, ref = bucketed.batch(rows), per_key.batch(rows)
                assert rows_of(out) == rows_of(ref), (seed, b, i)
                assert sorted(got) == sorted(want), (seed, b, i)
                got.clear()
                want.clear()


def _kleene_chain(rng):
    det = make_pattern_matcher(
        ["s1", "s2", "s3"], [None, 600 * MS, 800 * MS], kleenes=[None, (120 * MS, 3), None],
    )
    return det, _flags, True


# the timer-driven state functions whose output on time-ordered rows is
# the same however the stream is cut (a ttl flush depends on the cuts by
# design, so the chain and branching cases run without one)
CUT_INVARIANT = {
    "kleene_chain": _kleene_chain,
    "any": _any,
    "iterative": _iterative,
    "fused": _fused,
    "preferred": _preferred,
    "quantified_chain_replayer": _replayer,
    "budget_run": _budget,
    "over_aggregate": _over,
    "temporal_join": _temporal,
}


@pytest.mark.parametrize("name", sorted(CUT_INVARIANT))
def test_output_does_not_depend_on_cuts(name):
    """Time-ordered rows emit the same rows per key whether they arrive
    in one micro-batch or cut into several. The last row comes 1 ms after
    the one before it, in a batch of its own, so the final no-data batch
    moves the watermark by exactly 1 ms past the last data batch's: a
    timer re-armed one ms beyond the watermark would miss it."""
    build = CUT_INVARIANT[name]
    for seed in range(24):
        rng = random.Random(seed)
        rows = _events(rng).sort_values("ts", kind="mergesort").reset_index(drop=True)
        if not len(rows):
            continue
        last = rows.iloc[[-1]].copy()
        last["event_id"] = len(rows) + 1
        last["ts"] = last["ts"] + pd.Timedelta(milliseconds=1)
        for col in ("f1", "f2", "f3"):
            last[col] = rng.random() < 0.5
        rows = pd.concat([rows, last], ignore_index=True)
        det, inputs, _timers = build(random.Random(seed))
        rows = inputs(rows)
        whole = StateHarness(build(random.Random(seed))[0]).run([rows])
        cuts = [*cut(rows.iloc[:-1], rng, max_cuts=5), rows.iloc[[-1]].reset_index(drop=True)]
        assert rows_of(StateHarness(det).run(cuts)) == rows_of(whole), seed
