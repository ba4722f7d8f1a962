"""Round-9 fixes and operators.

ADVICE r8 items: the trailing-quantifier / SKIP PAST LAST front-end
validation, batch-only exclusion message on the stream front-end, the
budget-run non-negative payload guard (both engines), and the ALL ROWS
empty-plain-entries validation.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_uba_spark.operators.match_recognize import (
    match_recognize,
    stream_match_recognize,
)
from tests.state_harness import T0, StateHarness, case_us, replay

EPOCH = datetime.datetime(2020, 1, 1)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (uid, eid, EPOCH + datetime.timedelta(minutes=m), et)
            for uid, eid, m, et in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )


def _def3():
    return {
        "S": F.col("event_type") == "s",
        "E": F.col("event_type") == "e",
        "P": F.col("event_type") == "p",
    }


def test_trailing_quantifier_skip_past_last_raises(spark):
    """Round-9 second pass: GREEDY trailing quantifiers now compose with
    SKIP PAST LAST / $ on the single-plan path (the engine surfaces the
    run-last repetition's id as end_id); reluctant trailing forms and
    specialty routes keep the up-front validation."""
    ev = _mk_events(spark, [(1, 1, 0, "s"), (1, 2, 1, "e"), (1, 3, 2, "e")])
    # trailing RELUCTANT under SKIP PAST LAST rewrites to the exact
    # minimum-count run (no suffix → the lazy preference is always mn)
    out = match_recognize(
        ev, "user_id", "ts", "S E{1,2}?", _def3(),
        default_within="INTERVAL 1 HOUR",
        after_match="skip_past_last",
    ).collect()
    assert len(out) == 1 and out[0]["E_n"] == 1 and out[0]["end_id"] == 2
    # ... but a trailing $ anchor still raises (the minimum count need
    # not reach the partition's last row)
    with pytest.raises(ValueError, match="RELUCTANT.*final PATTERN"):
        match_recognize(
            ev, "user_id", "ts", "S E{1,2}? $", _def3(),
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
        )
    # specialty routes still pin the end to a plain last step
    with pytest.raises(ValueError, match="single-plan path"):
        match_recognize(
            ev, "user_id", "ts", "(S|P) E+", _def3(),
            default_within="INTERVAL 1 HOUR",
            after_match="skip_past_last",
        )
    # greedy trailing run + SKIP PAST LAST compiles and binds the
    # MAXIMAL run (both e's — the reluctant rewrite above took one)
    out = match_recognize(
        ev, "user_id", "ts", "S E+", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
    ).collect()
    assert len(out) == 1 and out[0]["E_n"] == 2 and out[0]["end_id"] == 3
    # trailing $ anchor composes too: the run must END the partition
    out = match_recognize(
        ev, "user_id", "ts", "S E+ $", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
    ).collect()
    assert len(out) == 1 and out[0]["E_n"] == 2
    # no_skip without an anchor keeps working (single-plan path)
    out = match_recognize(
        ev, "user_id", "ts", "S E+", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
    )
    assert out.count() == 1


def test_stream_exclusion_routes(spark):
    """Round-9 second pass: exclusion {- X -} STREAMS on the single-plan
    path (stateless ONE-row projection drop); the specialty stream
    routes still raise with an explicit message."""
    ev = _mk_events(spark, [(1, 1, 0, "s")])
    # round 10 lifted alternation; round 11 lifted the last cells —
    # the reluctant engines now drop the excluded columns after their
    # folds too (tests/test_round11_ops.py pins values against batch)
    sdf_rel = stream_match_recognize(
        _stream_like(spark), "user_id", "ts", "S E{1,2}? {- P -}",
        _def3(), default_within="INTERVAL 1 HOUR",
        after_match="no_skip",
    )
    assert "P_ts" not in sdf_rel.columns and "E_n" in sdf_rel.columns
    sdf_alt = stream_match_recognize(
        _stream_like(spark), "user_id", "ts", "(S|E) {- P -}",
        _def3(), default_within="INTERVAL 1 HOUR", after_match="no_skip",
    )
    assert "P_ts" not in sdf_alt.columns and "classifier_1" in sdf_alt.columns
    # single-plan: compiles; the excluded variable's columns leave the
    # projection (streaming DataFrame — schema is checkable unexecuted)
    sdf = stream_match_recognize(
        _stream_like(spark), "user_id", "ts", "S {- E -} P", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
    )
    assert "E_ts" not in sdf.columns and "S_ts" in sdf.columns


def _stream_like(spark):
    """A rate-source-shaped streaming frame with the events schema (for
    compile/schema checks that never start the query)."""
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("event_id"),
            (F.col("value") % 5).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.lit("s").alias("event_type"),
        )
    )


def test_all_rows_needs_plain_entry(spark):
    ev = _mk_events(spark, [(1, 1, 0, "s"), (1, 2, 1, "e")])
    with pytest.raises(ValueError, match="non-excluded plain"):
        match_recognize(
            ev, "user_id", "ts", "{- S -} E{1,2} {- P -}", _def3(),
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
            rows_per_match="all",
        )


def test_budget_run_negative_payload_raises(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_budget_run

    ev = spark.createDataFrame(
        [
            (1, 1, EPOCH, "a", 0),
            (1, 2, EPOCH + datetime.timedelta(minutes=1), "r", -5),
            (1, 3, EPOCH + datetime.timedelta(minutes=2), "x", 0),
        ],
        "user_id long, event_id long, ts timestamp, et string, v long",
    )
    out = pattern_detect_budget_run(
        ev, "user_id",
        anchor=F.col("et") == "a",
        run=F.col("et") == "r",
        suffix=F.col("et") == "x",
        payload=F.col("v"),
        budget=10, gap="INTERVAL 10 MINUTES",
        suffix_within="INTERVAL 10 MINUTES",
    )
    with pytest.raises(Exception, match="non-negative"):
        out.collect()


def test_stream_budget_run_negative_payload_raises():
    import numpy as np
    import pandas as pd

    from flink_uba_spark.streaming.budget_run import make_budget_run_matcher

    det = make_budget_run_matcher(10, 3, 600_000_000, 600_000_000)
    pdf = pd.DataFrame(
        {
            "event_id": np.array([1], dtype="int64"),
            "ts": pd.Series([EPOCH]).astype("datetime64[us]"),
            "user_id": [1],
            "f1": [False], "f2": [True], "f3": [False],
            "pay": np.array([-1], dtype="int64"),
        }
    )
    with pytest.raises(ValueError, match="non-negative"):
        StateHarness(det).batch(pdf)


# ---- OVER aggregation breadth: COUNT/MIN/MAX share the frame pass ----

def _drive_multi(events, cuts, range_us, funcs):
    from flink_uba_spark.streaming.over_agg import make_over_aggregator

    det = make_over_aggregator(range_us, funcs=funcs)
    frames, wm_final = replay(det, events, sorted(cuts), lambda e: {"val": e[2]})
    got = [
        (int(r.event_id), case_us(r.ts), int(r.val))
        + tuple(int(getattr(r, f"agg_{fn}")) for fn in funcs)
        for f in frames for r in f.itertuples(index=False)
    ]
    return got, wm_final


def _brute_multi(events, range_us, final_wm_ms, funcs):
    out = []
    fmap = {
        "sum": sum,
        "count": len,
        "min": min,
        "max": max,
    }
    for eid, ts, val in events:
        if ts >= final_wm_ms * 1000:
            continue
        frame = [v for _, t2, v in events if ts - range_us <= t2 <= ts]
        out.append((eid, ts, val) + tuple(fmap[f](frame) for f in funcs))
    return sorted(out)


@st.composite
def _over_multi_case(draw):
    n_ev = draw(st.integers(0, 24))
    events = [
        (i, draw(st.integers(0, 30)) * 1000 + draw(st.integers(0, 3)),
         draw(st.integers(-5, 20)))
        for i in range(n_ev)
    ]
    cuts = draw(st.sets(st.integers(1, 30), max_size=4))
    range_us = draw(st.integers(1, 20)) * 1000
    return events, {c * 1000 for c in cuts}, range_us


@settings(max_examples=60, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_over_multi_case())
def test_over_agg_multi_matches_brute(case):
    events, cuts, range_us = case
    funcs = ("count", "min", "max", "sum")
    got, wm_final = _drive_multi(events, cuts, range_us, funcs)
    assert sorted(got) == _brute_multi(events, range_us, wm_final, funcs)
    ids = [g[0] for g in got]
    assert len(ids) == len(set(ids))


def test_over_agg_bad_funcs_raise():
    from flink_uba_spark.streaming.over_agg import make_over_aggregator

    with pytest.raises(ValueError, match="subset"):
        make_over_aggregator(1000, funcs=("median",))
    with pytest.raises(ValueError, match="subset"):
        make_over_aggregator(1000, funcs=())


# ---- MEASURES run aggregates (RunAgg) ----

def test_run_agg_hand_fixture(spark):
    from flink_uba_spark.operators.match_recognize import run_agg

    ev = spark.createDataFrame(
        [
            (1, 1, EPOCH, "s", 0),
            (1, 2, EPOCH + datetime.timedelta(minutes=1), "e", 7),
            (1, 3, EPOCH + datetime.timedelta(minutes=2), "e", 3),
            (1, 4, EPOCH + datetime.timedelta(minutes=3), "e", 9),
            (1, 5, EPOCH + datetime.timedelta(minutes=4), "p", 0),
            (2, 6, EPOCH, "s", 0),
            (2, 7, EPOCH + datetime.timedelta(minutes=1), "e", 5),
            (2, 8, EPOCH + datetime.timedelta(minutes=2), "p", 0),
        ],
        "user_id long, event_id long, ts timestamp, event_type string, v long",
    )
    out = match_recognize(
        ev, "user_id", "ts", "S E{1,3} P", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
        measures={
            "anchor_id": F.col("anchor_id"),
            "n": F.col("E_n"),
            "s_sum": run_agg("sum", "E", F.col("v")),
            "s_cnt": run_agg("count", "E"),
            "s_min": run_agg("min", "E", F.col("v")),
            "s_max": run_agg("max", "E", F.col("v")),
            "s_first": run_agg("first", "E", F.col("v")),
            "s_first2": run_agg("first", "E", F.col("v"), n=2),
            "s_last": run_agg("last", "E", F.col("v")),
            "s_last1": run_agg("last", "E", F.col("v"), n=1),
            "s_oob": run_agg("first", "E", F.col("v"), n=5),
        },
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, 1, 3, 19, 3, 3, 9, 7, 9, 9, 3, None),
        (2, 6, 1, 5, 1, 5, 5, 5, None, 5, None, None),
    ]


def test_run_agg_rejections(spark):
    from flink_uba_spark.operators.match_recognize import RunAgg, run_agg

    ev = _mk_events(spark, [(1, 1, 0, "s")])
    with pytest.raises(ValueError, match="GREEDY-quantified"):
        match_recognize(
            ev, "user_id", "ts", "S E{1,3} P", _def3(),
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
            measures={"x": run_agg("sum", "S", F.col("event_id"))},
        ).collect()
    with pytest.raises(ValueError, match="single-plan"):
        match_recognize(
            ev, "user_id", "ts", "S E{1,3}? P", _def3(),
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
            measures={"x": run_agg("sum", "E", F.col("event_id"))},
        )
    with pytest.raises(ValueError, match="value column"):
        RunAgg("sum", "E")
    with pytest.raises(ValueError, match="one of"):
        RunAgg("median", "E", F.col("event_id"))


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(
    st.tuples(st.integers(1, 3),           # user
              st.integers(0, 40),          # minute
              st.sampled_from("sep"),      # type
              st.integers(-9, 9)),         # value
    max_size=26,
))
@pytest.mark.slow
def test_run_agg_matches_all_rows_membership(spark, rows):
    """RunAgg aggregates must agree with aggregating the verified
    ALL-ROWS run membership (same spec, same skip fold) joined back to
    the input values — the two routes share only the engine, not the
    aggregation code."""
    from flink_uba_spark.operators.match_recognize import run_agg

    ev = spark.createDataFrame(
        [
            (u, i, EPOCH + datetime.timedelta(minutes=m), t, v)
            for i, (u, m, t, v) in enumerate(rows, start=1)
        ],
        "user_id long, event_id long, ts timestamp, event_type string, v long",
    )
    spec = dict(
        partition_by="user_id", order_by="ts", pattern="S E{1,4} P",
        define=_def3(), withins={"E": "INTERVAL 5 MINUTES",
                                 "P": "INTERVAL 30 MINUTES"},
        after_match="skip_past_last",
    )
    got = {
        (r["user_id"], r["anchor_id"]):
            (r["s"], r["c"], r["mn"], r["mx"], r["f"], r["l"])
        for r in match_recognize(
            ev, measures={
                "anchor_id": F.col("anchor_id"),
                "s": run_agg("sum", "E", F.col("v")),
                "c": run_agg("count", "E"),
                "mn": run_agg("min", "E", F.col("v")),
                "mx": run_agg("max", "E", F.col("v")),
                "f": run_agg("first", "E", F.col("v")),
                "l": run_agg("last", "E", F.col("v")),
            }, **spec,
        ).collect()
    }
    all_rows = match_recognize(ev, rows_per_match="all", **spec)
    members = (
        all_rows.filter(F.col("var") == "E")
        .join(ev.select(F.col("event_id"), F.col("v")), on="event_id")
        .collect()
    )
    ref = {}
    for r in members:
        ref.setdefault((r["user_id"], r["anchor_id"]), []).append(
            (r["ts"], r["event_id"], r["v"])
        )
    expect = {
        k: (
            sum(v for _, _, v in vs), len(vs),
            min(v for _, _, v in vs), max(v for _, _, v in vs),
            sorted(vs)[0][2], sorted(vs)[-1][2],
        )
        for k, vs in ref.items()
    }
    assert got == expect


# ---- routing-matrix lifts: quantified group + iterative run ----

def test_quantified_group_one_row_and_all_rows(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, EPOCH, "s"),
            (1, 2, EPOCH + datetime.timedelta(minutes=1), "c"),
            (1, 3, EPOCH + datetime.timedelta(minutes=2), "v"),
            (1, 4, EPOCH + datetime.timedelta(minutes=3), "c"),
            (1, 5, EPOCH + datetime.timedelta(minutes=4), "c"),
            (1, 6, EPOCH + datetime.timedelta(minutes=5), "p"),
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    d = {
        "S": F.col("event_type") == "s", "C": F.col("event_type") == "c",
        "V": F.col("event_type") == "v", "P": F.col("event_type") == "p",
    }
    one = match_recognize(
        ev, "user_id", "ts", "S (C|V){1,3} P", d,
        default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
    ).collect()
    assert len(one) == 1
    r = one[0]
    # greedy run caps at 3: events 2,3,4; last = minute 3; n = 3
    assert r["C_V_n"] == 3
    assert r["C_V_ts"] == EPOCH + datetime.timedelta(minutes=1)
    assert r["C_V_last_ts"] == EPOCH + datetime.timedelta(minutes=3)
    allr = match_recognize(
        ev, "user_id", "ts", "S (C|V){1,3} P", d,
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
        rows_per_match="all",
    ).collect()
    got = sorted((x["seq"], x["var"], x["event_id"]) for x in allr)
    # per-repetition CLASSIFIER: leftmost member matching each event
    assert got == [(1, "S", 1), (2, "C", 2), (2, "C", 4), (2, "V", 3),
                   (3, "P", 6)]


def test_quantified_group_conflicting_withins_raise(spark):
    ev = _mk_events(spark, [(1, 1, 0, "s")])
    d = {
        "S": F.col("event_type") == "s", "C": F.col("event_type") == "c",
        "V": F.col("event_type") == "v", "P": F.col("event_type") == "p",
    }
    with pytest.raises(ValueError, match="conflicting withins"):
        match_recognize(
            ev, "user_id", "ts", "S (C|V)+ P", d,
            withins={"C": "INTERVAL 1 HOUR", "V": "INTERVAL 2 HOURS",
                     "P": "INTERVAL 1 HOUR"},
            after_match="no_skip",
        )


def test_iterative_run_entry_admission(spark):
    """iter_define + quantifier: the condition admits the run's ENTRY
    (non-qualifying entries are skipped), the run follows the gap
    session, the next step binds after the run's LAST repetition."""
    ev = spark.createDataFrame(
        [
            (1, 1, EPOCH, "s", 10),
            (1, 2, EPOCH + datetime.timedelta(minutes=1), "e", 20),
            (1, 3, EPOCH + datetime.timedelta(minutes=2), "e", 5),
            (1, 4, EPOCH + datetime.timedelta(minutes=3), "e", 99),
            (1, 5, EPOCH + datetime.timedelta(minutes=4), "p", 11),
            (2, 6, EPOCH, "s", 10),
            (2, 7, EPOCH + datetime.timedelta(minutes=1), "e", 5),
            (2, 8, EPOCH + datetime.timedelta(minutes=2), "p", 9),
        ],
        "user_id long, event_id long, ts timestamp, event_type string, v long",
    )
    out = match_recognize(
        ev, "user_id", "ts", "S E{1,3} P", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
        payload={"cents": F.col("v")},
        iter_define={
            "E": lambda b: b["E"]["cents"] < b["S"]["cents"],
            "P": lambda b: b["P"]["cents"] >= b["S"]["cents"],
        },
    ).collect()
    assert len(out) == 1  # user 2's purchase fails the condition
    r = out[0]
    # entry 20 fails E's condition; entry is event 3 (cents 5), run 3-4
    assert (r["user_id"], r["anchor_id"], r["E_n"], r["cents_E"],
            r["cents_P"], r["end_id"]) == (1, 1, 2, 5, 11, 5)


def test_iterative_run_matches_plain_engine_when_unconditioned(spark):
    """With no condition on the quantified step, the iterative Kleene
    compile must agree with pattern_detect's greedy run on complete
    in-bound chains (two independent compiles, one semantics)."""
    import random

    from flink_uba_spark.operators.sequence import (
        pattern_detect,
        pattern_detect_iterative,
    )

    rng = random.Random(909)
    rows = []
    eid = 0
    for u in range(1, 9):
        for _ in range(rng.randint(2, 14)):
            eid += 1
            rows.append(
                (u, eid, EPOCH + datetime.timedelta(minutes=rng.randint(0, 50)),
                 rng.choice("seep"))
            )
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string")
    steps = [
        (F.col("event_type") == "s", None),
        # withins cover the whole fixture span: the iterative compile
        # enforces bounds at ADMISSION (join band) while the window
        # compile classifies them afterwards, so equivalence holds only
        # when no binding can fall out of bound
        (F.col("event_type") == "e", "INTERVAL 90 MINUTES", (1, 3)),
        (F.col("event_type") == "p", "INTERVAL 90 MINUTES"),
    ]
    ref = pattern_detect(ev, "user_id", steps).filter(
        F.col("state") == "matched")
    got = pattern_detect_iterative(ev, "user_id", steps)
    ref_rows = sorted(
        (r["user_id"], r["anchor_id"], r["t1"], r["t2"], r["t2_last"],
         r["n2"], r["t3"])
        for r in ref.collect()
    )
    got_rows = sorted(
        (r["user_id"], r["i1"], r["t1"], r["t2"], r["t2_last"],
         r["n2"], r["t3"])
        for r in got.collect()
    )
    assert got_rows == ref_rows


# ---- reluctant count-enumeration engine ----

def test_reluctant_enum_matches_union(spark):
    """pattern_detect_reluctant_enum must agree bit-for-bit with the
    per-count union engine on finite ranges (both with_end_id modes) —
    the engines share nothing but the semantics. Deeper coverage:
    tools/nfa_soak.py enum (10k randomized cases vs brute_reluctant,
    overlapping predicates, ~40% uncapped)."""
    import random
    from collections import Counter

    from flink_uba_spark.operators.sequence import (
        pattern_detect_reluctant,
        pattern_detect_reluctant_enum,
    )

    rng = random.Random(77)
    for trial in range(3):
        rows, eid = [], 0
        for u in range(1, 6):
            for _ in range(rng.randint(2, 14)):
                eid += 1
                rows.append((u, eid, EPOCH + datetime.timedelta(
                    minutes=rng.randint(0, 40),
                    seconds=rng.choice([0, 0, 30])),
                    rng.choice("arrrx")))
        ev = spark.createDataFrame(
            rows,
            "user_id long, event_id long, ts timestamp, event_type string")
        mn, mx = sorted((rng.randint(1, 3), rng.randint(1, 4)))
        steps = [
            (F.col("event_type") == "a", None),
            (F.col("event_type") == "r", "INTERVAL 6 MINUTES", (mn, mx)),
            (F.col("event_type") == "x", "INTERVAL 15 MINUTES"),
        ]
        for wei in (False, True):
            ref = pattern_detect_reluctant(
                ev, "user_id", steps, reluctant={2}, with_end_id=wei)
            got = pattern_detect_reluctant_enum(
                ev, "user_id", steps, with_end_id=wei)
            r = Counter(map(repr, (tuple(x) for x in ref.collect())))
            g = Counter(map(repr, (tuple(x) for x in got.collect())))
            assert r == g, f"trial {trial} wei={wei} mn={mn} mx={mx}"


def test_reluctant_enum_uncapped_extends_caps(spark):
    """An uncapped spec's matched rows must equal the finite union at a
    cap no session can reach."""
    from collections import Counter

    from flink_uba_spark.operators.sequence import (
        pattern_detect_reluctant,
        pattern_detect_reluctant_enum,
    )

    rows = [
        (1, 1, 0, "a"), (1, 2, 1, "r"), (1, 3, 2, "r"), (1, 4, 3, "r"),
        (1, 5, 4, "r"), (1, 6, 5, "x"),
        (2, 7, 0, "a"), (2, 8, 1, "r"), (2, 9, 20, "r"), (2, 10, 21, "x"),
    ]
    ev = _mk_events(spark, [(u, i, m, t) for u, i, m, t in rows])
    steps_unc = [
        (F.col("event_type") == "a", None),
        (F.col("event_type") == "r", "INTERVAL 6 MINUTES", (1, float("inf"))),
        (F.col("event_type") == "x", "INTERVAL 30 MINUTES"),
    ]
    steps_cap = [steps_unc[0],
                 (steps_unc[1][0], steps_unc[1][1], (1, 10)),
                 steps_unc[2]]
    got = pattern_detect_reluctant_enum(ev, "user_id", steps_unc).filter(
        F.col("state") == "matched")
    ref = pattern_detect_reluctant(
        ev, "user_id", steps_cap, reluctant={2}).filter(
        F.col("state") == "matched")
    g = Counter(map(repr, (tuple(x) for x in got.collect())))
    r = Counter(map(repr, (tuple(x) for x in ref.collect())))
    assert g == r
    # user 1: counts 1..4 all complete; user 2: only count 1 reaches x
    assert sum(g.values()) == 5


def test_match_recognize_uncapped_front_end(spark):
    ev = _mk_events(spark, [
        (1, 1, 0, "s"), (1, 2, 1, "e"), (1, 3, 2, "e"), (1, 4, 3, "p"),
    ])
    out = match_recognize(
        ev, "user_id", "ts", "S E+? P", _def3(),
        default_within="INTERVAL 1 HOUR", after_match="no_skip",
    ).collect()
    assert sorted(r["E_n"] for r in out) == [1, 2]
    # non-enum shapes keep the finite-cap requirement
    with pytest.raises(ValueError, match="count-enumeration"):
        match_recognize(
            ev, "user_id", "ts", "S E+? C P",
            {**_def3(), "C": F.col("event_type") == "c"},
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
        )


# ---- streaming alternation / PERMUTE (preference-folded fused NFAs) ----

def test_stream_alternation_skip_raises(spark):
    ev = _mk_events(spark, [(1, 1, 0, "s")])
    d = {"S": F.col("event_type") == "s", "C": F.col("event_type") == "c",
         "V": F.col("event_type") == "v", "P": F.col("event_type") == "p"}
    with pytest.raises(ValueError, match="NO SKIP"):
        stream_match_recognize(
            ev, "user_id", "ts", "S (C|V) P", d,
            default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
        )
    with pytest.raises(ValueError, match="plain variables"):
        stream_match_recognize(
            ev, "user_id", "ts", "S (C|V) P{1,2}", d,
            default_within="INTERVAL 1 HOUR", after_match="no_skip",
        )


def test_preference_fused_fold_hand_case():
    """Drive make_preference_fused directly: branch 1 completes EARLIER
    but branch 0 (preferred) completes later — the fold must wait for
    the horizon and pick branch 0; an anchor where only branch 1
    completes yields branch 1."""
    import pandas as pd

    from flink_uba_spark.streaming.pattern import (
        make_pattern_matcher,
        make_preference_fused,
    )

    n = 2
    built = []
    for bi in range(2):
        det = make_pattern_matcher(["s1", "s2"], [None, 60_000_000],
                                   kleenes=[None, None])

        def project(frame, _bi=bi):
            f = frame[frame["state"] == "matched"]
            f = f[["user_id", "anchor_id", "t1", "t2"]].copy()
            f["__branch"] = _bi
            return f

        built.append((det, [f"c{bi}a", f"c{bi}b"], project))
    det = make_preference_fused(built, n, 60_000_000)
    # anchor 1 at 0s: branch1 completes FIRST (10s) but branch0 also
    # completes (20s) — preference must still pick branch 0.
    # anchor 10 at 30s: no c0b ever follows, only branch1 completes.
    rows = [
        # (eid, ts_ms, c0a, c0b, c1a, c1b)
        (1, 0, True, False, True, False),
        (2, 10_000, False, False, False, True),
        (3, 20_000, False, True, False, False),
        (10, 30_000, True, False, True, False),
        (4, 31_000, False, False, False, True),
    ]

    def mk(batch, clock_ms):
        """Key 1's rows, and a key-2 row at ``clock_ms`` that matches
        nothing: the next batch runs at that watermark."""
        return pd.DataFrame([
            {"event_id": e, "ts": pd.Timestamp(T0 + ms * 1000, unit="us"), "user_id": u,
             "c0a": a, "c0b": b, "c1a": c, "c1b": d_}
            for u, (e, ms, a, b, c, d_) in [(1, r) for r in batch]
            + [(2, (0, clock_ms, False, False, False, False))]
        ])

    def fold(frames):
        return sorted(
            (int(r.anchor_id), int(r._1))
            for f in frames for r in f.itertuples(index=False) if r.user_id == 1
        )

    harness = StateHarness(det)
    # wm still 0: nothing final
    assert fold(harness.batch(mk(rows, 62_000))) == []
    # wm past anchor 1's horizon only: branch 0 wins despite branch 1
    # completing first
    got = fold(harness.batch(mk([(99, 62_000, False, False, False, False)], 95_000)))
    assert got == [(1, 0)]
    # wm past anchor 10's horizon: only branch 1 completed there
    got += fold(harness.batch(mk([], 200_000)))
    assert sorted(got) == [(1, 0), (10, 1)]
    # exactly-once: the last timer fire emits nothing new
    assert fold(harness.flush()) == []


def test_reluctant_enum_lazy_fold_matches_pipeline(spark):
    """lazy_fold=True (in-kernel preference + SKIP PAST LAST walk) must
    be bit-equal to the 3-stage window-preference + after-match-fold
    pipeline over the same enum candidates."""
    import random
    from collections import Counter

    from pyspark.sql import Window

    from flink_uba_spark.operators.sequence import (
        after_match_skip_past_last,
        pattern_detect_reluctant_enum,
    )

    rng = random.Random(55)
    for trial in range(3):
        rows, eid = [], 0
        for u in range(1, 6):
            for _ in range(rng.randint(2, 16)):
                eid += 1
                rows.append((u, eid, EPOCH + datetime.timedelta(
                    minutes=rng.randint(0, 40),
                    seconds=rng.choice([0, 0, 30])),
                    rng.choice("arrrx")))
        ev = spark.createDataFrame(
            rows,
            "user_id long, event_id long, ts timestamp, event_type string")
        mn, mx = sorted((rng.randint(1, 3), rng.randint(1, 4)))
        steps = [
            (F.col("event_type") == "a", None),
            (F.col("event_type") == "r", "INTERVAL 6 MINUTES", (mn, mx)),
            (F.col("event_type") == "x", "INTERVAL 15 MINUTES"),
        ]
        ref = pattern_detect_reluctant_enum(
            ev, "user_id", steps, with_end_id=True,
        ).filter(F.col("state") == "matched")
        w = Window.partitionBy("user_id", "anchor_id").orderBy(
            "t3", "end_id", "n2")
        ref = (
            ref.withColumn("__p", F.row_number().over(w))
            .filter(F.col("__p") == 1).drop("__p")
        )
        ref = after_match_skip_past_last(ref, key="user_id")
        got = pattern_detect_reluctant_enum(
            ev, "user_id", steps, lazy_fold=True,
        ).filter(F.col("state") == "matched")
        r = Counter(map(repr, (tuple(x) for x in ref.collect())))
        g = Counter(map(repr, (tuple(x) for x in got.collect())))
        assert r == g, f"trial {trial} mn={mn} mx={mx}"


def test_stream_iter_define_routing(spark):
    """Round-9 second pass: iter_define_py streams under NO SKIP on
    plain chains; everything else raises with the reason."""
    sdf = _stream_like(spark)
    base = dict(
        define=_def3(), default_within="INTERVAL 1 HOUR",
        payload={"cents": F.lit(1).cast("long")},
    )
    with pytest.raises(ValueError, match="NO SKIP"):
        stream_match_recognize(
            sdf, "user_id", "ts", "S E P",
            iter_define_py={"P": lambda pre, c: True},
            after_match="skip_past_last", **base,
        )
    with pytest.raises(ValueError, match="plain chains"):
        stream_match_recognize(
            sdf, "user_id", "ts", "S E{1,2} P",
            iter_define_py={"P": lambda pre, c: True},
            after_match="no_skip", **base,
        )
    with pytest.raises(ValueError, match="unknown variables"):
        stream_match_recognize(
            sdf, "user_id", "ts", "S E P",
            iter_define_py={"Z": lambda pre, c: True},
            after_match="no_skip", **base,
        )
    with pytest.raises(ValueError, match="no prefix"):
        stream_match_recognize(
            sdf, "user_id", "ts", "S E P",
            iter_define_py={"S": lambda pre, c: True},
            after_match="no_skip", **base,
        )
    # the happy path compiles; payload columns are renamed per variable
    out = stream_match_recognize(
        sdf, "user_id", "ts", "S E P",
        iter_define_py={"P": lambda pre, c: c[0] >= pre[0][0]},
        after_match="no_skip", **base,
    )
    assert {"S_ts", "E_ts", "P_ts", "cents_S", "cents_E", "cents_P",
            "anchor_id"} <= set(out.columns)
