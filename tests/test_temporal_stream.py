"""Streaming event-time temporal table join
(streaming/temporal.py:make_temporal_join_matcher) — brute property over
micro-batch splits + timers; values 3-SF oracle-gated via
stream_temporal_join_price_at_view. The matcher runs through the state
harness (tests/state_harness.py)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.state_harness import case_us, replay


def brute_temporal(events, final_wm_us):
    """(rid, ts_us, is_fact, pay) on one key → emitted fact rows
    (fact_id, fact_ts, version_id or None): latest (ts, id) version
    at-or-before each fact with fact_ts < final_wm."""
    versions = sorted(
        ((ts, rid, pay) for rid, ts, isf, pay in events if not isf)
    )
    out = []
    for rid, ts, isf, _ in events:
        if not isf or ts >= final_wm_us:
            continue
        cand = [v for v in versions if v[0] <= ts]
        if cand:
            vts, vid, vpay = cand[-1]
            out.append((rid, ts, vid, vts, vpay))
        else:
            out.append((rid, ts, None, None, None))
    return sorted(out)


def run_temporal_stream(events, cuts):
    """The matcher through the state harness over ``events`` split at
    ``cuts``; returns the sorted emitted rows and the final watermark
    in µs."""
    from flink_uba_spark.streaming.temporal import make_temporal_join_matcher

    frames, wm_ms = replay(
        make_temporal_join_matcher(), events, cuts,
        lambda e: {"row_id": e[0], "is_fact": bool(e[2]), "payload": e[3]},
    )
    got = sorted(
        (
            int(r.fact_id),
            case_us(r.fact_ts),
            None if pd.isna(r.version_id) else int(r.version_id),
            case_us(r.version_ts),
            None if pd.isna(r.payload) else int(r.payload),
        )
        for f in frames for r in f.itertuples(index=False)
    )
    return got, wm_ms * 1000


def test_version_switch_and_null_before_first():
    events = [
        (1, 1000, True, 0),    # fact before any version → nulls
        (10, 2000, False, 5),  # version v=5
        (2, 3000, True, 0),    # fact reads v=5
        (11, 4000, False, 9),
        (3, 5000, True, 0),    # fact reads v=9
        (99, 9000, False, 1),  # tail row advances the wm past fact 3
    ]
    got, wm_us = run_temporal_stream(events, [])
    assert wm_us == 9000
    assert got == brute_temporal(events, 9000)
    assert got == [
        (1, 1000, None, None, None),
        (2, 3000, 10, 2000, 5),
        (3, 5000, 11, 4000, 9),
    ]


def test_same_ts_last_writer_wins():
    events = [
        (10, 1000, False, 5),
        (12, 1000, False, 9),  # same ts, higher id wins
        (1, 2000, True, 0),
        (99, 9000, False, 1),
    ]
    got, wm_us = run_temporal_stream(events, [])
    assert wm_us == 9000
    assert got == [(1, 2000, 12, 1000, 9)]
    assert got == brute_temporal(events, 9000)


@st.composite
def temporal_case(draw):
    n_ev = draw(st.integers(0, 16))
    events = []
    for i in range(n_ev):
        ts = draw(st.integers(0, 50)) * 1000
        isf = draw(st.booleans())
        pay = draw(st.integers(0, 20))
        events.append((i + 1, ts, isf, pay))
    cuts = sorted({c * 1000 for c in draw(st.lists(st.integers(0, 50), max_size=4))})
    return events, cuts


@settings(max_examples=60, deadline=None)
@given(temporal_case())
def test_property_matches_brute(case):
    events, cuts = case
    got, final_wm = run_temporal_stream(events, cuts)
    assert got == brute_temporal(events, final_wm)
