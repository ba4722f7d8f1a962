"""Streaming event-time OVER aggregation (streaming/over_agg.py, round
8) — Flink SQL's ``SUM OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN
<range> PRECEDING AND CURRENT ROW)`` twin.

The state function is driven through the state harness
(``tests/state_harness.py``) over randomized events and batch splits,
its timers firing mid-stream, against a brute pandas/numpy
reference of the RANGE-frame semantics + the strict watermark-final
emission contract: a row emits exactly once, when the watermark passes
its event time STRICTLY, with the frame sum over [ts − range, ts]
(equal-ts peers included); rows at/above the terminal watermark stay
pending (the frontier cut the catalog oracle applies identically).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_uba_spark.streaming.over_agg import make_over_aggregator
from tests.state_harness import T0, StateHarness, case_us, replay


def brute_over(events, range_us, final_wm_ms):
    """(eid, ts_us, val) → [(eid, ts_us, val, frame_sum)] for rows
    strictly below the terminal watermark."""
    out = []
    for eid, ts, val in events:
        if ts >= final_wm_ms * 1000:
            continue
        s = sum(v for _, t2, v in events if ts - range_us <= t2 <= ts)
        out.append((eid, ts, val, s))
    return sorted(out)


def _drive(events, cuts, range_us=None, n_prec=None):
    """The aggregator (RANGE frame ``range_us`` or ROWS frame ``n_prec``)
    through the state harness over ``events`` split at ``cuts``; returns
    the emitted rows and the final watermark in ms."""
    det = make_over_aggregator(range_us, rows_preceding=n_prec)
    frames, wm_final = replay(det, events, sorted(cuts), lambda e: {"val": e[2]})
    got = [
        (int(r.event_id), case_us(r.ts), int(r.val), int(r.agg))
        for f in frames for r in f.itertuples(index=False)
    ]
    return got, wm_final


@st.composite
def _over_case(draw):
    n_ev = draw(st.integers(0, 24))
    # sub-ms µs offsets included: the frontier-cut tail is exercised
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
@given(_over_case())
def test_over_agg_matches_brute(case):
    events, cuts, range_us = case
    got, wm_final = _drive(events, cuts, range_us)
    assert sorted(got) == brute_over(events, range_us, wm_final)
    # exactly-once: no event id emits twice
    ids = [g[0] for g in got]
    assert len(ids) == len(set(ids))


def test_over_agg_state_evicts_aged_rows():
    """Rows aged past wm − range leave state once emitted; pending rows
    never evict."""
    range_us = 5_000
    harness = StateHarness(make_over_aggregator(range_us))
    pdf = pd.DataFrame(
        [{"event_id": i, "ts": pd.Timestamp(T0 + i * 10_000, unit="us"), "user_id": 1, "val": 1}
         for i in range(10)]
    )
    assert harness.batch(pdf) == []              # wm=0: nothing emits
    assert len(harness.states[1][0][0]) == 10    # all pending
    out = harness.flush()                        # terminal watermark: 90 ms in
    assert len(out[0]) == 9                      # strict cut: row@90ms pends
    # emitted rows older than 90ms − 5ms evicted; the pending tail stays
    kept = harness.states[1][0]
    assert all(t >= T0 + 90_000 - range_us or e == 0
               for t, e in zip(kept[0], kept[3]))
    assert any(e == 0 for e in kept[3])


def test_over_agg_equal_ts_peers_included(spark):
    """RANGE frame: two purchases at the same timestamp see each other."""
    import datetime

    from pyspark.sql import functions as F

    from flink_uba_spark.streaming.runner import run_to_table
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    EPOCH = datetime.datetime(2020, 1, 1)
    rows = [
        (1, 1, EPOCH, 100.0),
        (2, 1, EPOCH, 50.0),                                  # peer
        (3, 1, EPOCH + datetime.timedelta(days=3), 10.0),
        (4, 1, EPOCH + datetime.timedelta(days=20), 7.0),     # frame reset
        (5, 1, EPOCH + datetime.timedelta(days=21), 0.0),     # tail flush
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    # availableNow over a memory batch isn't a thing — use the parquet-
    # replay helper used across the streaming tests
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.coalesce(1).write.parquet(f"{d}/ev")
        sdf = spark.readStream.schema(ev.schema).parquet(f"{d}/ev")
        out = run_to_table(
            stream_over_aggregate(
                sdf, key="user_id",
                value=F.floor(F.col("value") * 100),
                range_interval="INTERVAL 7 DAYS",
            )
        ).toPandas().set_index("event_id")
    assert int(out.loc[1, "agg"]) == 15000   # both peers
    assert int(out.loc[2, "agg"]) == 15000
    assert int(out.loc[3, "agg"]) == 16000
    assert int(out.loc[4, "agg"]) == 700     # 20d gap: frame reset
    assert 5 not in out.index               # terminal-watermark tail pends


def brute_over_rows(events, n_prec, final_wm_ms):
    """ROWS-frame reference: sum over the row and its n_prec predecessors
    in (ts, id) order, rows strictly below the terminal watermark."""
    order = sorted(events, key=lambda e: (e[1], e[0]))
    out = []
    for i, (eid, ts, val) in enumerate(order):
        if ts >= final_wm_ms * 1000:
            continue
        lo = max(0, i - n_prec)
        out.append((eid, ts, val, sum(v for _, _, v in order[lo:i + 1])))
    return sorted(out)


@st.composite
def _rows_case(draw):
    n_ev = draw(st.integers(0, 24))
    events = [
        (i, draw(st.integers(0, 30)) * 1000 + draw(st.integers(0, 3)),
         draw(st.integers(-5, 20)))
        for i in range(n_ev)
    ]
    cuts = draw(st.sets(st.integers(1, 30), max_size=4))
    n_prec = draw(st.integers(0, 6))
    return events, {c * 1000 for c in cuts}, n_prec


@settings(max_examples=60, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_rows_case())
def test_over_agg_rows_frame_matches_brute(case):
    """ROWS BETWEEN n PRECEDING AND CURRENT ROW — mid-stream eviction
    (keep the last n emitted rows) must never starve a later frame."""
    events, cuts, n_prec = case
    got, wm_final = _drive(events, cuts, n_prec=n_prec)
    assert sorted(got) == brute_over_rows(events, n_prec, wm_final)
    ids = [g[0] for g in got]
    assert len(ids) == len(set(ids))
