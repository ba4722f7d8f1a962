"""Budget-capped Kleene runs (operators/sequence.py
pattern_detect_budget_run, round 8) — ``oneOrMore().until`` with a
RUNNING-AGGREGATE stop: the run is the maximal prefix of the entry's
within-gap session whose cumulative non-negative payload stays ≤ budget
(stop BEFORE exceeding), optionally capped; an entry alone above budget
is not a valid binding.

The compile is array-vectorized (per-session prefix sums + one sorted
struct array) and binds via the iterative-join family — so the brute
here re-derives everything sequentially: (ts, id)-ordered sessions, a
literal prefix walk per entry, and (ts, rank, id)-admission scans for
both transitions.
"""

from __future__ import annotations

import pytest

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_uba_spark.operators.sequence import pattern_detect_budget_run
from tests.state_harness import case_us, replay

EPOCH = datetime.datetime(2020, 1, 1)


def brute_budget_run(events, budget, gap_us, sfx_us, cap=None):
    """(eid, ts_us, mask, pay): bit0 anchor, bit1 run, bit2 suffix.
    Returns sorted (anchor_id, t1, t2, t2_last, n2, spent, t3, end_id)."""

    def rank(m):
        return (m & -m).bit_length() if m else 99

    run_rows = sorted(
        [e for e in events if e[2] >> 1 & 1], key=lambda e: (e[1], e[0])
    )
    # sessions over run rows in (ts, id) order, split on gap
    sessions, cur = [], []
    for e in run_rows:
        if cur and e[1] > cur[-1][1] + gap_us:
            sessions.append(cur)
            cur = []
        cur.append(e)
    if cur:
        sessions.append(cur)
    entries = {}  # eid -> (ts, rank, id, t2_last, last_rank, last_id, n, spent)
    for sess in sessions:
        for j, e in enumerate(sess):
            if e[3] > budget:
                continue  # invalid entry
            total, n = 0, 0
            for f in sess[j:]:
                if total + f[3] > budget or (cap is not None and n >= cap):
                    break
                total += f[3]
                n += 1
            last = sess[j + n - 1]
            entries[e[0]] = (
                e[1], rank(e[2]), e[0], last[1], rank(last[2]), last[0],
                n, total,
            )
    out = []
    for a in events:
        if not (a[2] & 1):
            continue
        a_key = (a[1], rank(a[2]), a[0])
        cands = [
            v for v in entries.values()
            if (v[0], v[1], v[2]) > a_key and v[0] <= a[1] + gap_us
        ]
        if not cands:
            continue
        e = min(cands)
        sufs = [
            (s[1], rank(s[2]), s[0]) for s in events
            if s[2] >> 2 & 1
            and (s[1], rank(s[2]), s[0]) > (e[3], e[4], e[5])
            and s[1] <= e[3] + sfx_us
        ]
        if not sufs:
            continue
        s = min(sufs)
        out.append((a[0], a[1], e[0], e[3], e[6], e[7], s[0], s[2]))
    return sorted(out)


def _run_spark(spark, events, budget, gap_us, sfx_us, cap=None):
    rows = [
        (eid, 1, EPOCH + datetime.timedelta(microseconds=ts),
         bool(m & 1), bool(m >> 1 & 1), bool(m >> 2 & 1), pay)
        for eid, ts, m, pay in events
    ]
    schema = ("event_id long, user_id long, ts timestamp, a boolean, "
              "r boolean, s boolean, pay long")
    df = spark.createDataFrame(rows, schema)
    out = pattern_detect_budget_run(
        df, key="user_id",
        anchor=F.col("a"), run=F.col("r"), suffix=F.col("s"),
        payload=F.col("pay"), budget=budget,
        gap=f"INTERVAL {gap_us} MICROSECONDS",
        suffix_within=f"INTERVAL {sfx_us} MICROSECONDS",
        cap=cap,
    ).toPandas()

    def us(v):
        import pandas as pd

        return int((pd.Timestamp(v).to_pydatetime() - EPOCH).total_seconds() * 1e6)

    return sorted(
        (int(r["anchor_id"]), us(r["t1"]), us(r["t2"]), us(r["t2_last"]),
         int(r["n2"]), int(r["spent"]), us(r["t3"]), int(r["end_id"]))
        for _, r in out.iterrows()
    )


@st.composite
def _budget_case(draw):
    n_ev = draw(st.integers(0, 18))
    events = [
        (i, draw(st.integers(0, 60)), draw(st.integers(0, 7)),
         draw(st.integers(0, 8)))
        for i in range(n_ev)
    ]
    gap = draw(st.integers(2, 25))
    sfx = draw(st.integers(2, 40))
    budget = draw(st.integers(0, 15))
    cap = draw(st.sampled_from([None, 1, 2, 3]))
    return events, budget, gap, sfx, cap


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@pytest.mark.slow
@given(_budget_case())
def test_budget_run_matches_brute(spark, case):
    events, budget, gap, sfx, cap = case
    got = _run_spark(spark, events, budget, gap, sfx, cap)
    want = brute_budget_run(events, budget, gap, sfx, cap)
    assert got == want


def test_budget_run_pins(spark):
    """Hand pins: stop-before-exceeding, entry-above-budget skipped
    (times-validity: the anchor binds the NEXT valid entry), cap applies
    on top, zero-payload rows never consume budget."""
    ev = [
        # anchor, then run rows pay 40,30,50,10, then suffix
        (1, 0, 0b001, 0),
        (2, 10, 0b010, 40),
        (3, 20, 0b010, 30),
        (4, 30, 0b010, 50),
        (5, 40, 0b010, 10),
        (6, 50, 0b100, 0),
    ]
    got = _run_spark(spark, ev, 75, 100, 100)
    # run = [40, 30] (adding 50 would exceed 75), spent 70
    assert got == [(1, 0, 10, 20, 2, 70, 50, 6)]
    # entry above budget: anchor skips to the NEXT valid entry
    ev2 = [
        (1, 0, 0b001, 0),
        (2, 10, 0b010, 90),   # alone above budget -> invalid entry
        (3, 20, 0b010, 30),
        (4, 30, 0b100, 0),
    ]
    got2 = _run_spark(spark, ev2, 75, 100, 100)
    assert got2 == [(1, 0, 20, 20, 1, 30, 30, 4)]
    # cap cuts a within-budget run
    ev3 = [
        (1, 0, 0b001, 0),
        (2, 10, 0b010, 1), (3, 20, 0b010, 1), (4, 30, 0b010, 1),
        (5, 40, 0b100, 0),
    ]
    got3 = _run_spark(spark, ev3, 100, 100, 100, cap=2)
    assert got3[0][4] == 2 and got3[0][5] == 2
    # zero-payload rows extend the run freely at budget 0
    ev4 = [
        (1, 0, 0b001, 0),
        (2, 10, 0b010, 0), (3, 20, 0b010, 0),
        (4, 30, 0b100, 0),
    ]
    got4 = _run_spark(spark, ev4, 0, 100, 100)
    assert got4 == [(1, 0, 10, 20, 2, 0, 30, 4)]


# ---- streaming twin --------------------------------------------------------


def brute_budget_run_stream(events, budget, gap_us, sfx_us, cap, wm_final_ms):
    """The batch brute under the streaming finality cut: the run closed
    (cap, or gap lapsed past its last rep) and the suffix strictly below
    the terminal watermark."""
    wm_us = wm_final_ms * 1000
    out = []
    for row in brute_budget_run(events, budget, gap_us, sfx_us, cap):
        a_id, t1, t2, t2l, n, spent, t3, s_id = row
        if (n == cap or t2l + gap_us < wm_us) and t3 < wm_us:
            out.append(row)
    return sorted(out)


def _drive_stream(events, cuts, budget, gap, sfx, cap):
    """The matcher through the state harness over ``events`` split at
    ``cuts``; returns the emitted rows and the final watermark in ms."""
    from flink_uba_spark.streaming.budget_run import make_budget_run_matcher

    frames, wm_final = replay(
        make_budget_run_matcher(budget, cap, gap, sfx),
        [e for e in events if e[2] & 7],  # the scan filter: rows of some class
        sorted(cuts),
        lambda e: {**{f"f{k}": bool(e[2] >> (k - 1) & 1) for k in (1, 2, 3)}, "pay": e[3]},
    )
    got = [
        (int(r.anchor_id), case_us(r.t1), case_us(r.t2), case_us(r.t2_last),
         int(r.n2), int(r.spent), case_us(r.t3), int(r.end_id))
        for f in frames for r in f.itertuples(index=False)
    ]
    return got, wm_final


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_budget_case(), st.sets(st.integers(1, 60), max_size=4))
def test_budget_run_stream_matches_brute(case, raw_cuts):
    events, budget, gap, sfx, cap = case
    if cap is None:
        cap = 3
    # earliest-class classification (the twin's documented rule): rebuild
    # masks so the brute sees the same single-class rows
    def remask(m):
        return 1 if m & 1 else (2 if m >> 1 & 1 else (4 if m >> 2 & 1 else 0))

    # times, cuts, gap and suffix bound in ms (x1,000 µs): the watermark
    # is in ms, so µs-scale cases would never pass case time 0 and every
    # match would stay pending
    ev1 = [(eid, ts * 1000, remask(m), pay) for eid, ts, m, pay in events]
    got, wm_final = _drive_stream(ev1, {c * 1000 for c in raw_cuts}, budget,
                                  gap * 1000, sfx * 1000, cap)
    want = brute_budget_run_stream(ev1, budget, gap * 1000, sfx * 1000, cap, wm_final)
    assert sorted(got) == want
    ids = [g[0] for g in got]
    assert len(ids) == len(set(ids))        # exactly-once per anchor
