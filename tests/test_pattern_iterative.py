"""pattern_detect_iterative + stream_pattern_detect_iterative — Flink's
``IterativeCondition`` (``where(new IterativeCondition...)`` with
``ctx.getEventsForPattern``): step admissibility depending on the bound
prefix's values.

Brute reference here; hypothesis properties drive BOTH engines against it
(the stream through the state harness: micro-batch splits, mid-stream
timers and the final no-data batch); the distinguishing pin is condition-skip — a candidate failing its
iterative condition is SKIPPED and the search continues, which no
post-filter on the earliest match can reproduce. tools/nfa_soak.py gains an
``iter`` mode over the same brute. Catalog pair:
pattern_iterative_price_escalation / stream_... (3-SF DuckDB lateral-join
oracle).
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.state_harness import case_us, replay

EPOCH = datetime.datetime(2020, 1, 1)


def make_cond_py(spec):
    op, j = spec[0], spec[1]
    if op == "ge2x":
        return lambda pre, c: c[0] >= 2 * pre[j - 1][0]
    if op == "gt":
        return lambda pre, c: c[0] > pre[j - 1][0]
    if op == "le":
        return lambda pre, c: c[0] <= pre[j - 1][0]
    raise ValueError(op)


def make_cond_col(spec, k):
    op, j = spec[0], spec[1]
    if op == "ge2x":
        return F.col(f"v{k}") >= 2 * F.col(f"v{j}")
    if op == "gt":
        return F.col(f"v{k}") > F.col(f"v{j}")
    if op == "le":
        return F.col(f"v{k}") <= F.col(f"v{j}")
    raise ValueError(op)


def brute_iter(events, withins_us, conds, final_wm_us=None):
    """Greedy skip-till-next with iterative conditions.

    ``events``: (eid, ts_us, mask, val) on one key. ``conds``: dict step
    k -> spec for make_cond_py. Complete chains only; with
    ``final_wm_us`` set, restricted to chains whose END precedes it (the
    streaming emission contract). Returns sorted
    (i1..iN, t1..tN, v1..vN)."""
    n = len(withins_us)
    full = (1 << n) - 1
    evs = [(eid, ts, m & full, v) for eid, ts, m, v in events if m & full]

    def rank(m):
        return (m & -m).bit_length()

    evs.sort(key=lambda e: (e[1], rank(e[2]), e[0]))
    out = []
    for p0, (eid, ts0, m, v0) in enumerate(evs):
        if not (m & 1):
            continue
        chain = [p0]
        prefix = [(v0,)]
        pos = p0
        complete = True
        for s in range(2, n + 1):
            bound = evs[pos][1] + withins_us[s - 1]
            nxt = None
            for p in range(pos + 1, len(evs)):
                if evs[p][1] > bound:
                    break
                if evs[p][2] >> (s - 1) & 1 and (
                    s not in conds
                    or make_cond_py(conds[s])(prefix, (evs[p][3],))
                ):
                    nxt = p
                    break
            if nxt is None:
                complete = False
                break
            pos = nxt
            chain.append(nxt)
            prefix.append((evs[nxt][3],))
        if not complete:
            continue
        if final_wm_us is not None and evs[pos][1] >= final_wm_us:
            continue
        out.append(
            tuple(evs[p][0] for p in chain)
            + tuple(evs[p][1] for p in chain)
            + tuple(evs[p][3] for p in chain)
        )
    return sorted(out)


def run_iter_batch(spark, events, withins_us, conds, n):
    from flink_uba_spark.operators.sequence import pattern_detect_iterative

    schema = "event_id long, user_id long, ts timestamp, v long, " + ", ".join(
        f"c{j} boolean" for j in range(n)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts), val,
         *[bool(m >> j & 1) for j in range(n)])
        for eid, ts, m, val in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    out = pattern_detect_iterative(
        df,
        key="user_id",
        steps=[(F.col("c0"), None)]
        + [
            (F.col(f"c{k - 1}"), f"INTERVAL {withins_us[k - 1]} MICROSECONDS")
            for k in range(2, n + 1)
        ],
        payload={"v": F.col("v")},
        conds={k: make_cond_col(spec, k) for k, spec in conds.items()},
    ).toPandas()
    got = []
    for _, r in out.iterrows():
        got.append(
            tuple(int(r[f"i{k}"]) for k in range(1, n + 1))
            + tuple(
                int((r[f"t{k}"].to_pydatetime() - EPOCH).total_seconds() * 1e6)
                for k in range(1, n + 1)
            )
            + tuple(int(r[f"v{k}"]) for k in range(1, n + 1))
        )
    return sorted(got)


def run_iter_stream(events, withins_us, conds, n, cuts):
    """Drive make_iterative_matcher through the state harness over
    micro-batch splits (timers fire mid-stream and in the final no-data
    batch); returns the sorted emitted rows and the final watermark in
    µs."""
    from flink_uba_spark.streaming.pattern import make_iterative_matcher

    detect = make_iterative_matcher(
        n, [0] + list(withins_us[1:]), 1,
        {k: make_cond_py(spec) for k, spec in conds.items()},
    )
    frames, wm_ms = replay(
        detect,
        [e for e in events if e[2]],  # the scan filter
        cuts,
        lambda e: {"__v0": e[3], **{f"__p{k}": bool(e[2] >> (k - 1) & 1) for k in range(1, n + 1)}},
    )
    got = sorted(
        tuple(int(getattr(r, f"i{k}")) for k in range(1, n + 1))
        + tuple(case_us(getattr(r, f"t{k}")) for k in range(1, n + 1))
        + tuple(int(getattr(r, f"v0_{k}")) for k in range(1, n + 1))
        for f in frames for r in f.itertuples(index=False)
    )
    return got, wm_ms * 1000


def test_condition_skip_not_post_filter(spark):
    """THE IterativeCondition distinction: the earliest candidate fails
    the condition and is SKIPPED; a later candidate binds. A post-filter
    on the skip-till-next earliest match would emit nothing."""
    #        anchor v=10     fails (15 < 20)   binds (25 >= 20)
    events = [(1, 0, 0b01, 10), (2, 10, 0b10, 15), (3, 20, 0b10, 25)]
    conds = {2: ("ge2x", 1)}
    want = [(1, 3, 0, 20, 10, 25)]
    assert brute_iter(events, [0, 100], conds) == want
    assert run_iter_batch(spark, events, [0, 100], conds, 2) == want


def test_condition_references_anchor_and_previous(spark):
    """Step 3's condition reads step 2's bound value, step 2's reads the
    anchor — ctx.getEventsForPattern across the whole prefix."""
    events = [
        (1, 0, 0b001, 10),
        (2, 5, 0b010, 20),   # binds step 2 (20 >= 2*10)
        (3, 8, 0b100, 15),   # fails step 3 (15 <= 20) → skipped
        (4, 12, 0b100, 21),  # binds step 3 (21 > 20)
    ]
    conds = {2: ("ge2x", 1), 3: ("gt", 2)}
    want = [(1, 2, 4, 0, 5, 12, 10, 20, 21)]
    assert brute_iter(events, [0, 50, 50], conds) == want
    assert run_iter_batch(spark, events, [0, 50, 50], conds, 3) == want


def test_within_mandatory():
    from flink_uba_spark.operators.sequence import pattern_detect_iterative

    with pytest.raises(ValueError, match="within"):
        pattern_detect_iterative(
            None, key="k", steps=[(F.lit(True), None), (F.lit(True), None)]
        )


def test_stream_final_wm_restriction():
    """A chain ending AT the final watermark is not final (strict µs
    comparison) — the oracle's ms-floored restriction, pinned."""
    events = [(1, 1000, 0b01, 5), (2, 2000, 0b10, 9)]
    # final wm_ms = 2 → wm_us = 2000; end == 2000 → held back
    assert run_iter_stream(events, [0, 5000], {}, 2, []) == ([], 2000)
    assert brute_iter(events, [0, 5000], {}, final_wm_us=2000) == []
    # a later unrelated row pushes the wm past the end → emits
    events2 = events + [(3, 9000, 0b10, 1)]
    got, wm_us = run_iter_stream(events2, [0, 5000], {}, 2, [])
    assert wm_us == 9000
    assert got == brute_iter(events2, [0, 5000], {}, final_wm_us=9000)
    assert got == [(1, 2, 1000, 2000, 5, 9)]


def test_stream_final_watermark_one_ms_past_the_last_batch():
    """The iter soak's seed 1751: chain 0 → 2 ends at 42 ms, the last
    data batch runs at watermark 42 and the final no-data batch at 43.
    The chain is final there, so its timer must fire on that 1 ms
    advance (a timer re-armed to watermark + 1 never did)."""
    events = [
        (0, 40000, 3, 24), (1, 34000, 1, 21), (2, 42000, 2, 25), (3, 17000, 3, 22),
        (4, 15000, 1, 27), (5, 43000, 3, 4), (6, 39000, 2, 5), (7, 4000, 0, 3),
        (8, 5000, 1, 18), (9, 22000, 2, 7), (10, 10000, 0, 12), (11, 49000, 0, 4),
    ]
    got, wm_us = run_iter_stream(events, [0, 21000], {}, 2, [10000, 14000, 34000, 42000])
    assert wm_us == 43000
    assert (0, 2, 40000, 42000, 24, 25) in got
    assert got == brute_iter(events, [0, 21000], {}, final_wm_us=wm_us)


@st.composite
def iter_case(draw):
    n = draw(st.integers(2, 4))
    n_ev = draw(st.integers(0, 14))
    events = []
    for i in range(n_ev):
        ts = draw(st.integers(0, 50)) * 1000  # ms-aligned for the wm gate
        mask = draw(st.integers(1, (1 << n) - 1))
        val = draw(st.integers(0, 30))
        events.append((i + 1, ts, mask, val))
    withins = [0] + [draw(st.integers(2, 40)) * 1000 for _ in range(n - 1)]
    conds = {}
    for k in range(2, n + 1):
        if draw(st.booleans()):
            op = draw(st.sampled_from(["ge2x", "gt", "le"]))
            j = draw(st.integers(1, k - 1))
            conds[k] = (op, j)
    return events, n, withins, conds


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(iter_case())
def test_property_batch_matches_brute(spark, case):
    events, n, withins, conds = case
    assert run_iter_batch(spark, events, withins, conds, n) == brute_iter(
        events, withins, conds
    )


@settings(max_examples=40, deadline=None)
@given(iter_case(), st.lists(st.integers(0, 50), max_size=4))
def test_property_stream_matches_brute(case, raw_cuts):
    events, n, withins, conds = case
    cuts = sorted({c * 1000 for c in raw_cuts})
    got, final_wm = run_iter_stream(events, withins, conds, n, cuts)
    assert got == brute_iter(events, withins, conds, final_wm_us=final_wm)
