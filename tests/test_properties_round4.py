"""Hypothesis property tests for the round-4 operators: the streaming
pattern NFA must equal a brute-force reference of the batch compiler's
followed-by semantics on arbitrary event streams and ARBITRARY micro-batch
splits (state seams are where stateful streaming bugs live)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.state_harness import case_us, replay

US = 1
STEPS = ["v", "c", "p"]
WITHINS = [None, 5, 7]  # us-scale bounds so matched_late is reachable


def brute_pattern(events):
    """Reference: sort by (ts, rank, id); each step binds the (ts, id)-min
    candidate strictly after the previous step's sort position."""
    n = len(STEPS)

    def rank(t):
        return STEPS.index(t) + 1 if t in STEPS else n + 1

    evs = sorted(
        [e for e in events if e[2] in STEPS], key=lambda e: (e[1], rank(e[2]), e[0])
    )
    out = []
    for p0, (eid, ts, t) in enumerate(evs):
        if t != STEPS[0]:
            continue
        bounds = [ts]
        posidx = p0
        for s in range(2, n + 1):
            cands = [
                (evs[i][1], evs[i][0], i)
                for i in range(posidx + 1, len(evs))
                if evs[i][2] == STEPS[s - 1]
            ]
            if not cands:
                bounds = None
                break
            bt, _, bp = min(cands)
            bounds.append(bt)
            posidx = bp
        if bounds is None:
            continue
        ok = all(
            WITHINS[s - 1] is None or bounds[s - 1] <= bounds[s - 2] + WITHINS[s - 1]
            for s in range(2, n + 1)
        )
        out.append((eid, tuple(bounds), "matched" if ok else "matched_late"))
    return sorted(out)


events_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.sampled_from(["v", "c", "p", "x"])),
    min_size=0,
    max_size=24,
)
splits_strategy = st.sets(st.integers(1, 20), max_size=4)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(raw=events_strategy, cuts=splits_strategy)
def test_stream_pattern_nfa_matches_bruteforce_across_any_batch_split(raw, cuts):
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    events = [(i, ts, t) for i, (ts, t) in enumerate(raw)]
    want = brute_pattern(events)

    # split by event-time value (equal-ts rows stay together — the replay
    # contract); plain steps, no ttl: the engine runs it without timers
    frames, _ = replay(
        make_pattern_matcher(STEPS, WITHINS), events, sorted(cuts),
        lambda e: {"event_type": e[2]}, timers=False,
    )
    got = [
        (r.anchor_id, tuple(case_us(getattr(r, f"t{k}")) for k in (1, 2, 3)), r.state)
        for f in frames for r in f.itertuples(index=False)
    ]
    assert sorted(got) == want
