"""Round-6 pins: uncapped oneOrMore (both engines), the single-operator
streaming branching NFA, the bounded-state argument under an endless hot
run, and the round-6 guard rails (ADVICE r5 items + verdict item 6)."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.state_harness import NO_TIMEOUT, T0, StateHarness, case_us, replay

US = 1_000_000


def _key1(detect, timers=False):
    """A state harness for key 1, with event-time timers when the
    pattern has a Kleene step, as the engine wires it."""
    if timers:
        return StateHarness(detect)
    return StateHarness(detect, timeout=NO_TIMEOUT, delay_ms=None)


def _state(harness):
    """Key 1's stored state, None when there is none."""
    return harness.states.get(1, (None, None))[0]


def _rows(*evs, t0=0):
    """Key 1's events ``(id, ts µs, type)``, times shifted by ``t0``."""
    return pd.DataFrame(
        [
            {"event_id": i, "ts": pd.Timestamp(t0 + ts_us, unit="us"), "user_id": 1, "event_type": t}
            for i, ts_us, t in evs
        ]
    )


def _collect(gen):
    frames = list(gen)
    return (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame()
    )


# ---------------------------------------------------------------------------
# uncapped oneOrMore — batch compiler
# ---------------------------------------------------------------------------


def _bdf(spark, rows):
    return spark.createDataFrame(
        [
            (i, u, t, datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=s))
            for i, u, t, s in rows
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )


def test_uncapped_one_or_more_batch_binds_whole_session(spark):
    from flink_uba_spark.operators.sequence import pattern_detect

    rows = [(1, 1, "A", 0)]
    # a 10-rep run at 10..100 (gap 10 s <= 30 s), then a session break,
    # then a second 2-rep run no uncapped binding should stop short of
    rows += [(i + 2, 1, "B", 10 + 10 * i) for i in range(10)]
    rows += [(20, 1, "B", 500), (21, 1, "B", 510)]
    rows += [(30, 1, "C", 600)]
    out = pattern_detect(
        _bdf(spark, rows),
        key="user_id",
        steps=[
            (F.col("event_type") == "A", None),
            (F.col("event_type") == "B", "INTERVAL 30 SECONDS", float("inf")),
            (F.col("event_type") == "C", None),
        ],
    ).collect()
    assert len(out) == 1
    r = out[0]
    # the run is the ENTIRE first gap-session — 10 reps, no cap truncation
    assert r.n2 == 10
    assert r.t2 == datetime.datetime(2020, 1, 1, 0, 0, 10)
    assert r.t2_last == datetime.datetime(2020, 1, 1, 0, 1, 40)
    # C binds strictly after the run's LAST repetition
    assert r.t3 == datetime.datetime(2020, 1, 1, 0, 10, 0)
    assert r.state == "matched"


def test_uncapped_min_reps_still_enforced(spark):
    from flink_uba_spark.operators.sequence import pattern_detect

    # times(3, inf): a 2-run is not a valid entry; the 4-run after it is
    rows = [(1, 1, "A", 0)]
    rows += [(2, 1, "B", 10), (3, 1, "B", 20)]
    rows += [(i + 4, 1, "B", 200 + 10 * i) for i in range(4)]
    rows += [(10, 1, "C", 300)]
    out = pattern_detect(
        _bdf(spark, rows),
        key="user_id",
        steps=[
            (F.col("event_type") == "A", None),
            (F.col("event_type") == "B", "INTERVAL 30 SECONDS", (3, float("inf"))),
            (F.col("event_type") == "C", None),
        ],
    ).collect()
    assert len(out) == 1 and out[0].n2 == 4
    assert out[0].t2 == datetime.datetime(2020, 1, 1, 0, 3, 20)


def test_uncapped_requires_finite_within(spark):
    from flink_uba_spark.operators.sequence import pattern_detect

    with pytest.raises(ValueError, match="uncapped oneOrMore"):
        pattern_detect(
            _bdf(spark, [(1, 1, "A", 0)]),
            key="user_id",
            steps=[
                (F.col("event_type") == "A", None),
                (F.col("event_type") == "B", None, float("inf")),
                (F.col("event_type") == "C", None),
            ],
        )


# ---------------------------------------------------------------------------
# uncapped oneOrMore — streaming NFA
# ---------------------------------------------------------------------------

_UNCAPPED_STEPS = ["A", "B", "C"]
_UNCAPPED_WITHINS = [None, 30 * US, None]
_UNCAPPED_KLEENES = [None, (30 * US, None), None]  # gap 30 s, NO cap


def test_uncapped_stream_run_crosses_batches_then_closes():
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        _UNCAPPED_STEPS, _UNCAPPED_WITHINS, kleenes=_UNCAPPED_KLEENES
    )
    st = _key1(detect, timers=True)
    # batch 1: anchor + 40 reps (10 s apart — far beyond any small cap)
    b1 = [(1, 0, "A")] + [(i + 2, (10 + 10 * i) * US, "B") for i in range(40)]
    out1 = _collect(st.batch(_rows(*b1, t0=T0)))
    assert len(out1) == 0 and _state(st) is not None
    # batch 2: 10 more reps continuing the run, then the gap lapses and C
    last = 10 + 10 * 39
    b2 = [(100 + i, (last + 10 + 10 * i) * US, "B") for i in range(10)]
    b2 += [(200, (last + 100 + 31) * US, "C")]
    out2 = _collect(st.batch(_rows(*b2, t0=T0)))
    assert len(out2) == 1
    r = out2.iloc[0]
    assert int(r["n2"]) == 50  # the whole 50-rep run, uncapped
    assert r["state"] == "matched"
    assert _state(st) is None


def test_uncapped_stream_state_stays_bounded_under_endless_hot_run():
    """The deployability claim behind uncapped oneOrMore (verdict item 2):
    an endless run grows the REP COUNTER, never the state — the frontier
    is fixed-width and the row buffer holds only the gap-horizon cohort
    at the protected frontier, regardless of how many reps have passed."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        _UNCAPPED_STEPS, _UNCAPPED_WITHINS, kleenes=_UNCAPPED_KLEENES
    )
    st = _key1(detect, timers=True)
    _collect(st.batch(_rows((1, 0, "A"), t0=T0)))
    eid, t, max_buf, max_chains = 2, 10, 0, 0
    for _ in range(50):  # 50 batches x 20 reps = a 1000-rep open run
        batch = []
        for _ in range(20):
            batch.append((eid, t * US, "B"))
            eid, t = eid + 1, t + 10
        _collect(st.batch(_rows(*batch, t0=T0)))
        assert _state(st) is not None
        aid, buf_ts = _state(st)[0], _state(st)[13]
        max_chains = max(max_chains, len(aid))
        max_buf = max(max_buf, len(buf_ts))
    # 1000 reps observed; state stayed O(1): one pending chain, and a
    # buffer that never exceeded the frontier's same-timestamp cohort
    assert max_chains == 1
    assert max_buf <= 25
    # the counter did see every rep
    assert int(np.asarray(_state(st)[8]).reshape(-1, 3)[0, 1]) == 1000


def test_strict_entry_composes_with_downstream_kleene():
    """strict and Kleene in ONE pattern (non-adjacent, the allowed
    composition): A →(next) B → C.oneOrMore(gap, uncapped) → D. The
    strict probe must bind B only as the immediate successor, and the
    Kleene run machinery (buffer, closure) must be undisturbed by the
    unfiltered witness rows strict mode keeps in the timeline."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        ["A", "B", "C", "D"],
        [None, None, 30 * US, None],
        kleenes=[None, None, (30 * US, None), None],
        stricts={2},
    )
    # key 1: A, B immediately, C-run of 3 (cross-batch), gap lapse, D
    st = _key1(detect, timers=True)
    out1 = _collect(
        st.batch(_rows((1, 0, "A"), (2, 5 * US, "B"), (3, 10 * US, "C"), t0=T0))
    )
    assert len(out1) == 0 and _state(st) is not None
    out2 = _collect(
        st.batch(_rows((4, 20 * US, "C"), (5, 30 * US, "C"),
                        (6, 100 * US, "D"), t0=T0))
    )
    assert len(out2) == 1
    r = out2.iloc[0]
    assert int(r["n3"]) == 3 and r["state"] == "matched"
    assert case_us(r["t2"]) == 5 * US

    # key 2: an irrelevant witness row between A and B breaks the chain
    # even though B would be the earliest followedBy binder
    st2 = _key1(detect, timers=True)
    out3 = _collect(
        st2.batch(_rows((1, 0, "A"), (2, 3 * US, "Z"), (3, 5 * US, "B"),
                        (4, 10 * US, "C"), (5, 100 * US, "D"), t0=T0))
    )
    assert len(out3) == 0


def test_uncapped_kleene_matches_bruteforce_property():
    """The uncapped sentinel path vs the round-5 brute-force reference:
    the matcher runs cap=None (the int64 sentinel), the brute runs an
    effectively-infinite integer cap — identical semantics required on
    randomized streams and micro-batch splits, including times(2, inf)."""
    import random

    from test_properties_round5 import _drive, brute_chain

    rng = random.Random(60601)
    for case in range(120):
        n_ev = rng.randint(0, 24)
        events = [
            (i, rng.randint(0, 40), rng.choice([1, 2, 4, 5, 6, 0]))
            for i in range(n_ev)
        ]
        cuts = {rng.randint(1, 40) for _ in range(rng.randint(0, 3))}
        mn = rng.choice([1, 2])
        steps_m = [(None, None), (6, (3, None, mn)), (None, None)]
        steps_b = [(None, None), (6, (3, 1 << 40, mn)), (None, None)]
        got, wm_ms = _drive(events, steps_m, cuts)
        want = brute_chain(events, steps_b, final_wm_ms=wm_ms)
        assert sorted(got) == want, (case, events, cuts, mn)


def test_kleene_step_requires_within_interval_in_stream_wiring(spark):
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = _bdf(spark, [(1, 1, "A", 0)])
    with pytest.raises(ValueError, match="Kleene steps need a within"):
        stream_pattern_detect(
            ev, key="user_id", steps=[("A", None), ("B", None, 3)]
        )


# ---------------------------------------------------------------------------
# guard rails (ADVICE r5 + verdict item 6)
# ---------------------------------------------------------------------------


def test_pattern_matcher_rejects_over_63_slots():
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    n = 64
    with pytest.raises(ValueError, match="63-bit"):
        make_pattern_matcher([f"s{i}" for i in range(n)], [None] * n)
    # guard slots count toward the bound: 32 steps + 32 guards = 64 slots
    n = 33
    with pytest.raises(ValueError, match="63-bit"):
        make_pattern_matcher(
            [f"s{i}" for i in range(n)],
            [None] * n,
            negations={k: f"x{k}" for k in range(1, n)},
        )
    # 63 slots is accepted
    make_pattern_matcher([f"s{i}" for i in range(63)], [None] * 63)


def test_branching_optional_bound_is_four(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_branching
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_branching

    ev = _bdf(spark, [(1, 1, "A", 0)])
    steps_b = [(F.col("event_type") == f"s{i}", None) for i in range(12)]
    with pytest.raises(ValueError, match="at most 4"):
        pattern_detect_branching(
            ev, key="user_id", steps=steps_b, optional={2, 4, 6, 8, 10}
        )
    steps_s = [(f"s{i}", None) for i in range(12)]
    with pytest.raises(ValueError, match="at most 4"):
        stream_pattern_detect_branching(
            ev, key="user_id", steps=steps_s, optional={2, 4, 6, 8, 10}
        )


def test_stream_branching_rejects_kleene_steps(spark):
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_branching

    ev = _bdf(spark, [(1, 1, "A", 0)])
    with pytest.raises(ValueError, match="plain"):
        stream_pattern_detect_branching(
            ev,
            key="user_id",
            steps=[("A", None), ("B", "INTERVAL 1 MINUTE", 3), ("C", None)],
            optional={2},
        )


# ---------------------------------------------------------------------------
# strict contiguity next()/notNext() — randomized brute equivalence
# ---------------------------------------------------------------------------


def _brute_strict(events, types, withins_us, stricts, not_nexts):
    """Plain-chain reference with next()/notNext(): events are
    (eid, ts_us, type) over arbitrary type strings; the total order is
    (ts, rank, id) with rank = first slot served (steps interleaved with
    notNext slots, non-slot rows last) — the engines' shared contract.
    Returns the rows the STREAM emits (complete, not killed)."""
    n = len(types)
    slot_of = {}
    rank_of_type = {}
    r = 1
    for k in range(1, n + 1):
        rank_of_type.setdefault(types[k - 1], r)
        slot_of[("p", k)] = r
        r += 1
        if k in not_nexts and k < n:
            rank_of_type.setdefault(not_nexts[k], r)
            r += 1
    default_rank = r

    def rank(t):
        return rank_of_type.get(t, default_rank)

    evs = sorted(events, key=lambda e: (e[1], rank(e[2]), e[0]))
    out = []
    for p0, (aid, ats, at) in enumerate(evs):
        if at != types[0]:
            continue
        bounds = {1: ats}
        pos = p0
        ok_complete = True
        killed = False
        for s in range(2, n + 1):
            if (s - 1) in not_nexts:
                if pos + 1 < len(evs) and evs[pos + 1][2] == not_nexts[s - 1]:
                    killed = True
                    break
            if s in stricts:
                if pos + 1 >= len(evs) or evs[pos + 1][2] != types[s - 1]:
                    ok_complete = False
                    break
                pos += 1
                bounds[s] = evs[pos][1]
            else:
                cands = [
                    (e[1], e[0], q)
                    for q, e in enumerate(evs)
                    if q > pos and e[2] == types[s - 1]
                ]
                if not cands:
                    ok_complete = False
                    break
                ts_e, _, q_e = min(cands)
                bounds[s] = ts_e
                pos = q_e
        if killed or not ok_complete:
            continue
        in_time = all(
            withins_us[s - 1] is None or bounds[s] <= bounds[s - 1] + withins_us[s - 1]
            for s in range(2, n + 1)
        )
        out.append(
            (aid, tuple(bounds[s] for s in range(1, n + 1)),
             "matched" if in_time else "matched_late")
        )
    return sorted(out)


def test_strict_and_not_next_match_bruteforce_property():
    """NFA vs brute on randomized streams and micro-batch splits — the
    strict successor check and the notNext cross-batch latch against an
    independent walk."""
    import random

    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    rng = random.Random(60606)
    shapes = [
        (["A", "B", "C"], [None, 20 * US, None], {2}, {}),
        (["A", "B", "C"], [None, None, 15 * US], {3}, {}),
        (["A", "B", "C"], [None, 25 * US, None], {2, 3}, {}),
        (["A", "B", "C"], [None, 20 * US, None], set(), {1: "X"}),
        (["A", "B", "C"], [None, None, None], set(), {1: "X", 2: "Y"}),
        (["A", "B", "C"], [None, 20 * US, None], {3}, {1: "X"}),
    ]
    for case in range(240):
        types, withins, stricts, nnx = shapes[case % len(shapes)]
        n_ev = rng.randint(0, 22)
        evs = [
            (i, rng.randint(0, 30) * US,
             rng.choice(["A", "B", "C", "X", "Y", "Z"]))
            for i in range(n_ev)
        ]
        cuts = sorted({rng.randint(1, 30) * US for _ in range(rng.randint(0, 3))})
        detect = make_pattern_matcher(
            types, withins, stricts=stricts, not_nexts=nnx
        )
        st = _key1(detect)
        got = []
        bounds = cuts + [10 ** 12]
        lo = -1
        for hi in bounds:
            batch = [e for e in evs if lo < e[1] <= hi]
            lo = hi
            if not batch:
                continue
            for f in st.batch(_rows(*batch)):
                for r in f.itertuples(index=False):
                    got.append(
                        (
                            r.anchor_id,
                            tuple(
                                pd.Timestamp(getattr(r, f"t{s}")).value // 1000
                                for s in range(1, len(types) + 1)
                            ),
                            r.state,
                        )
                    )
        want = _brute_strict(evs, types, withins, stricts, nnx)
        assert sorted(got) == want, (case, types, stricts, nnx, evs, cuts)


# ---------------------------------------------------------------------------
# trained classifier fixture (r5 verdict item 5)
# ---------------------------------------------------------------------------


def test_trained_classifier_fixture_is_committed_and_served(spark, sf_dir):
    """The committed trained dim: 256 quantized integer rows, and the
    catalog query serves it with the unchanged contract (doc_id, score,
    keep) over every document."""
    import os

    from flink_uba_spark.queries.datapipe import (
        _CLASSIFIER_FIXTURE,
        classifier_quality_filter_trained,
    )

    assert os.path.exists(_CLASSIFIER_FIXTURE)
    w = spark.read.parquet(_CLASSIFIER_FIXTURE).collect()
    assert len(w) == 256
    assert all(-127 <= r.weight <= 127 for r in w)
    assert any(r.weight != 0 for r in w)
    out = classifier_quality_filter_trained(spark, sf_dir).toPandas()
    assert list(out.columns) == ["doc_id", "score", "keep"]
    assert len(out) > 0 and str(out["score"].dtype) == "int64"


# ---------------------------------------------------------------------------
# BPE tokenizer training (round 6)
# ---------------------------------------------------------------------------


def test_bpe_train_learns_expected_merges_and_segments(spark):
    """Hand-verifiable corpus: 'aaab' x3 + 'ab' x2. Char pairs:
    (a,a) appears 2x per 'aaab' = 6; (a,b) = 3 + 2 = 5 → merge 1 = (a,a)
    with the GREEDY run rule ('a a a' -> '(aa) a', so post-merge 'aaab'
    is [aa, a, b]). Then (aa,a)=3, (a,b)=5 -> merge 2 = (a,b)."""
    from flink_uba_spark.operators.tokenizer import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aaab ab"), (3, "ab")],
        "doc_id long, text string",
    )
    rules = bpe_train(docs, n_merges=2).collect()
    assert [(r.step, r.lhs, r.rhs, r.pair_count) for r in rules] == [
        (1, "a", "a", 6),
        (2, "a", "b", 5),
    ]
    seg = {
        r.doc_id: r.bpe_tokens
        for r in bpe_segment(docs, [(r.lhs, r.rhs) for r in rules]).collect()
    }
    # 'aaab' -> [aa, a, b] -> merge(a,b) binds a+b -> [aa, ab] = 2 tokens
    # 'ab' -> [ab] = 1 token
    assert seg == {1: 4, 2: 3, 3: 1}


def test_bpe_tie_break_is_deterministic(spark):
    """Equal-count pairs break by (lhs, rhs) lexicographic — the
    cross-engine determinism contract."""
    from flink_uba_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame([(1, "xy cd")], "doc_id long, text string")
    rules = bpe_train(docs, n_merges=1).collect()
    assert (rules[0].lhs, rules[0].rhs, rules[0].pair_count) == ("c", "d", 1)


# ---------------------------------------------------------------------------
# single-operator streaming branching NFA
# ---------------------------------------------------------------------------

_BR_STEPS = ["view", "click", "purchase"]
_BR_WITHINS = [None, 30 * 60 * US, 120 * 60 * US]


def _br_rows(*evs):
    """``_rows`` as the branching operator receives them: one ``__p{k}``
    flag per step instead of the raw event type."""
    rows = _rows(*evs)
    for k, t in enumerate(_BR_STEPS, 1):
        rows[f"__p{k}"] = rows["event_type"] == t
    return rows.drop(columns="event_type")


def test_branching_matcher_emits_both_branches_across_batches():
    from flink_uba_spark.streaming.pattern import make_branching_matcher

    detect = make_branching_matcher(_BR_STEPS, _BR_WITHINS, [2])
    st = _key1(detect)
    # batch 1: anchor + click; neither branch completes, BOTH persist in
    # the one packed state row
    out1 = _collect(
        st.batch(_br_rows((1, 0, "view"), (2, 10 * 60 * US, "click")))
    )
    assert len(out1) == 0 and _state(st) is not None
    seg = [int(x) for x in _state(st)[-1]]
    n_fields = len(_state(st)) - 1
    per_branch_nonempty = [
        any(seg[b * n_fields + f] for f in range(n_fields)) for b in range(2)
    ]
    assert per_branch_nonempty == [True, True]
    # batch 2: one purchase completes BOTH branches
    out2 = _collect(
        st.batch(_br_rows((3, 60 * 60 * US, "purchase")))
    )
    out2 = out2.sort_values("skipped").reset_index(drop=True)
    assert list(out2["skipped"]) == ["2", "none"]
    assert list(out2["state"]) == ["matched", "matched"]
    taken = out2[out2["skipped"] == "none"].iloc[0]
    skipped = out2[out2["skipped"] == "2"].iloc[0]
    assert pd.Timestamp(taken["t2"]).value // 1000 == 10 * 60 * US
    assert pd.isna(skipped["t2"])
    assert int(taken["max_step"]) == 3 and int(skipped["max_step"]) == 2
    assert _state(st) is None  # all branches resolved -> packed state removed


def test_branching_matcher_skipped_branch_can_outlive_taken():
    """No click ever arrives: the taken branch stays incomplete (emits
    nothing), the skipped branch still matches — per-branch independence,
    exactly the reference's branching NFA."""
    from flink_uba_spark.streaming.pattern import make_branching_matcher

    detect = make_branching_matcher(_BR_STEPS, _BR_WITHINS, [2])
    st = _key1(detect)
    out = _collect(
        st.batch(_br_rows((1, 0, "view"), (2, 60 * 60 * US, "purchase")))
    )
    assert len(out) == 1 and out.iloc[0]["skipped"] == "2"
    assert out.iloc[0]["state"] == "matched"
    # the taken branch is still pending (waiting on a click)
    assert _state(st) is not None


# ---------------------------------------------------------------------------
# after-match skip strategy: SKIP_PAST_LAST_EVENT (round 6)
# ---------------------------------------------------------------------------


def _skip_batch(spark, rows):
    from flink_uba_spark.operators.sequence import (
        after_match_skip_past_last,
        pattern_detect,
    )

    m = pattern_detect(
        _bdf(spark, rows),
        key="user_id",
        steps=[
            (F.col("event_type") == "view", None),
            (F.col("event_type") == "click", None),
            (F.col("event_type") == "purchase", None),
        ],
        with_end_id=True,
    ).filter(F.col("state") == "matched")
    return (
        after_match_skip_past_last(m, key="user_id")
        .orderBy("anchor_id")
        .collect()
    )


def test_skip_past_last_batch_segments_episodes(spark):
    """Overlapping view→click→purchase candidates collapse to the greedy
    non-overlapping episode set: after the first match ends, only runs
    anchored strictly past its last event survive."""
    rows = [
        (1, 7, "view", 0), (2, 7, "click", 10), (3, 7, "view", 20),
        (4, 7, "purchase", 30), (5, 7, "view", 40), (6, 7, "click", 50),
        (7, 7, "purchase", 60),
    ]
    out = _skip_batch(spark, rows)
    # candidates: anchor 1 ends @30; anchors 3 and 5 both end @60.
    # greedy: keep 1 (le=30); keep 3 (anchor 20s < 30s? no — anchor ts
    # 20 <= end ts 30 ... anchor 3 @20s is NOT past le -> dropped); keep
    # 5 (@40s > 30s, ends @60)
    assert [r.anchor_id for r in out] == [1, 5]
    assert [r.end_id for r in out] == [4, 7]


def test_skip_past_last_same_end_event_earliest_anchor_wins(spark):
    rows = [
        (1, 7, "view", 0), (2, 7, "view", 10),
        (3, 7, "click", 20), (4, 7, "purchase", 30),
    ]
    out = _skip_batch(spark, rows)
    assert [r.anchor_id for r in out] == [1]


def test_skip_past_last_stream_horizon_outlives_chains():
    """The (end_ts, end_id) horizon persists in state after every chain
    resolves, so a same-ts anchor with a smaller id arriving in a later
    micro-batch is still excluded (SKIP_PAST_LAST_EVENT is strict)."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        ["view", "click", "purchase"], [None, None, None],
        after_match="skip_past_last",
    )
    st = _key1(detect)
    out1 = _collect(
        st.batch(_rows((1, 0, "view"), (2, 10, "click"), (5, 20, "purchase")))
    )
    assert list(out1["anchor_id"]) == [1]
    # no chains pending, but the horizon (20, 5) lives on as state
    # field 18 = ams_horizon (round 7 appended buf_pos/seq after it)
    assert _state(st) is not None and list(_state(st)[18]) == [20, 5]
    assert len(_state(st)[0]) == 0
    # a view at the SAME ts as the emitted end, smaller id: blocked
    out2 = _collect(
        st.batch(_rows((3, 20, "view"), (6, 30, "click"), (7, 40, "purchase")))
    )
    assert len(out2) == 0
    # a view at the same ts with a LARGER id anchors normally
    out3 = _collect(
        st.batch(_rows((8, 40, "view"), (9, 50, "click"), (10, 60, "purchase")))
    )
    assert list(out3["anchor_id"]) == [8]
    assert list(_state(st)[18]) == [60, 10]


def test_skip_past_last_prunes_pending_runs():
    """A pending run anchored at or before an emitted match's last event
    is discarded — later binders must not resurrect it."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        ["view", "click", "purchase"], [None, None, None],
        after_match="skip_past_last",
    )
    st = _key1(detect)
    out1 = _collect(
        st.batch(_rows(
                (1, 0, "view"), (2, 5, "click"),
                (3, 10, "view"), (4, 20, "purchase"),
            ))
    )
    # anchor 1 completes (end @20); anchor 3 (@10 <= 20) is pruned
    assert list(out1["anchor_id"]) == [1]
    assert len(_state(st)[0]) == 0  # no pending chains survive
    out2 = _collect(
        st.batch(_rows((5, 30, "click"), (6, 40, "purchase")))
    )
    assert len(out2) == 0


def test_skip_past_last_late_chain_is_discarded_silently():
    """A chain completing outside its within bound is a discarded partial
    match under a skip strategy: it neither emits nor advances the
    horizon, so the next in-bound match still wins."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(
        ["view", "purchase"], [None, 10], after_match="skip_past_last"
    )
    st = _key1(detect)
    out = _collect(
        st.batch(_rows(
                (1, 0, "view"), (2, 50, "purchase"),   # late (gap 50 > 10)
                (3, 60, "view"), (4, 65, "purchase"),  # in bound
            ))
    )
    assert list(out["anchor_id"]) == [3]
    assert list(out["state"]) == ["matched"]


def test_after_match_validation():
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    with pytest.raises(ValueError, match="after_match"):
        make_pattern_matcher(["a", "b"], [None, None], after_match="bogus")
    with pytest.raises(ValueError, match="plain chains"):
        make_pattern_matcher(
            ["a", "b"], [None, 10], kleenes=[None, (10, 3)],
            after_match="skip_past_last",
        )
    with pytest.raises(ValueError, match="plain chains"):
        make_pattern_matcher(
            ["a", "b", "c"], [None, None, None], stricts={2},
            after_match="skip_past_last",
        )


def test_with_end_id_trailing_kleene_is_run_last(spark):
    """Round 9 second pass LIFTED the r6 plain-last-step restriction:
    with_end_id on a trailing Kleene step returns the run's LAST
    repetition's id (il{n}) as end_id."""
    from flink_uba_spark.operators.sequence import pattern_detect

    out = pattern_detect(
        _bdf(spark, [(1, 1, "a", 0), (2, 1, "b", 10), (3, 1, "b", 20)]),
        key="user_id",
        steps=[
            (F.col("event_type") == "a", None),
            (F.col("event_type") == "b", "INTERVAL 1 MINUTE", 3),
        ],
        with_end_id=True,
    ).filter(F.col("state") == "matched").collect()
    assert len(out) == 1
    assert out[0]["n2"] == 2 and out[0]["end_id"] == 3


def test_skip_past_last_matches_bruteforce_property():
    """Randomized NFA-over-splits vs the greedy brute fold (the soak's
    skip mode at regression size)."""
    import random

    from test_properties_round5 import brute_skip_past_last, slot_layout
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    for seed in range(150):
        rnd = random.Random(seed * 7919 + 5)
        n = rnd.randint(2, 4)
        guards = (
            frozenset([rnd.randint(1, n - 1)])
            if rnd.random() < 0.4 else frozenset()
        )
        withins = [rnd.choice([None, rnd.randint(2, 40)]) for _ in range(n)]
        slots, pslot, gslot = slot_layout(n, guards)
        nslots = len(slots)
        events = [
            (i, rnd.randint(0, 120),
             rnd.getrandbits(nslots) if rnd.random() < 0.95 else 0)
            for i in range(rnd.randint(0, 30))
        ]
        cuts = sorted({rnd.randint(1, 120) for _ in range(rnd.randint(0, 4))})
        detect = make_pattern_matcher(
            [f"s{k}" for k in range(1, n + 1)], withins,
            negations={k: f"x{k}" for k in gslot},
            after_match="skip_past_last",
        )
        # plain steps, no ttl: the engine runs it without timers
        frames, _ = replay(
            detect, events, cuts,
            lambda e: {f"__{kind}{k}": bool(e[2] >> si & 1) for si, (kind, k) in enumerate(slots)},
            timers=False,
        )
        got = [
            (r.anchor_id, tuple(case_us(getattr(r, f"t{s}")) for s in range(1, n + 1)), r.state)
            for f in frames for r in f.itertuples(index=False)
        ]
        want = brute_skip_past_last(
            events, [(w, None) for w in withins], guards=guards
        )
        assert sorted(got) == want, (seed, n, guards, withins, events, cuts)


# ---------------------------------------------------------------------------
# PMI collocations (round 6)
# ---------------------------------------------------------------------------


def test_collocations_pmi_matches_python_brute_and_ranks_rare_pairs(spark):
    from collections import Counter

    from flink_uba_spark.operators.corpus import collocations_pmi

    texts = [
        "x y the a the b x y the c",
        "the a x y the b the c the a",
        "b the c the a the b the a b",
        "x y b a the the c a b the",
    ]
    out = collocations_pmi(
        spark.createDataFrame([(t,) for t in texts], "text string"),
        min_count=2, top_k=10,
    ).collect()

    uni, bi = Counter(), Counter()
    for t in texts:
        w = t.split(" ")
        uni.update(w)
        bi.update(zip(w, w[1:]))
    n = sum(uni.values())
    want = [
        (w1, w2, c, uni[w1], uni[w2], c * 1_000_000 * n // (uni[w1] * uni[w2]))
        for (w1, w2), c in bi.items() if c >= 2
    ]
    want.sort(key=lambda r: (-r[5], r[0], r[1]))
    got = [(r.w1, r.w2, r.n_xy, r.n_x, r.n_y, r.pmi_score) for r in out]
    assert got == want[:10]
    assert [r.rnk for r in out] == list(range(1, len(got) + 1))
    # the perfectly-correlated rare pair (x, y) must outrank every
    # pairing of the frequent loose token 'the'
    assert (out[0].w1, out[0].w2) == ("x", "y")
    assert all(
        r.pmi_score < out[0].pmi_score for r in out if "the" in (r.w1, r.w2)
    )


def test_revenue_rollup_single_expand_one_agg_exchange(spark, sf_dir):
    """ROLLUP compiles to ONE Expand (3 grouping sets) feeding a single
    partial+final hash aggregate — not one scan per grouping set — and
    only the bounded nation dim carries a forced broadcast."""
    from flink_uba_spark.queries import tpch

    df = tpch.revenue_rollup_nation_year(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Expand") == 1
    assert "partial_sum" in p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1  # nation only


def test_sorted_neighborhood_finds_adjacent_near_dups_within_blocks(spark):
    from flink_uba_spark.operators.dedup import sorted_neighborhood_candidates

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 1
        (3, "alpha zz yy xx ww vv uu tt"),                     # same block, unrelated
        (4, "omega beta gamma delta epsilon zeta eta theta"),  # other block: never compared to 1
    ]
    out = sorted_neighborhood_candidates(
        spark.createDataFrame(docs, "doc_id long, text string"),
        window=2, threshold_permille=500,
    ).collect()
    pairs = {(r.doc_id_a, r.doc_id_b): r.jaccard_permille for r in out}
    # doc_id_a = earlier in the (block, prefix, id) sort order — doc 2's
    # prefix ("...eta iota") sorts before doc 1's ("...eta theta");
    # the block boundary isolates 4; 3 is below threshold
    assert set(pairs) == {(2, 1)}
    # 6 shingles each, 5 shared → union 7
    assert pairs[(2, 1)] == 5 * 1000 // 7
