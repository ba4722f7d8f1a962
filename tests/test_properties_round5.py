"""Round-5 property tests: the GENERALIZED streaming pattern NFA
(streaming/pattern.py make_pattern_matcher with kleenes) must equal a
brute-force reference of the batch compiler's semantics — including
bounded Kleene steps at arbitrary positions and OVERLAPPING step
predicates (one event matching several steps, where the (ts, rank, id)
tie-order governs eligibility — the round-4 ADVICE gap) — on arbitrary
event streams and ARBITRARY micro-batch splits."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.state_harness import case_us, replay


def slot_layout(n, guards, untils=frozenset()):
    """Engine-identical slot order: positive step k, then its
    notFollowedBy guard (if any, and k < n) or its until() stop slot
    (round 7; guard and until are mutually exclusive per step — both own
    the engine's 2k rank)."""
    slots = []
    pslot, gslot, uslot = {}, {}, {}
    for k in range(1, n + 1):
        pslot[k] = len(slots)
        slots.append(("p", k))
        if k in guards and k < n:
            gslot[k] = len(slots)
            slots.append(("g", k))
        if k in untils:
            uslot[k] = len(slots)
            slots.append(("u", k))
    if untils:
        return slots, pslot, gslot, uslot
    return slots, pslot, gslot


def brute_chain(events, steps, final_wm_ms=None, guards=frozenset(), opts=frozenset(), stricts=frozenset(), with_end=False, untils=frozenset(), consecs=frozenset(), with_members=False):
    """Reference for the batch compiler's followed-by semantics plus the
    streaming run-closure filter and notFollowedBy kills.

    ``events``: (eid, ts_us, mask) with bit j = matches SLOT j (slot
    layout per ``slot_layout``). ``steps``: list of
    (within_us | None, kleene (gap_us, cap) | None). ``guards``: step
    indexes k with a forbidden predicate between k and k+1. ``stricts``
    (round 6): step indexes s whose transition is STRICT CONTIGUITY —
    the binder must be the immediate successor in the total order; every
    event (matching or not) is then a contiguity witness, so match-zero
    rows are KEPT and rank last at their timestamp, as in the engines.
    Returns sorted (anchor_id, bound-tuple, state) for chains the STREAM
    emits: complete, NOT killed by a guard, AND every Kleene run closed
    (cap, same-key evidence, or final watermark past last_rep + gap).
    ``with_members`` (round 12 — value-aggregate / ALL-ROWS soaks):
    append a per-step tuple of the bound MEMBER rows ``((ts, eid),
    ...)`` — a plain step's single binder, a Kleene step's whole run in
    (ts, id) order, nothing for a skipped optional."""
    n = len(steps)
    if untils:
        assert not (set(untils) & set(guards)), "until excludes a same-step guard"
        slots, pslot, gslot, uslot = slot_layout(n, guards, untils)
    else:
        slots, pslot, gslot = slot_layout(n, guards)
        uslot = {}
    nslots = len(slots)
    full = (1 << nslots) - 1
    if stricts or consecs:
        # strict / consecutive(): every event is a contiguity witness
        evs = [(eid, ts, m & full) for eid, ts, m in events]
    else:
        evs = [(eid, ts, m & full) for eid, ts, m in events if m & full]

    def rank(m):
        # lowest set slot, 1-based; witness rows (strict mode) rank LAST
        return (m & -m).bit_length() if m else nslots + 1

    evs.sort(key=lambda e: (e[1], rank(e[2]), e[0]))
    srows = {
        j: sorted((e[1], e[0], p) for p, e in enumerate(evs) if e[2] >> j & 1)
        for j in range(nslots)
    }
    def step_cands(s2, posidx):
        """Valid binding candidates of step s2 strictly after posidx —
        times(from, to) entries with short runs excluded."""
        kl2 = steps[s2 - 1][1]
        mn2 = kl2[2] if kl2 is not None and len(kl2) > 2 else 1
        rows2 = srows[pslot[s2]]
        if kl2 is not None and mn2 > 1:
            gap2 = kl2[0]
            # until cuts compare in the run machinery's (ts, id) order:
            # a U row at-or-after rep i and before rep i+1 splits them
            # (a dual rep+stop row ends its own run — <= on the left)
            ucut2 = (
                [(ts, eid) for (ts, eid, _) in srows[uslot[s2]]]
                if s2 in uslot
                else []
            )
            avail = [1] * len(rows2)
            for i in range(len(rows2) - 2, -1, -1):
                if (
                    rows2[i + 1][0] <= rows2[i][0] + gap2
                    and not any(
                        rows2[i][:2] <= u < rows2[i + 1][:2] for u in ucut2
                    )
                    # consecutive(): only position-adjacent reps extend
                    and (s2 not in consecs or rows2[i + 1][2] == rows2[i][2] + 1)
                ):
                    avail[i] += avail[i + 1]
            return [
                (ts, eid, p, i)
                for i, (ts, eid, p) in enumerate(rows2)
                if p > posidx and avail[i] >= mn2
            ]
        return [(ts, eid, p, i) for i, (ts, eid, p) in enumerate(rows2) if p > posidx]

    out = []
    for p0, (aid, ats, am) in enumerate(evs):
        if not (am >> pslot[1] & 1):
            continue
        bounds = {1: ats}
        members = {1: [(ats, aid)]}
        klast, kn = {}, {}
        posidx = p0
        complete = closed_all = True
        killed = False
        for s in range(2, n + 1):
            if s in stricts:
                # next(): bind the immediate successor or die; no guard /
                # optional / Kleene ever touches a strict transition
                if posidx + 1 >= len(evs) or not (
                    evs[posidx + 1][2] >> pslot[s] & 1
                ):
                    complete = False
                    break
                posidx += 1
                bounds[s] = evs[posidx][1]
                members[s] = [(evs[posidx][1], evs[posidx][0])]
                continue
            kl = steps[s - 1][1]
            cands = step_cands(s, posidx)
            if (s - 1) in gslot:
                g_after = [p for (_, _, p) in srows[gslot[s - 1]] if p > posidx]
                fb_pos = min(g_after) if g_after else None
                if fb_pos is not None and (
                    not cands or fb_pos < min(cands)[2]
                ):
                    killed = True
                    break
            if s in opts:
                # greedy race: skip s when the earliest step-(s+1)
                # candidate precedes the earliest step-s candidate
                b_cands = step_cands(s + 1, posidx)
                a_after = min(cands)[2] if cands else None
                b_min = min(b_cands)[2] if b_cands else None
                if b_min is not None and (a_after is None or b_min < a_after):
                    continue  # skipped: bounds[s] stays unset, posidx unchanged
            if not cands:
                complete = False
                break
            ts_e, id_e, p_e, i_e = min(cands)
            if kl is None:
                bounds[s] = ts_e
                members[s] = [(ts_e, id_e)]
                posidx = p_e
            else:
                gap, cap = kl[0], kl[1]
                rows = srows[pslot[s]]
                ucut = (
                    [(ts, eid) for (ts, eid, _) in srows[uslot[s]]]
                    if s in uslot
                    else []
                )
                j, cnt = i_e, 1
                while (
                    cnt < cap
                    and j + 1 < len(rows)
                    and rows[j + 1][0] <= rows[j][0] + gap
                    and not any(rows[j][:2] <= u < rows[j + 1][:2] for u in ucut)
                    and (s not in consecs or rows[j + 1][2] == rows[j][2] + 1)
                ):
                    j += 1
                    cnt += 1
                bounds[s] = ts_e
                members[s] = [(rows[x][0], rows[x][1])
                              for x in range(i_e, j + 1)]
                klast[s] = rows[j][0]
                kn[s] = cnt
                posidx = rows[j][2]
                last = rows[j][0]
                closed = (
                    cnt == cap
                    or any(e[1] > last + gap for e in evs)
                    or (final_wm_ms is not None and last + gap <= final_wm_ms * 1000)
                    # until(): an observed stop row at (dual) or after the
                    # run's last rep is definitive closure evidence
                    or any(u >= (rows[j][0], rows[j][1]) for u in ucut)
                    # consecutive(): ANY event at the next global position
                    # witnesses the loop's end (it failed to extend the run)
                    or (s in consecs and rows[j][2] + 1 < len(evs))
                    # consecutive(): the (ts, id)-next session row being
                    # observed and NOT having extended the walk (it failed
                    # adjacency/gap/cut) is also definitive — future rows
                    # sort after it and can never become the successor
                    or (s in consecs and j + 1 < len(rows))
                )
                closed_all = closed_all and closed
        if killed or not complete or not closed_all:
            continue
        ok = True
        for s in range(2, n + 1):
            w = steps[s - 1][0]
            if w is not None:
                if s not in bounds:
                    continue  # skipped optional: nothing to classify
                pk = s - 1
                if pk not in bounds:  # skipped optional predecessor
                    pk -= 1
                prev = klast.get(pk, bounds[pk])
                ok = ok and bounds[s] <= prev + w
        key = []
        for s in range(1, n + 1):
            key.append(bounds.get(s))
            if steps[s - 1][1] is not None:
                key += [klast[s], kn[s]]
        rec = [aid, tuple(key), "matched" if ok else "matched_late"]
        if with_end:
            # the chain's last bound event — after-match skip strategies
            # prune on its (ts, id)
            rec += [evs[posidx][1], evs[posidx][0]]
        if with_members:
            rec.append(tuple(
                tuple(members.get(s, ())) for s in range(1, n + 1)
            ))
        out.append(tuple(rec))
    return sorted(out)


def brute_skip_past_last(events, steps, final_wm_ms=None, guards=frozenset(),
                         within_overall_us=None, opts=frozenset()):
    """Greedy SKIP_PAST_LAST_EVENT selection over the per-anchor brute
    matches: completion order (end_ts, end_id, anchor_ts, anchor_id);
    keep iff the anchor is strictly past the last emitted end in
    (ts, id) order. Only 'matched' chains participate or emit.
    ``within_overall_us`` (round 10) prunes candidates whose end exceeds
    the anchor bound BEFORE the fold (inclusive bound). ``opts``
    (round 11) forwards optional steps to the brute's greedy race."""
    cands = [
        (aid, key, st, e_ts, e_id)
        for aid, key, st, e_ts, e_id in brute_chain(
            events, steps, final_wm_ms=final_wm_ms, guards=guards,
            with_end=True, opts=opts,
        )
        if st == "matched"
        and (within_overall_us is None or e_ts <= key[0] + within_overall_us)
    ]
    cands.sort(key=lambda c: (c[3], c[4], c[1][0], c[0]))
    le = (-1, -1)
    out = []
    for aid, key, st, e_ts, e_id in cands:
        if (key[0], aid) > le:
            out.append((aid, key, st))
            le = (e_ts, e_id)
    return sorted(out)


def brute_reluctant(events, steps, rel, final_wm_ms=None, guards=frozenset(),
                    untils=frozenset(), consecs=frozenset()):
    """Union-of-counts reference for ``pattern_detect_reluctant`` (round
    7 — Flink's DEFAULT non-greedy looping emission): for each Kleene
    step in ``rel`` with a finite (gap, cap, min) spec, run brute_chain
    once per admitted repetition count m (the exact-count spec
    ``(gap, m, m)``) and union the matches; duplicate rows (anchors
    whose reluctant run never bound agree across counts) collapse by
    set identity — the same full-row dedupe the engine's
    ``dropDuplicates`` performs."""
    from itertools import product as _product

    rel = sorted(rel)
    ranges = []
    for k in rel:
        gap, cap, mn = steps[k - 1][1]
        ranges.append(range(mn, cap + 1))
    seen = set()
    for combo in _product(*ranges):
        bsteps = list(steps)
        for k, m in zip(rel, combo):
            w, kl = bsteps[k - 1]
            bsteps[k - 1] = (w, (kl[0], m, m))
        seen |= set(
            brute_chain(
                events, bsteps, final_wm_ms=final_wm_ms, guards=guards,
                untils=untils, consecs=consecs,
            )
        )
    return sorted(seen)


def _drive(events, steps, cuts, guards=frozenset(), opts=frozenset(), stricts=frozenset()):
    """Run the streaming matcher through the state harness over ``events``
    split at ``cuts``, with timers when a step is Kleene (the engine's
    wiring); return (emitted rows, final watermark in ms or None).
    Events carry SLOT masks (per slot_layout); batches send __p/__g
    columns, exercising the general-predicate wire format."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    n = len(steps)
    slots, pslot, gslot = slot_layout(n, guards)
    detect = make_pattern_matcher(
        [f"s{k}" for k in range(1, n + 1)],
        [w for w, _ in steps],
        kleenes=[k for _, k in steps],
        negations={k: f"x{k}" for k in gslot},
        optionals=set(opts),
        stricts=set(stricts),
    )
    frames, wm_ms = replay(
        detect, events, sorted(cuts),
        lambda e: {f"__{kind}{k}": bool(e[2] >> j & 1) for j, (kind, k) in enumerate(slots)},
        timers=any(k is not None for _, k in steps),
    )
    got = []
    for f in frames:
        for r in f.itertuples(index=False):
            key = []
            for s in range(1, n + 1):
                key.append(case_us(getattr(r, f"t{s}")))
                if steps[s - 1][1] is not None:
                    key.append(case_us(getattr(r, f"t{s}_last")))
                    key.append(int(getattr(r, f"n{s}")))
            got.append((r.anchor_id, tuple(key), r.state))
    return got, wm_ms


# masks over 4 steps; 5 (=0b0101) matches steps 1 AND 3, 6 matches 2 AND 3:
# overlapping predicates — the rank tie-break territory ADVICE r4 flagged
MID_KLEENE_STEPS = [(None, None), (5, None), (4, (3, 3)), (7, None)]
events4_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.sampled_from([1, 2, 4, 8, 5, 6, 12, 0])),
    min_size=0,
    max_size=28,
)
splits_strategy = st.sets(st.integers(1, 40), max_size=4)


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(raw=events4_strategy, cuts=splits_strategy)
def test_mid_chain_kleene_with_overlaps_matches_bruteforce(raw, cuts):
    events = [(i, ts, m) for i, (ts, m) in enumerate(raw)]
    got, wm_ms = _drive(events, MID_KLEENE_STEPS, cuts)
    want = brute_chain(events, MID_KLEENE_STEPS, final_wm_ms=wm_ms)
    assert sorted(got) == want


PLAIN_OVERLAP_STEPS = [(None, None), (6, None), (9, None)]
events3_strategy = st.lists(
    st.tuples(st.integers(0, 25), st.sampled_from([1, 2, 4, 3, 6, 7, 0])),
    min_size=0,
    max_size=24,
)


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(raw=events3_strategy, cuts=st.sets(st.integers(1, 25), max_size=4))
def test_plain_pattern_with_overlapping_predicates_matches_bruteforce(raw, cuts):
    """ADVICE r4: an event matching several steps must bind under the
    (ts, rank, id) tie-order — rank = EARLIEST matching step, so a row
    serving steps 1+2 sorts as a step-1 row yet remains eligible as a
    step-2 successor at the same timestamp."""
    events = [(i, ts, m) for i, (ts, m) in enumerate(raw)]
    got, _ = _drive(events, PLAIN_OVERLAP_STEPS, cuts)
    want = brute_chain(events, PLAIN_OVERLAP_STEPS)
    assert sorted(got) == want


@pytest.mark.parametrize("seed", range(10))
def test_deep_chain_random_kleene_positions_match_bruteforce(seed):
    """5-step chains with 1-2 Kleene steps at RANDOM positions (including
    the last step — emission waits for run closure), random overlap masks,
    random splits: the generality the round-4 verdict asked for."""
    rnd = random.Random(seed)
    n = 5
    kpos = rnd.sample(range(1, n), rnd.choice([1, 2]))  # 0-based, never step 1
    steps = [
        (
            rnd.choice([None, rnd.randint(3, 60)]),
            (rnd.randint(3, 25), rnd.randint(1, 3)) if i in kpos else None,
        )
        for i in range(n)
    ]
    events = [
        (i, rnd.randint(0, 300), rnd.getrandbits(n) if rnd.random() < 0.9 else 0)
        for i in range(rnd.randint(0, 40))
    ]
    cuts = set(rnd.sample(range(1, 300), rnd.randint(0, 4)))
    got, wm_ms = _drive(events, steps, cuts)
    want = brute_chain(events, steps, final_wm_ms=wm_ms)
    assert sorted(got) == want


# 3 positive steps + guards after steps 1 and 2 → 5 slots:
# A(0) X1(1) B(2) X2(3) C(4); masks include overlap combos
NFB_STEPS = [(None, None), (8, None), (12, None)]
NFB_GUARDS = frozenset({1, 2})
nfb_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 30),
        st.sampled_from([1, 2, 4, 8, 16, 5, 18, 6, 12, 0]),
    ),
    min_size=0,
    max_size=26,
)


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(raw=nfb_events_strategy, cuts=st.sets(st.integers(1, 30), max_size=4))
def test_not_followed_by_matches_bruteforce(raw, cuts):
    """notFollowedBy guards on both transitions: a forbidden row landing
    before the binder (or while no binder ever arrives) kills the chain
    silently, across arbitrary micro-batch splits."""
    events = [(i, ts, m) for i, (ts, m) in enumerate(raw)]
    got, wm_ms = _drive(events, NFB_STEPS, cuts, guards=NFB_GUARDS)
    want = brute_chain(events, NFB_STEPS, final_wm_ms=wm_ms, guards=NFB_GUARDS)
    assert sorted(got) == want


@pytest.mark.parametrize("seed", range(10))
def test_deep_chain_kleene_and_guards_match_bruteforce(seed):
    """5-step chains with 1-2 Kleene steps AND 1-2 notFollowedBy guards at
    random positions, overlap masks, random splits — the full generalized
    surface in one harness."""
    rnd = random.Random(seed + 100)
    n = 5
    kpos = rnd.sample(range(1, n), rnd.choice([1, 2]))
    guards = frozenset(rnd.sample(range(1, n), rnd.choice([1, 2])))
    steps = [
        (
            rnd.choice([None, rnd.randint(3, 60)]),
            (rnd.randint(3, 25), rnd.randint(1, 3)) if i in kpos else None,
        )
        for i in range(n)
    ]
    nslots = len(slot_layout(n, guards)[0])
    events = [
        (i, rnd.randint(0, 300), rnd.getrandbits(nslots) if rnd.random() < 0.9 else 0)
        for i in range(rnd.randint(0, 40))
    ]
    cuts = set(rnd.sample(range(1, 300), rnd.randint(0, 4)))
    got, wm_ms = _drive(events, steps, cuts, guards=guards)
    want = brute_chain(events, steps, final_wm_ms=wm_ms, guards=guards)
    assert sorted(got) == want


# times(2,3) mid-chain: entries with runs shorter than 2 are invalid
TIMES_STEPS = [(None, None), (None, (6, 3, 2)), (15, None)]


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from([1, 2, 4, 3, 6, 0])),
        min_size=0,
        max_size=26,
    ),
    cuts=st.sets(st.integers(1, 30), max_size=4),
)
def test_times_min_reps_matches_bruteforce(raw, cuts):
    """times(from, to): a Kleene entry whose within-gap run holds fewer
    than min_reps rows is transparent — the previous step binds the next
    VALID entry; a tentatively-bound open run that closes short resets to
    waiting. Across arbitrary micro-batch splits."""
    events = [(i, ts, m) for i, (ts, m) in enumerate(raw)]
    got, wm_ms = _drive(events, TIMES_STEPS, cuts)
    want = brute_chain(events, TIMES_STEPS, final_wm_ms=wm_ms)
    assert sorted(got) == want


@pytest.mark.parametrize("seed", range(10))
def test_deep_chain_times_kleene_guards_match_bruteforce(seed):
    """The full surface in one harness: 5-step chains with randomized
    times(from, to) Kleene steps AND notFollowedBy guards, overlap masks,
    random splits."""
    rnd = random.Random(seed + 200)
    n = 5
    kpos = rnd.sample(range(1, n), rnd.choice([1, 2]))
    guards = frozenset(rnd.sample(range(1, n), rnd.choice([0, 1, 2])))
    def kspec():
        mx = rnd.randint(1, 4)
        return (rnd.randint(3, 25), mx, rnd.randint(1, mx))
    steps = [
        (rnd.choice([None, rnd.randint(3, 60)]), kspec() if i in kpos else None)
        for i in range(n)
    ]
    nslots = len(slot_layout(n, guards)[0])
    events = [
        (i, rnd.randint(0, 300), rnd.getrandbits(nslots) if rnd.random() < 0.9 else 0)
        for i in range(rnd.randint(0, 40))
    ]
    cuts = set(rnd.sample(range(1, 300), rnd.randint(0, 4)))
    got, wm_ms = _drive(events, steps, cuts, guards=guards)
    want = brute_chain(events, steps, final_wm_ms=wm_ms, guards=guards)
    assert sorted(got) == want


# 4 steps, step 2 optional (greedy race), step 3 a capped Kleene
OPT_STEPS = [(None, None), (8, None), (10, (5, 2)), (20, None)]
OPT_SET = frozenset({2})


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from([1, 2, 4, 8, 3, 6, 12, 0])),
        min_size=0,
        max_size=26,
    ),
    cuts=st.sets(st.integers(1, 30), max_size=4),
)
def test_optional_step_matches_bruteforce(raw, cuts):
    """optional(): the greedy race — the step binds iff its earliest
    candidate precedes the earliest next-step candidate in (ts, rank, id)
    order, else the chain skips it (t null, not counted in max_step) —
    across arbitrary micro-batch splits, with a Kleene step downstream."""
    events = [(i, ts, m) for i, (ts, m) in enumerate(raw)]
    got, wm_ms = _drive(events, OPT_STEPS, cuts, opts=OPT_SET)
    want = brute_chain(events, OPT_STEPS, final_wm_ms=wm_ms, opts=OPT_SET)
    assert sorted(got) == want


@pytest.mark.parametrize("seed", range(12))
def test_deep_chain_full_surface_matches_bruteforce(seed):
    """Everything at once: 5-step chains with randomized times() Kleene
    steps, notFollowedBy guards, AND optional steps (where the adjacency
    rules allow), overlap masks, random splits."""
    rnd = random.Random(seed + 300)
    n = 5
    kpos = set(rnd.sample(range(1, n), rnd.choice([1, 2])))
    opt_cands = [k for k in range(2, n) if (k - 1) not in kpos]
    opts = frozenset(rnd.sample(opt_cands, 1)) if opt_cands and rnd.random() < 0.8 else frozenset()
    guard_cands = [
        k for k in range(1, n) if k not in opts and (k + 1) not in opts
    ]
    guards = frozenset(rnd.sample(guard_cands, min(len(guard_cands), rnd.choice([0, 1, 2]))))

    def kspec():
        mx = rnd.randint(1, 4)
        return (rnd.randint(3, 25), mx, rnd.randint(1, mx))

    steps = [
        (rnd.choice([None, rnd.randint(3, 60)]), kspec() if i in kpos else None)
        for i in range(n)
    ]
    nslots = len(slot_layout(n, guards)[0])
    events = [
        (i, rnd.randint(0, 300), rnd.getrandbits(nslots) if rnd.random() < 0.9 else 0)
        for i in range(rnd.randint(0, 40))
    ]
    cuts = set(rnd.sample(range(1, 300), rnd.randint(0, 4)))
    got, wm_ms = _drive(events, steps, cuts, guards=guards, opts=opts)
    want = brute_chain(events, steps, final_wm_ms=wm_ms, guards=guards, opts=opts)
    assert sorted(got) == want


def test_regression_tentative_guard_kill_replays_after_restore():
    """Soak seed 1293: a notFollowedBy guard decision made against a
    TENTATIVE times() binder (the same row served as both guard and
    undecided entry) must replay after the run proves invalid — the
    forbidden row then precedes the true binder and kills the chain."""
    steps = [(52, None), (45, (15, 3, 3))]
    guards = frozenset({1})
    # slots: p1=0 g1=1 p2=2; masks: 3 = p1+g1, 6 = g1+p2, 4 = p2, 7 = all
    events = [(5, 185, 4), (11, 164, 4), (18, 62, 3), (20, 143, 6), (21, 172, 7)]
    cuts = {160}
    got, wm = _drive(events, steps, cuts, guards=guards)
    want = brute_chain(events, steps, final_wm_ms=wm, guards=guards)
    assert sorted(got) == want == []


def test_regression_buffer_keeps_same_ts_cohort_for_run_continuation():
    """Soak seed 6997: a Kleene run extends through its step's rows in
    (ts, id) order, which can include a row at the SAME timestamp as the
    chain's frontier but a lower (ts, rank, id) position — the buffer
    must keep whole timestamp cohorts, not strictly-after-triple rows."""
    steps = [(None, None), (48, (4, 3, 2)), (None, (12, 3, 1)), (None, None)]
    guards = frozenset({1, 3})
    # slots: p1 g1 p2 p3 g3 p4
    events = [(25, 60, 46), (34, 60, 13), (37, 151, 57)]
    cuts = {85}
    got, wm = _drive(events, steps, cuts, guards=guards)
    want = brute_chain(events, steps, final_wm_ms=wm, guards=guards)
    assert sorted(got) == want
    assert want and want[0][1][6] == 2  # n3 counts BOTH same-ts repetitions
