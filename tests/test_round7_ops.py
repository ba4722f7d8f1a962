"""Round-7 operator tests: followedByAny (pattern_detect_any).

The round-6 buzzer shipped pattern_detect_any with zero verification
(VERDICT r6 "What's wrong" #2) and a real tie-break bug (ADVICE r6: per-leg
ranks let one event bind two adjacent steps of the same match). Round 7
fixes the order to the engine family's (ts, rank, id) — rank = the EVENT's
earliest matching step — and gives the operator the standard treatment:
this brute reference + property test + pinned regressions here, an ``any``
mode in tools/nfa_soak.py, and a catalog query + DuckDB oracle
(queries/behavior.py pattern_any_view_click_purchase).

Reference semantics: Flink ``Pattern.followedByAny`` — relaxed
non-deterministic contiguity, the family of OrderPayTimeout.java:52-64.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.state_harness import T0, StateHarness, case_us, replay



def brute_any(events, withins_us):
    """Exhaustive followedByAny reference.

    ``events``: (eid, ts_us, mask) with bit j ⇔ matches step j+1 (plain
    steps only — followedByAny composes with plain predicates).
    ``withins_us``: list of n ints; withins_us[k-1] bounds the transition
    INTO step k (index 0 ignored). Returns sorted tuples
    (key-less) ``(i1..iN, t1..tN)`` — every strictly-increasing
    combination in the (ts, rank, id) total order, rank = earliest
    matching step, with every transition inside its bound.
    """
    n = len(withins_us)
    full = (1 << n) - 1
    evs = [(eid, ts, m & full) for eid, ts, m in events if m & full]

    def rank(m):
        return (m & -m).bit_length()

    evs.sort(key=lambda e: (e[1], rank(e[2]), e[0]))
    out = []

    def dfs(step, pos, ids, tss):
        if step > n:
            out.append(tuple(ids) + tuple(tss))
            return
        bound = tss[-1] + withins_us[step - 1]
        for p in range(pos + 1, len(evs)):
            eid, ts, m = evs[p]
            if ts > bound:  # evs sorted by ts first → nothing later fits
                break
            if (m >> (step - 1)) & 1:
                dfs(step + 1, p, ids + [eid], tss + [ts])

    for p0, (eid, ts, m) in enumerate(evs):
        if m & 1:
            dfs(2, p0, [eid], [ts])
    return sorted(out)


EPOCH = datetime.datetime(2020, 1, 1)


def run_any(spark, events, withins_us, n):
    """Run pattern_detect_any on one key and extract (i1..iN, t1..tN) in
    brute_any's microsecond units."""
    from flink_uba_spark.operators.sequence import pattern_detect_any

    schema = "event_id long, user_id long, ts timestamp, " + ", ".join(
        f"c{j} boolean" for j in range(n)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(n)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    steps = [(F.col("c0"), None)] + [
        (F.col(f"c{k - 1}"), f"INTERVAL {withins_us[k - 1]} MICROSECONDS")
        for k in range(2, n + 1)
    ]
    out = pattern_detect_any(df, key="user_id", steps=steps).toPandas()
    got = []
    for _, r in out.iterrows():
        ids = tuple(int(r[f"i{k}"]) for k in range(1, n + 1))
        tss = tuple(
            int((r[f"t{k}"].to_pydatetime() - EPOCH).total_seconds() * 1e6)
            for k in range(1, n + 1)
        )
        got.append(ids + tss)
    return sorted(got)


@st.composite
def any_case(draw):
    n = draw(st.integers(2, 4))
    withins = [0] + [draw(st.integers(1, 60)) for _ in range(n - 1)]
    n_ev = draw(st.integers(0, 14))
    events = [
        (i, draw(st.integers(0, 80)), draw(st.integers(0, (1 << n) - 1)))
        for i in range(n_ev)
    ]
    return n, withins, events


@pytest.mark.slow
@settings(max_examples=60, deadline=None)
@given(any_case())
def test_pattern_detect_any_matches_brute(spark, case):
    n, withins, events = case
    assert run_any(spark, events, withins, n) == brute_any(events, withins)


def test_no_self_binding_same_event_both_steps(spark):
    """ADVICE r6's exact bug: one event matching BOTH steps' predicates
    must not bind step 1 and step 2 of the same match."""
    events = [(7, 10, 0b11)]  # matches both steps, alone on the key
    assert run_any(spark, events, [0, 50], 2) == []
    assert brute_any(events, [0, 50]) == []


def test_no_self_binding_nonadjacent(spark):
    """One event must not fill steps 1 and 3 either (distinct events
    across ALL steps, not just adjacent ones): e matches steps 1+3, a
    same-timestamp partner matches step 2."""
    events = [(1, 10, 0b101), (2, 10, 0b010)]
    got = run_any(spark, events, [0, 50, 50], 3)
    assert got == brute_any(events, [0, 50, 50])
    assert got == []  # rank(e1)=1 < rank(e2)=2 puts e2 after e1, but e1
    # cannot also sit after e2 in a strictly-increasing combination


def test_same_ts_rank_order(spark):
    """Two distinct same-ts events: the step-2-only event ranks after the
    step-1 event regardless of id — the engine family's determinization."""
    events = [(9, 10, 0b01), (2, 10, 0b10)]  # id 2 < 9 but rank 2 > 1
    got = run_any(spark, events, [0, 50], 2)
    assert got == brute_any(events, [0, 50]) == [(9, 2, 10, 10)]


def test_branches_on_every_candidate(spark):
    """The defining followedByAny behavior: two in-window step-2
    candidates produce TWO matches (skip-till-next would keep one)."""
    events = [(1, 0, 0b01), (2, 5, 0b10), (3, 9, 0b10)]
    got = run_any(spark, events, [0, 20], 2)
    assert got == brute_any(events, [0, 20]) == [(1, 2, 0, 5), (1, 3, 0, 9)]


def test_within_bound_excludes(spark):
    events = [(1, 0, 0b01), (2, 30, 0b10)]
    assert run_any(spark, events, [0, 20], 2) == []


def test_mandatory_within_raises(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_any

    df = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, c boolean")
    with pytest.raises(ValueError):
        pattern_detect_any(
            df, key="user_id", steps=[(F.col("c"), None), (F.col("c"), None)]
        )


def test_bpe_checkpoint_equivalence(spark):
    """bpe_train's lineage-truncating localCheckpoint (round 7,
    VERDICT r6 item 5) must not change the learned rules: a
    checkpoint_every that fires mid-train (every 2 of 8 merges) yields
    byte-identical merge tables to the never-checkpoint run."""
    from flink_uba_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog the fox") for i in range(4)],
        "doc_id long, text string",
    )
    a = [tuple(r) for r in bpe_train(docs, n_merges=8, checkpoint_every=2).collect()]
    b = [tuple(r) for r in bpe_train(docs, n_merges=8, checkpoint_every=0).collect()]
    assert a == b and len(a) == 8


# ---------------------------------------------------------------- streaming


def _drive_any(events, withins_us, n, cuts):
    """Replay events through make_any_matcher over the given ts cuts in
    the state harness; returns sorted brute_any-shaped tuples."""
    from flink_uba_spark.streaming.pattern import make_any_matcher

    frames, _ = replay(
        make_any_matcher(n, withins_us), [e for e in events if e[2]], cuts, _any_flags(n)
    )
    return sorted(
        tuple(int(getattr(r, f"i{k}")) for k in range(1, n + 1))
        + tuple(case_us(getattr(r, f"t{k}")) for k in range(1, n + 1))
        for f in frames for r in f.itertuples(index=False)
    )


def _any_flags(n):
    return lambda e: {f"__p{k}": bool(e[2] >> (k - 1) & 1) for k in range(1, n + 1)}


def _any_batch(batch, n, clock_ms=None):
    """Key 1's events ``(id, ts µs, mask)`` as one micro-batch; a key-2
    row at ``clock_ms`` (matching nothing) sets the next batch's
    watermark."""
    import pandas as pd

    rows = [(1, e) for e in batch]
    if clock_ms is not None:
        rows.append((2, (0, clock_ms * 1000, 0)))
    return pd.DataFrame(
        [
            {"event_id": e[0], "ts": pd.Timestamp(T0 + e[1], unit="us"), "user_id": key, **_any_flags(n)(e)}
            for key, e in rows
        ]
    )


def test_stream_any_exactly_once_across_batches():
    """A combination spanning three micro-batches emits exactly once —
    in the batch where its final event lands — and re-delivery of the
    earlier events in later walks adds nothing."""
    events = [(1, 0, 0b001), (2, 10, 0b010), (3, 20, 0b100)]
    withins = [0, 15, 15]
    for cuts in ([], [5], [5, 15], [0, 10, 20]):
        assert _drive_any(events, withins, 3, cuts) == brute_any(events, withins)


def test_stream_any_branching_across_batches():
    """Two step-2 candidates in different micro-batches both branch."""
    events = [(1, 0, 0b01), (2, 5, 0b10), (3, 9, 0b10)]
    withins = [0, 20]
    for cuts in ([], [6], [2, 7]):
        assert _drive_any(events, withins, 2, cuts) == brute_any(events, withins)


def test_stream_any_out_of_order_within_watermark():
    """A middle event arriving in a LATER batch (inside the watermark
    band: the lagging wm has not passed it) still completes the combo —
    the any-new rule, not last-event-arrival, drives emission."""
    from flink_uba_spark.streaming.pattern import make_any_matcher

    n, withins = 3, [0, 15, 15]
    harness = StateHarness(make_any_matcher(n, withins))

    def push(batch):
        return [
            (int(r.i1), int(r.i2), int(r.i3))
            for f in harness.batch(_any_batch(batch, n)) for r in f.itertuples(index=False)
        ]

    assert push([(1, 0, 0b001), (3, 20, 0b100)]) == []  # anchor + final, hole at step 2
    # the middle event arrives late (the watermark is still at case ms 0)
    assert push([(2, 10, 0b010)]) == [(1, 2, 3)]


def test_stream_any_eviction_respects_horizon():
    """State keeps only the H-horizon: after the watermark passes
    ts + H, an event is evicted and the buffer shrinks (deployability
    bound), without losing in-horizon combinations."""
    from flink_uba_spark.streaming.pattern import make_any_matcher

    n, withins = 2, [0, 10]
    harness = StateHarness(make_any_matcher(n, withins))

    def push(batch, clock_ms=None):
        return sum(len(f) for f in harness.batch(_any_batch(batch, n, clock_ms)))

    # the next batch runs at case ms 40
    assert push([(1, 0, 0b01)], clock_ms=40) == 0
    assert len(harness.states[1][0][0]) == 1
    # wm (ms) far past 0+H: anchor 1 evicted; a new in-horizon pair works
    assert push([(2, 50_000_000, 0b01), (3, 50_000_005, 0b10)]) == 1
    assert sorted(harness.states[1][0][0]) == [2, 3]


# --------------------------------------------------------- SKIP_TO_NEXT


def brute_skip_to_next(events, withins_us):
    """Reference fold: per start event, the first-emitted (completion
    order, id-canonicalized) brute_any match survives."""
    n = len(withins_us)
    best = {}
    for m in brute_any(events, withins_us):
        ids, tss = m[:n], m[n:]
        emit_key = tuple(x for k in range(n - 1, 0, -1) for x in (tss[k], ids[k]))
        if ids[0] not in best or emit_key < best[ids[0]][0]:
            best[ids[0]] = (emit_key, m)
    return sorted(m for _, m in best.values())


def run_skip_to_next(spark, events, withins_us, n):
    from flink_uba_spark.operators.sequence import (
        after_match_skip_to_next,
        pattern_detect_any,
    )

    schema = "event_id long, user_id long, ts timestamp, " + ", ".join(
        f"c{j} boolean" for j in range(n)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(n)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    steps = [(F.col("c0"), None)] + [
        (F.col(f"c{k - 1}"), f"INTERVAL {withins_us[k - 1]} MICROSECONDS")
        for k in range(2, n + 1)
    ]
    out = after_match_skip_to_next(
        pattern_detect_any(df, key="user_id", steps=steps), key="user_id"
    ).toPandas()
    got = []
    for _, r in out.iterrows():
        got.append(
            tuple(int(r[f"i{k}"]) for k in range(1, n + 1))
            + tuple(
                int((r[f"t{k}"].to_pydatetime() - EPOCH).total_seconds() * 1e6)
                for k in range(1, n + 1)
            )
        )
    return sorted(got)


@pytest.mark.slow
@settings(max_examples=40, deadline=None)
@given(any_case())
def test_skip_to_next_matches_brute(spark, case):
    n, withins, events = case
    assert run_skip_to_next(spark, events, withins, n) == brute_skip_to_next(
        events, withins
    )


def test_skip_to_next_keeps_first_completing_branch(spark):
    """Two branches off one anchor: the earlier-ending one survives; a
    second anchor keeps its own independent winner."""
    events = [(1, 0, 0b01), (2, 5, 0b10), (3, 9, 0b10), (4, 7, 0b01), (5, 8, 0b10)]
    got = run_skip_to_next(spark, events, [0, 20], 2)
    assert got == brute_skip_to_next(events, [0, 20]) == [
        (1, 2, 0, 5),   # anchor 1: end ts 5 beats end ts 8/9
        (4, 5, 7, 8),   # anchor 4: its first completion
    ]


def test_skip_to_next_same_end_ts_race_canonical(spark):
    """Two branches of one anchor ending at the SAME timestamp: the
    lower end-event id wins (the documented id canonicalization)."""
    events = [(1, 0, 0b01), (9, 5, 0b10), (2, 5, 0b10)]
    got = run_skip_to_next(spark, events, [0, 20], 2)
    assert got == brute_skip_to_next(events, [0, 20]) == [(1, 2, 0, 5)]


def test_revenue_cube_single_expand_one_agg_exchange(spark, sf_dir):
    """CUBE compiles the same single-exchange shape as ROLLUP: ONE Expand
    (4 grouping sets) into a single partial+final hash aggregate."""
    from flink_uba_spark.queries import tpch

    df = tpch.revenue_cube_mktseg_priority(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Expand") == 1
    assert "partial_sum" in p


# ------------------------------------------------------- Misra-Gries HH


@st.composite
def hh_case(draw):
    k = draw(st.integers(2, 8))
    n_items = draw(st.integers(0, 120))
    vocab = draw(st.integers(1, 30))
    items = [f"w{draw(st.integers(0, vocab - 1))}" for _ in range(n_items)]
    parts = draw(st.integers(1, 6))
    return k, items, parts


@pytest.mark.slow
@settings(max_examples=40, deadline=None)
@given(hh_case())
def test_heavy_hitters_exact_matches_brute(spark, case):
    """The 2-pass Misra-Gries prune is LOSSLESS: output equals the naive
    count-and-filter for random streams, vocab sizes (forcing summary
    trims), and partitionings."""
    from collections import Counter

    from flink_uba_spark.operators.sketch import heavy_hitters_exact

    k, items, parts = case
    df = spark.createDataFrame(
        [(w,) for w in items], "item string"
    ).repartition(parts)
    got = {
        (r.item, int(r.n_occurrences), int(r.n_items))
        for r in heavy_hitters_exact(df, "item", k).collect()
    }
    c = Counter(items)
    n = len(items)
    want = {(w, cnt, n) for w, cnt in c.items() if cnt * k > n}
    assert got == want


def test_misra_gries_summary_is_bounded_and_superset(spark):
    """One partition, vocab ≫ k: the summary holds ≤ k counters yet every
    true heavy hitter survives the trims (the MG guarantee)."""
    from flink_uba_spark.operators.sketch import misra_gries_candidates

    # 400 singletons + two hot items ≫ n/k
    items = [f"tail{i}" for i in range(400)] + ["hot_a"] * 200 + ["hot_b"] * 150
    df = spark.createDataFrame([(w,) for w in items], "item string").coalesce(1)
    summ = misra_gries_candidates(df, "item", k=10).collect()
    assert len(summ) <= 10
    survivors = {r.item for r in summ}
    assert {"hot_a", "hot_b"} <= survivors


# ---------------------------------------------------- SKIP_TO_FIRST/LAST


def brute_skip_to_first(events, withins_us, step):
    """Reference greedy fold: completion-order replay (tN, iN, t1, i1,
    then middle bindings ascending), horizon = max (t_p, i_p) over
    emitted matches, survivor iff anchor AT-or-past the horizon."""
    n = len(withins_us)
    cands = sorted(
        brute_any(events, withins_us),
        key=lambda m: (
            (m[2 * n - 1], m[n - 1], m[n], m[0])
            + tuple(x for k in range(1, n - 1) for x in (m[n + k], m[k]))
        ),
    )
    out, h = [], None
    for m in cands:
        ids, tss = m[:n], m[n:]
        if h is None or (tss[0], ids[0]) >= h:
            out.append(m)
            hp = (tss[step - 1], ids[step - 1])
            if h is None or hp > h:
                h = hp
    return sorted(out)


def run_skip_to_first(spark, events, withins_us, n, step):
    from flink_uba_spark.operators.sequence import (
        after_match_skip_to_first,
        pattern_detect_any,
    )

    schema = "event_id long, user_id long, ts timestamp, " + ", ".join(
        f"c{j} boolean" for j in range(n)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(n)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    steps = [(F.col("c0"), None)] + [
        (F.col(f"c{k - 1}"), f"INTERVAL {withins_us[k - 1]} MICROSECONDS")
        for k in range(2, n + 1)
    ]
    out = after_match_skip_to_first(
        pattern_detect_any(df, key="user_id", steps=steps), key="user_id", step=step
    ).toPandas()
    got = []
    for _, r in out.iterrows():
        got.append(
            tuple(int(r[f"i{k}"]) for k in range(1, n + 1))
            + tuple(
                int((r[f"t{k}"].to_pydatetime() - EPOCH).total_seconds() * 1e6)
                for k in range(1, n + 1)
            )
        )
    return sorted(got)


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(any_case(), st.integers(2, 4))
def test_skip_to_first_matches_brute(spark, case, raw_step):
    n, withins, events = case
    step = 2 + raw_step % (n - 1)
    assert run_skip_to_first(spark, events, withins, n, step) == brute_skip_to_first(
        events, withins, step
    )


def test_skip_to_first_prunes_started_before_but_keeps_at(spark):
    """A match anchored strictly before the emitted match's step-2 event
    dies; one anchored AT that event (overlapping predicates) survives —
    Flink's 'started before' clause verbatim."""
    # e1 anchors m1=(1,2,4); e2 at ts 5 matches steps 1 AND 2; e3 anchors
    # via e2... candidates: (1,2,4): anchor 1@0, click 2@5, end 4@8.
    # (1,5?,..) — build:
    events = [
        (1, 0, 0b001),   # anchor A
        (2, 5, 0b011),   # click for A's match AND an anchor itself
        (3, 3, 0b001),   # anchor strictly before e2 -> pruned
        (4, 8, 0b100),   # shared end
        (5, 7, 0b010),   # click for e2's and e3's chains
    ]
    withins = [0, 20, 20]
    got = run_skip_to_first(spark, events, withins, 3, 2)
    assert got == brute_skip_to_first(events, withins, 2)
    ids = {m[:3] for m in got}
    assert (1, 2, 4) in ids            # first emitted
    assert (2, 5, 4) in ids            # anchored AT the click event: kept
    assert all(m[0] != 3 for m in ids)  # anchored before it: pruned


# ------------------------------------------------------------- until()


def _run_until(spark, events, nslots, spec_builder):
    """events: (eid, ts_us, mask) over caller-defined slots."""
    schema = "event_id long, user_id long, ts timestamp, " + ", ".join(
        f"c{j} boolean" for j in range(nslots)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(nslots)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema)
    return spec_builder(df).toPandas()


def test_until_truncates_run_and_new_run_after_stop(spark):
    """A stop row splits the gap-session: the run from the first entry
    ends before it; a fresh entry after the stop starts a new run bound
    by the NEXT anchor, exactly Flink's looping-state stop."""
    from flink_uba_spark.operators.sequence import pattern_detect

    # slots: c0=anchor, c1=rep, c2=stop, c3=final
    events = [
        (1, 0, 0b0001),   # anchor A
        (2, 10, 0b0010),  # rep
        (3, 20, 0b0010),  # rep
        (4, 25, 0b0100),  # STOP
        (5, 30, 0b0010),  # rep (same gap session, but past the stop)
        (6, 40, 0b1000),  # final
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", float("inf")),
                (F.col("c3"), "INTERVAL 100 MICROSECONDS"),
            ],
            until={2: F.col("c2")},
        )

    out = _run_until(spark, events, 4, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (10, 20, 2)
    assert r["state"] == "matched"
    # without until, the run would span all three reps
    def build_plain(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", float("inf")),
                (F.col("c3"), "INTERVAL 100 MICROSECONDS"),
            ],
        )
    out2 = _run_until(spark, events, 4, build_plain)
    r2 = out2[out2["anchor_id"] == 1].iloc[0]
    assert (r2["t2_last"].microsecond, int(r2["n2"])) == (30, 3)


def test_until_dual_row_is_final_repetition(spark):
    """An event matching BOTH the loop predicate and the stop condition
    counts as the run's final repetition, then the run ends — the
    documented (ts, id)-order canonicalization."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [
        (1, 0, 0b0001),
        (2, 10, 0b0010),
        (3, 20, 0b0110),  # rep AND stop
        (4, 30, 0b0010),  # next run
        (5, 40, 0b1000),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", float("inf")),
                (F.col("c3"), "INTERVAL 100 MICROSECONDS"),
            ],
            until={2: F.col("c2")},
        )

    out = _run_until(spark, events, 4, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (10, 20, 2)


def test_until_with_min_reps_invalidates_short_run(spark):
    """times(2, ∞) + until: a stop row leaving only one rep before it
    makes that entry INVALID — the previous step binds the next valid
    entry after the stop."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [
        (1, 0, 0b0001),
        (2, 10, 0b0010),  # lone rep, then stop → invalid entry
        (3, 15, 0b0100),  # STOP
        (4, 20, 0b0010),  # valid 2-rep run starts here
        (5, 25, 0b0010),
        (6, 40, 0b1000),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", (2, float("inf"))),
                (F.col("c3"), "INTERVAL 100 MICROSECONDS"),
            ],
            until={2: F.col("c2")},
        )

    out = _run_until(spark, events, 4, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (20, 25, 2)


def test_until_validation(spark):
    from flink_uba_spark.operators.sequence import pattern_detect

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, a boolean, b boolean"
    )
    with pytest.raises(ValueError, match="oneOrMore"):
        pattern_detect(
            df, key="user_id",
            steps=[(F.col("a"), None), (F.col("b"), "INTERVAL 1 MINUTE")],
            until={2: F.col("a")},
        )
    with pytest.raises(ValueError, match="notFollowedBy"):
        pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("a"), None),
                (F.col("b"), "INTERVAL 1 MINUTE", 3),
                (F.col("a"), "INTERVAL 1 MINUTE"),
            ],
            until={2: F.col("a")},
            not_followed_by={2: F.col("b")},
        )


def _key1_rows(batch, cols):
    """Key 1's events ``(id, ts µs, x)`` as one micro-batch; ``cols(x)``
    gives an event's input columns."""
    import pandas as pd

    return pd.DataFrame(
        [
            {"event_id": e[0], "ts": pd.Timestamp(T0 + e[1], unit="us"), "user_id": 1, **cols(e[2])}
            for e in batch
        ]
    )


def _typed(t):
    return {"event_type": t}


def test_stream_until_truncates_run_cross_batch():
    """Streaming until(): a stop row arriving in a LATER micro-batch
    closes the open run at its carried frontier — the run never extends
    past the stop even though later reps are within gap."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    harness = StateHarness(make_pattern_matcher(
        ["a", "b", "c"],
        [None, 50, 100],
        kleenes=[None, (50, None), None],
        untils={2: "u"},
    ))
    got = [
        (r.anchor_id, r.state, int(r.n2))
        for batch in ([(1, 0, "a"), (2, 10, "b"), (3, 20, "b")],
                      [(4, 25, "u"), (5, 30, "b"), (6, 40, "c")])
        for f in harness.batch(_key1_rows(batch, _typed)) for r in f.itertuples(index=False)
    ]
    # run truncated at ts 20 (2 reps); c at 40 binds within 100us of 20
    assert got == [(1, "matched", 2)]


def test_stream_until_dual_row_ends_run():
    """A dual rep+stop row is the run's final repetition in the NFA,
    exactly as in the batch compiler."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    harness = StateHarness(make_pattern_matcher(
        ["a", "b", "c"],
        [None, 50, 100],
        kleenes=[None, (50, None), None],
        untils={2: "b"},  # every rep is ALSO a stop: runs are length-1
    ))
    rows = _key1_rows([(1, 0, "a"), (2, 10, "b"), (3, 15, "b"), (4, 30, "c")], _typed)
    got = [(r.anchor_id, r.state, int(r.n2)) for f in harness.batch(rows) for r in f.itertuples(index=False)]
    assert got == [(1, "matched", 1)]


def test_times_or_more_skips_short_run_binds_next_valid(spark):
    """timesOrMore(3) — times(3, ∞): a 2-rep gap-session is never a
    valid binding, so the anchor binds the first entry of the NEXT
    session holding >= 3 reps; the run then extends to its session end
    (uncapped). The catalog witness is pattern_times_or_more_errors."""
    from flink_uba_spark.operators.sequence import pattern_detect

    # slots: c0=anchor, c1=rep, c2=final. Gap 50us: reps at 10,20 form a
    # 2-rep session (invalid); reps at 100,110,120,130 form the valid one.
    events = [
        (1, 0, 0b001),
        (2, 10, 0b010),
        (3, 20, 0b010),
        (4, 100, 0b010),
        (5, 110, 0b010),
        (6, 120, 0b010),
        (7, 130, 0b010),
        (8, 140, 0b100),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", (3, float("inf"))),
                (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
            ],
        )

    out = _run_until(spark, events, 3, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (
        r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"]), r["state"]
    ) == (100, 130, 4, "matched_late")


def test_times_or_more_mid_session_entry_counts_remaining(spark):
    """An anchor landing mid-session binds the first rep AT/AFTER it;
    validity counts only the REMAINING reps (avail >= min_reps)."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [
        (1, 5, 0b010),    # rep before the anchor — not bindable
        (2, 8, 0b001),    # anchor
        (3, 10, 0b010),
        (4, 20, 0b010),
        (5, 30, 0b010),
        (6, 80, 0b100),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", (3, float("inf"))),
                (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
            ],
        )

    out = _run_until(spark, events, 3, build)
    r = out[out["anchor_id"] == 2].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (10, 30, 3)


def test_consecutive_intervening_event_breaks_run(spark):
    """consecutive(): ANY intervening event — even one matching no step —
    ends the loop; a later rep starts a NEW run. The engine keeps
    match-nothing rows as contiguity witnesses (scan filter off)."""
    from flink_uba_spark.operators.sequence import pattern_detect

    # slots: c0=anchor, c1=rep, c2=final
    events = [
        (1, 0, 0b001),
        (2, 10, 0b010),
        (3, 20, 0b010),
        (4, 25, 0b000),  # witness — breaks adjacency
        (5, 30, 0b010),
        (6, 40, 0b100),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 100 MICROSECONDS", float("inf")),
                (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
            ],
            consecutive={2},
        )

    out = _run_until(spark, events, 3, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (10, 20, 2)


def test_consecutive_with_min_reps_skips_broken_run(spark):
    """times(3, ∞).consecutive(): a 2-rep adjacent block is invalid, so
    the anchor binds the next 3-adjacent block."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [
        (1, 0, 0b001),
        (2, 10, 0b010),
        (3, 20, 0b010),
        (4, 22, 0b000),  # breaks after 2 reps → invalid for min 3
        (5, 30, 0b010),
        (6, 40, 0b010),
        (7, 50, 0b010),
        (8, 60, 0b100),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 100 MICROSECONDS", (3, float("inf"))),
                (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
            ],
            consecutive={2},
        )

    out = _run_until(spark, events, 3, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (30, 50, 3)


def test_consecutive_gap_still_breaks(spark):
    """consecutive() refines the gap sessions — adjacency does NOT rescue
    two reps whose time gap exceeds the within bound."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [
        (1, 0, 0b001),
        (2, 10, 0b010),
        (3, 200, 0b010),  # adjacent by position but beyond the 50us gap
        (4, 250, 0b100),
    ]

    def build(df):
        return pattern_detect(
            df, key="user_id",
            steps=[
                (F.col("c0"), None),
                (F.col("c1"), "INTERVAL 50 MICROSECONDS", float("inf")),
                (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
            ],
            consecutive={2},
        )

    out = _run_until(spark, events, 3, build)
    r = out[out["anchor_id"] == 1].iloc[0]
    assert (r["t2"].microsecond, r["t2_last"].microsecond, int(r["n2"])) == (10, 10, 1)


def test_consecutive_validation(spark):
    from flink_uba_spark.operators.sequence import pattern_detect

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, a boolean, b boolean"
    )
    with pytest.raises(ValueError, match="consecutive"):
        pattern_detect(
            df, key="user_id",
            steps=[(F.col("a"), None), (F.col("b"), "INTERVAL 1 MINUTE")],
            consecutive={2},
        )


@st.composite
def consec_case(draw):
    gap = draw(st.integers(2, 30))
    cap = draw(st.sampled_from([2, 3, 1 << 40]))
    mn = draw(st.integers(1, min(cap, 3)))
    n_ev = draw(st.integers(0, 16))
    events = [
        (i, draw(st.integers(0, 60)), draw(st.integers(0, 7)))
        for i in range(n_ev)
    ]
    return gap, cap, mn, events


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(consec_case())
def test_consecutive_matches_brute(spark, case):
    """consecutive() on a mid-chain times(mn, cap) step — engine vs the
    consecs-extended brute_chain over random overlap masks (slots:
    c0=step1, c1=rep, c2=step3; match-zero rows are witnesses). The 5k+
    case vectorized soak (tools/nfa_soak.py consec) is the deep form."""
    import pandas as pd

    from test_properties_round5 import brute_chain
    from flink_uba_spark.operators.sequence import pattern_detect

    gap, cap, mn, events = case
    rows = [
        (eid, 0, datetime.datetime(2020, 1, 1) + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(3)])
        for eid, ts, m in events
    ]
    schema = "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    api_cap = float("inf") if cap >= (1 << 40) else cap
    out = pattern_detect(
        df, key="user_id",
        steps=[
            (F.col("c0"), None),
            (F.col("c1"), f"INTERVAL {gap} MICROSECONDS", (mn, api_cap)),
            (F.col("c2"), "INTERVAL 40 MICROSECONDS"),
        ],
        consecutive={2},
    ).filter(F.col("state").isin("matched", "matched_late")).toPandas()
    got = []
    epoch0 = 1577836800000000
    for _, r in out.iterrows():
        key = []
        for s, kl in ((1, False), (2, True), (3, False)):
            v = r[f"t{s}"]
            key.append(None if pd.isna(v) else int(pd.Timestamp(v).value // 1000) - epoch0)
            if kl:
                key.append(int(pd.Timestamp(r["t2_last"]).value // 1000) - epoch0)
                key.append(int(r["n2"]))
        got.append((int(r["anchor_id"]), tuple(key), r["state"]))
    want = brute_chain(
        events,
        [(None, None), (gap, (gap, cap, mn)), (40, None)],
        final_wm_ms=10 ** 15,
        consecs=frozenset({2}),
    )
    assert sorted(got) == want


def _drive_consec_stream(batches, steps, kleenes, consecs):
    """Minimal NFA driver for consecutive() pins: feed explicit
    micro-batches of (eid, ts_us, mask-over-__p-slots) through the state
    harness, then its final no-data batch; return (anchor_id, state, n2,
    t2_us, t2_last_us) rows."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    n = len(steps)
    harness = StateHarness(make_pattern_matcher(
        [f"s{k}" for k in range(1, n + 1)], steps,
        kleenes=kleenes, consecutives=consecs,
    ))

    def flags(m):
        return {f"__p{k}": bool(m >> (k - 1) & 1) for k in range(1, n + 1)}

    frames = harness.run([_key1_rows(b, flags) for b in batches])
    return [
        (int(r.anchor_id), r.state, int(r.n2), case_us(r.t2), case_us(r.t2_last))
        for f in frames for r in f.itertuples(index=False)
    ]


def test_stream_consecutive_cross_batch_continuation():
    """A consecutive run split across micro-batches keeps extending as
    long as positions stay adjacent; the first non-adjacent arrival
    closes it (observed-successor closure, no gap timer needed)."""
    steps = [None, 100, 100]
    kleenes = [None, (100, None), None]
    got = _drive_consec_stream(
        [
            [(1, 0, 0b001), (2, 10, 0b010), (3, 20, 0b010)],
            [(4, 30, 0b010), (5, 35, 0b010)],
            [(6, 40, 0b000), (7, 50, 0b100)],  # witness ends run; final binds
        ],
        steps, kleenes, {2},
    )
    assert got == [(1, "matched", 4, 10, 35)]


def test_stream_consecutive_buffered_same_ts_row_breaks(
):
    """Soak seed 705's shape: a same-ts LOWER-position step row sits
    (ts, id)-after the run's frontier in the buffer and permanently
    breaks the session there — the carried path must find it instead of
    skipping to the first batch row."""
    # slots: p1, p2; ids chosen so the same-ts p2 row (id 15) is
    # (ts,id)-BEFORE the anchor-carrying p2 row (id 31): positions are
    # (31@129 rank1) then (15@129 rank2); session (ts,id) order is 15, 31
    steps = [None, 50, 100]
    kleenes = [None, (50, None), None]
    got = _drive_consec_stream(
        [
            [(31, 129, 0b011), (15, 129, 0b010)],
            [(23, 147, 0b010), (40, 160, 0b100)],
        ],
        steps, kleenes, {2},
    )
    # anchor 31 (pos 0): entry = (ts,id)-min candidate strictly after
    # (129, rank 1, 31) = (15@129) (pos 1). The run walks the family's
    # (ts, id) session order: the first session row after the entry is
    # (31@129) — at position 0, NON-adjacent — so the session breaks
    # there PERMANENTLY (the position-adjacent (23@147) never becomes
    # the successor; it starts its own run). n=1, final on observation,
    # and step 3 binds at 160 within its 100us bound — identical to the
    # batch compiler's session refinement on the same events.
    assert got == [(31, "matched", 1, 129, 129)]


def test_stream_consecutive_nonadjacent_same_ts_closes_without_timer():
    """Soak seed 10816's shape: the run's (ts, id)-next session row is
    observed at a NON-adjacent (earlier) position — definitive closure
    even though the run's last rep holds the globally newest position
    and the watermark never passes case time 0."""
    # positions: (26@199 p1)=0, (17@200 p1+p2)=1, (3@200 p2)=2.
    # anchor 26: entry = (ts,id)-min p2 after (199,1,26) = (3@200);
    # session (ts,id) order of p2 rows: (3@200) then (17@200)... no:
    # (200,3) < (200,17) so 3 first, successor 17 at position 1 != 2+1
    # → run n=1 final. t3 never arrives → chain completes only to step 2.
    steps = [None, 50, 100]
    kleenes = [None, (50, None), None]
    got = _drive_consec_stream(
        [
            [(26, 199, 0b001)],
            [(17, 200, 0b011), (3, 200, 0b010)],
            [(60, 230, 0b100)],  # final step binds after the closed run
        ],
        steps, kleenes, {2},
    )
    assert got == [
        (26, "matched", 1, 200, 200),
        (17, "matched", 1, 200, 200),
    ]


# ---------------------------------------------------------------------------
# pattern_detect_reluctant — Flink's DEFAULT (non-greedy) Kleene emission
# ---------------------------------------------------------------------------

def run_reluctant(spark, events, gap_us, mn, mx, w3_us=100):
    """3-step A → B.times(mn..mx)-reluctant → C on one key; extract
    (anchor_id, (t1, t2, t2_last, n2, t3), state) in brute units."""
    import pandas as pd

    from flink_uba_spark.operators.sequence import pattern_detect_reluctant

    schema = "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(3)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    out = pattern_detect_reluctant(
        df, key="user_id",
        steps=[
            (F.col("c0"), None),
            (F.col("c1"), f"INTERVAL {gap_us} MICROSECONDS", (mn, mx)),
            (F.col("c2"), f"INTERVAL {w3_us} MICROSECONDS"),
        ],
        reluctant={2},
    ).toPandas()

    def us(v):
        return None if pd.isna(v) else int((v.to_pydatetime() - EPOCH).total_seconds() * 1e6)

    got = []
    for _, r in out.iterrows():
        key = (us(r["t1"]), us(r["t2"]), us(r["t2_last"]),
               None if pd.isna(r["n2"]) else int(r["n2"]), us(r["t3"]))
        got.append((int(r["anchor_id"]), key, r["state"]))
    return sorted(
        got,
        key=lambda r: (
            r[0],
            tuple((v is None, v if v is not None else 0) for v in r[1]),
            r[2],
        ),
    )


@st.composite
def reluctant_case(draw):
    gap = draw(st.integers(2, 40))
    mn = draw(st.integers(1, 2))
    mx = mn + draw(st.integers(0, 2))
    n_ev = draw(st.integers(0, 16))
    events = [
        (i, draw(st.integers(0, 90)), draw(st.integers(0, 7)))
        for i in range(n_ev)
    ]
    return gap, mn, mx, events


@pytest.mark.slow
@settings(max_examples=60, deadline=None)
@given(reluctant_case())
def test_reluctant_matches_brute(spark, case):
    from test_properties_round5 import brute_reluctant

    gap, mn, mx, events = case
    got = [r for r in run_reluctant(spark, events, gap, mn, mx)
           if r[2] in ("matched", "matched_late")]
    want = brute_reluctant(
        events, [(None, None), (gap, (gap, mx, mn)), (100, None)], {2},
        final_wm_ms=10 ** 15,
    )
    assert got == want


def test_reluctant_emits_every_prefix(spark):
    """The Flink doc example: pattern a b+ c on a b1 b2 b3 c (b+ capped
    at 3, reluctant) emits {a b1 c}, {a b1 b2 c}, {a b1 b2 b3 c} — one
    match per repetition count, each binding c AFTER its prefix's last
    repetition; the greedy engine keeps only the longest."""
    from flink_uba_spark.operators.sequence import pattern_detect

    events = [(1, 0, 0b001), (2, 10, 0b010), (3, 20, 0b010),
              (4, 30, 0b010), (5, 40, 0b100)]
    got = run_reluctant(spark, events, 50, 1, 3)
    assert got == [
        (1, (0, 10, 10, 1, 40), "matched"),
        (1, (0, 10, 20, 2, 40), "matched"),
        (1, (0, 10, 30, 3, 40), "matched"),
    ]
    # greedy twin: ONE row, the full run
    schema = "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(3)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema)
    greedy = pattern_detect(
        df, key="user_id",
        steps=[
            (F.col("c0"), None),
            (F.col("c1"), "INTERVAL 50 MICROSECONDS", (1, 3)),
            (F.col("c2"), "INTERVAL 100 MICROSECONDS"),
        ],
    ).toPandas()
    assert len(greedy) == 1 and int(greedy.iloc[0]["n2"]) == 3


def test_reluctant_dedupes_unbound_branches(spark):
    """An anchor whose reluctant run never binds produces IDENTICAL rows
    in every count branch — exactly one survives the dropDuplicates."""
    events = [(1, 0, 0b001)]  # anchor only, no reps at all
    got = run_reluctant(spark, events, 50, 1, 3)
    assert got == [(1, (0, None, None, None, None), "incomplete")]


def test_reluctant_short_run_skips_high_counts(spark):
    """A 2-rep run admits counts 1 and 2 only; the count-3 branch has no
    valid entry (times validity: avail >= min_reps) and contributes the
    deduped incomplete row — which vanishes behind the bound branches'
    matched rows only in state filtering, not in the raw output."""
    events = [(1, 0, 0b001), (2, 10, 0b010), (3, 20, 0b010), (4, 30, 0b100)]
    got = run_reluctant(spark, events, 50, 1, 3)
    matched = [r for r in got if r[2] == "matched"]
    assert [(r[1][3]) for r in matched] == [1, 2]
    assert (1, (0, None, None, None, None), "incomplete") in got


def test_reluctant_validation(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_reluctant

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    )
    steps_inf = [
        (F.col("c0"), None),
        (F.col("c1"), "INTERVAL 10 MICROSECONDS", (1, float("inf"))),
        (F.col("c2"), "INTERVAL 10 MICROSECONDS"),
    ]
    with pytest.raises(ValueError, match="FINITE"):
        pattern_detect_reluctant(df, "user_id", steps_inf, reluctant={2})
    steps_wide = [
        (F.col("c0"), None),
        (F.col("c1"), "INTERVAL 10 MICROSECONDS", (1, 40)),
        (F.col("c2"), "INTERVAL 10 MICROSECONDS"),
    ]
    with pytest.raises(ValueError, match="16-plan"):
        pattern_detect_reluctant(df, "user_id", steps_wide, reluctant={2})
    steps_scalar = [
        (F.col("c0"), None),
        (F.col("c1"), "INTERVAL 10 MICROSECONDS", 3),
        (F.col("c2"), "INTERVAL 10 MICROSECONDS"),
    ]
    with pytest.raises(ValueError, match="explicit"):
        pattern_detect_reluctant(df, "user_id", steps_scalar, reluctant={2})
    with pytest.raises(ValueError, match="at least one"):
        pattern_detect_reluctant(df, "user_id", steps_scalar, reluctant=set())


# ---------------------------------------------------------------------------
# CUMULATE windowing TVF
# ---------------------------------------------------------------------------

def test_cumulate_counts_expansion_pin(spark):
    """An event at bucket offset o contributes to every cumulate window
    ending AFTER it: floor(o/step)+1 .. max/step — the Flink CUMULATE
    TVF emission, pinned on a hand case (step=10us, max=30us)."""
    from flink_uba_spark.operators.topn import cumulate_counts

    rows = [
        (1, EPOCH + datetime.timedelta(microseconds=5), "a"),   # windows 10,20,30
        (2, EPOCH + datetime.timedelta(microseconds=10), "a"),  # windows 20,30
        (3, EPOCH + datetime.timedelta(microseconds=29), "a"),  # window 30
        (4, EPOCH + datetime.timedelta(microseconds=30), "a"),  # NEXT bucket: 40,50,60
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, k string")
    out = cumulate_counts(
        df, "k", ts="ts", step="10 microseconds", max_size="30 microseconds"
    ).toPandas()

    def us(v):
        return int((v.to_pydatetime() - EPOCH).total_seconds() * 1e6)

    got = sorted((us(r["window_start"]), us(r["window_end"]), int(r["cnt"]))
                 for _, r in out.iterrows())
    assert got == [
        (0, 10, 1),   # only event 1
        (0, 20, 2),   # events 1, 2
        (0, 30, 3),   # events 1, 2, 3
        (30, 40, 1),  # event 4 opens the next bucket
        (30, 50, 1),
        (30, 60, 1),
    ]


def test_cumulate_counts_matches_brute_random(spark):
    """Randomized cross-check against a 5-line python reference."""
    import random
    from collections import Counter

    from flink_uba_spark.operators.topn import cumulate_counts

    rnd = random.Random(73)
    # step/max must divide EPOCH's unix-µs offset: cumulate buckets align
    # to the UNIX epoch (8 | 10^6 and 24 | 1577836800, so both divide it)
    step, mx = 8, 24
    evs = [(i, rnd.randint(0, 100), rnd.choice("ab")) for i in range(60)]
    want = Counter()
    for _i, ts, k in evs:
        start = ts - ts % mx
        for j in range((ts - start) // step + 1, mx // step + 1):
            want[(start, start + j * step, k)] += 1
    rows = [(i, EPOCH + datetime.timedelta(microseconds=ts), k) for i, ts, k in evs]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, k string")
    out = cumulate_counts(
        df, "k", ts="ts", step="8 microseconds", max_size="24 microseconds"
    ).toPandas()

    def us(v):
        return int((v.to_pydatetime() - EPOCH).total_seconds() * 1e6)

    got = {(us(r["window_start"]), us(r["window_end"]), r["k"]): int(r["cnt"])
           for _, r in out.iterrows()}
    assert got == dict(want)


def test_cumulate_counts_validation(spark):
    from flink_uba_spark.operators.topn import cumulate_counts

    df = spark.createDataFrame([], "event_id long, ts timestamp, k string")
    with pytest.raises(ValueError, match="multiple"):
        cumulate_counts(df, "k", step="7 microseconds", max_size="20 microseconds")


# ---------------------------------------------------------------------------
# tfidf_keywords
# ---------------------------------------------------------------------------

def test_tfidf_keywords_hand_case(spark):
    """tf * (N*1e6 // df) with per-doc (score desc, tok) ranking: 'rare'
    appears once in one of 4 docs → idf weight 4e6; 'common' in all 4 →
    1e6; tf multiplies."""
    from flink_uba_spark.operators.search import tfidf_keywords

    rows = [
        (1, "common rare common"),
        (2, "common"),
        (3, "common"),
        (4, "common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=2).toPandas().sort_values(["doc_id", "rnk"])
    got = [(int(r.doc_id), int(r.rnk), r.tok, int(r.tf), int(r.df), int(r.score_q))
           for r in out.itertuples()]
    assert got == [
        (1, 1, "rare", 1, 1, 4_000_000),
        (1, 2, "common", 2, 4, 2_000_000),
        (2, 1, "common", 1, 4, 1_000_000),
        (3, 1, "common", 1, 4, 1_000_000),
        (4, 1, "common", 1, 4, 1_000_000),
    ]


def test_tfidf_keywords_df_cap_guard(spark):
    """max_df_permille drops corpus-wide tokens: at 500‰ the 4/4-doc
    'common' token is excluded and only 'rare' survives."""
    from flink_uba_spark.operators.search import tfidf_keywords

    rows = [(1, "common rare"), (2, "common"), (3, "common"), (4, "common")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=2, max_df_permille=500).toPandas()
    assert [(int(r.doc_id), r.tok) for r in out.itertuples()] == [(1, "rare")]


def test_tfidf_keywords_integer_div_exact(spark):
    """The idf weight is a true integer division (div), not a double
    round-trip: N=3, df=7 is impossible, so craft N*1e6/df non-terminating
    via df=3 → 3e6//3? use N=7 docs, df=3 → 7e6//3 = 2333333 (not
    2333333.33 rounded to ...334)."""
    from flink_uba_spark.operators.search import tfidf_keywords

    rows = [(i, "x" if i <= 3 else "y") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=1).toPandas()
    x = out[out["tok"] == "x"].iloc[0]
    assert int(x["score_q"]) == 7_000_000 // 3 == 2_333_333


# ---------------------------------------------------------------------------
# pattern_detect_combinations — allowCombinations()
# ---------------------------------------------------------------------------

def run_combinations(spark, events, gap_us, mn, mx, w3_us=100):
    """3-step a → b.times(mn..mx).allowCombinations → c on one key;
    extract ((i1, ib_1.., n2, i3), (t1, tb_1.., t3)) null-padded rows."""
    import pandas as pd

    from flink_uba_spark.operators.sequence import pattern_detect_combinations

    schema = "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(3)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    out = pattern_detect_combinations(
        df, key="user_id",
        steps=[
            (F.col("c0"), None),
            (F.col("c1"), f"INTERVAL {gap_us} MICROSECONDS", (mn, mx)),
            (F.col("c2"), f"INTERVAL {w3_us} MICROSECONDS"),
        ],
        combinations={2},
    ).toPandas()

    def iv(v):
        return None if pd.isna(v) else int(v)

    def us(v):
        return None if pd.isna(v) else int((v.to_pydatetime() - EPOCH).total_seconds() * 1e6)

    got = []
    for _, r in out.iterrows():
        row = (
            iv(r["i1"]),
            *[iv(r[f"i2_{j}"]) for j in range(1, mx + 1)],
            iv(r["n2"]), iv(r["i3"]),
            us(r["t1"]),
            *[us(r[f"t2_{j}"]) for j in range(1, mx + 1)],
            us(r["t3"]),
        )
        got.append(row)
    return sorted(got, key=lambda t: tuple((v is None, v or 0) for v in t))


def brute_combinations(events, gap_us, mn, mx, w3_us=100):
    """Union over m of brute_any on the m-leg expansion of the loop."""
    got = []
    for m in range(mn, mx + 1):
        expanded = []
        for eid, ts, msk in events:
            em = (msk & 1)
            for j in range(m):
                em |= ((msk >> 1) & 1) << (1 + j)
            em |= ((msk >> 2) & 1) << (1 + m)
            expanded.append((eid, ts, em))
        withins = [0] + [gap_us] * m + [w3_us]
        for r in brute_any(expanded, withins):
            n = m + 2
            ids, tss = r[:n], r[n:]
            pad = [None] * (mx - m)
            got.append((
                ids[0], *ids[1:1 + m], *pad, m, ids[-1],
                tss[0], *tss[1:1 + m], *pad, tss[-1],
            ))
    return sorted(got, key=lambda t: tuple((v is None, v or 0) for v in t))


@st.composite
def combinations_case(draw):
    gap = draw(st.integers(2, 40))
    mn = draw(st.integers(1, 2))
    mx = mn + draw(st.integers(0, 1))
    n_ev = draw(st.integers(0, 12))
    events = [
        (i, draw(st.integers(0, 70)), draw(st.integers(0, 7)))
        for i in range(n_ev)
    ]
    return gap, mn, mx, events


@pytest.mark.slow
@settings(max_examples=60, deadline=None)
@given(combinations_case())
def test_combinations_matches_brute(spark, case):
    gap, mn, mx, events = case
    assert run_combinations(spark, events, gap, mn, mx) == brute_combinations(
        events, gap, mn, mx
    )


def test_combinations_emits_every_subset(spark):
    """The Flink doc example: a b+ c (allowCombinations, counts 1..2) on
    a b1 b2 c emits the {b1}, {b2} AND {b1,b2} subsets — the default
    relaxed loop would emit only the {b1}, {b1,b2} prefixes."""
    events = [(1, 0, 0b001), (2, 10, 0b010), (3, 20, 0b010), (4, 30, 0b100)]
    got = run_combinations(spark, events, 50, 1, 2)
    assert got == sorted([
        (1, 2, None, 1, 4, 0, 10, None, 30),    # {b1}
        (1, 3, None, 1, 4, 0, 20, None, 30),    # {b2}
        (1, 2, 3, 2, 4, 0, 10, 20, 30),         # {b1, b2}
    ], key=lambda t: tuple((v is None, v or 0) for v in t))


def test_combinations_same_ts_id_order(spark):
    """Two same-ts loop candidates bind in id order (the family's
    (ts, rank, id) total order): only the lower-id-first pair exists."""
    events = [(1, 0, 0b001), (5, 10, 0b010), (3, 10, 0b010), (9, 40, 0b100)]
    got = run_combinations(spark, events, 50, 2, 2)
    assert got == [(1, 3, 5, 2, 9, 0, 10, 10, 40)]
    assert got == brute_combinations(events, 50, 2, 2)


def test_combinations_validation(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_combinations

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean, c2 boolean"
    )
    base = [
        (F.col("c0"), None),
        (F.col("c1"), "INTERVAL 10 MICROSECONDS", (1, 2)),
        (F.col("c2"), "INTERVAL 10 MICROSECONDS"),
    ]
    with pytest.raises(ValueError, match="at least one"):
        pattern_detect_combinations(df, "user_id", base, combinations=set())
    inf = [base[0], (F.col("c1"), "INTERVAL 10 MICROSECONDS", (1, float("inf"))), base[2]]
    with pytest.raises(ValueError, match="FINITE"):
        pattern_detect_combinations(df, "user_id", inf, combinations={2})
    wide = [base[0], (F.col("c1"), "INTERVAL 10 MICROSECONDS", (1, 9)), base[2]]
    with pytest.raises(ValueError, match="8-plan"):
        pattern_detect_combinations(df, "user_id", wide, combinations={2})
    now = [base[0], (F.col("c1"), None, (1, 2)), base[2]]
    with pytest.raises(ValueError, match="within"):
        pattern_detect_combinations(df, "user_id", now, combinations={2})
    nospec = [base[0], (F.col("c1"), "INTERVAL 10 MICROSECONDS"), base[2]]
    with pytest.raises(ValueError, match="spec"):
        pattern_detect_combinations(df, "user_id", nospec, combinations={2})


# ---------------------------------------------------------------------------
# pattern_detect_group_loop — Flink group patterns (Pattern.begin(sub).times)
# ---------------------------------------------------------------------------

def run_group_loop(spark, events, gaps_us, mn, mx, w_suf_us=100):
    """a → (b c).times(mn..mx) → d on one key; slots c0=a, c1=b, c2=c,
    c3=d; gaps_us = (w_b, w_c) the group's per-step withins."""
    import pandas as pd

    from flink_uba_spark.operators.sequence import pattern_detect_group_loop

    schema = "event_id long, user_id long, ts timestamp, " + ", ".join(
        f"c{j} boolean" for j in range(4)
    )
    rows = [
        (eid, 0, EPOCH + datetime.timedelta(microseconds=ts),
         *[bool(m >> j & 1) for j in range(4)])
        for eid, ts, m in events
    ]
    df = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
    out = pattern_detect_group_loop(
        df, key="user_id",
        prefix=[(F.col("c0"), None)],
        group=[
            (F.col("c1"), f"INTERVAL {gaps_us[0]} MICROSECONDS"),
            (F.col("c2"), f"INTERVAL {gaps_us[1]} MICROSECONDS"),
        ],
        suffix=[(F.col("c3"), f"INTERVAL {w_suf_us} MICROSECONDS")],
        reps=(mn, mx),
    ).toPandas()

    def iv(v):
        return None if pd.isna(v) else int(v)

    def us(v):
        return None if pd.isna(v) else int((v.to_pydatetime() - EPOCH).total_seconds() * 1e6)

    got = []
    for _, r in out.iterrows():
        row = (
            iv(r["i1"]),
            *[iv(r[f"gi{rr}_{j}"]) for rr in range(1, mx + 1) for j in (1, 2)],
            iv(r["n_loops"]), iv(r["s1_id"]),
            us(r["t1"]),
            *[us(r[f"gt{rr}_{j}"]) for rr in range(1, mx + 1) for j in (1, 2)],
            us(r["s1_ts"]),
        )
        got.append(row)
    return sorted(got, key=lambda t: tuple((v is None, v or 0) for v in t))


def brute_group_loop(events, gaps_us, mn, mx, w_suf_us=100):
    """Union over m of brute_any on the m-times tiled group expansion."""
    got = []
    for m in range(mn, mx + 1):
        expanded = []
        for eid, ts, msk in events:
            em = (msk & 1)
            for r in range(m):
                em |= ((msk >> 1) & 1) << (1 + 2 * r)
                em |= ((msk >> 2) & 1) << (2 + 2 * r)
            em |= ((msk >> 3) & 1) << (1 + 2 * m)
            expanded.append((eid, ts, em))
        withins = [0] + list(gaps_us) * m + [w_suf_us]
        for r in brute_any(expanded, withins):
            n = 2 * m + 2
            ids, tss = r[:n], r[n:]
            pad = [None] * (2 * (mx - m))
            got.append((
                ids[0], *ids[1:1 + 2 * m], *pad, m, ids[-1],
                tss[0], *tss[1:1 + 2 * m], *pad, tss[-1],
            ))
    return sorted(got, key=lambda t: tuple((v is None, v or 0) for v in t))


@st.composite
def group_loop_case(draw):
    gaps = (draw(st.integers(2, 40)), draw(st.integers(2, 40)))
    mn = draw(st.integers(1, 2))
    mx = mn + draw(st.integers(0, 1))
    n_ev = draw(st.integers(0, 12))
    events = [
        (i, draw(st.integers(0, 70)), draw(st.integers(0, 15)))
        for i in range(n_ev)
    ]
    return gaps, mn, mx, events


@pytest.mark.slow
@settings(max_examples=50, deadline=None)
@given(group_loop_case())
def test_group_loop_matches_brute(spark, case):
    gaps, mn, mx, events = case
    assert run_group_loop(spark, events, gaps, mn, mx) == brute_group_loop(
        events, gaps, mn, mx
    )


def test_group_loop_repeats_whole_subsequence(spark):
    """(b c).times(1..2): on a b1 c1 b2 c2 d the 2-loop match tiles the
    WHOLE group — b1 c1 b2 c2 — not just one step; 1-loop matches pick
    every (b, c) pair the windows admit."""
    events = [
        (1, 0, 0b0001), (2, 10, 0b0010), (3, 20, 0b0100),
        (4, 30, 0b0010), (5, 40, 0b0100), (6, 50, 0b1000),
    ]
    got = run_group_loop(spark, events, (100, 100), 1, 2)
    want = brute_group_loop(events, (100, 100), 1, 2)
    assert got == want
    two_loop = [r for r in got if r[5] == 2]
    assert two_loop == [(1, 2, 3, 4, 5, 2, 6, 0, 10, 20, 30, 40, 50)]
    one_loop = [r for r in got if r[5] == 1]
    # (b,c) pairs: (2,3), (2,5), (4,5) — each followed by d
    assert sorted((r[1], r[2]) for r in one_loop) == [(2, 3), (2, 5), (4, 5)]


def test_group_loop_validation(spark):
    from flink_uba_spark.operators.sequence import pattern_detect_group_loop

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, c0 boolean, c1 boolean"
    )
    pre = [(F.col("c0"), None)]
    grp = [(F.col("c1"), "INTERVAL 10 MICROSECONDS")]
    with pytest.raises(ValueError, match="FINITE"):
        pattern_detect_group_loop(df, "user_id", pre, grp, [], (1, float("inf")))
    with pytest.raises(ValueError, match="8-plan"):
        pattern_detect_group_loop(df, "user_id", pre, grp, [], (1, 20))
    with pytest.raises(ValueError, match="mandatory"):
        pattern_detect_group_loop(
            df, "user_id", pre, [(F.col("c1"), None)], [], (1, 2)
        )
    with pytest.raises(ValueError, match="anchor"):
        pattern_detect_group_loop(df, "user_id", [], grp, [], (1, 2))
    with pytest.raises(ValueError, match="at least one"):
        pattern_detect_group_loop(df, "user_id", pre, [], [], (1, 2))
