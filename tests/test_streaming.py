"""Streaming twins: batch/stream equivalence (SURVEY.md §5 point 3) and
state-machine unit tests (§5 point 4)."""

from __future__ import annotations

import pandas as pd
import pytest

from flink_uba_spark.queries import streaming as SQ
from flink_uba_spark.queries import uba
from flink_uba_spark.streaming.order_timeout import decode_state, make_bucket_detector
from tests.conftest import assert_matches_oracle
from tests.state_harness import NO_TIMEOUT, T0, StateHarness, case_us, replay

US = 1_000_000
H6 = 6 * 3600 * US


# a key whose rows match nothing: they only move the watermark
CLOCK = 10 ** 6


def _rows(*evs, clock_ms=None, unit=1):
    """Key 7's events ``(id, ts, type)``, ts in ``unit`` µs from case
    time 0 (``T0`` on the harness clock); a CLOCK row at ``clock_ms``
    sets the next batch's watermark."""
    rows = [(i, ts * unit, t, 7) for i, ts, t in evs]
    if clock_ms is not None:
        rows.append((0, clock_ms * 1000, "tick", CLOCK))
    return pd.DataFrame(
        [
            {"event_id": i, "ts": pd.Timestamp(T0 + us, unit="us"), "user_id": u, "event_type": t}
            for i, us, t, u in rows
        ]
    )


def _collect(frames, cols):
    """Key 7's emitted rows as one frame."""
    frames = [f[f["user_id"] == 7] for f in frames]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=cols)
    return pd.concat(frames, ignore_index=True)


_OUT_COLS = ["anchor_id", "follow_id", "user_id", "anchor_ts", "follow_ts", "state"]


def _run(harness, pdf):
    return _collect(harness.batch(pdf), _OUT_COLS)


def _fire(harness):
    return _collect(harness.flush(), _OUT_COLS)


# the bucket detector runs key 7 in bucket 3 of B=4
def _pending(harness):
    return decode_state(harness.states[3][0][0], 4).p_ids.tolist()


@pytest.fixture()
def detector():
    return StateHarness(make_bucket_detector(H6, "signup", "purchase", 4), group_of=lambda u: u % 4)


def test_detector_payed_within_deadline(detector):
    out = _run(detector, _rows((1, 0, "signup"), (2, US, "purchase")))
    assert list(out["state"]) == ["payed"]
    assert out.loc[0, "anchor_id"] == 1 and out.loc[0, "follow_id"] == 2


def test_detector_payed_late(detector):
    out = _run(detector, _rows((1, 0, "signup"), (2, H6 + US, "purchase")))
    assert list(out["state"]) == ["payed_late"]


def test_detector_orphan_pay(detector):
    out = _run(detector, _rows((2, US, "purchase")))
    assert list(out["state"]) == ["pay_no_create"]
    # a later pay after an anchor existed is NOT an orphan
    out2 = _run(detector, _rows((3, 2 * US, "signup"), (4, 3 * US, "purchase")))
    assert list(out2["state"]) == ["payed"]


def test_detector_timer_fires_timeout(detector):
    out = _run(detector, _rows((1, 0, "signup"), clock_ms=(H6 + US) // 1000))
    assert len(out) == 0 and detector.states[3][1] != -1
    # watermark passes the deadline → timeout emitted on the timer call
    out2 = _fire(detector)
    assert list(out2["state"]) == ["timeout"]
    assert out2.loc[0, "anchor_id"] == 1 and out2.loc[0, "user_id"] == 7


def test_detector_timer_boundary_is_ms_floored():
    """ADVICE r1 boundary pin: a key with rows in the batch fires on
    deadline_us <= wm_ms*1000. An anchor whose deadline exceeds the
    ms-floored watermark by even 0.4 ms does NOT fire; exact ms equality
    DOES (non-strict <=). The streaming oracle replicates this with
    (epoch_us(w) // 1000) * 1000. A key without rows fires only once the
    watermark passes its stored timer (Spark's strict rule)."""

    def harness():
        return StateHarness(make_bucket_detector(H6, "signup", "purchase", 4), group_of=lambda u: u % 4)

    # anchor at 400us: deadline = H6 + 400us; wm_ms floor(H6/1000) → no fire
    h = harness()
    _run(h, _rows((1, 400, "signup"), clock_ms=H6 // 1000))
    out = _run(h, _rows((2, H6 // 2, "signup")))
    assert len(out) == 0 and _pending(h) == [1, 2]
    # anchor at 0: deadline == wm_ms*1000 exactly → fires (<= is non-strict)
    h = harness()
    _run(h, _rows((1, 0, "signup"), clock_ms=H6 // 1000))
    out2 = _run(h, _rows((2, H6 // 2, "signup")))
    assert list(out2["anchor_id"]) == [1] and list(out2["state"]) == ["timeout"]
    # without rows the same key waits until the watermark passes its timer
    h = harness()
    _run(h, _rows((1, 0, "signup"), clock_ms=H6 // 1000))
    assert len(_run(h, _rows(clock_ms=H6 // 1000 + 1))) == 0 and _pending(h) == [1]
    assert list(_run(h, _rows())["state"]) == ["timeout"]


def test_detector_unfired_timer_stays_pending(detector):
    _run(detector, _rows((1, 0, "signup"), clock_ms=US // 1000))
    out = _fire(detector)  # the watermark stays before the deadline
    assert len(out) == 0
    assert _pending(detector) == [1]  # anchor still pending


@pytest.mark.parametrize(
    "text, us",
    [
        ("6 hours", H6),
        ("1 hour", 3600 * US),
        ("INTERVAL 15 MINUTES", 15 * 60 * US),
        ("0 seconds", 0),
        ("1 day", 24 * 3600 * US),
    ],
)
def test_interval_spellings(spark, monkeypatch, text, us):
    """The order-timeout deadline and the dead-letter tap's delay read
    every interval spelling the batch operators take."""
    from pyspark.sql import functions as F

    from flink_uba_spark.streaming import order_timeout
    from flink_uba_spark.streaming.late_rows import WatermarkReplica

    seen = []
    real = order_timeout.make_bucket_detector

    def spy(deadline_us, *rest):
        seen.append(deadline_us)
        return real(deadline_us, *rest)

    monkeypatch.setattr(order_timeout, "make_bucket_detector", spy)
    events = spark.readStream.format("rate").load().select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 5).alias("user_id"),
        F.lit("signup").alias("event_type"),
    )
    order_timeout.stream_order_timeout(events, deadline=text)
    assert seen == [us]
    assert WatermarkReplica(text).delay_ms == us // 1000


def test_stream_queries_match_oracle(spark, duck, sf_dir):
    for name in ("stream_hot_items", "stream_attribution_join", "stream_order_timeout_states"):
        assert_matches_oracle(SQ.QUERIES[name](spark, sf_dir), duck, SQ.ORACLES[name])


def test_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join converges to the batch answer on
    bounded input (watermarks bound state, not output)."""
    batch = uba.attribution_interval_join(spark, sf_dir).toPandas()
    stream = SQ.stream_attribution_join(spark, sf_dir).toPandas()
    assert len(batch) > 0, "batch join returned no rows — vacuous equivalence"
    key = ["pay_id", "view_id"]
    assert sorted(map(tuple, batch[key].values)) == sorted(map(tuple, stream[key].values))


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """The RocksDB state store — the production provider once streaming
    state exceeds executor heap (100 TB hot-items windows, dedup keys) —
    must produce byte-identical results to the default HDFS-backed store."""
    from pyspark.sql import functions as F

    from flink_uba_spark.streaming.runner import run_to_table, stream_events
    from flink_uba_spark.streaming.windows import stream_windowed_counts

    def q():
        ev = stream_events(spark, sf_dir)
        views = ev.filter(F.col("event_type") == "view").select(
            F.get_json_object("props", "$.k").cast("long").alias("item_id"), "ts"
        )
        return run_to_table(stream_windowed_counts(views, F.col("item_id"), "item_id"))

    base = q().toPandas()
    assert len(base) > 0, "no windows — vacuous equivalence"
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = q().toPandas()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    cols = sorted(base.columns)
    b = base[cols].sort_values(cols).reset_index(drop=True)
    r = rocks[cols].sort_values(cols).reset_index(drop=True)
    assert b.equals(r)


def test_transition_state_links_across_micro_batches(spark, sf_dir):
    """The transition extractor's state must chain the LAST event of one
    micro-batch to the FIRST of the next — split the events into two
    time-ordered replay batches and require the same pair multiset as the
    batch lag-window form."""
    from pyspark.sql import functions as F

    from flink_uba_spark.queries.behavior import event_transition_matrix
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import run_to_table, write_replay
    from flink_uba_spark.streaming.transitions import stream_transition_pairs

    ev = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "user_id", "event_id", "event_type", "ts"
    )
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    first = ev.filter(F.unix_micros("ts") <= mid)
    second = ev.filter(F.unix_micros("ts") > mid)
    replay = write_replay([first, second], tag="transitions_2b")
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    pairs = run_to_table(stream_transition_pairs(sdf))
    got = (
        pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt")).toPandas()
    )
    want = event_transition_matrix(spark, sf_dir).toPandas()
    assert len(want) > 0, "no transitions — vacuous"
    cols = sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(w)


# --- streaming N-step pattern matcher (streaming/pattern.py) ---

_P_STEPS = ["view", "click", "purchase"]
_P_WITHINS = [None, 30 * 60 * US, 2 * 3600 * US]


_P_OUT = ["user_id", "anchor_id", "t1", "t2", "t3", "max_step", "state"]


def _p_harness(ttl_us=None):
    """The plain chain matcher on key 7, wired as the engine wires it:
    event-time timers only with a ttl."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    detect = make_pattern_matcher(_P_STEPS, _P_WITHINS, ttl_us=ttl_us)
    if ttl_us is None:
        return StateHarness(detect, timeout=NO_TIMEOUT, delay_ms=None)
    return StateHarness(detect)


def _p_run(harness, pdf):
    return _collect(harness.batch(pdf), _P_OUT)


def _state(harness):
    """Key 7's stored state, None when there is none."""
    return harness.states.get(7, (None, None))[0]


def test_pattern_matcher_single_batch_match_and_late():
    st = _p_harness()
    out = _p_run(
        st,
        _rows(
            (1, 0, "view"),
            (2, 10 * 60 * US, "click"),          # within 30m
            (3, 60 * 60 * US, "purchase"),       # within 2h of click
            (4, 61 * 60 * US, "view"),
            (5, 100 * 60 * US, "click"),         # 39m after view 4 -> late
            (6, 110 * 60 * US, "purchase"),
        ),
    )
    out = out.sort_values("anchor_id").reset_index(drop=True)
    assert list(out["anchor_id"]) == [1, 4]
    assert list(out["state"]) == ["matched", "matched_late"]
    assert _state(st) is None  # all chains resolved -> state removed


def test_pattern_matcher_chains_across_batches_and_shares_successors():
    st = _p_harness()
    # batch 1: two anchors + one click; nothing completes
    out1 = _p_run(st, _rows((1, 0, "view"), (2, 5 * 60 * US, "view"), (3, 6 * 60 * US, "click")))
    assert len(out1) == 0 and _state(st) is not None
    # anchor 1 and 2 both bound click 3; both wait for purchase
    a_ids, steps = _state(st)[0], _state(st)[1]
    assert sorted(a_ids) == [1, 2] and list(steps) == [2, 2]
    # batch 2: one purchase completes BOTH chains off the shared click
    out2 = _p_run(st, _rows((9, 20 * 60 * US, "purchase")))
    out2 = out2.sort_values("anchor_id").reset_index(drop=True)
    assert list(out2["anchor_id"]) == [1, 2]
    assert list(out2["state"]) == ["matched", "matched"]
    assert [case_us(t) for t in out2["t2"]] == [6 * 60 * US] * 2
    assert _state(st) is None


def test_pattern_matcher_same_ts_successor_counts():
    """A same-timestamp successor binds (the batch compiler's
    earlier-steps-first tie rule) and the (ts, id)-minimal candidate wins."""
    out = _p_run(
        _p_harness(),
        _rows(
            (5, 0, "view"),
            (4, 0, "click"),       # same ts as the view -> still binds
            (9, 60, "purchase"),
            (2, 60, "purchase"),   # equal ts: min id wins
        ),
    )
    assert len(out) == 1 and out.loc[0, "anchor_id"] == 5
    assert out.loc[0, "state"] == "matched"


def test_stream_pattern_matches_batch_on_two_batch_replay(spark, sf_dir):
    """End-to-end: the streaming NFA over a two-batch event-time replay
    equals the batch pattern compiler minus its incomplete rows."""
    from pyspark.sql import functions as F

    from flink_uba_spark.queries.behavior import pattern_view_click_purchase
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.pattern import stream_pattern_detect
    from flink_uba_spark.streaming.runner import run_to_table, write_replay

    ev = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    replay = write_replay(
        [ev.filter(F.unix_micros("ts") <= mid), ev.filter(F.unix_micros("ts") > mid)],
        tag="pattern_2b",
    )
    sdf = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(replay)
    )
    got = run_to_table(
        stream_pattern_detect(
            sdf,
            key="user_id",
            steps=[("view", None), ("click", "INTERVAL 30 MINUTES"), ("purchase", "INTERVAL 2 HOURS")],
        )
    ).toPandas()
    want = (
        pattern_view_click_purchase(spark, sf_dir)
        .filter("state != 'incomplete'")
        .toPandas()
    )
    assert len(want) > 100, "vacuous"
    cols = sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(w)


def test_pattern_matcher_ttl_flushes_stale_chains_as_incomplete():
    """With state_ttl set, a chain idle past last-bound-ts + ttl (by
    watermark) flushes as an incomplete row and leaves state; fresh chains
    survive the same timer pass."""
    ttl = 3600 * US
    st = _p_harness(ttl)
    # two anchors: one stale (t=0), one fresh (t = ttl - 1s); wm still 0;
    # the next batch runs just past t1=0 + ttl
    out1 = _p_run(st, _rows((1, 0, "view"), (2, ttl - US, "view"), clock_ms=(ttl + 1000) // 1000))
    assert len(out1) == 0 and _state(st) is not None and st.states[7][1] != -1
    # timer fires: watermark passes anchor-1's deadline only
    out2 = _p_run(st, _rows())
    assert list(out2["anchor_id"]) == [1]
    assert list(out2["state"]) == ["incomplete"]
    assert list(out2["max_step"]) == [1]
    assert pd.isna(out2.loc[0, "t2"]) and pd.isna(out2.loc[0, "t3"])
    a_ids, steps = _state(st)[0], _state(st)[1]
    assert list(a_ids) == [2]  # fresh chain survives


def test_pattern_matcher_ttl_zero_none_is_exact():
    """ttl_us=None (the default) never flushes — state persists across an
    arbitrarily late binder, producing matched_late exactly as batch."""
    st = _p_harness()
    _p_run(st, _rows((1, 0, "view")))
    out = _p_run(st, _rows((2, 10**10, "click"), (3, 10**10 + 1, "purchase")))
    assert list(out["state"]) == ["matched_late"]


def test_stream_pattern_arbitrary_predicates_match_batch(spark, sf_dir):
    """The streaming NFA accepts Column predicates (the batch compiler's
    surface): a value-filtered 3-step pattern over a two-batch replay must
    equal batch pattern_detect minus incomplete rows."""
    from pyspark.sql import functions as F

    from flink_uba_spark.operators.sequence import pattern_detect
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.pattern import stream_pattern_detect
    from flink_uba_spark.streaming.runner import run_to_table, write_replay

    preds = [
        (F.col("event_type") == "view") & (F.col("value") >= 0.3),
        F.col("event_type") == "click",
        (F.col("event_type") == "purchase") | (F.col("event_type") == "signup"),
    ]
    ev = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    replay = write_replay(
        [ev.filter(F.unix_micros("ts") <= mid), ev.filter(F.unix_micros("ts") > mid)],
        tag="pattern_pred_2b",
    )
    sdf = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(replay)
    )
    got = run_to_table(
        stream_pattern_detect(
            sdf,
            key="user_id",
            steps=[(preds[0], None), (preds[1], "INTERVAL 30 MINUTES"), (preds[2], "INTERVAL 2 HOURS")],
        )
    ).toPandas()
    want = (
        pattern_detect(
            ev,
            key="user_id",
            steps=[(preds[0], None), (preds[1], "INTERVAL 30 MINUTES"), (preds[2], "INTERVAL 2 HOURS")],
        )
        .filter("state != 'incomplete'")
        .withColumnRenamed("anchor_id", "anchor_id")
        .toPandas()
    )
    assert len(want) > 20, "vacuous"
    cols = sorted(set(got.columns) & set(want.columns))
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(w)


# --- bounded-Kleene streaming NFA (streaming/pattern.py) ---

_K_OUT = ["user_id", "anchor_id", "t1", "t2", "t2_last", "n2", "t3", "max_step", "state"]


def _k_detector(gap_s=100, cap=3):
    from flink_uba_spark.streaming.pattern import make_pattern_matcher

    return make_pattern_matcher(
        ["A", "B", "C"], [None, None, None], kleenes=[None, (gap_s * US, cap), None]
    )


def _k_harness(gap_s=100, cap=3):
    """The Kleene chain matcher on key 7, on event-time timers."""
    return StateHarness(_k_detector(gap_s, cap))


def _k_run(harness, pdf):
    return _collect(harness.batch(pdf), _K_OUT)


def test_kleene_run_extends_across_batches_then_gap_closes():
    st = _k_harness()
    out1 = _k_run(st, _rows((1, 0, "A"), (2, 10, "B"), unit=US))
    assert len(out1) == 0 and _state(st) is not None
    out2 = _k_run(st, _rows((3, 50, "B"), (4, 400, "B"), (5, 500, "C"), unit=US))
    assert len(out2) == 1
    r = out2.iloc[0]
    assert (r["anchor_id"], r["n2"], r["state"]) == (1, 2, "matched")
    assert case_us(r["t2_last"]) == 50 * US
    assert case_us(r["t3"]) == 500 * US


def test_kleene_watermark_closure_binds_buffered_candidate():
    st = _k_harness(gap_s=100, cap=5)
    # C arrives while the run is still open -> buffered, not bound; the
    # next batch runs past last_rep + gap
    out1 = _k_run(st, _rows(
        (1, 0, "A"), (2, 10, "B"), (3, 50, "C"), unit=US, clock_ms=((10 + 100) * US) // 1000 + 1,
    ))
    assert len(out1) == 0 and _state(st) is not None and st.states[7][1] != -1
    out2 = _k_run(st, _rows())
    assert len(out2) == 1
    r = out2.iloc[0]
    assert (r["anchor_id"], r["n2"]) == (1, 1)
    assert case_us(r["t3"]) == 50 * US
    assert _state(st) is None


def test_kleene_cap_closure_ignores_overflow_reps():
    out = _k_run(
        _k_harness(gap_s=100, cap=3),
        _rows(
            (1, 0, "A"), (2, 1, "B"), (3, 2, "B"), (4, 3, "B"),
            (5, 4, "B"),               # beyond cap: not in the run
            (6, 3, "C"), (7, 5, "C"),  # C@3 ties run-last ts; C@5 binds
            unit=US,
        ),
    )
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["n2"], case_us(r["t2_last"]) // US) == (3, 3)
    # run-last row (B@3, rank 2) precedes C@3 (rank 3) at equal ts -> C@3 binds
    assert case_us(r["t3"]) == 3 * US


def _k_brute(events, gap_s=100, cap=3, final_wm_ms=None):
    """Batch Kleene semantics + the streaming closure filter."""
    gap = gap_s * US
    rank = {"A": 1, "B": 2, "C": 3}
    evs = sorted(
        [(i, s * US, t) for i, s, t in events if t in rank],
        key=lambda e: (e[1], rank[e[2]], e[0]),
    )
    if not evs:
        return []
    bpos = [(p, e) for p, e in enumerate(evs) if e[2] == "B"]
    bs = sorted(bpos, key=lambda pe: (pe[1][1], pe[1][0]))  # (ts, id) session order
    maxts = max(e[1] for e in evs)
    out = []
    for p0, (aid, ats, t) in enumerate(evs):
        if t != "A":
            continue
        entries = [(e[1], e[0], p, si) for si, (p, e) in enumerate(bs) if p > p0]
        if not entries:
            continue
        ets, eid, epos, esi = min(entries)
        # greedy run through (ts,id)-ordered B rows from esi
        n = 1
        last_si = esi
        while n < cap and last_si + 1 < len(bs):
            if bs[last_si + 1][1][1] <= bs[last_si][1][1] + gap:
                last_si += 1
                n += 1
            else:
                break
        lpos, (lid, lts, _) = bs[last_si][0], (bs[last_si][1][0], bs[last_si][1][1], 0)
        cands = [(e[1], e[0]) for p, e in enumerate(evs) if p > lpos and e[2] == "C"]
        if not cands:
            continue
        t3, _ = min(cands)
        closed = (
            n == cap
            or any(e[1] > lts + gap for e in evs)
            or (final_wm_ms is not None and lts + gap <= final_wm_ms * 1000)
        )
        if closed:
            out.append((aid, ets, lts, n, t3))
    return sorted(out)


@pytest.mark.parametrize("seed", range(12))
def test_kleene_nfa_matches_bruteforce_across_random_splits(seed):
    import random

    rnd = random.Random(seed)
    events = [
        (i, rnd.randint(0, 1500), rnd.choice("ABBCX"))
        for i in range(rnd.randint(0, 28))
    ]
    cuts = sorted(rnd.sample(range(1, 1500), rnd.randint(0, 3)))
    # the final watermark is the max event time (ms floor); timers fire
    # mid-stream and in the final no-data batch
    frames, wm_ms = replay(
        _k_detector(gap_s=100, cap=3),
        [(i, s * US, t) for i, s, t in events],
        [c * US for c in cuts],
        lambda e: {"event_type": e[2] if isinstance(e[2], str) else "tick"},
    )
    got = [
        (r.anchor_id, case_us(r.t2), case_us(r.t2_last), r.n2, case_us(r.t3))
        for f in frames for r in f.itertuples(index=False)
    ]
    want = _k_brute(events, final_wm_ms=wm_ms) if events else []
    assert sorted(got) == want
