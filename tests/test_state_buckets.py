"""Hash-bucketed keyed state against per-key state.

The bucket-native order-timeout detector and the per-key reference run
through the same state harness (``tests/state_harness.py``, Spark's own
GroupState): the reference grouped on the raw key, the bucket detector
grouped on ``key % B``. Every micro-batch must emit the same rows; the
end-to-end check runs one catalog twin per keyed stateful operator under
several bucket counts. The bucket blob header, the refusal of a bucket
count below one and the bucket timer of the pattern operators' per-key
replay are pinned here too.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_uba_spark.queries import streaming as SQ
from flink_uba_spark.streaming.order_timeout import make_bucket_detector
from flink_uba_spark.streaming.pattern import (
    CHAIN_STATE_FIELDS,
    KMAP_CODEC,
    StateLayoutError,
    make_pattern_matcher,
    make_preference_fused,
    pack_bucket_blob,
    stream_pattern_detect,
    unpack_bucket_blob,
)
from tests.conftest import assert_matches_oracle
from tests.order_timeout_reference import make_detector
from tests.state_harness import StateHarness, per_bucket, rows_of

DL = 1_000_000  # deadline, µs
T0 = 1_000_000  # first event time, µs: rows at or below watermark 0 are late
COLS = ["event_id", "ts", "user_id", "event_type"]
# the clock key's `view` rows only move the watermark: at DELAY_MS behind
# them, a case's batch runs at exactly the watermark it names
CLOCK, DELAY_MS = 10 ** 6, 10 ** 6


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        [(i, pd.Timestamp(us, unit="us"), u, t) for i, us, u, t in rows], columns=COLS
    )


def _clocked(batches) -> list[pd.DataFrame]:
    """``(rows, watermark_ms)`` batches as harness input: each batch
    carries a clock row that sets the next batch's watermark."""
    frames = []
    for k, (rows, _wm) in enumerate(batches):
        if k + 1 < len(batches):
            rows = [*rows, (10 ** 9 + k, (batches[k + 1][1] + DELAY_MS) * 1000, CLOCK, "view")]
        frames.append(_frame(rows))
    return frames


def _assert_same(batches, b: int) -> int:
    """Replay ``batches`` of (rows, watermark_ms) through both detectors;
    returns the number of rows emitted."""
    ref = StateHarness(make_detector(DL), delay_ms=DELAY_MS)
    bucket = StateHarness(
        make_bucket_detector(DL, "signup", "purchase", b), delay_ms=DELAY_MS, group_of=lambda u: u % b
    )
    n = 0
    for k, rows in enumerate(_clocked(batches)):
        want = rows_of(ref.batch(rows))
        assert ref.last_wm == batches[k][1]
        assert rows_of(bucket.batch(rows)) == want, f"B={b} batch {k}"
        n += len(want)
    assert rows_of(bucket.flush()) == rows_of(ref.flush()) == []
    return n


def _random_case(rng: random.Random) -> list:
    """A few event-time-ordered batches over a few keys, with watermarks
    drawn near the anchors' deadlines (exact ms, ±1 ms) and a final
    data-less batch that fires timers."""
    n_users = rng.randint(1, 6)
    t, eid, wm = T0, 0, 0
    batches = []
    for _ in range(rng.randint(1, 5)):
        rows = []
        for _ in range(rng.randint(0, 12)):
            eid += 1
            us = t + rng.choice([0, 0, 400, rng.randint(0, 3 * DL)])
            kind = rng.choice(["signup", "purchase", "signup", "purchase", "view"])
            rows.append((eid, us, rng.randint(1, n_users), kind))
        if rows:
            t = max(r[1] for r in rows)
        batches.append((rows, wm))
        cands = [t // 1000, wm]
        if rows:
            a_us = rng.choice(rows)[1]
            cands += [(a_us + DL) // 1000 + d for d in (-1, 0, 1)]
        wm = max(wm, rng.choice(cands))
    batches.append(([], wm + rng.choice([0, 1, 2000])))
    return batches


@pytest.mark.parametrize("seed", range(8))
def test_bucket_detector_matches_per_key_reference(seed):
    rng = random.Random(seed)
    emitted = 0
    for _ in range(40):
        # 7 buckets outnumber the at most 6 keys: each group holds one key
        emitted += _assert_same(_random_case(rng), rng.choice([1, 2, 3, 7]))
    assert emitted > 0


@pytest.mark.parametrize("anchor_us", [0, 400])
@pytest.mark.parametrize("wm_delta_ms", [-1, 0, 1])
@pytest.mark.parametrize("with_rows", [True, False])
def test_bucket_detector_watermark_edges(anchor_us, wm_delta_ms, with_rows):
    """A watermark exactly at an anchor's deadline in ms, and 1 ms either
    side: a key with rows fires on ``a_us + deadline <= wm_ms * 1000``; a
    key without rows fires only after the watermark passes its stored
    timer. Key 2 only pays, an orphan, and so keeps no state."""
    a_us = T0 + anchor_us
    wm_ms = (a_us + DL) // 1000 + wm_delta_ms
    later = [(3, a_us + DL // 2, 1, "signup")] if with_rows else []
    batches = [
        ([(1, a_us, 1, "signup"), (2, a_us, 2, "purchase")], 0),
        (later, wm_ms),
        ([], wm_ms + 1),
        ([(4, a_us + 3 * DL, 1, "purchase")], wm_ms + 1),
    ]
    for b in (1, 2, 3):  # 3 buckets outnumber the 2 keys
        assert _assert_same(batches, b) > 0


def _twin_matches_oracle(spark, duck, sf_dir, monkeypatch, name, buckets):
    if buckets is None:
        monkeypatch.delenv("SPARK_GRAFT_STATE_BUCKETS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", buckets)
    assert_matches_oracle(SQ.QUERIES[name](spark, sf_dir), duck, SQ.ORACLES[name])


@pytest.mark.parametrize("buckets", ["1", "3", None])
def test_order_timeout_twin_same_for_every_bucket_count(spark, duck, sf_dir, monkeypatch, buckets):
    """The catalog twin hash-matches its oracle under one bucket, a
    prime B and the session default."""
    _twin_matches_oracle(
        spark, duck, sf_dir, monkeypatch, "stream_order_timeout_states", buckets
    )


# one twin per keyed stateful operator family routed through
# _keyed_state_apply (order_timeout is covered above)
BUCKETED_TWINS = [
    "stream_pattern_view_click_purchase",
    "stream_match_recognize_skip_to_first",
    "stream_match_recognize_trailing_run",
    "stream_match_recognize_reluctant_lazy",
    "stream_rolling_7d_user_purchases",
    "stream_temporal_join_price_at_view",
    "stream_event_transitions",
    "stream_pattern_budget_error_run",
    "stream_pattern_optional_branching",
    "stream_pattern_reluctant_error_prefixes",
    "stream_pattern_any_view_click_purchase",
    "stream_pattern_iterative_price_escalation",
]


@pytest.mark.parametrize("buckets", [None, "3", pytest.param("1", marks=pytest.mark.slow)])
@pytest.mark.parametrize("name", BUCKETED_TWINS)
def test_twin_same_for_every_bucket_count(spark, duck, sf_dir, monkeypatch, name, buckets):
    """Each operator's twin hash-matches its oracle under the session
    default B and a prime B; one bucket runs in the slow tier."""
    _twin_matches_oracle(spark, duck, sf_dir, monkeypatch, name, buckets)


@pytest.mark.parametrize("bad", ["0", "-1", "x"])
def test_bucket_count_must_be_a_positive_integer(spark, monkeypatch, bad):
    """Keyed state has one layout, B >= 1 hash buckets: a stream built
    under another SPARK_GRAFT_STATE_BUCKETS is refused, naming it."""
    src = spark.readStream.format("rate").load().select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 5).alias("user_id"),
        F.lit("view").alias("event_type"),
    )
    monkeypatch.setenv("SPARK_GRAFT_STATE_BUCKETS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_BUCKETS"):
        stream_pattern_detect(src, "user_id", [("view", None), ("purchase", None)])


def test_bucketed_matcher_fires_member_timer_at_next_watermark():
    """A member key's timer equal to the watermark of a bucket call does not
    fire in it (Spark's rule is strict); the bucket's own timer must then
    let it fire at the next watermark, as per-key grouping would."""

    def member(key, pdfs, state):
        if state.hasTimedOut:
            yield pd.DataFrame({"user_id": [key[0]], "state": ["fired"]})
        elif key[0] != CLOCK and any(len(p) for p in pdfs):
            state.update((1,))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 5)

    def row(u):
        return [(u, T0, u, "signup")]

    per_key = StateHarness(member, delay_ms=DELAY_MS)
    bucket = per_bucket(member, 1, delay_ms=DELAY_MS)
    emitted = []
    # key 1's timer is 5: not due in the batch at watermark 5, due at 6
    for rows in _clocked([(row(1), 0), (row(2), 5), ([], 6)]):
        emitted = rows_of(per_key.batch(rows))
        assert rows_of(bucket.batch(rows)) == emitted
    assert emitted == [(1, "fired")]


def test_bucket_blob_refuses_other_layouts():
    blob = pack_bucket_blob(KMAP_CODEC, 4, b"payload")
    assert bytes(unpack_bucket_blob(blob, KMAP_CODEC, 4)) == b"payload"
    with pytest.raises(StateLayoutError, match="state bucket count changed"):
        unpack_bucket_blob(blob, KMAP_CODEC, 3)
    with pytest.raises(StateLayoutError, match="codec"):
        unpack_bucket_blob(blob, (b"otmo", 1), 4)
    with pytest.raises(StateLayoutError, match="older build"):
        unpack_bucket_blob(b"\x80\x04}\x94.", KMAP_CODEC, 4)  # a bare pickle


def test_preference_fold_writes_the_chain_state_width():
    """With no branch state left, the preference fold writes its fused part
    as CHAIN_STATE_FIELDS + 1 empty arrays ahead of the pending buffer, so
    the width must be the chain matcher's: a KMAP_CODEC v1 payload from
    any build splits at the same place."""
    rows = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime([T0, T0 + 1_000_000], unit="us"),
            "user_id": [1, 1],
            "a": [True, False],
            "b": [False, True],
        }
    )
    chain = StateHarness(make_pattern_matcher(["s1", "s2"], [None, 60_000_000]))
    chain.batch(rows.iloc[:1].rename(columns={"a": "__p1", "b": "__p2"}))
    assert len(chain.states[1][0]) == CHAIN_STATE_FIELDS

    def project(frame, bi):
        f = frame[["user_id", "anchor_id", "t1", "t2"]].copy()
        f["__branch"] = bi
        return f

    fold = StateHarness(make_preference_fused(
        [
            (make_pattern_matcher(["s1", "s2"], [None, 60_000_000]), ["a", "b"],
             lambda f, bi=bi: project(f, bi))
            for bi in range(2)
        ],
        2,
        60_000_000,
    ))
    assert fold.batch(rows) == []  # not final before the horizon
    value = fold.states[1][0]
    fused_part, pending = value[: CHAIN_STATE_FIELDS + 1], value[CHAIN_STATE_FIELDS + 1:]
    assert all(len(f) == 0 for f in fused_part)
    assert [list(p) for p in pending[:2]] == [[0, 1], [1, 1]]  # branch, anchor
