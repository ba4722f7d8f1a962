"""Hash-bucketed keyed state against per-key state.

The bucket-native order-timeout detector and the per-key reference run
under the same emulation of Spark's group-state protocol
(``tests/order_timeout_reference.GroupRunner``): the reference grouped on
the raw key, the bucket detector grouped on ``key % B``. Every micro-batch
must emit the same rows; the end-to-end check runs one catalog twin per
keyed stateful operator under several bucket counts. The bucket blob
header, the refusal of a bucket count below one and the bucket timer of
the pattern operators' per-key replay are pinned here too.
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
    _BranchStateSlot,
    make_bucketed_matcher,
    make_pattern_matcher,
    make_preference_fused,
    pack_bucket_blob,
    stream_pattern_detect,
    unpack_bucket_blob,
)
from tests.conftest import assert_matches_oracle
from tests.order_timeout_reference import GroupRunner, make_detector

DL = 1_000_000  # deadline, µs
COLS = ["event_id", "ts", "user_id", "event_type"]


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        [(i, pd.Timestamp(us, unit="us"), u, t) for i, us, u, t in rows], columns=COLS
    )


def _runners(b: int) -> tuple[GroupRunner, GroupRunner]:
    ref = GroupRunner(make_detector(DL), lambda u: u)
    bucket = GroupRunner(make_bucket_detector(DL, "signup", "purchase", b), lambda u: u % b)
    return ref, bucket


def _assert_same(batches, b: int) -> int:
    """Replay ``batches`` of (rows, watermark_ms) through both detectors;
    returns the number of rows emitted."""
    ref, bucket = _runners(b)
    n = 0
    for k, (rows, wm_ms) in enumerate(batches):
        want = ref.batch(_frame(rows), wm_ms)
        assert bucket.batch(_frame(rows), wm_ms) == want, f"B={b} batch {k}"
        n += len(want)
    return n


def _random_case(rng: random.Random) -> list:
    """A few event-time-ordered batches over a few keys, with watermarks
    drawn near the anchors' deadlines (exact ms, ±1 ms) and a final
    data-less batch that fires timers."""
    n_users = rng.randint(1, 6)
    t = eid = wm = 0
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
    wm_ms = (anchor_us + DL) // 1000 + wm_delta_ms
    later = [(3, DL // 2, 1, "signup")] if with_rows else []
    batches = [
        ([(1, anchor_us, 1, "signup"), (2, anchor_us, 2, "purchase")], 0),
        (later, wm_ms),
        ([], wm_ms + 1),
        ([(4, 3 * DL, 1, "purchase")], wm_ms + 1),
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
        rows = [] if state.hasTimedOut else list(pdfs)
        if state.hasTimedOut:
            yield pd.DataFrame({"user_id": [key[0]], "state": ["fired"]})
        elif rows:
            state.update((1,))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 5)

    def row(u):
        return _frame([(u, 0, u, "signup")])

    per_key = GroupRunner(member, lambda u: u)
    bucket = GroupRunner(make_bucketed_matcher(member, timers=True, n_buckets=1), lambda u: 0)
    emitted = []
    # key 1's timer is 5: not due in the batch at watermark 5, due at 6
    for rows, wm_ms in [(row(1), 0), (row(2), 5), (_frame([]), 6)]:
        emitted = per_key.batch(rows, wm_ms)
        assert bucket.batch(rows, wm_ms) == emitted
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
            "ts": pd.to_datetime([0, 1_000_000], unit="us"),
            "a": [True, False],
            "b": [False, True],
        }
    )
    chain = _BranchStateSlot(None, 0, False, [])
    det = make_pattern_matcher(["s1", "s2"], [None, 60_000_000])
    list(det((1,), iter([rows.iloc[:1].rename(columns={"a": "__p1", "b": "__p2"})]), chain))
    assert len(chain.value) == CHAIN_STATE_FIELDS

    def project(frame, bi):
        f = frame[["user_id", "anchor_id", "t1", "t2"]].copy()
        f["__branch"] = bi
        return f

    fold = make_preference_fused(
        [
            (make_pattern_matcher(["s1", "s2"], [None, 60_000_000]), ["a", "b"],
             lambda f, bi=bi: project(f, bi))
            for bi in range(2)
        ],
        2,
        60_000_000,
    )
    state = _BranchStateSlot(None, 0, False, [])
    assert list(fold((1,), iter([rows]), state)) == []  # not final before the horizon
    fused_part, pending = state.value[: CHAIN_STATE_FIELDS + 1], state.value[CHAIN_STATE_FIELDS + 1:]
    assert all(len(f) == 0 for f in fused_part)
    assert [list(p) for p in pending[:2]] == [[0, 1], [1, 1]]  # branch, anchor
