"""Stateful streaming order-timeout detection — the J4 state machine
(OrderPayMatchDetect, OrderPayTimeoutWithoutCEP.java:67-152) as an
``applyInPandasWithState`` operator with event-time timeouts.

Semantics reproduced (keyed by the order/user key):
- create (anchor) arrives → remembered in state, timer armed at
  anchor_ts + deadline (the reference's registerEventTimeTimer at
  create.ts+15min, OrderPayTimeoutWithoutCEP.java:101-102);
- pay (follow) arrives → every pending anchor it is the first follow of
  resolves as ``payed`` (within deadline) or ``payed_late`` (after it,
  the ":116 payed but already timeout" branch); the timer is dropped
  (deleteEventTimeTimer, :98,122 — here: state rewrite);
- timer fires (watermark ≥ deadline) → pending anchor emits ``timeout``;
- pay with no anchor ever seen → ``pay_no_create`` (:139).

State is kept per hash bucket, under the same scale contract as
streaming/pattern.py: the operator groups on pmod(hash(key), B) through
pattern.py's ``_keyed_state_apply`` (B = SPARK_GRAFT_STATE_BUCKETS, else
the session's defaultParallelism), and one micro-batch of a bucket
resolves every member key in one vectorized pass.
The bucket's state is one blob of columnar arrays, behind pattern.py's
versioned header that pins B: per member key the ``seen`` flag, the
pending anchors and the key's own timer as it was set. Per key that is
O(pending anchors) plus one bool and one timer — the same footprint as the
reference's ValueState flags; a production deployment would TTL ``seen``
(kept forever here for exact orphan semantics).

Each member key behaves exactly as it would in a group of its own under
Spark's timer rule (the per-key reference in the tests). A key with rows in the batch fires its pending anchors with
``anchor_us + deadline ≤ watermark_ms·1000``; a key without rows is
visited only when its stored timer is ``< watermark_ms`` (Spark evicts on
a strict comparison). The bucket's own timer is the earliest member timer.

Batch equivalence: on a bounded replay, payed/payed_late/pay_no_create rows
match operators.order_lifecycle exactly; ``timeout`` rows appear only for
anchors whose deadline the final watermark passed (timers that never fire
never emit) — the oracle encodes that watermark filter.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_uba_spark.streaming.pattern import (
    _interval_us,
    _keyed_state_apply,
    pack_bucket_blob,
    unpack_bucket_blob,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("anchor_id", T.LongType()),
        T.StructField("follow_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_ts", T.TimestampType()),
        T.StructField("follow_ts", T.TimestampType()),
        T.StructField("state", T.StringType()),
    ]
)

CODEC = (b"otmo", 1)
NO_TIMER = np.iinfo(np.int64).min
_END = np.iinfo(np.int64).max
VERDICTS = np.array(["payed", "payed_late", "pay_no_create", "timeout"], dtype=object)
PAYED, PAYED_LATE, PAY_NO_CREATE, TIMEOUT = range(4)


class BucketState(NamedTuple):
    """Member keys in ascending order, and per key its ``seen`` flag, its
    timer in ms (NO_TIMER when none is set) and its count of pending
    anchors; the pending anchors' ids and µs times follow key order."""

    keys: np.ndarray
    seen: np.ndarray
    timer: np.ndarray
    n_pend: np.ndarray
    p_ids: np.ndarray
    p_us: np.ndarray


def _empty_state() -> BucketState:
    z = np.empty(0, dtype="int64")
    return BucketState(z, np.empty(0, dtype=bool), z, z, z, z)


def encode_state(st: BucketState, n_buckets: int) -> bytes:
    head = np.array([st.keys.size, st.p_ids.size], dtype="<i8").tobytes()
    cols = (st.keys, st.timer, st.n_pend, st.p_ids, st.p_us)
    body = b"".join(np.ascontiguousarray(c, dtype="<i8").tobytes() for c in cols)
    return pack_bucket_blob(CODEC, n_buckets, head + body + st.seen.astype("u1").tobytes())


def decode_state(blob: bytes, n_buckets: int) -> BucketState:
    buf = unpack_bucket_blob(blob, CODEC, n_buckets)
    k, p = (int(x) for x in np.frombuffer(buf, dtype="<i8", count=2))
    off = 16
    cols = []
    for n in (k, k, k, p, p):
        cols.append(np.frombuffer(buf, dtype="<i8", count=n, offset=off).astype("int64"))
        off += 8 * n
    seen = np.frombuffer(buf, dtype="u1", count=k, offset=off).astype(bool)
    keys, timer, n_pend, p_ids, p_us = cols
    return BucketState(keys, seen, timer, n_pend, p_ids, p_us)


def _first_in(pos: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per segment [start, end): the first of the sorted positions ``pos``
    inside it, or _END."""
    first = np.append(pos, _END)[np.searchsorted(pos, starts)]
    return np.where(first < ends, first, _END)


class _Emitted:
    """Output blocks in columnar form; one frame is built at the end."""

    def __init__(self) -> None:
        self.blocks: list[tuple] = []

    def add(self, a_id, f_id, uid, a_us, f_us, verdict) -> None:
        """``a_id``/``a_us`` or ``f_id``/``f_us`` None: that side is absent."""
        if len(uid):
            self.blocks.append((a_id, f_id, uid, a_us, f_us, verdict))

    def frame(self) -> pd.DataFrame:
        n = [len(b[2]) for b in self.blocks]

        def ids(i):
            vals = [np.zeros(m, "int64") if b[i] is None else b[i] for b, m in zip(self.blocks, n)]
            mask = [np.full(m, b[i] is None) for b, m in zip(self.blocks, n)]
            return pd.arrays.IntegerArray(np.concatenate(vals), np.concatenate(mask))

        def tss(i):
            vals = [
                np.full(m, np.datetime64("NaT"), "datetime64[us]") if b[i] is None
                else b[i].astype("datetime64[us]")
                for b, m in zip(self.blocks, n)
            ]
            return np.concatenate(vals)

        return pd.DataFrame(
            {
                "anchor_id": ids(0),
                "follow_id": ids(1),
                "user_id": np.concatenate([b[2] for b in self.blocks]),
                "anchor_ts": tss(3),
                "follow_ts": tss(4),
                "state": VERDICTS[np.concatenate([b[5] for b in self.blocks])],
            },
            copy=False,
        )


def _verdict(f_us: np.ndarray, a_us: np.ndarray, deadline_us: int) -> np.ndarray:
    return np.where(f_us <= a_us + deadline_us, PAYED, PAYED_LATE)


def advance(
    st: BucketState,
    rows: pd.DataFrame | None,
    wm_ms: int,
    deadline_us: int,
    anchor_type: str,
    follow_type: str,
    out: _Emitted,
) -> BucketState:
    """One micro-batch of one bucket: ``rows`` (None on a timer call)
    resolved against ``st``; emissions go to ``out``, the new state is
    returned."""
    keys, seen, timer = st.keys, st.seen, st.timer
    p_key = np.repeat(keys, st.n_pend)
    p_ids, p_us = st.p_ids, st.p_us
    in_batch = np.zeros(keys.size, dtype=bool)

    if rows is not None and len(rows):
        et = rows["event_type"].to_numpy()
        uid = rows["user_id"].to_numpy(dtype="int64")
        ts = rows["ts"].to_numpy().astype("datetime64[us]", copy=False).view("int64")
        eid = rows["event_id"].to_numpy(dtype="int64")
        # per key, time order with anchors first at equal timestamps (batch
        # uses follow_ts >= anchor_ts), then event id
        order = np.lexsort((eid, et != anchor_type, ts, uid))
        uid, ts, eid, et = uid[order], ts[order], eid[order], et[order]
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        ends = np.r_[starts[1:], uid.size]
        seg = np.repeat(np.arange(starts.size), ends - starts)
        bkeys = uid[starts]
        a_pos = np.flatnonzero(et == anchor_type)
        f_pos = np.flatnonzero(et == follow_type)
        first_a, first_f = _first_in(a_pos, starts, ends), _first_in(f_pos, starts, ends)

        # batch keys against the stored member keys
        si = np.searchsorted(keys, bkeys)
        found = si < keys.size
        found[found] = keys[si[found]] == bkeys[found]
        prev_seen = np.zeros(bkeys.size, dtype=bool)
        prev_seen[found] = seen[si[found]]

        # orphan pays: follows before the first anchor their key ever saw
        orph = f_pos[~prev_seen[seg[f_pos]] & (f_pos < first_a[seg[f_pos]])]
        out.add(None, eid[orph], uid[orph], None, ts[orph], np.full(orph.size, PAY_NO_CREATE))

        # stored pending anchors resolve against their key's first batch follow
        f0 = np.full(keys.size, _END)
        f0[si[found]] = first_f[found]
        f0 = np.repeat(f0, st.n_pend)
        res = f0 < _END
        f = f0[res]
        out.add(p_ids[res], eid[f], p_key[res], p_us[res], ts[f], _verdict(ts[f], p_us[res], deadline_us))

        # each batch anchor's resolver: the first follow after it, same key
        fa = np.append(f_pos, _END)[np.searchsorted(f_pos, a_pos)]
        hit = fa < ends[seg[a_pos]]
        a, f = a_pos[hit], fa[hit]
        out.add(eid[a], eid[f], uid[a], ts[a], ts[f], _verdict(ts[f], ts[a], deadline_us))
        un = a_pos[~hit]

        # merge the batch keys into the member keys; unresolved batch
        # anchors stay pending after their key's stored ones
        new = bkeys[~found]
        keys = np.concatenate([keys, new])
        seen = np.concatenate([seen, np.zeros(new.size, dtype=bool)])
        timer = np.concatenate([timer, np.full(new.size, NO_TIMER)])
        in_batch = np.concatenate([in_batch, np.ones(new.size, dtype=bool)])
        in_batch[si[found]] = True
        by_key = np.argsort(keys, kind="stable")
        keys, seen, timer, in_batch = keys[by_key], seen[by_key], timer[by_key], in_batch[by_key]
        seen[np.searchsorted(keys, bkeys[first_a < _END])] = True
        p_key = np.concatenate([p_key[~res], uid[un]])
        by_key = np.argsort(p_key, kind="stable")
        p_key = p_key[by_key]
        p_ids = np.concatenate([p_ids[~res], eid[un]])[by_key]
        p_us = np.concatenate([p_us[~res], ts[un]])[by_key]

    # timers: keys with rows, and row-less keys whose timer Spark would fire
    active = in_batch | ((timer != NO_TIMER) & (timer < wm_ms))
    p_at = np.searchsorted(keys, p_key)
    if wm_ms > 0 and p_key.size:
        fired = active[p_at] & (p_us + deadline_us <= wm_ms * 1000)
        out.add(p_ids[fired], None, p_key[fired], p_us[fired], None, np.full(int(fired.sum()), TIMEOUT))
        p_ids, p_us, p_at = p_ids[~fired], p_us[~fired], p_at[~fired]
    n_pend = np.bincount(p_at, minlength=keys.size)
    # an active key's timer is re-armed at its earliest pending deadline
    first_us = np.full(keys.size, _END)
    if p_at.size:
        has = n_pend > 0
        first_us[has] = np.minimum.reduceat(p_us, (np.cumsum(n_pend) - n_pend)[has])
    rearm = np.maximum(first_us // 1000 + deadline_us // 1000, wm_ms + 1)
    timer = np.where(active, np.where(n_pend > 0, rearm, NO_TIMER), timer)

    # a key with nothing pending that never saw an anchor is no state at all
    keep = seen | (n_pend > 0)
    return BucketState(keys[keep], seen[keep], timer[keep], n_pend[keep], p_ids, p_us)


def make_bucket_detector(
    deadline_us: int, anchor_type: str, follow_type: str, n_buckets: int
):
    """The state function of one bucket (B = ``n_buckets``)."""

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        chunks = [] if state.hasTimedOut else [c for c in pdfs if len(c)]
        rows = chunks[0] if len(chunks) == 1 else (pd.concat(chunks, ignore_index=True) if chunks else None)
        wm_ms = state.getCurrentWatermarkMs()
        st = decode_state(state.get[0], n_buckets) if state.exists else _empty_state()
        out = _Emitted()
        st = advance(st, rows, wm_ms, deadline_us, anchor_type, follow_type, out)
        if st.keys.size:
            state.update((encode_state(st, n_buckets),))
            armed = st.timer[st.timer != NO_TIMER]
            if armed.size:
                # every member timer is >= wm (a smaller one fired above), so
                # the bucket fires in exactly the batches a member's would
                state.setTimeoutTimestamp(max(int(armed.min()), wm_ms))
        elif state.exists:
            state.remove()
        if out.blocks:
            yield out.frame()

    return detect


def stream_order_timeout(
    events: DataFrame,
    deadline: str = "6 hours",
    key: str = "user_id",
    anchor_type: str = "signup",
    follow_type: str = "purchase",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Wire the detector over a streaming events frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    deadline_us = _interval_us(deadline)

    filtered = (
        events.filter(F.col("event_type").isin(anchor_type, follow_type))
        .select("event_id", "ts", F.col(key).alias("user_id"), "event_type")
        .withWatermark("ts", watermark_delay)
    )
    return _keyed_state_apply(
        filtered, None, OUTPUT_SCHEMA, GroupStateTimeout.EventTimeTimeout,
        bucket_det=lambda nb: make_bucket_detector(deadline_us, anchor_type, follow_type, nb),
    )
