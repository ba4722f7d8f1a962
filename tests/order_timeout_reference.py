"""The per-key order-timeout detector, kept as the reference for the
bucket-native one in ``flink_uba_spark/streaming/order_timeout.py``.

``make_detector`` is the state function the operator ran per key before
state moved into hash buckets; ``tests/test_state_buckets.py`` runs it and
the bucket detector through the same state harness.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd


def make_detector(deadline_us: int, anchor_type: str = "signup", follow_type: str = "purchase"):
    """Build the per-key state function.

    The whole micro-batch resolves in O(n log n) numpy ops — sort once, then
    each anchor's resolver is the first follow after it in sort order
    (``searchsorted``), state-pending anchors resolve against the batch's
    first follow, and orphan pays are the follow prefix before the first
    anchor ever seen. No per-event Python loop: at 100 TB micro-batch sizes
    the per-key cost is vectorized pandas, same treatment as
    transitions.py's shift-based linker.
    """

    def _frame(a_ids, f_ids, user_id, a_us, f_us, st):
        """One output block; None for a_* / f_* means that side is absent
        for the whole block (NaT/NA broadcast), so every column stays a
        single concrete dtype — no object columns, no per-row branching."""
        n = len(st)

        def _ids(v):  # nullable int64 column, all-absent when v is None
            if v is None:
                return pd.arrays.IntegerArray(
                    np.zeros(n, dtype="int64"), np.ones(n, dtype=bool)
                )
            return pd.arrays.IntegerArray(
                np.asarray(v, dtype="int64"), np.zeros(n, dtype=bool)
            )

        def _tss(v):  # datetime64[us] column, all-NaT when v is None
            if v is None:
                return np.full(n, np.datetime64("NaT"), "datetime64[us]")
            return np.asarray(v, dtype="int64").astype("datetime64[us]")

        # raw numpy/masked buffers — per-column pd.array/to_datetime was a
        # measured per-group hot spot (round 10); all freshly allocated
        return pd.DataFrame(
            {
                "anchor_id": _ids(a_ids),
                "follow_id": _ids(f_ids),
                "user_id": np.full(n, user_id, dtype="int64"),
                "anchor_ts": _tss(a_us),
                "follow_ts": _tss(f_us),
                "state": np.asarray(st, dtype=object),
            },
            copy=False,
        )

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            anchor_ids, anchor_ts_us, seen = state.get
            pend_ids = np.asarray(anchor_ids, dtype="int64")
            pend_us = np.asarray(anchor_ts_us, dtype="int64")
        else:
            pend_ids = pend_us = np.empty(0, dtype="int64")
            seen = False

        out: list[pd.DataFrame] = []

        chunks = [] if state.hasTimedOut else list(pdfs)
        if chunks:
            # hot path: the serializer almost always delivers one chunk
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            if len(rows):
                # anchors first at equal timestamps (batch uses follow_ts >= anchor_ts)
                rows["__anchor_first"] = (rows["event_type"] != anchor_type).astype(int)
                rows = rows.sort_values(
                    ["ts", "__anchor_first", "event_id"], kind="mergesort"
                ).reset_index(drop=True)
                # explicit us resolution (zero-copy int64 view in the us case)
                ts_us = (
                    rows["ts"]
                    .to_numpy()
                    .astype("datetime64[us]", copy=False)
                    .view("int64")
                )
                ev_ids = rows["event_id"].to_numpy()
                anchor_pos = np.flatnonzero((rows["event_type"] == anchor_type).to_numpy())
                follow_pos = np.flatnonzero((rows["event_type"] == follow_type).to_numpy())

                # orphan pays: follows before the first anchor this key ever saw
                if not seen and anchor_pos.size == 0:
                    orphans = follow_pos
                elif not seen:
                    orphans = follow_pos[follow_pos < anchor_pos[0]]
                else:
                    orphans = np.empty(0, dtype="int64")
                if orphans.size:
                    out.append(
                        _frame(None, ev_ids[orphans], user_id, None, ts_us[orphans], ["pay_no_create"] * orphans.size)
                    )

                # state-pending anchors resolve against the batch's first follow
                if follow_pos.size and pend_ids.size:
                    f0 = follow_pos[0]
                    f0_us = np.full(pend_ids.size, ts_us[f0])
                    verdicts = np.where(f0_us <= pend_us + deadline_us, "payed", "payed_late")
                    out.append(
                        _frame(pend_ids, np.full(pend_ids.size, ev_ids[f0]), user_id, pend_us, f0_us, verdicts)
                    )
                    pend_ids = pend_us = np.empty(0, dtype="int64")

                # each batch anchor's resolver: first follow strictly after it
                if anchor_pos.size:
                    seen = True
                    j = np.searchsorted(follow_pos, anchor_pos)
                    hit = j < follow_pos.size
                    if hit.any():
                        a_pos = anchor_pos[hit]
                        f_pos = follow_pos[j[hit]]
                        verdicts = np.where(
                            ts_us[f_pos] <= ts_us[a_pos] + deadline_us, "payed", "payed_late"
                        )
                        out.append(
                            _frame(ev_ids[a_pos], ev_ids[f_pos], user_id, ts_us[a_pos], ts_us[f_pos], verdicts)
                        )
                    unresolved = anchor_pos[~hit]
                    if unresolved.size:
                        pend_ids = np.concatenate([pend_ids, ev_ids[unresolved].astype("int64")])
                        pend_us = np.concatenate([pend_us, ts_us[unresolved]])

        # fire timers: watermark passed a pending deadline → timeout
        wm_us = state.getCurrentWatermarkMs() * 1000
        if pend_ids.size:
            fired = (pend_us + deadline_us <= wm_us) if wm_us > 0 else np.zeros(pend_ids.size, dtype=bool)
            if fired.any():
                out.append(
                    _frame(pend_ids[fired], None, user_id, pend_us[fired], None, ["timeout"] * int(fired.sum()))
                )
            pend_ids, pend_us = pend_ids[~fired], pend_us[~fired]

        state.update((pend_ids.tolist(), pend_us.tolist(), seen))
        if pend_ids.size:
            next_fire_ms = int(pend_us.min()) // 1000 + deadline_us // 1000
            state.setTimeoutTimestamp(max(next_fire_ms, state.getCurrentWatermarkMs() + 1))

        if len(out) == 1:  # hot path: skip the per-group concat
            yield out[0]
        elif out:
            yield pd.concat(out, ignore_index=True)

    return detect
