"""Budget-capped Kleene runs as a continuous query — the streaming twin
of ``operators/sequence.py:pattern_detect_budget_run`` (round 8):
anchor → run⁺ → suffix where the run stops accepting BEFORE its
cumulative non-negative payload would exceed the budget (the
``oneOrMore().until(IterativeCondition)`` running-aggregate stop), with
a MANDATORY repetition cap — the cap is what bounds both the run's time
span (≤ cap·gap) and the per-key state horizon, exactly like the
"uncapped oneOrMore needs a finite within" rule the chain NFA enforces.

Engine shape: the entry-dependent run lengths make per-event NFA
transitions awkward, so this twin uses the recompute-over-buffer
pattern (the temporal-join twin's construction): per key, buffer the
classified rows inside the reachability horizon, re-derive the matches
VECTORIZED on every invoke (sessions via gap diffs, prefix sums, run
lengths via ``searchsorted`` on non-decreasing prefixes, bindings via
sorted-array lower bounds — no per-row Python), and emit a match once
it is WATERMARK-FINAL:

- the run is CLOSED: ``n == cap``, or the watermark passed
  ``t2_last + gap`` strictly (no in-gap extender can still arrive — a
  budget-blocked run is NOT closed, because a smaller-payload row could
  still arrive in-gap and extend the prefix);
- the suffix is FINAL: the watermark passed ``t3`` strictly (every row
  that could change any binding has ts ≤ t3 < wm and would be dropped
  as late).

Each row is classified to its EARLIEST matching class (anchor > run >
suffix priority) — the catalog's disjoint event types are unaffected;
overlapping predicates stay on the batch operator, whose rank machinery
handles them. Emitted anchors are remembered (exactly-once) and pruned
with the buffer; eviction keeps rows within
``(cap + 1)·gap + suffix_within`` of the watermark — the reachability
horizon of any still-pending match.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_uba_spark.streaming.pattern import _gap_session_last, _next_watermark_ms

BUDGET_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_id", T.LongType()),
        T.StructField("t1", T.TimestampType()),
        T.StructField("t2", T.TimestampType()),
        T.StructField("t2_last", T.TimestampType()),
        T.StructField("n2", T.LongType()),
        T.StructField("spent", T.LongType()),
        T.StructField("t3", T.TimestampType()),
        T.StructField("end_id", T.LongType()),
    ]
)


def _matches(ts, ids, cls, pay, budget, cap, gap_us, sfx_us):
    """Vectorized match derivation over one key's (ts, id)-sorted buffer.
    Returns per-match numpy columns (a_id, t1, t2, t2_last, n, spent,
    t3, s_id) — every anchor's completion over the CURRENT buffer."""
    r_m = cls == 2
    r_ts, r_id, r_pay = ts[r_m], ids[r_m], pay[r_m]
    a_m = cls == 1
    a_ts, a_id = ts[a_m], ids[a_m]
    s_m = cls == 3
    s_ts, s_id = ts[s_m], ids[s_m]
    if not (len(r_ts) and len(a_ts) and len(s_ts)):
        return None
    # forward run length per entry i: the session rows j >= i whose
    # running payload sum from i stays within the budget — the prefix
    # sums are non-decreasing (payloads >= 0), so one searchsorted over
    # the key's prefix, capped at the gap session's end, counts them
    order_pre = np.cumsum(r_pay)
    sess_end = _gap_session_last(r_ts, gap_us) + 1  # exclusive, per row
    idx = np.arange(len(r_ts))
    fit = np.searchsorted(order_pre, order_pre - r_pay + budget, side="right")
    L = np.minimum(np.minimum(fit, sess_end) - idx, cap)
    valid = r_pay <= budget
    last_idx = np.minimum(idx + L - 1, sess_end - 1)
    e_last_ts = r_ts[last_idx]
    e_last_id = r_id[last_idx]
    e_spent = order_pre[last_idx] - (order_pre - r_pay)
    # anchor -> earliest VALID entry with e_ts >= a_ts (entry class sorts
    # after anchor at equal ts) and e_ts <= a_ts + gap
    v_idx = np.nonzero(valid)[0]
    if not len(v_idx):
        return None
    v_ts = r_ts[v_idx]
    pos = np.searchsorted(v_ts, a_ts, side="left")
    ok = pos < len(v_idx)
    pos_c = np.clip(pos, 0, len(v_idx) - 1)
    e_sel = v_idx[pos_c]
    ok &= r_ts[e_sel] <= a_ts + gap_us
    if not ok.any():
        return None
    a_ts, a_id, e_sel = a_ts[ok], a_id[ok], e_sel[ok]
    # run last -> earliest suffix with s_ts >= t2_last (suffix class
    # sorts after run at equal ts) and s_ts <= t2_last + suffix_within
    t2l = e_last_ts[e_sel]
    spos = np.searchsorted(s_ts, t2l, side="left")
    sok = spos < len(s_ts)
    spos_c = np.clip(spos, 0, len(s_ts) - 1)
    sok &= s_ts[spos_c] <= t2l + sfx_us
    if not sok.any():
        return None
    return (
        a_id[sok], a_ts[sok], r_ts[e_sel][sok], t2l[sok],
        L[e_sel][sok], e_spent[e_sel][sok],
        s_ts[spos_c][sok], s_id[spos_c][sok], e_last_id[e_sel][sok],
    )


def make_budget_run_matcher(budget: int, cap: int, gap_us: int, sfx_us: int):
    horizon_us = (cap + 1) * gap_us + sfx_us

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        timed_out = getattr(state, "hasTimedOut", False)
        chunks = [] if timed_out else [c for c in pdfs if len(c)]
        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.exists:
            # the row buffer: ts µs, event id, class, payload, emitted flag
            ts, ids, cls, pay, em = (
                np.asarray(f, dtype="int64") for f in state.get
            )
        else:
            ts = ids = cls = pay = em = np.empty(0, dtype="int64")
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            ts = np.concatenate(
                [ts, pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()]
            )
            ids = np.concatenate([ids, pdf["event_id"].to_numpy().astype("int64")])
            # class = the earliest set flag (anchor > run > suffix)
            flags = np.stack(
                [pdf[f"f{k}"].to_numpy(dtype=bool) for k in (1, 2, 3)], axis=1
            )
            cls = np.concatenate([cls, flags.argmax(axis=1) + 1])
            new_pay = pdf["pay"].to_numpy().astype("int64")
            if (new_pay < 0).any():
                # the prefix-sum stop rule and the searchsorted probes
                # both assume monotone running sums (ADVICE r8)
                raise ValueError(
                    "stream_budget_run_detect: payload must be a "
                    "non-negative integer column"
                )
            pay = np.concatenate([pay, new_pay])
        order = np.lexsort((ids, ts))
        ts, ids, cls, pay = ts[order], ids[order], cls[order], pay[order]

        out = None
        m = _matches(ts, ids, cls, pay, budget, cap, gap_us, sfx_us)
        if m is not None:
            a_id, t1, t2, t2l, n, spent, t3, s_id, _lid = m
            final = ((n == cap) | (t2l + gap_us < wm_us)) & (t3 < wm_us)
            fresh = final & ~np.isin(a_id, em)
            if fresh.any():
                # raw numpy buffers (freshly allocated — zero-copy safe)
                out = pd.DataFrame(
                    {
                        "user_id": np.full(
                            int(fresh.sum()), key[0], dtype="int64"
                        ),
                        "anchor_id": a_id[fresh],
                        "t1": t1[fresh].astype("datetime64[us]"),
                        "t2": t2[fresh].astype("datetime64[us]"),
                        "t2_last": t2l[fresh].astype("datetime64[us]"),
                        "n2": n[fresh],
                        "spent": spent[fresh],
                        "t3": t3[fresh].astype("datetime64[us]"),
                        "end_id": s_id[fresh],
                    },
                    copy=False,
                )
                em = np.concatenate([em, a_id[fresh]])

        keep = ts >= wm_us - horizon_us
        ts, ids, cls, pay = ts[keep], ids[keep], cls[keep], pay[keep]
        if len(em):
            # prune emitted-anchor memory with the buffer: an evicted
            # anchor can never be re-derived
            em = em[np.isin(em, ids[cls == 1])]
        if len(ts):
            state.update(
                (ts.tolist(), ids.tolist(), cls.tolist(), pay.tolist(),
                 em.tolist())
            )
            state.setTimeoutTimestamp(_next_watermark_ms(wm_us // 1000))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return detect


def stream_budget_run_detect(
    events: DataFrame,
    key: str,
    anchor: Column,
    run: Column,
    suffix: Column,
    payload: Column,
    budget: int,
    gap: str,
    suffix_within: str,
    cap: int,
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Wire the budget-run matcher over a streaming frame (see module
    docstring). ``cap`` is MANDATORY — it bounds the run's time span and
    the state horizon."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_uba_spark.streaming.pattern import (
        _interval_us,
        _keyed_input,
        _keyed_state_apply,
        _pred,
    )

    if cap is None or cap < 1:
        raise ValueError(
            "the streaming budget run needs a finite cap >= 1 (the cap "
            "bounds the run's span and the per-key state horizon)"
        )
    filtered = _keyed_input(
        events, key, {"f1": _pred(anchor), "f2": _pred(run), "f3": _pred(suffix)},
        event_id, ts, watermark_delay=watermark_delay,
        extra={"pay": F.coalesce(payload.cast("long"), F.lit(0))},
    )
    return _keyed_state_apply(
        filtered,
        make_budget_run_matcher(
            budget, cap, _interval_us(gap), _interval_us(suffix_within)
        ),
        BUDGET_OUTPUT_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    )
