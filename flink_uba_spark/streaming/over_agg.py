"""Event-time OVER aggregation as a continuous query — Flink SQL's
``SUM(v) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN INTERVAL '7' DAY
PRECEDING AND CURRENT ROW)``, a native streaming operator in Flink with
no prior twin here (round 8; the batch form is
queries/behavior.py:rolling_7d_purchase_value's window frame).

Semantics (ISO SQL RANGE frame, Flink's event-time OVER): every input
row emits exactly one output row carrying the aggregate over the key's
rows with ``ts' ∈ [ts − range, ts]`` — equal-timestamp PEERS included,
calendar gaps shrink the frame (a true RANGE, not ROWS).

Emission is WATERMARK-FINAL: a row emits once the watermark passes its
event time, because only then can no frame member still arrive (Spark
drops later rows below the watermark before the operator). Rows in the
stream's final sub-millisecond tail (ts above the ms-floored terminal
watermark) stay pending — the family's established frontier-cut
contract (the left-outer interval join twin cuts identically), applied
to BOTH the query and its oracle.

State per key: the row buffer covering ``[wm − range, ∞)`` — rows older
than that can contribute to no pending frame and are evicted each
invoke; an emitted row stays (flagged) only while a future frame can
still reach back to it. This is exactly Flink's OVER-aggregate state
bound (its RANGE operator retains the window of rows per key), so state
is per-key density × (range + watermark lag) — bounded, no full-history
retention.

Compute per invoke is vectorized: the buffer sorts once by (ts, id),
value prefix-sums once, and every emitting row's frame is two
``np.searchsorted`` probes into that order — O((buf + emit) log buf),
no per-row Python loop.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_uba_spark.streaming.pattern import _next_watermark_ms

OVER_FUNCS = ("sum", "count", "min", "max")


def over_output_schema(funcs: tuple[str, ...] | None = None) -> T.StructType:
    """Output schema for the aggregator: ``funcs=None`` keeps the
    round-8 single-SUM shape (one ``agg`` column); a funcs tuple emits
    one ``agg_<func>`` column per aggregate (round 9)."""
    names = ["agg"] if funcs is None else [f"agg_{f}" for f in funcs]
    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("val", T.LongType()),
            *[T.StructField(nm, T.LongType()) for nm in names],
        ]
    )


OVER_OUTPUT_SCHEMA = over_output_schema()


def _range_extreme(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray, is_min: bool) -> np.ndarray:
    """MIN/MAX over the index ranges ``[lo, hi)`` of ``vals`` (every
    range non-empty — a frame always contains its own row) via a sparse
    table: O(n log n) build once per invoke, two O(1) probes per query —
    the idempotent-aggregate twin of the prefix-sum probe (a prefix
    array cannot serve MIN/MAX because they do not subtract)."""
    op = np.minimum if is_min else np.maximum
    n = len(vals)
    lengths = hi - lo
    kmax = int(lengths.max()).bit_length() - 1
    sp = [vals]
    for j in range(1, kmax + 1):
        prev, half = sp[-1], 1 << (j - 1)
        sp.append(op(prev[: n - (1 << j) + 1], prev[half: n - half + 1]))
    k = (np.frexp(lengths.astype("float64"))[1] - 1).astype("int64")
    left = np.empty(len(lo), dtype="int64")
    right = np.empty(len(lo), dtype="int64")
    for j in np.unique(k):
        m = k == j
        left[m] = sp[j][lo[m]]
        right[m] = sp[j][hi[m] - (1 << int(j))]
    return op(left, right)


def make_over_aggregator(
    range_us: int | None,
    rows_preceding: int | None = None,
    funcs: tuple[str, ...] | None = None,
):
    """Per-key state function: buffer, emit watermark-final rows with
    their frame aggregates, evict rows no pending frame can reach.
    Exactly one of ``range_us`` (RANGE frame: ``ts' ∈ [ts − range, ts]``)
    and ``rows_preceding`` (ROWS frame: the ``n`` rows before this one
    plus itself, in the (ts, id) total order — Flink SQL's ``ROWS
    BETWEEN n PRECEDING AND CURRENT ROW``) must be set. ``funcs`` picks
    the simultaneous aggregates (subset of ``sum count min max``, round
    9 — Flink's multi-aggregate OVER projection computes them over ONE
    shared frame pass); ``None`` keeps the round-8 single-SUM output
    shape. SUM/COUNT probe the shared prefix array; MIN/MAX probe a
    per-invoke sparse table (idempotent aggregates don't subtract)."""
    if (range_us is None) == (rows_preceding is None):
        raise ValueError("exactly one of range_us / rows_preceding")
    names = ["agg"] if funcs is None else [f"agg_{f}" for f in funcs]
    eff = ("sum",) if funcs is None else tuple(funcs)
    if not eff or any(f not in OVER_FUNCS for f in eff):
        raise ValueError(f"funcs must be a non-empty subset of {OVER_FUNCS}")

    def agg(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        timed_out = getattr(state, "hasTimedOut", False)
        chunks = [] if timed_out else [c for c in pdfs if len(c)]
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000

        if state.exists:
            # the row buffer: ts µs, event id, value, emitted flag
            s_ts, s_id, s_val, s_em = (
                np.asarray(f, dtype="int64") for f in state.get
            )
        else:
            s_ts = s_id = s_val = s_em = np.empty(0, dtype="int64")

        if chunks:
            # hot path: the serializer almost always delivers one chunk
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            n_ts = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            n_id = pdf["event_id"].to_numpy().astype("int64")
            n_val = pdf["val"].to_numpy().astype("int64")
            s_ts = np.concatenate([s_ts, n_ts])
            s_id = np.concatenate([s_id, n_id])
            s_val = np.concatenate([s_val, n_val])
            s_em = np.concatenate([s_em, np.zeros(len(n_ts), dtype="int64")])

        out = None
        if len(s_ts):
            order = np.lexsort((s_id, s_ts))
            s_ts, s_id, s_val, s_em = (
                s_ts[order], s_id[order], s_val[order], s_em[order]
            )
            prefix = np.concatenate([[0], np.cumsum(s_val)])
            # STRICTLY below the watermark: Spark's late-row filter drops
            # ts < wm only, so a peer AT the watermark can still arrive —
            # a row is frame-final once wm passes it strictly
            emit = (s_em == 0) & (s_ts < wm_us)
            if emit.any():
                e_ts = s_ts[emit]
                if range_us is not None:
                    hi = np.searchsorted(s_ts, e_ts, side="right")
                    lo = np.searchsorted(s_ts, e_ts - range_us, side="left")
                else:
                    # ROWS frame: position in the (ts, id) total order is
                    # the row's own sorted index — no peer inclusion
                    pos = np.arange(len(s_ts))[emit]
                    hi = pos + 1
                    lo = np.maximum(pos - rows_preceding, 0)
                agg_cols = {}
                for f, nm in zip(eff, names):
                    if f == "sum":
                        agg_cols[nm] = prefix[hi] - prefix[lo]
                    elif f == "count":
                        agg_cols[nm] = (hi - lo).astype("int64")
                    else:
                        agg_cols[nm] = _range_extreme(
                            s_val, lo, hi, is_min=(f == "min")
                        )
                # raw numpy buffers (per-column pd.array was a measured
                # per-group hot spot, round 10); all freshly allocated
                out = pd.DataFrame(
                    {
                        "user_id": np.full(
                            int(emit.sum()), key[0], dtype="int64"
                        ),
                        "event_id": s_id[emit],
                        "ts": e_ts.astype("datetime64[us]"),
                        "val": s_val[emit],
                        **{
                            nm: np.asarray(v, dtype="int64")
                            for nm, v in agg_cols.items()
                        },
                    },
                    copy=False,
                )
                s_em = s_em.copy()
                s_em[emit] = 1
            # eviction — unemitted rows never evict; emitted rows evict
            # once no pending/future frame can reach them:
            # RANGE: older than wm − range (any future row's frame floor
            #   is above it);
            # ROWS: all but the last n emitted rows (every emitted row
            #   sorts below every pending/future row — ts < wm ≤ theirs —
            #   so a future frame's emitted portion is always the last
            #   ≤ n emitted rows)
            if range_us is not None:
                keep = (s_ts >= wm_us - range_us) | (s_em == 0)
            else:
                keep = np.ones(len(s_ts), dtype=bool)
                em_idx = np.nonzero(s_em == 1)[0]
                if rows_preceding > 0:
                    keep[em_idx[:-rows_preceding]] = False
                else:
                    keep[em_idx] = False
            s_ts, s_id, s_val, s_em = (
                s_ts[keep], s_id[keep], s_val[keep], s_em[keep]
            )

        if len(s_ts):
            state.update(
                (s_ts.tolist(), s_id.tolist(), s_val.tolist(), s_em.tolist())
            )
            # re-fire when the watermark moves (wm_ms lags one batch):
            # pending rows emit, aged emitted rows evict
            state.setTimeoutTimestamp(_next_watermark_ms(wm_ms))
        elif state.exists:
            state.remove()

        if out is not None:
            yield out

    return agg


def stream_over_aggregate(
    events: DataFrame,
    key: str,
    value: Column,
    range_interval: str | None = None,
    rows_preceding: int | None = None,
    row_filter: Column | None = None,
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
    aggs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Wire the OVER aggregator over a streaming frame. Exactly one of
    ``range_interval`` (RANGE frame) and ``rows_preceding`` (ROWS frame:
    the ``n`` rows before each row in (ts, id) order, plus itself) picks
    the frame. ``value`` must be an integer Column (the family's
    exactness rule); ``row_filter`` pre-filters rows BEFORE the
    watermark is applied, so the watermark — and the frontier cut —
    track the filtered stream. ``aggs`` picks the simultaneous frame
    aggregates (subset of ``sum count min max``; one ``agg_<f>`` column
    each, computed over ONE shared frame pass — round 9); ``None``
    keeps the round-8 single-SUM ``agg`` column. Output columns:
    ``user_id, event_id, ts, val, <agg columns>``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_uba_spark.streaming.pattern import _interval_us, _keyed_state_apply

    src = events if row_filter is None else events.filter(row_filter)
    filtered = (
        src.select(
            F.col(event_id).alias("event_id"),
            F.col(ts).alias("ts"),
            F.col(key).alias("user_id"),
            value.cast("long").alias("val"),
        )
        .withWatermark("ts", watermark_delay)
    )
    return _keyed_state_apply(
        filtered,
        make_over_aggregator(
            None if range_interval is None else _interval_us(range_interval),
            rows_preceding,
            funcs=aggs,
        ),
        over_output_schema(aggs),
        GroupStateTimeout.EventTimeTimeout,
    )
