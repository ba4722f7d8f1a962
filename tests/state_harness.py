"""Drive a keyed state function through Spark's micro-batch loop.

``StateHarness`` runs any ``applyInPandasWithState`` function over
in-memory micro-batches, handing it PySpark's own
``pyspark.sql.streaming.state.GroupState`` (built directly, no JVM), and
moves state, timeouts and the watermark between calls the way Spark's
stateful operator does:

- each batch runs at the watermark computed from the batches before it
  (it lags by one batch): the largest event time so far in ms, minus the
  delay, never moving back; the run ends with Spark's no-data batch when
  the last data batch moved the watermark on;
- under ``EventTimeTimeout`` rows at or below the PREVIOUS batch's
  watermark are dropped before grouping: Spark filters late rows on the
  watermark one batch behind the one its timeouts and
  ``getCurrentWatermarkMs`` see;
- groups with rows are called first, then every group whose timeout is
  strictly below the watermark, timed out and without rows;
- every call starts with the timeout cleared, so only a fresh
  ``setTimeoutTimestamp`` re-arms it; a group whose state no longer
  exists and that has no timeout is dropped.

Rows carry the key as ``user_id`` and the event time as ``ts``, as the
input of ``_keyed_state_apply`` does. ``group_of`` maps a key to its
group: the key itself for a per-key state function, ``key % B`` for one
over B buckets (``per_bucket``). Stored values are pickled between
batches, as the bucket blobs are. The ``GroupState`` checks (a timeout
below the watermark, ``get`` on a missing state, the watermark of a
query without one) raise as they do in Spark.
"""

from __future__ import annotations

import json
import pickle
import random
from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import Row

EVENT_TIME = GroupStateTimeout.EventTimeTimeout
NO_TIMEOUT = GroupStateTimeout.NoTimeout


class StateHarness:
    """One stateful operator over in-memory micro-batches (see the module
    docstring). ``delay_ms`` is the watermark delay; None means the query
    has no watermark, which Spark allows only without timeouts."""

    def __init__(
        self,
        fn: Callable,
        *,
        delay_ms: int | None = 0,
        timeout: str = EVENT_TIME,
        group_of: Callable = lambda k: k,
    ) -> None:
        if timeout not in (EVENT_TIME, NO_TIMEOUT):
            raise ValueError(f"unsupported timeout {timeout}")
        if timeout == EVENT_TIME and delay_ms is None:
            raise ValueError("an event-time timeout needs a watermark")
        self.fn, self.delay_ms, self.timeout, self.group_of = fn, delay_ms, timeout, group_of
        self.states: dict = {}  # group -> (value or None, timeout ms)
        self.watermark_ms = 0  # the watermark the next batch runs at
        self.last_wm: int | None = None  # the one the last batch ran at

    def batch(self, rows: pd.DataFrame) -> list[pd.DataFrame]:
        """One micro-batch with data; returns the frames it emitted."""
        wm = self.watermark_ms if self.delay_ms is not None else GroupState.NO_TIMESTAMP
        if len(rows):
            us = rows["ts"].to_numpy().astype("datetime64[us]").view("int64")
            if self.delay_ms is not None:
                self.watermark_ms = max(self.watermark_ms, int(us.max()) // 1000 - self.delay_ms)
            if self.timeout == EVENT_TIME:
                rows = rows[us > (self.last_wm or 0) * 1000]
        self.last_wm = wm
        return self._run(rows, wm)

    def flush(self) -> list[pd.DataFrame]:
        """Spark's no-data batch: it runs only when timeouts are on and the
        data batches moved the watermark past the last batch's."""
        if self.timeout != EVENT_TIME or self.last_wm is None or self.watermark_ms <= self.last_wm:
            return []
        self.last_wm = self.watermark_ms
        return self._run(None, self.watermark_ms)

    def run(self, batches: Iterable[pd.DataFrame]) -> list[pd.DataFrame]:
        """Every batch in order, then the no-data batch."""
        out = [f for b in batches for f in self.batch(b)]
        return out + self.flush()

    def _run(self, rows, wm: int) -> list[pd.DataFrame]:
        out: list[pd.DataFrame] = []
        if rows is not None and len(rows):
            groups = rows["user_id"].map(self.group_of)
            for g, part in rows.groupby(groups, sort=False):
                self._call(int(g), [part.reset_index(drop=True)], False, wm, out)
        if self.timeout == EVENT_TIME:
            due = [g for g, (_v, t) in self.states.items() if t != GroupState.NO_TIMESTAMP and t < wm]
            for g in due:
                self._call(g, [], True, wm, out)
        return out

    def _call(self, g, frames, timed_out: bool, wm: int, out: list) -> None:
        value, _t = self.states.get(g, (None, GroupState.NO_TIMESTAMP))
        st = GroupState(
            optionalValue=None if value is None else Row(*value),
            batchProcessingTimeMs=0,
            eventTimeWatermarkMs=wm,
            timeoutConf=self.timeout,
            hasTimedOut=timed_out,
            watermarkPresent=self.delay_ms is not None,
            defined=value is not None,
            updated=False,
            removed=False,
            timeoutTimestamp=GroupState.NO_TIMESTAMP,
            keyAsUnsafe=b"",
            valueSchema=None,
        )
        out.extend(f for f in self.fn((g,), iter(frames), st) if len(f))
        # what the Python worker sends back to the JVM
        sent = json.loads(st.json())
        t = sent["timeoutTimestamp"]
        if sent["defined"] or t != GroupState.NO_TIMESTAMP:
            kept = pickle.loads(pickle.dumps(st.get)) if sent["defined"] else None
            self.states[g] = (kept, t)
        else:
            self.states.pop(g, None)


def per_bucket(det: Callable, n_buckets: int, *, timeout: str = EVENT_TIME, **kw) -> StateHarness:
    """A per-key state function as the engine runs it: every key in
    bucket ``key % n_buckets``, replayed by ``make_bucketed_matcher``."""
    from flink_uba_spark.streaming.pattern import make_bucketed_matcher

    fn = make_bucketed_matcher(det, timeout == EVENT_TIME, n_buckets)
    return StateHarness(fn, timeout=timeout, group_of=lambda k: k % n_buckets, **kw)


# a small case's time 0 on the harness clock, µs (a whole ms, and past
# watermark 0, at or below which rows are late)
T0 = 1_000_000_000


def replay(detect, events, cuts, cols, timers=True):
    """Run ``detect`` as key 1 of a small case through the harness, with
    watermark delay 0, and return key 1's output frames and the final
    watermark in case ms (None without timers).

    ``events`` are ``(eid, ts µs, mask, ...)`` in case time; a micro-batch
    holds the events with ts in (previous cut, cut], and ``cols(event)``
    gives an event's input columns past event_id, ts and user_id. Times
    enter shifted by ``T0``; read output times back with ``case_us``.
    ``timers`` runs event-time timeouts, as the engine wires an operator
    with timers, and sends a row of key 2 with mask 0 (matching nothing)
    into every cut range without events, so key 1's timers can fire
    mid-stream; otherwise there is neither a watermark nor a timeout."""

    def row(key, ev, fields):
        return {"event_id": ev[0], "ts": pd.Timestamp(T0 + ev[1], unit="us"), "user_id": key, **fields}

    batches, lo = [], -1
    for hi in [*cuts, float("inf")]:
        rows = [row(1, e, cols(e)) for e in events if lo < e[1] <= hi]
        if not rows and timers and hi < float("inf"):
            rows = [row(2, clk, cols(clk)) for clk in [(-1, hi, 0, *events[0][3:])]] if events else []
        lo = hi
        if rows:
            batches.append(pd.DataFrame(rows))
    if timers:
        harness = StateHarness(detect)
    else:
        harness = StateHarness(detect, timeout=NO_TIMEOUT, delay_ms=None)
    frames = [f[f["user_id"] == 1] if "user_id" in f else f for f in harness.run(batches)]
    return frames, (harness.watermark_ms - T0 // 1000 if timers else None)


def case_us(v):
    """An output timestamp in case µs (None for NaT)."""
    t = pd.Timestamp(v)
    return None if pd.isna(t) else t.value // 1000 - T0


def cut(rows: pd.DataFrame, rng: random.Random, max_cuts: int = 4) -> list[pd.DataFrame]:
    """``rows`` (in their order) split at up to ``max_cuts`` random
    points into micro-batches."""
    n = len(rows)
    points = sorted(rng.sample(range(1, n), min(rng.randint(0, max_cuts), n - 1))) if n > 1 else []
    bounds = [0, *points, n]
    return [rows.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds, bounds[1:])]


def _plain(v):
    if v is None or (not isinstance(v, (str, bytes, list, tuple, np.ndarray)) and pd.isna(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.value // 1000  # µs
    if isinstance(v, (float, np.floating)):
        return int(v) if float(v).is_integer() else float(v)  # a nullable int column
    if isinstance(v, (str, bytes)):
        return v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_plain(x) for x in v)
    return int(v)


def rows_of(frames: list[pd.DataFrame]) -> list[tuple]:
    """Emitted rows as sorted plain tuples (None for an absent value,
    µs for a timestamp)."""
    rows = [tuple(map(_plain, r)) for f in frames for r in f.itertuples(index=False)]
    return sorted(rows, key=repr)
