"""Stateful streaming extraction of per-user event transitions — the
U-family ``applyInPandasWithState`` exemplar for MULTI-event rolling state
(the order-timeout detector keeps pending anchors; this keeps the last
event per user and links each arrival to it).

Per key the state is ONE (ts, type) pair — O(1), the minimal footprint the
reference's ValueState pattern implies — so the operator shards on the
groupBy exchange and state size is |active users|, not |events|. Within a
micro-batch, rows are sorted by (ts, event_id) before linking (Spark hands
a key's batch rows in arbitrary order); across micro-batches the chain
continues from state, so a bounded single-batch replay reproduces the
batch lag-window answer exactly and an unbounded deployment degrades only
in the documented arrival-order sense (a late row links to the state seen
at its arrival — the same tradeoff every at-arrival sessionizer makes).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
    ]
)

_US = 1_000_000


def make_transition_extractor(gap_us: int):
    """Per-key state fn: link each event to its predecessor within gap."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        chunks = list(pdfs)
        # hot path: the serializer almost always delivers one chunk
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if len(rows) == 0:
            return
        # pin the resolution before the integer view: Arrow→pandas hands
        # datetime64[ns] today, but a [us]-resolution future would silently
        # compress timestamps 1000× without the explicit cast
        rows["ts_us"] = rows["ts"].astype("datetime64[ns]").astype("int64") // 1000
        rows = rows.sort_values(["ts_us", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        # vectorized linking: each row's predecessor is the previous sorted
        # row (pandas shift), with the STATE seam — the last event of the
        # previous micro-batch — spliced in as row 0's predecessor. No
        # per-event Python loop; the whole batch links in O(n) numpy ops.
        prev_us = rows["ts_us"].shift(1)
        prev_type = rows["event_type"].shift(1)
        if state.exists:
            # the key's last event: (ts µs, event type)
            seam_us, seam_type = state.get
            prev_us.iloc[0] = seam_us
            prev_type.iloc[0] = seam_type
        mask = prev_type.notna() & (rows["ts_us"] <= prev_us + gap_us)
        state.update((int(rows["ts_us"].iloc[-1]), rows["event_type"].iloc[-1]))
        if mask.any():
            out = pd.DataFrame(
                {
                    "user_id": key[0],
                    "src": prev_type[mask],
                    "dst": rows["event_type"][mask],
                }
            )
            yield out

    return fn


def stream_transition_pairs(events: DataFrame, gap_us: int = 30 * 60 * _US) -> DataFrame:
    """(user_id, src, dst) transition pairs from a watermarked stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_uba_spark.streaming.pattern import _keyed_state_apply

    ev = events.select("user_id", "event_id", "event_type", "ts")
    return _keyed_state_apply(
        ev,
        make_transition_extractor(gap_us),
        PAIR_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )
