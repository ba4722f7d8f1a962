"""Event-time temporal (versioned-table) join as a continuous query —
Flink SQL's ``FOR SYSTEM_TIME AS OF`` join, which in Flink is natively a
STREAMING operator: the probe stream joins the version of the build
stream valid at the probe row's event time, and a probe row is emitted
once the watermark guarantees no earlier-timestamped version can still
arrive.

Spark has no built-in event-time temporal join (stream-stream joins are
band/equality joins), so this is a keyed stateful operator (through
``pattern._keyed_state_apply``) — the engine family's NFA construction
applied to the asof relation:

- State per key: the version buffer + pending (not-yet-final) facts.
- A fact is FINAL once ``fact_ts < wm`` (strict µs): any later arrival
  carries ts ≥ wm > fact_ts and therefore cannot be the
  latest-at-or-before version for it. Same-ts versions resolve
  last-writer-wins (max version_id), the versioned-table rule.
- Version eviction: only the NEWEST version with ts < wm survives of
  its era — every future fact has ts ≥ wm, so older versions are
  dominated; versions at/after the watermark are kept.
- Timers: the earliest pending fact's ms floor (fires when wm passes
  it); the final availableNow drive flushes the tail, so a bounded
  replay equals the batch as-of join restricted to facts strictly below
  the final ms-floored watermark — the oracle's restriction.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_uba_spark.streaming.pattern import _next_watermark_ms

def temporal_output_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("fact_id", T.LongType()),
            T.StructField("fact_ts", T.TimestampType()),
            T.StructField("version_id", T.LongType()),
            T.StructField("version_ts", T.TimestampType()),
            T.StructField("payload", T.LongType()),
        ]
    )


def make_temporal_join_matcher():
    def fold(key, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        if state.exists:
            # versions (id, ts µs, payload), then pending facts (id, ts µs)
            v_ids, v_tss, v_pay, f_ids, f_tss = (list(v) for v in state.get)
        else:
            v_ids, v_tss, v_pay, f_ids, f_tss = [], [], [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            rid = pdf["row_id"].to_numpy()
            isf = pdf["is_fact"].to_numpy().astype(bool)
            pay = pdf["payload"].to_numpy()
            # split vectorized (per-row loop was a measured hot spot,
            # round 10); per-list pdf order is preserved
            f_ids.extend(rid[isf].astype("int64").tolist())
            f_tss.extend(ts_us[isf].tolist())
            vsel = ~isf
            v_ids.extend(rid[vsel].astype("int64").tolist())
            v_tss.extend(ts_us[vsel].tolist())
            v_pay.extend(pay[vsel].astype("int64").tolist())
        wm_us = state.getCurrentWatermarkMs() * 1000
        # last-writer-wins order: (ts, id) ascending; the latest
        # at-or-before a fact is the last entry ≤ (fact_ts, +inf)
        vorder = sorted(range(len(v_ids)), key=lambda i: (v_tss[i], v_ids[i]))
        sv_tss = [v_tss[i] for i in vorder]
        rows = []
        keep_f_ids, keep_f_tss = [], []
        for fid, fts in zip(f_ids, f_tss):
            if fts < wm_us:
                import bisect

                pos = bisect.bisect_right(sv_tss, fts) - 1
                if pos >= 0:
                    vi = vorder[pos]
                    rows.append(
                        (int(key[0]), fid, pd.Timestamp(fts, unit="us"),
                         v_ids[vi], pd.Timestamp(v_tss[vi], unit="us"),
                         v_pay[vi])
                    )
                else:
                    rows.append(
                        (int(key[0]), fid, pd.Timestamp(fts, unit="us"),
                         None, None, None)
                    )
            else:
                keep_f_ids.append(fid)
                keep_f_tss.append(fts)
        # evict dominated versions: keep everything ≥ wm plus the single
        # newest (ts, id) strictly below it
        below = [i for i in vorder if v_tss[i] < wm_us]
        keep_v = ([below[-1]] if below else []) + [
            i for i in vorder if v_tss[i] >= wm_us
        ]
        if keep_f_ids or keep_v:
            state.update((
                [v_ids[i] for i in keep_v],
                [v_tss[i] for i in keep_v],
                [v_pay[i] for i in keep_v],
                keep_f_ids,
                keep_f_tss,
            ))
            if keep_f_tss:
                nxt = min(keep_f_tss) // 1000
                state.setTimeoutTimestamp(max(nxt, _next_watermark_ms(wm_us // 1000)))
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "fact_id", "fact_ts", "version_id",
                         "version_ts", "payload"],
            )

    return fold


def stream_temporal_table_join(
    facts: DataFrame,
    versions: DataFrame,
    key: str,
    fact_id: str,
    version_id: str,
    payload,
    fact_ts: str = "ts",
    version_ts: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Wire the temporal-join NFA over two streaming frames sharing one
    source watermark (union-tagged, the coGroup lowering — one keyed
    exchange, one stateful operator). ``payload`` is a long Column on the
    version side carried into state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_uba_spark.streaming.pattern import _keyed_state_apply

    f = facts.select(
        F.col(key).alias("user_id"),
        F.col(fact_id).alias("row_id"),
        F.col(fact_ts).alias("ts"),
        F.lit(True).alias("is_fact"),
        F.lit(0).cast("long").alias("payload"),
    )
    v = versions.select(
        F.col(key).alias("user_id"),
        F.col(version_id).alias("row_id"),
        F.col(version_ts).alias("ts"),
        F.lit(False).alias("is_fact"),
        payload.cast("long").alias("payload"),
    )
    tagged = f.unionByName(v).withWatermark("ts", watermark_delay)
    return _keyed_state_apply(
        tagged,
        make_temporal_join_matcher(),
        temporal_output_schema(),
        GroupStateTimeout.EventTimeTimeout,
    )
