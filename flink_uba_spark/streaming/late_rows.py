"""W9 — late-data side output, best effort (SURVEY.md §2.4 W9).

Reference: HotPages.java:67,78-79 — ``allowedLateness(Time.minutes(1))``
plus ``sideOutputLateData(lateTag)``: an element late for EVERY window it
belongs to is routed to a side-output stream instead of being silently
dropped.

Spark has no per-operator side output, and append-mode drops late rows
inside the stateful aggregation (visible only as the
``numRowsDroppedByWatermark`` metric). The Spark-first best effort is a
**dead-letter tap**: a second lightweight query over the same source whose
``foreachBatch`` classifies each arriving row against a driver-side replica
of Spark's WatermarkTracker and appends fully-late rows to a dead-letter
parquet sink. The classification rule mirrors the pinned eviction rule
(tests/test_watermarks.py): batch N sees the watermark computed from data
through batch N-1 (``max event time ms - delay``), and a row is late iff
the LAST window containing it has already been finalized:

    floor(ts / slide) * slide + size  <=  wm        (all window ends <= wm)

Known divergence (documented, COVERAGE.md W9): Spark's aggregation merges a
late row that arrives in the very batch whose watermark evicts its window
(leniency pinned in tests/test_watermarks.py); the tap classifies it late.
Equality with ``numRowsDroppedByWatermark`` therefore holds whenever late
rows arrive strictly after their windows' eviction batch — the fixture
shape the cross-check test uses.

At scale the tap is a stateless map + filter per batch (one pass, no
shuffle); the dead-letter write parallelizes across executors. The only
driver-side work is the per-batch max-timestamp scalar used to advance the
replica watermark — the same aggregate Spark's own EventTimeStatsAccum
computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_uba_spark.streaming.pattern import _interval_us


class WatermarkReplica:
    """Driver-side replica of Spark's WatermarkTracker for one event-time
    column: the watermark in effect for batch N derives from the max event
    time observed through batch N-1 (floored to ms), minus the delay."""

    def __init__(self, delay: str):
        self.delay_ms = _interval_us(delay) // 1000
        self._max_ms: int | None = None

    def current_wm_ms(self) -> int:
        if self._max_ms is None:
            return 0
        return max(0, self._max_ms - self.delay_ms)

    def observe_batch_max_us(self, batch_max_us: int | None) -> None:
        if batch_max_us is None:
            return
        ms = batch_max_us // 1000
        self._max_ms = ms if self._max_ms is None else max(self._max_ms, ms)


def dead_letter_tap(
    events: DataFrame,
    sink_dir: str,
    ts: str = "ts",
    size: str = "5 minutes",
    slide: str | None = None,
    delay: str = "5 seconds",
):
    """Attach the W9 dead-letter tap to a streaming frame.

    Returns the started StreamingQuery (availableNow). Fully-late rows land
    in ``sink_dir`` as parquet (the side-output stream); read them back with
    ``spark.read.parquet(sink_dir)``.
    """
    size_us = _interval_us(size)
    slide_us = _interval_us(slide or size)
    replica = WatermarkReplica(delay)

    def _fb(bdf: DataFrame, _bid: int) -> None:
        wm_us = replica.current_wm_ms() * 1000
        # last window containing ts ends at floor(ts/slide)*slide + size
        last_end = (
            (F.unix_micros(F.col(ts)) / slide_us).cast("long") * slide_us + size_us
        )
        late = bdf.filter(last_end <= F.lit(wm_us))
        late.write.mode("append").parquet(sink_dir)
        row = bdf.agg(F.max(F.unix_micros(F.col(ts)))).collect()[0]
        replica.observe_batch_max_us(row[0])

    return (
        events.writeStream.foreachBatch(_fb)
        .trigger(availableNow=True)
        .start()
    )
