"""100x scale probe for the streaming replay family with PEAK STATE
measured (round 12 — VERDICT r11 item 4: "all scale evidence is 10x
wall-clock ratios; the 2H-horizon state bound is argued, not measured").

Runs stream_match_recognize_mid_run_within_skip's exact topology
(``PATTERN (S E{1,2} P) WITHIN 30h`` under SKIP PAST LAST through the
quantified-chain replayer) at 1x (sf0.1) and at a constant-structure
100x (disjoint-user copies — per-user event density held constant, so a
FLAT per-key state is the pass condition), with the input time-sliced
into sequential replay files so the watermark ADVANCES between
micro-batches and the ``ts < wm - 2H`` eviction actually runs — the
honest streaming regime, not the one-giant-batch degenerate case.

Peak state rows / bytes come from the engine's own
StreamingQueryProgress ``stateOperators`` metrics via a
StreamingQueryListener. Reported per run: wall, result rows, peak state
rows, peak state bytes, number of keys, peak rows PER KEY (the
flatness check).

Usage: python tools/state_probe.py [factor] [slices]   (default 100 24)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

BASE = "/root/testdata/sf0.1"
TYPES = ("signup", "error", "purchase")


def _build_scaled(spark, factor: int):
    """Constant-dup-structure factor-x of sf0.1 events (disjoint user
    worlds, per-copy 13s jitter — scale_probe.build_const's rule),
    materialized once."""
    import os

    from pyspark.sql import functions as F

    from flink_uba_spark.sources.readers import load_testdata

    out = f"/tmp/spark_graft_stateprobe_{factor}x_events"
    if os.path.exists(f"{out}/_SUCCESS"):
        return out
    ev = load_testdata(spark, BASE, ("events",))["events"]
    allv = None
    for i in range(factor):
        c = (
            ev.withColumn("event_id", F.col("event_id") + i * 100_000_000)
            .withColumn("user_id", F.col("user_id") + i * 10_000_000)
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 13} SECONDS"))
        )
        allv = c if allv is None else allv.unionByName(c)
    allv.repartition(32).write.mode("overwrite").parquet(out)
    return out


def _sliced_replay(spark, src: str, factor: int, slices: int) -> str:
    """Time-slice the scaled events into ``slices`` sequential replay
    files (write_replay's mtime ordering) so FileStreamSource +
    maxFilesPerTrigger=1 advances the watermark monotonically."""
    from pyspark.sql import functions as F

    from flink_uba_spark.streaming.runner import write_replay

    def frames():
        df = spark.read.parquet(src)
        lo, hi = df.select(
            F.min("ts").cast("long"), F.max("ts").cast("long")
        ).first()
        step = max(1, (hi - lo + slices) // slices)
        return [
            df.filter(
                (F.col("ts").cast("long") >= lo + i * step)
                & (F.col("ts").cast("long") < lo + (i + 1) * step)
            )
            for i in range(slices)
        ] + [df.filter(F.col("ts").cast("long") >= lo + slices * step)]

    return write_replay(
        frames, tag=f"stateprobe_{factor}x_{slices}", cache_key=src
    )


class _PeakListener:
    def __init__(self):
        self.peak_rows = 0
        self.peak_bytes = 0
        self.batches = 0


def _listener(peaks):
    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            for so in p.get("stateOperators", []):
                peaks.peak_rows = max(
                    peaks.peak_rows, int(so.get("numRowsTotal") or 0)
                )
                peaks.peak_bytes = max(
                    peaks.peak_bytes, int(so.get("memoryUsedBytes") or 0)
                )
            peaks.batches += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return L()


def _run(spark, replay_dir: str, schema) -> dict:
    from pyspark.sql import functions as F

    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )
    from flink_uba_spark.sources.readers import normalize_event_time
    from flink_uba_spark.streaming.runner import run_to_table

    ev = normalize_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S E{1,2} P",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="skip_past_last",
        within_overall="INTERVAL 30 HOURS",
    )
    peaks = _PeakListener()
    lst = _listener(peaks)
    spark.streams.addListener(lst)
    try:
        t0 = time.time()
        res = run_to_table(out)
        rows = res.count()
        wall = time.time() - t0
        time.sleep(3)  # listener bus drains async
    finally:
        spark.streams.removeListener(lst)
    return {
        "wall_s": round(wall, 1),
        "result_rows": rows,
        "batches": peaks.batches,
        "peak_state_rows": peaks.peak_rows,
        "peak_state_bytes": peaks.peak_bytes,
    }


def main() -> None:
    from pyspark.sql import functions as F

    from flink_uba_spark.session import get_spark

    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    slices = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    spark = get_spark("state-probe")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    out = {}
    for f in (1, factor):
        src = (
            f"{BASE}/events.parquet" if f == 1 else _build_scaled(spark, f)
        )
        schema = spark.read.parquet(src).schema
        replay = _sliced_replay(spark, src, f, slices)
        keys = (
            spark.read.parquet(src)
            .filter(F.col("event_type").isin(*TYPES))
            .select("user_id")
            .distinct()
            .count()
        )
        r = _run(spark, replay, schema)
        r["keys"] = keys
        r["peak_rows_per_key"] = round(r["peak_state_rows"] / max(keys, 1), 2)
        out[f"{f}x"] = r
        print(f"# {f}x: {r}", file=sys.stderr, flush=True)
    a, b = out["1x"], out[f"{factor}x"]
    out["wall_ratio"] = round(b["wall_s"] / max(a["wall_s"], 1e-9), 1)
    out["wall_ratio_per_x"] = round(out["wall_ratio"] / factor, 3)
    out["per_key_state_ratio"] = round(
        b["peak_rows_per_key"] / max(a["peak_rows_per_key"], 1e-9), 2
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
