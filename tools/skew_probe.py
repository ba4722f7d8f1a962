"""Hot-key skew probe for the stateful operator family (round-5 VERDICT
items 3-4): one user holds 10% of ALL events; time each operator at 1× and
10× data with the hot key's density growing 10×.

A plan that is linear in per-key density shows wall-clock ratio ≈ 10 (plus
fixed overhead → usually < 10); the retired shrinking-frame form
(rowsBetween(currentRow/1, unboundedFollowing) — Spark's
UnboundedFollowingWindowFunctionFrame recomputes the aggregate per row)
would show ≈ 100 on the hot key. Deterministic synthetic input — perf
probing only, not correctness data (the oracles cover correctness).

Usage: python tools/skew_probe.py  → one JSON line per probe + SCALE.md rows.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

N1 = 200_000           # events at 1×; 10% on the hot key
TYPES = ["signup", "view", "click", "error", "purchase"]


def build(spark, copies: int):
    """copies shifted replicas of the 1× synthetic; the hot key stays
    user_id=0 in every copy, so its per-key density scales with copies."""
    from pyspark.sql import functions as F

    base = spark.range(N1).select(
        F.col("id").alias("seq"),
        # md5-derived pseudo-randomness: deterministic, engine-independent
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10).cast("long"))
        .alias("h"),
    )
    ev = base.select(
        F.col("seq"),
        F.when(F.col("seq") % 10 == 0, F.lit(0))
        .otherwise(F.col("h") % 5000 + 1)
        .alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in TYPES]), (F.col("h") % 5).cast("int") + 1)
        .alias("event_type"),
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + F.col("seq") * 30_000_000 + F.col("h") % 1_000_000
        ).alias("ts"),
    )
    parts = []
    for i in range(copies):
        parts.append(
            ev.select(
                (F.col("seq") + i * N1).alias("event_id"),
                "user_id",
                "event_type",
                (F.col("ts") + F.expr(f"INTERVAL {i * N1 * 30} SECONDS")).alias("ts"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    path = f"/tmp/spark_graft_skew_{copies}x"
    out.repartition(32).write.mode("overwrite").parquet(path)
    return path


def probes(spark, path):
    from pyspark.sql import functions as F

    from flink_uba_spark.operators.sequence import pattern_detect, sequence_detect
    from flink_uba_spark.operators.sessions import sessionize

    ev = spark.read.parquet(path)

    def p_seq_single_pass():
        # the order-lifecycle single-pass (suffix-min + running count windows)
        return sequence_detect(
            ev, key="user_id",
            first_pred=F.col("event_type") == "signup",
            then_pred=F.col("event_type") == "purchase",
            within="INTERVAL 6 HOURS",
        )

    def p_pattern_3step():
        return pattern_detect(
            ev, key="user_id",
            steps=[
                (F.col("event_type") == "view", None),
                (F.col("event_type") == "click", "INTERVAL 30 MINUTES"),
                (F.col("event_type") == "purchase", "INTERVAL 2 HOURS"),
            ],
        )

    def p_pattern_kleene_mid():
        return pattern_detect(
            ev, key="user_id",
            steps=[
                (F.col("event_type") == "signup", None),
                (F.col("event_type") == "view", "INTERVAL 1 HOUR"),
                (F.col("event_type") == "error", "INTERVAL 6 HOURS", 3),
                (F.col("event_type") == "purchase", "INTERVAL 12 HOURS"),
            ],
        )

    def p_sessions():
        return sessionize(ev, key="user_id", gap="30 minutes")

    def p_transitions():
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = ev.withColumn("nxt", F.lead("event_type").over(w)).filter(
            F.col("nxt").isNotNull()
        )
        return pairs.groupBy("event_type", "nxt").count()

    def p_pattern_uncapped():
        # round 6: uncapped oneOrMore — the hot key's error runs become one
        # giant session; the plan must stay O(rows) (no lead(cap-1) at all)
        return pattern_detect(
            ev, key="user_id",
            steps=[
                (F.col("event_type") == "signup", None),
                (F.col("event_type") == "error", "INTERVAL 6 HOURS", float("inf")),
                (F.col("event_type") == "purchase", "INTERVAL 12 HOURS"),
            ],
        )

    def p_pattern_strict():
        # round 6: next() — one lead() over the unfiltered key stream
        return pattern_detect(
            ev, key="user_id",
            steps=[
                (F.col("event_type") == "view", None),
                (F.col("event_type") == "purchase", "INTERVAL 2 HOURS"),
            ],
            strict={2},
        )

    return {
        "seq_single_pass": p_seq_single_pass,
        "pattern_3step": p_pattern_3step,
        "pattern_kleene_mid": p_pattern_kleene_mid,
        "pattern_uncapped": p_pattern_uncapped,
        "pattern_strict": p_pattern_strict,
        "sessions": p_sessions,
        "transitions": p_transitions,
    }


def nfa_probe(copies: int) -> float:
    """The streaming NFA's per-key cost on the hot key alone (pure numpy;
    this is exactly the work one executor task does for the key), in one
    micro-batch of the state harness (tests/state_harness.py)."""
    from flink_uba_spark.streaming.pattern import make_pattern_matcher
    from state_harness import T0, StateHarness

    rng = np.random.RandomState(7)
    m = N1 // 10 * copies
    ts = np.sort(rng.randint(0, 30_000_000 * m // 10, size=m).astype("int64"))
    ids = np.arange(m, dtype="int64")
    et = rng.choice(TYPES, size=m)

    detect = make_pattern_matcher(
        ["signup", "view", "error", "purchase"],
        [None, 3600 * 10**6, 6 * 3600 * 10**6, 12 * 3600 * 10**6],
        kleenes=[None, None, (6 * 3600 * 10**6, 3), None],
    )
    # past watermark 0, at or below which rows are late
    pdf = pd.DataFrame(
        {"event_id": ids, "ts": pd.to_datetime(T0 + ts, unit="us"), "user_id": 0, "event_type": et}
    )
    t0 = time.time()
    StateHarness(detect).batch(pdf)
    dt = time.time() - t0

    # round-6 variant on the same hot-key frame: strict entry + UNCAPPED
    # mid-chain run + a notNext probe — the new combinator family's
    # per-key cost
    detect6 = make_pattern_matcher(
        ["signup", "view", "error", "purchase"],
        [None, 3600 * 10**6, 6 * 3600 * 10**6, 12 * 3600 * 10**6],
        kleenes=[None, None, (6 * 3600 * 10**6, None), None],
        stricts={2},
    )
    t0 = time.time()
    StateHarness(detect6).batch(pdf)
    return dt, time.time() - t0


def main() -> int:
    from flink_uba_spark.session import get_spark

    spark = get_spark("skew_probe")
    results = {}
    for copies in (1, 10):
        path = build(spark, copies)
        for name, fn in probes(spark, path).items():
            df = fn()
            t0 = time.time()
            nrows = df.count()
            dt = time.time() - t0
            results.setdefault(name, {})[copies] = (dt, nrows)
            print(f"{copies}x {name}: {dt:.2f}s rows={nrows}", flush=True)
        dt, dt6 = nfa_probe(copies)
        results.setdefault("stream_nfa_hotkey", {})[copies] = (dt, N1 // 10 * copies)
        print(f"{copies}x stream_nfa_hotkey: {dt:.2f}s", flush=True)
        results.setdefault("stream_nfa_strict_uncapped", {})[copies] = (
            dt6, N1 // 10 * copies
        )
        print(f"{copies}x stream_nfa_strict_uncapped: {dt6:.2f}s", flush=True)

    rows = {}
    for name, r in results.items():
        ratio = r[10][0] / max(r[1][0], 1e-9)
        rows[name] = {
            "t1x_s": round(r[1][0], 2),
            "t10x_s": round(r[10][0], 2),
            "ratio": round(ratio, 1),
        }
    print(json.dumps({"probe": "hot_key_10pct", "n1": N1, "queries": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
