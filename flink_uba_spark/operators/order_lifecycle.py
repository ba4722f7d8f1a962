"""Order-payment timeout detection (SURVEY.md §2.6 J3/J4).

Reference, two equivalent formulations the engine must reproduce:
- CEP: ``create → pay within 15 min`` per orderId, timeouts to a side output
  (OrderPayTimeout.java:52-75).
- Keyed state + event-time timers: OrderPayMatchDetect
  (OrderPayTimeoutWithoutCEP.java:67-152) with four result states —
  "payed successfully", "timeout", "payed but already timeout"
  (:116), "payed but not found created" (:139).

Spark-first (batch) design: the CEP pattern is a *join shape*, not a state
machine. For each anchor (create) we need the earliest follow (pay) at or
after it — a left join on the key with ``follow.ts >= anchor.ts`` plus a
min-aggregate, then a CASE over the deadline. The no-anchor state is an
anti-join from the follow side. Each piece is one hash exchange on the key;
Catalyst pushes the event-type filters to the parquet scan. The streaming
twin (keyed state + EventTimeTimeout) lives in streaming/order_timeout.py
— the reference itself proves the two formulations equivalent by shipping
both.

States emitted (mirroring OrderPayTimeoutWithoutCEP):
- ``payed``          — follow within deadline
- ``timeout``        — no follow at all
- ``payed_late``     — follow exists but after deadline  (":116")
- ``pay_no_create``  — follow with no anchor in the preceding deadline (":139")
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAYED = "payed"
TIMEOUT = "timeout"
PAYED_LATE = "payed_late"
PAY_NO_CREATE = "pay_no_create"


def classify_order_states(
    anchors: DataFrame,
    follows: DataFrame,
    key: str,
    deadline: str = "INTERVAL 15 MINUTES",
    anchor_id: str = "event_id",
    follow_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """Classify every anchor (and orphan follow) into the four J4 states.

    anchors / follows: frames with columns (anchor_id|follow_id, key, ts).
    Output: anchor_id LONG (null for orphans), follow_id LONG (null when no
    follow), <key>, anchor_ts, follow_ts, state STRING.

    The follow chosen per anchor is the earliest at-or-after the anchor
    (ties impossible: ids are unique and ts is the min). An orphan follow is
    one with NO anchor at-or-before it at all — mirroring the reference's
    "payed but not found created" branch (OrderPayTimeoutWithoutCEP.java:139),
    which fires only when no created-state was ever seen for the key; a pay
    whose create is merely old is "payed but already timeout" (:116), i.e.
    payed_late here, never an orphan.
    """
    a = anchors.select(
        F.col(anchor_id).alias("anchor_id"), F.col(key).alias(key), F.col(ts).alias("anchor_ts")
    )
    f = follows.select(
        F.col(follow_id).alias("follow_id"), F.col(key).alias(key), F.col(ts).alias("follow_ts")
    )

    # earliest follow at/after each anchor: join + min — one exchange on key
    first_follow = (
        a.join(f, on=key, how="inner")
        .where(F.col("follow_ts") >= F.col("anchor_ts"))
        .groupBy("anchor_id")
        .agg(F.min(F.struct("follow_ts", "follow_id")).alias("ff"))
        .select("anchor_id", F.col("ff.follow_ts").alias("follow_ts"), F.col("ff.follow_id").alias("follow_id"))
    )
    anchored = (
        a.join(first_follow, on="anchor_id", how="left")
        .withColumn(
            "state",
            F.when(F.col("follow_ts").isNull(), F.lit(TIMEOUT))
            .when(F.col("follow_ts") <= F.expr(f"anchor_ts + {deadline}"), F.lit(PAYED))
            .otherwise(F.lit(PAYED_LATE)),
        )
        .select("anchor_id", "follow_id", key, "anchor_ts", "follow_ts", "state")
    )

    # orphan follows: left-anti join on key — a follow with no anchor
    # at-or-before it (see docstring; deadline does NOT gate orphanhood)
    anti_cond = (f[key] == a[key]) & (a["anchor_ts"] <= f["follow_ts"])
    orphans = f.join(a, anti_cond, "left_anti").select(
        F.lit(None).cast("long").alias("anchor_id"),
        "follow_id",
        key,
        F.lit(None).cast("timestamp").alias("anchor_ts"),
        "follow_ts",
        F.lit(PAY_NO_CREATE).alias("state"),
    )
    return anchored.unionByName(orphans)


def classify_order_states_single_pass(
    anchors: DataFrame,
    follows: DataFrame,
    key: str,
    deadline: str = "INTERVAL 15 MINUTES",
    anchor_id: str = "event_id",
    follow_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """Same four-state classification as ``classify_order_states`` with a
    LINEAR plan: union the tagged streams, ONE hash exchange on the key,
    and two frame windows over the per-key time order —

    - each anchor's follow = suffix-min of the follow (ts, id) structs,
      computed as a RUNNING min over the reversed sort order (the ordering
      triple is a total key, so the desc sort is the exact reverse
      permutation and the suffix frame becomes a growing
      unboundedPreceding→currentRow frame — Spark's incremental
      UnboundedPrecedingWindowFunctionFrame, O(rows); the natural
      currentRow→unboundedFollowing form recomputes per row, O(rows²)
      under a hot key),
    - a follow is an orphan iff the running anchor count at its row is 0.

    The join form fans out anchors×follows per key before aggregating —
    quadratic in per-key density (SCALE.md round-1: ratio 3.7 at 10×);
    this form is the batch twin of the streaming state machine
    (streaming/order_timeout.py), which walks the same per-key time order
    with O(1) state. Equal-timestamp semantics match the join exactly:
    anchors sort before follows at the same ts, so an equal-ts follow is
    inside its anchor's suffix frame and an equal-ts anchor counts for
    orphanhood (both `>=`/`<=` in the join form).
    """
    from pyspark.sql import Window

    a = anchors.select(
        F.col(anchor_id).alias("anchor_id"),
        F.lit(None).cast("long").alias("follow_id"),
        F.col(key).alias(key),
        F.col(ts).alias("__t"),
        F.lit(0).alias("__tag"),  # anchors first at equal ts
    )
    f = follows.select(
        F.lit(None).cast("long").alias("anchor_id"),
        F.col(follow_id).alias("follow_id"),
        F.col(key).alias(key),
        F.col(ts).alias("__t"),
        F.lit(1).alias("__tag"),
    )
    u = a.unionByName(f)
    order = [F.col("__t"), F.col("__tag"), F.coalesce("anchor_id", "follow_id")]
    # suffix min as a growing frame over the reversed (total-key) order —
    # O(rows) incremental, vs O(rows^2) for currentRow→unboundedFollowing
    w_next = (
        Window.partitionBy(key)
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seen = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    follow_struct = F.when(
        F.col("__tag") == 1, F.struct(F.col("__t").alias("fts"), F.col("follow_id").alias("fid"))
    )
    enriched = u.withColumn("__nf", F.min(follow_struct).over(w_next)).withColumn(
        "__anchors_seen", F.count(F.when(F.col("__tag") == 0, 1)).over(w_seen)
    )
    # ONE branch for both row kinds (a filter-then-union of anchored and
    # orphan rows would duplicate the whole union+exchange+window subtree —
    # Catalyst does not reuse it — doubling the scans and exchanges): keep
    # anchors and orphan follows, shape each row with CASE on the tag.
    is_anchor = F.col("__tag") == 0
    return enriched.filter(
        is_anchor | (F.col("__anchors_seen") == 0)
    ).select(
        F.when(is_anchor, F.col("anchor_id")).alias("anchor_id"),
        F.when(is_anchor, F.col("__nf.fid")).otherwise(F.col("follow_id")).alias("follow_id"),
        key,
        F.when(is_anchor, F.col("__t")).alias("anchor_ts"),
        F.when(is_anchor, F.col("__nf.fts")).otherwise(F.col("__t")).alias("follow_ts"),
        F.when(~is_anchor, F.lit(PAY_NO_CREATE))
        .when(F.col("__nf").isNull(), F.lit(TIMEOUT))
        .when(F.col("__nf.fts") <= F.expr(f"__t + {deadline}"), F.lit(PAYED))
        .otherwise(F.lit(PAYED_LATE))
        .alias("state"),
    )
