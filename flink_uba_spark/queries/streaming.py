"""Streaming query catalog — Structured Streaming twins of the UBA queries,
run as bounded replays (availableNow) into memory sinks, per the §5
batch/streaming-equivalence strategy.

These are REAL streaming executions (incremental state, watermarks); the
oracles encode the exact watermark semantics:

- windowed agg, append mode: a window is final when the watermark (= max
  observed event time − delay) passes its end → oracle filters the batch
  answer to window_end ≤ max(ts of the filtered stream).
- stream-stream inner join: watermarks bound state retention, not output —
  on bounded input every match is emitted → oracle identical to batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_uba_spark.operators.topn import topn_per_window
from flink_uba_spark.queries.uba import ATTRIBUTION_ORACLE, HOT_PAGES_EXCLUDE, TOP_N
from flink_uba_spark.streaming.runner import run_to_table, stream_events, write_replay
from flink_uba_spark.streaming.windows import stream_windowed_counts


def stream_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HotItem in its native streaming form (HotItem.java:26-73): watermarked
    sliding-window counts run incrementally; the top-5 rank is applied to the
    finalized windows (the foreachBatch pattern — ranking over an updating
    aggregate is an update query, HotItemWithSql.java:75-77)."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"), "ts"
    )
    counts = run_to_table(
        stream_windowed_counts(views, F.col("item_id"), "item_id", watermark_delay="0 seconds")
    )
    return topn_per_window(counts, "item_id", n=TOP_N).select(
        "window_start", "window_end", "item_id", "cnt", F.col("rnk").cast("long").alias("rnk")
    )


STREAM_HOT_ITEMS_ORACLE = f"""
WITH pv AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id, ts
    FROM events WHERE event_type = 'view'
),
assigned AS (
    SELECT make_timestamp(((CAST(floor(epoch(ts) / 300) AS BIGINT) - g.k) * 300) * 1000000)
               AS window_start,
           item_id
    FROM pv CROSS JOIN generate_series(0, 11) AS g(k)
),
agg AS (
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end, item_id,
           count(*) AS cnt
    FROM assigned GROUP BY 1, 3
),
final AS (
    -- append-mode finalization: watermark = max event time − 0s delay
    SELECT * FROM agg WHERE window_end <= (SELECT max(ts) FROM pv)
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, item_id ASC) AS rnk
    FROM final
)
SELECT window_start, window_end, item_id, cnt, rnk FROM ranked WHERE rnk <= {TOP_N}
"""


def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 in its native streaming form (TxPayMatchByJoin.java:60-77):
    stream-stream inner join with watermarks on both sides and the time
    range as join condition (which doubles as the state-retention bound)."""
    pays = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("pay_id"), "user_id", F.col("ts").alias("pay_ts"))
        .withWatermark("pay_ts", "10 seconds")
    )
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "10 seconds")
    )
    joined = pays.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("pay_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("pay_ts")),
        "inner",
    ).select("pay_id", "view_id", "user_id", "pay_ts", "view_ts")
    return run_to_table(joined)


def _hot_pages_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HotPages page stream as a three-file replay (one micro-batch
    each under ``maxFilesPerTrigger=1``): the on-time bulk A, the pusher
    rows P of the final hour (``ts > Tmax - 1h``) and the very-late rows L
    (``ts <= Tmax - 12h AND event_id % 19 = 0``). See
    ``stream_hot_pages`` for what each batch does to the watermark."""
    from pyspark.sql import types as T

    from flink_uba_spark.sources.readers import load_testdata

    pages = (
        load_testdata(spark, sf_dir, ("events",))["events"]
        .filter(~F.col("event_type").rlike(HOT_PAGES_EXCLUDE))
        .select("event_id", F.col("event_type").alias("page"), "ts")
    )

    def _batches():
        # event-time max as a broadcast one-row join, not a driver collect —
        # the cutoff predicates stay fully declarative, and the builder only
        # runs on per-process replay-memo miss (once per invocation)
        p = pages.crossJoin(F.broadcast(pages.agg(F.max("ts").alias("__tmax"))))
        is_late = (F.col("ts") <= F.col("__tmax") - F.expr("INTERVAL 12 HOURS")) & (
            F.col("event_id") % 19 == 0
        )
        is_pusher = F.col("ts") > F.col("__tmax") - F.expr("INTERVAL 1 HOUR")
        return [
            p.filter(~is_late & ~is_pusher).select("page", "ts"),
            p.filter(is_pusher).select("page", "ts"),
            p.filter(is_late).select("page", "ts"),
        ]

    replay_dir = write_replay(_batches, tag="hot_pages", cache_key=sf_dir)
    schema = T.StructType(
        [T.StructField("page", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )


def stream_hot_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HotPages in its native streaming form with the reference's NON-ZERO
    bounded out-of-orderness (5 s watermark delay, HotPages.java:57-62) and
    genuinely late data that the watermark DROPS — the lateness semantics
    the reference is all about, proven end-to-end rather than unit-level.

    Replay construction (deterministic, mirrored by the oracle): the page
    stream splits into three micro-batches by event time —
      batch 0 (A): on-time bulk — all rows except P and L;
      batch 1 (P): rows in the final hour (``ts > Tmax - 1h``) — these push
        the watermark to ``Tmax - 5s`` while touching only windows that end
        after it, so batch 1 evicts every window ending ≤ max(A) - 5s with
        A-only contents;
      batch 2 (L): very-late rows (``ts <= Tmax - 12h AND event_id % 19 = 0``)
        — every window they belong to ends ≥ 6 h before the batch-1
        watermark, i.e. was evicted in an EARLIER batch, so under the rule
        pinned in tests/test_watermarks.py ALL of L is dropped
        (numRowsDroppedByWatermark), with no dependence on same-batch
        merge leniency.
    The oracle therefore counts over A ∪ P only and finalizes windows at
    window_end ≤ floor_ms(Tmax) - 5 s. Ranking (top-3) is applied to the
    finalized windows, as in stream_hot_items.
    """
    sdf = _hot_pages_stream(spark, sf_dir)
    counts = run_to_table(
        stream_windowed_counts(
            sdf, F.col("page"), "page",
            size="6 hours", slide="30 minutes", watermark_delay="5 seconds",
        )
    )
    return topn_per_window(counts, "page", n=3).select(
        "window_start", "window_end", "page", "cnt", F.col("rnk").cast("long").alias("rnk")
    )


STREAM_HOT_PAGES_ORACLE = """
WITH pages AS (
    SELECT event_id, event_type AS page, ts FROM events
    WHERE NOT regexp_matches(event_type, '^(error|signup)$')
),
tmax AS (SELECT max(ts) AS t FROM pages),
counted AS (
    -- batch-2 late rows are dropped by the watermark (state evicted in an
    -- earlier batch); everything else is counted exactly once
    SELECT page, ts FROM pages
    WHERE NOT (ts <= (SELECT t FROM tmax) - INTERVAL 12 HOUR AND event_id % 19 = 0)
),
assigned AS (
    SELECT
        make_timestamp(((CAST(floor(epoch(ts) / 1800) AS BIGINT) - g.k) * 1800) * 1000000)
            AS window_start,
        page
    FROM counted CROSS JOIN generate_series(0, 11) AS g(k)
),
agg AS (
    SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end, page, count(*) AS cnt
    FROM assigned GROUP BY 1, 3
),
final AS (
    -- append-mode finalization at wm = floor_ms(Tmax) - 5 s
    SELECT * FROM agg
    WHERE epoch_us(window_end) <= ((SELECT epoch_us(t) // 1000 FROM tmax) - 5000) * 1000
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, page ASC) AS rnk
    FROM final
)
SELECT window_start, window_end, page, cnt, rnk FROM ranked WHERE rnk <= 3
"""


def stream_hot_pages_late_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 — HotPages.java:78-79's ``sideOutputLateData``: the rows of the
    ``stream_hot_pages`` replay that are late for EVERY window they belong
    to (6 h windows sliding by 30 min, 5 s delay), side-output by the
    dead-letter tap (``streaming/late_rows.dead_letter_tap``) into a
    parquet sink and read back.

    Batch 0 runs at no watermark and batch 1's watermark (max(A) - 5 s)
    is older than every window end of the final hour's rows, so neither
    side-outputs a row; batch 2 runs at ``Tmax - 5 s`` and every window of
    its very-late rows ended by ``Tmax - 6 h``. The side output is
    exactly L, the rows ``stream_hot_pages``'s aggregation drops."""
    import tempfile
    import uuid
    from pathlib import Path

    from flink_uba_spark.streaming.late_rows import dead_letter_tap

    sink = (
        Path(tempfile.gettempdir()) / "spark_graft_stream"
        / f"late_rows_{uuid.uuid4().hex[:12]}"
    )
    dead_letter_tap(
        _hot_pages_stream(spark, sf_dir), str(sink),
        size="6 hours", slide="30 minutes", delay="5 seconds",
    ).awaitTermination()
    return spark.read.parquet(str(sink)).select("page", "ts")


STREAM_HOT_PAGES_LATE_ROWS_ORACLE = """
WITH pages AS (
    SELECT event_id, event_type AS page, ts FROM events
    WHERE NOT regexp_matches(event_type, '^(error|signup)$')
)
SELECT page, ts FROM pages
WHERE ts <= (SELECT max(ts) FROM pages) - INTERVAL 12 HOUR AND event_id % 19 = 0
"""


def stream_hot_pages_allowed_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 — Flink allowedLateness, reproduced with Spark-native semantics
    (HotPages.java:67 ``allowedLateness(Time.minutes(1))`` generalized).

    Flink: a window fires at the watermark, then RE-fires an updated
    result for each late element until watermark > window_end + lateness,
    then purges. The Spark twin is the UPDATE-mode windowed aggregate with
    watermark = delay + lateness: the first emission of a key is the
    on-time fire, each later batch that lands an accepted late row emits
    an updated count for the same key, and state purges at the combined
    horizon. Same replay as ``stream_hot_pages`` (on-time A, pusher P,
    very-late L); lateness is 13 h, so L rows (ts ≤ Tmax − 12 h) split —
    window assignments still inside the horizon are ACCEPTED and refire
    their window, older ones are dropped exactly as without lateness.

    Output per (window, page): final count plus ``n_emissions`` — the
    number of update rows the sink received (memory sink appends one row
    per changed key per batch), which the oracle reproduces as the count
    of distinct replay batches contributing an accepted row. Keys with
    ``n_emissions`` = 2 are the re-fired (late-updated) windows — the
    observable allowedLateness behavior.
    """
    sdf = _hot_pages_stream(spark, sf_dir)
    emissions = run_to_table(
        stream_windowed_counts(
            sdf, F.col("page"), "page",
            size="6 hours", slide="30 minutes",
            watermark_delay="46805 seconds",  # 5 s delay + 13 h lateness
        ),
        output_mode="update",
    )
    return emissions.groupBy("window_start", "window_end", "page").agg(
        F.max("cnt").alias("cnt"),  # counts only grow; max = final refired value
        F.count(F.lit(1)).alias("n_emissions"),
    )


STREAM_HOT_PAGES_ALLOWED_LATENESS_ORACLE = """
WITH pages AS (
    SELECT event_id, event_type AS page, ts FROM events
    WHERE NOT regexp_matches(event_type, '^(error|signup)$')
),
tmax AS (SELECT max(ts) AS t FROM pages),
tagged AS (
    -- replay batch of each row: 0 on-time, 1 pusher, 2 very-late
    SELECT page, ts,
           CASE WHEN ts <= (SELECT t FROM tmax) - INTERVAL 12 HOUR
                     AND event_id % 19 = 0 THEN 2
                WHEN ts > (SELECT t FROM tmax) - INTERVAL 1 HOUR THEN 1
                ELSE 0 END AS batch
    FROM pages
),
assigned AS (
    SELECT
        make_timestamp(((CAST(floor(epoch(ts) / 1800) AS BIGINT) - g.k) * 1800) * 1000000)
            AS window_start,
        page, batch
    FROM tagged CROSS JOIN generate_series(0, 11) AS g(k)
),
amax AS (SELECT max(ts) AS t FROM tagged WHERE batch = 0),
accepted AS (
    -- the multi-batch rule pinned in tests/test_watermarks.py: a late row
    -- is dropped only if its window was evicted in an EARLIER batch, and
    -- batch 1 evicts with the watermark of data through batch 0 —
    -- floor_ms(max(A)) - (5 s + 13 h). Windows between that and the
    -- batch-1 watermark still hold state, so batch-2 rows MERGE there.
    SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end, page, batch
    FROM assigned
    WHERE batch < 2
       OR epoch_us(window_start + INTERVAL 6 HOUR)
              > ((SELECT epoch_us(t) // 1000 FROM amax) - 46805000) * 1000
)
SELECT window_start, window_end, page,
       count(*) AS cnt,
       count(DISTINCT batch) AS n_emissions
FROM accepted
GROUP BY 1, 2, 3
"""


def stream_tx_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 in its native streaming form (TxPayMatch.java:73-156): two-stream
    reconciliation as a watermarked stream-stream FULL OUTER join. The
    reference parks each side in ValueState and routes records whose wait
    timer fires unmatched to side outputs (pay waits 5 s, TxPayMatch.java:113;
    receipt 3 s, :131); Spark's symmetric hash join does exactly that — a
    never-matched row is emitted null-joined once the watermark proves no
    future partner can arrive. Matched pairs emit on arrival.

    Empirically pinned eviction boundary (probe, this round): a null-side
    row with time t emits iff t_us <= (wm_ms - W_ms - 1) * 1000, where W is
    the join-interval half-width and wm_ms = min over inputs of
    floor_ms(max event time) - delay_ms. (NOT strict-< at us precision: a
    row 0.4 ms inside the bound was retained.) The oracle encodes this rule.
    """
    pays = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pay_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("pay_ts"),
        )
        .withWatermark("pay_ts", "10 seconds")
    )
    receipts = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("receipt_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("receipt_ts"),
        )
        .withWatermark("receipt_ts", "10 seconds")
    )
    joined = pays.join(
        receipts,
        (F.col("p_user_id") == F.col("r_user_id"))
        & (F.col("receipt_ts") >= F.col("pay_ts") - F.expr("INTERVAL 2 MINUTES"))
        & (F.col("receipt_ts") <= F.col("pay_ts") + F.expr("INTERVAL 2 MINUTES")),
        "full_outer",
    ).select(
        "pay_id",
        "receipt_id",
        F.coalesce("p_user_id", "r_user_id").alias("user_id"),
        "pay_ts",
        "receipt_ts",
        F.when(F.col("pay_id").isNotNull() & F.col("receipt_id").isNotNull(), F.lit("matched"))
        .when(F.col("receipt_id").isNull(), F.lit("unmatched_left"))
        .otherwise(F.lit("unmatched_right"))
        .alias("status"),
    )
    return run_to_table(joined)


# wm_ms = min(floor_ms(max pay_ts), floor_ms(max receipt_ts)) - 10s delay;
# null-side emission: t_us <= (wm_ms - 120_000 - 1) * 1000 (pinned above).
STREAM_TX_RECONCILE_ORACLE = """
WITH p AS (
    SELECT event_id AS pay_id, user_id, ts AS pay_ts
    FROM events WHERE event_type = 'purchase'
),
r AS (
    SELECT event_id AS receipt_id, user_id, ts AS receipt_ts
    FROM events WHERE event_type = 'click'
),
wm AS (
    SELECT least(
        (SELECT epoch_us(max(pay_ts)) // 1000 FROM p),
        (SELECT epoch_us(max(receipt_ts)) // 1000 FROM r)
    ) - 10000 AS wm_ms
),
matched AS (
    SELECT p.pay_id, r.receipt_id, p.user_id, p.pay_ts, r.receipt_ts,
           'matched' AS status
    FROM p JOIN r
      ON p.user_id = r.user_id
     AND r.receipt_ts >= p.pay_ts - INTERVAL 2 MINUTE
     AND r.receipt_ts <= p.pay_ts + INTERVAL 2 MINUTE
),
ul AS (
    SELECT p.pay_id, CAST(NULL AS BIGINT) AS receipt_id, p.user_id, p.pay_ts,
           CAST(NULL AS TIMESTAMP) AS receipt_ts, 'unmatched_left' AS status
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM r
        WHERE r.user_id = p.user_id
          AND r.receipt_ts >= p.pay_ts - INTERVAL 2 MINUTE
          AND r.receipt_ts <= p.pay_ts + INTERVAL 2 MINUTE
    )
    AND epoch_us(p.pay_ts) <= ((SELECT wm_ms FROM wm) - 120000 - 1) * 1000
),
ur AS (
    SELECT CAST(NULL AS BIGINT) AS pay_id, r.receipt_id, r.user_id,
           CAST(NULL AS TIMESTAMP) AS pay_ts, r.receipt_ts,
           'unmatched_right' AS status
    FROM r
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = r.user_id
          AND r.receipt_ts >= p.pay_ts - INTERVAL 2 MINUTE
          AND r.receipt_ts <= p.pay_ts + INTERVAL 2 MINUTE
    )
    AND epoch_us(r.receipt_ts) <= ((SELECT wm_ms FROM wm) - 120000 - 1) * 1000
)
SELECT * FROM matched
UNION ALL SELECT * FROM ul
UNION ALL SELECT * FROM ur
"""


def stream_order_timeout_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 in its native streaming form: per-key state machine with
    event-time timers via applyInPandasWithState (see
    streaming/order_timeout.py). ``timeout`` verdicts require their timer
    to fire, i.e. the final watermark must pass the deadline — the oracle
    filters accordingly; all other states match the batch operator."""
    from flink_uba_spark.streaming.order_timeout import stream_order_timeout

    ev = stream_events(spark, sf_dir)
    return run_to_table(stream_order_timeout(ev, deadline="6 hours"))


STREAM_ORDER_TIMEOUT_ORACLE = """
WITH a AS (
    SELECT event_id AS anchor_id, user_id, ts AS anchor_ts
    FROM events WHERE event_type = 'signup'
),
f AS (
    SELECT event_id AS follow_id, user_id, ts AS follow_ts
    FROM events WHERE event_type = 'purchase'
),
wm AS (
    SELECT max(ts) AS w FROM events WHERE event_type IN ('signup', 'purchase')
),
cand AS (
    SELECT a.anchor_id, f.follow_id, f.follow_ts,
           row_number() OVER (PARTITION BY a.anchor_id
                              ORDER BY f.follow_ts, f.follow_id) AS rn
    FROM a JOIN f USING (user_id)
    WHERE f.follow_ts >= a.anchor_ts
),
ff AS (SELECT anchor_id, follow_id, follow_ts FROM cand WHERE rn = 1),
anchored AS (
    SELECT a.anchor_id, ff.follow_id, a.user_id, a.anchor_ts, ff.follow_ts,
           CASE WHEN ff.follow_ts IS NULL THEN 'timeout'
                WHEN ff.follow_ts <= a.anchor_ts + INTERVAL 6 HOUR THEN 'payed'
                ELSE 'payed_late' END AS state
    FROM a LEFT JOIN ff USING (anchor_id)
),
orphans AS (
    SELECT CAST(NULL AS BIGINT) AS anchor_id, f.follow_id, f.user_id,
           CAST(NULL AS TIMESTAMP) AS anchor_ts, f.follow_ts,
           'pay_no_create' AS state
    FROM f
    WHERE NOT EXISTS (
        SELECT 1 FROM a
        WHERE a.user_id = f.user_id AND a.anchor_ts <= f.follow_ts
    )
)
SELECT * FROM anchored
WHERE state != 'timeout'
   -- timer fires when deadline <= wm, with wm at MILLISECOND resolution
   -- (getCurrentWatermarkMs floors the us-precision max event time); the
   -- exact replication avoids the sub-ms boundary band (ADVICE r1)
   OR epoch_us(anchor_ts) + 21600000000 <= (epoch_us((SELECT w FROM wm)) // 1000) * 1000
UNION ALL SELECT * FROM orphans
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over a watermarked
    stream — the keyed-state twin of ``dedup_exact`` and the operator every
    at-least-once ingest pipeline puts first. State holds one entry per key
    inside the watermark horizon; older keys evict.

    Replay: batch 0 is the full events table (unique event_ids); batch 1
    re-sends two duplicate slices — a recent one (ts > Tmax − 1 h, inside
    the 2 h watermark horizon → suppressed against state) and a very-late
    one (ts ≤ Tmax − 12 h → below the batch-1 watermark, dropped as late
    input). Both paths leave exactly one copy of every event, which is
    what the oracle asserts: the result is the events table itself,
    emitted once — duplicates neither re-emitted nor double-counted.
    """
    from pyspark.sql import types as T

    from flink_uba_spark.sources.readers import load_testdata

    ev = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "user_id", "ts"
    )
    def _batches():
        # broadcast one-row max instead of a driver collect (builder runs
        # only on replay-cache miss)
        e = ev.crossJoin(F.broadcast(ev.agg(F.max("ts").alias("__tmax"))))
        recent_dups = e.filter(
            (F.col("ts") > F.col("__tmax") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("event_id") % 7 == 0)
        )
        late_dups = e.filter(
            (F.col("ts") <= F.col("__tmax") - F.expr("INTERVAL 12 HOURS"))
            & (F.col("event_id") % 23 == 0)
        )
        cols = ["event_id", "user_id", "ts"]
        return [ev, recent_dups.unionByName(late_dups).select(*cols)]

    replay_dir = write_replay(_batches, tag="dedup_ev", cache_key=sf_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    deduped = sdf.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    return run_to_table(deduped)


STREAM_DEDUP_EVENTS_ORACLE = """
SELECT event_id, user_id, ts FROM events
"""


def stream_dedup_events_state_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATE-BOUNDED streaming dedup — ``dropDuplicatesWithinWatermark``
    (the Spark mapping of Flink's state-TTL dedup): unlike plain
    ``dropDuplicates`` (whose key state grows forever), the dedup state
    here is EVICTED once the watermark passes first-seen + delay — the
    contract an unbounded at-least-once ingest actually deploys: exact
    within the horizon, amnesiac past it. Replay: the stream_dedup_events
    construction — batch 0 = the full table; batch 1 re-sends a recent
    duplicate slice (inside the 2 h horizon → suppressed against live
    state) and a very-late slice (below the batch-1 watermark → dropped
    as late input). Every event survives exactly once; the oracle is the
    events table with its calendar day."""
    from pyspark.sql import types as T

    from flink_uba_spark.sources.readers import load_testdata

    ev = load_testdata(spark, sf_dir, ("events",))["events"].select(
        "event_id", "user_id", "ts"
    )

    def _batches():
        e = ev.crossJoin(F.broadcast(ev.agg(F.max("ts").alias("__tmax"))))
        recent_dups = e.filter(
            (F.col("ts") > F.col("__tmax") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("event_id") % 7 == 0)
        )
        late_dups = e.filter(
            (F.col("ts") <= F.col("__tmax") - F.expr("INTERVAL 12 HOURS"))
            & (F.col("event_id") % 23 == 0)
        )
        cols = ["event_id", "user_id", "ts"]
        return [ev, recent_dups.unionByName(late_dups).select(*cols)]

    replay_dir = write_replay(_batches, tag="dedup_ev_ww", cache_key=sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    deduped = (
        sdf.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    return run_to_table(deduped)


STREAM_DEDUP_STATE_BOUNDED_ORACLE = """
SELECT event_id, user_id, ts, strftime(ts, '%Y-%m-%d') AS day FROM events
"""


def stream_cumulate_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATE windowing TVF in its native streaming form (Flink's
    cumulate windows ARE a streaming feature — early-fire running totals
    per epoch-aligned bucket): the batch expansion (explode over the
    bucket's remaining step ends, operators/topn.py cumulate_counts)
    runs on the stream, with the WATERMARK carried by the derived
    ``window_end`` column — each cumulate window is its own group, so
    append mode finalizes the 1 h total while the 6 h bucket is still
    filling, exactly Flink's per-step emission. A 0-second delay on
    window_end is sound because window_end > ts by construction and
    replay is file-ordered: a window finalizes only once an event lands
    in a LATER cumulate window. Oracle: identical to the batch form —
    on bounded availableNow replay the final watermark reaches
    max(window_end) and append-mode eviction is INCLUSIVE (key ≤ wm,
    the same ≤ the session twins pin), so every cumulate window
    finalizes, including the bucket's last (empirically pinned: the
    strict-< form leaves 5 rows short at sf0.01)."""
    import pandas as pd

    step_us = 3_600_000_000
    max_us = 21_600_000_000
    ev = stream_events(spark, sf_dir)
    start_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts")) % max_us
    expanded = (
        ev.withColumn("__start_us", start_us)
        .withColumn(
            "__k",
            F.explode(
                F.sequence(
                    ((F.unix_micros(F.col("ts")) - F.col("__start_us"))
                     / F.lit(step_us)).cast("long") + F.lit(1),
                    F.lit(max_us // step_us),
                )
            ),
        )
        .select(
            F.timestamp_micros(F.col("__start_us")).alias("window_start"),
            F.timestamp_micros(
                F.col("__start_us") + F.col("__k") * F.lit(step_us)
            ).alias("window_end"),
            "event_type",
        )
    )
    sdf = (
        expanded.withWatermark("window_end", "0 seconds")
        .groupBy("window_start", "window_end", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_to_table(sdf)


def _stream_cumulate_oracle() -> str:
    from flink_uba_spark.queries.behavior import CUMULATE_VOLUME_ORACLE

    return CUMULATE_VOLUME_ORACLE


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization in its native streaming form — the north star's
    'Structured Streaming + sessionization' verbatim: watermarked
    session_window aggregation, run incrementally. Append mode finalizes a
    session once the watermark passes its close (last event + gap), so the
    oracle keeps exactly the sessions with session_end_event + gap ≤ max ts
    (empirically pinned, tests/test_streaming.py)."""
    ev = stream_events(spark, sf_dir)
    sdf = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("session_end_event"))
        .select(
            "user_id", F.col("w.start").alias("session_start"),
            "session_end_event", "n_events",
        )
    )
    return run_to_table(sdf)


STREAM_USER_SESSIONS_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end_event,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)
"""


def stream_user_sessions_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization in streaming form: the per-event gap
    expression (errors hold the session 5 min, everything else 30) runs
    inside a watermarked streaming session_window — state merges claims
    incrementally exactly as the fixed-gap twin does. Append mode
    finalizes a session once the watermark passes its END (max claim-end),
    which is the oracle's HAVING filter."""
    ev = stream_events(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "error", F.expr("make_interval(0,0,0,0,0,5,0)")
    ).otherwise(F.expr("make_interval(0,0,0,0,0,30,0)"))
    sdf = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_table(sdf)


STREAM_USER_SESSIONS_DYNAMIC_GAP_ORACLE = """
WITH g AS (
    SELECT user_id, ts,
           epoch_us(ts)
             + CASE WHEN event_type = 'error' THEN 300 ELSE 1800 END * 1000000
               AS claim_end
    FROM events
), o AS (
    SELECT user_id, ts, claim_end,
           max(claim_end) OVER (PARTITION BY user_id ORDER BY ts, claim_end
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
    FROM g
), f AS (
    SELECT *, CASE WHEN prev_max IS NULL OR epoch_us(ts) > prev_max
                   THEN 1 ELSE 0 END AS new_s
    FROM o
), s AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, claim_end
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM f
)
SELECT user_id, min(ts) AS session_start,
       make_timestamp(max(claim_end)) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
HAVING make_timestamp(max(claim_end)) <= (SELECT max(ts) FROM events)
"""


def stream_mktseg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the streaming join flavor the rest
    of the catalog doesn't cover (stream-stream inner/full-outer exist;
    this is the dimension-enrichment pattern every production stream job
    runs). The purchases stream joins the static ``customer`` dimension —
    broadcast, so each micro-batch probes a local hash table and the
    stream side NEVER shuffles for the join — then a watermarked daily
    revenue aggregate per market segment runs incrementally (cents-exact
    money discipline, as everywhere).

    Append-mode finalization: a day window is final when the watermark
    (max purchase event time, 0 s delay) passes its end — the oracle
    applies the identical rule.
    """
    from flink_uba_spark.sources.readers import load_testdata

    cust = load_testdata(spark, sf_dir, ("customer",))["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    enriched = purchases.join(F.broadcast(cust), "user_id")
    agg = (
        enriched.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("revenue_cents"),
        )
        .select(
            F.col("w.start").alias("day"), "c_mktsegment", "n_purchases", "revenue_cents"
        )
    )
    return run_to_table(agg)


STREAM_MKTSEG_REVENUE_ORACLE = """
WITH p AS (
    SELECT e.ts, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
),
agg AS (
    SELECT make_timestamp((CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400) * 1000000)
               AS day,
           c_mktsegment,
           count(*) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM p GROUP BY 1, 2
)
SELECT day, c_mktsegment, n_purchases, revenue_cents
FROM agg
WHERE day + INTERVAL 1 DAY <= (SELECT max(ts) FROM p)
"""


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion: the documents feed streams in, exact
    duplicates are suppressed ON ARRIVAL (keyed dedup state on
    (lang, md5(text)) — first copy wins), and a COMPLETE-mode per-language
    rollup tracks the deduped corpus size. Complete mode is the retract/
    changelog conversion (S6): every trigger re-emits the corrected
    totals, the Spark analogue of the reference's toRetractStream
    (HotItemWithSql.java:76-77) for an aggregate that updates forever.

    Every output value is a function of the dedup KEY (n_chars is
    determined by the text), so results are arrival-order independent —
    the property that makes the batch oracle exact. Bounded-replay note:
    dropDuplicates without a watermark keeps state forever, correct here;
    the horizon-evicted form is covered by ``stream_dedup_events``.
    """
    from flink_uba_spark.streaming.runner import stream_documents

    docs = stream_documents(spark, sf_dir)
    deduped = docs.withColumn("h", F.md5("text")).dropDuplicates(["lang", "h"])
    agg = deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return run_to_table(agg, output_mode="complete")


STREAM_CORPUS_INGEST_ORACLE = """
WITH distinct_docs AS (
    SELECT lang, md5(text) AS h, min(n_chars) AS n_chars
    FROM documents GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM distinct_docs GROUP BY lang
"""


def stream_heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter bigrams over a STREAMING corpus: documents stream in,
    bigrams explode per micro-batch, and a COMPLETE-mode count rollup
    (the S6 retract/changelog conversion — totals corrected every
    trigger) maintains the frequency table; the exact ``cnt·k > n``
    heavy-hitter threshold is a view over the materialized table (the
    threshold needs the global n, which only the settled table carries —
    same split as a production sketch-serving tier). Counts are
    arrival-order independent, so the oracle is the batch
    ``heavy_hitter_bigrams`` query's.

    Scale note: COMPLETE mode re-emits the whole vocabulary-sized count
    table per trigger — the deployment knob is the same bigram-domain
    bound as the batch 2-pass prune; an unbounded-domain stream would
    swap this for update-mode + the MG candidate pass."""
    from flink_uba_spark.streaming.runner import stream_documents

    docs = stream_documents(spark, sf_dir)
    toks = docs.select(F.split(F.col("text"), " ").alias("__t"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.expr(
                    "transform(sequence(0, size(__t) - 2), "
                    "i -> concat(__t[i], ' ', __t[i + 1]))"
                ),
            ).otherwise(F.array())
        ).alias("bigram")
    )
    agg = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    tbl = run_to_table(agg, output_mode="complete")
    total = tbl.agg(F.sum("n_occurrences").alias("n_items"))
    return (
        tbl.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * 800 > F.col("n_items"))
        .select("bigram", "n_occurrences", "n_items")
    )


def _stream_heavy_hitter_oracle() -> str:
    from flink_uba_spark.queries.datapipe import HEAVY_HITTER_BIGRAMS_ORACLE

    return HEAVY_HITTER_BIGRAMS_ORACLE


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingestion dedup as a STREAM: incoming docs (doc_id ≡ 7
    mod 10) arrive on the documents stream and are classified exact_dup /
    near_dup / new against the STATIC existing corpus — the streaming twin
    of ``dedup_incremental`` and the shape a production ingest service
    runs: per-batch hashing + stream-static joins against precomputed
    corpus indexes (here derived inline; at scale, bucketed tables).

    One pipeline, no stream-stream joins: digest left-join (exact marker)
    → posexplode to LSH band rows → band-key left-join (near marker) →
    per-doc max-marker aggregate. The aggregate runs in complete mode over
    the bounded replay (doc-keyed state; an unbounded deployment would key
    the same agg on arrival-time windows + watermark). Verdict precedence
    matches the batch operator: exact > near > new.
    """
    from flink_uba_spark.operators.dedup import lsh_band_keys, minhash_signature
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import stream_documents

    corpus = (
        load_testdata(spark, sf_dir, ("documents",))["documents"]
        .filter(F.col("doc_id") % 10 != 7)
    )
    corp_digest = (
        corpus.select(F.md5("text").alias("__d")).distinct().withColumn("__e", F.lit(1))
    )
    corp_bands = (
        lsh_band_keys(minhash_signature(corpus.select("doc_id", "text")))
        .select("band_idx", "band_key")
        .distinct()
        .withColumn("__nr", F.lit(1))
    )

    inc = stream_documents(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    flagged = inc.withColumn("__d", F.md5("text")).join(corp_digest, "__d", "left")
    banded = lsh_band_keys(minhash_signature(flagged.select("doc_id", "text", "__e")))
    probed = banded.join(corp_bands, ["band_idx", "band_key"], "left")
    verdicts = (
        probed.groupBy("doc_id")
        .agg(F.max("__e").alias("__e"), F.max("__nr").alias("__nr"))
        .select(
            "doc_id",
            F.when(F.col("__e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__nr").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )
    return run_to_table(verdicts, output_mode="complete")


def stream_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``daily_anomaly_days``: the per-(type, day) counts
    accumulate as a COMPLETE-mode streaming rollup (the ever-updating
    aggregate shape, S6); the cross-day 2σ flags are then computed over the
    materialized days-sized table with the same integer/DECIMAL(38,0)
    arithmetic as the batch query — global statistics over all days cannot
    stream incrementally (every new day shifts every flag), which is
    exactly why the production shape is a streaming rollup + tiny batch
    flag pass."""
    from pyspark.sql import Window

    ev = stream_events(spark, sf_dir)
    daily = run_to_table(
        ev.groupBy(
            F.col("event_type"), F.window("ts", "1 day").alias("w")
        ).agg(F.count(F.lit(1)).alias("cnt")),
        output_mode="complete",
    ).select("event_type", F.col("w.start").alias("day"), "cnt")
    w = Window.partitionBy("event_type")
    c = F.col("cnt").cast("decimal(38,0)")
    n = F.count(F.lit(1)).over(w).cast("decimal(38,0)")
    s1 = F.sum("cnt").over(w).cast("decimal(38,0)")
    s2 = F.sum(c * F.col("cnt")).over(w).cast("decimal(38,0)")
    lhs = (c * n - s1) * (c * n - s1)
    rhs = F.lit(4) * (n * s2 - s1 * s1)
    return daily.select("event_type", "day", "cnt", (lhs > rhs).alias("is_anomaly"))


def _stream_daily_anomaly_oracle() -> str:
    from flink_uba_spark.queries.behavior import DAILY_ANOMALY_ORACLE

    return DAILY_ANOMALY_ORACLE


def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``event_transition_matrix``: per-user transition
    pairs extracted by an O(1)-state ``applyInPandasWithState`` operator
    (streaming/transitions.py — the last event per user is the whole
    state), then the (src, dst) count rollup over the materialized pairs.
    On the bounded replay the answer equals the batch lag-window form."""
    from flink_uba_spark.streaming.transitions import stream_transition_pairs

    ev = stream_events(spark, sf_dir)
    pairs = run_to_table(stream_transition_pairs(ev))
    return pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


def _stream_event_transitions_oracle() -> str:
    from flink_uba_spark.queries.behavior import EVENT_TRANSITION_ORACLE

    return EVENT_TRANSITION_ORACLE


def stream_span_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination firewall at INGEST: incoming docs
    (doc_id ≡ 7 mod 10) stream in and every 8-token window is probed
    against the span-hash index of the STATIC existing corpus; each doc
    reports how much of it already exists verbatim elsewhere. The
    streaming companion to span_dedup_stats and the shape a production
    ingest gate runs — the corpus span index is derived inline here but
    precomputable as a bucketed table at scale, making each micro-batch a
    stream-static left join (stream side never shuffles for the join
    beyond the span-key exchange) plus a per-doc rollup.

    explode_outer keeps zero-span (sub-width) docs in the output so the
    result covers every incoming doc. The rollup runs in complete mode
    over the bounded replay (doc-keyed state); an unbounded deployment
    would window it by arrival time + watermark.
    """
    from flink_uba_spark.operators.dedup import span_hash_array
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import stream_documents

    corpus = (
        load_testdata(spark, sf_dir, ("documents",))["documents"]
        .filter(F.col("doc_id") % 10 != 7)
    )
    corp_idx = (
        corpus.select(F.explode(span_hash_array(F.col("text"))).alias("span_h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )

    inc = stream_documents(spark, sf_dir).filter(F.col("doc_id") % 10 == 7)
    spans = inc.select(
        "doc_id", F.explode_outer(span_hash_array(F.col("text"))).alias("span_h")
    )
    probed = spans.join(corp_idx, "span_h", "left")
    stats = probed.groupBy("doc_id").agg(
        F.sum(F.when(F.col("span_h").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_spans"),
        F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hit_spans"),
    )
    out = stats.select(
        "doc_id",
        "n_spans",
        "n_hit_spans",
        F.when(F.col("n_spans") == 0, F.lit(0.0))
        .otherwise(F.col("n_hit_spans").cast("double") / F.col("n_spans"))
        .alias("hit_frac"),
    )
    return run_to_table(out, output_mode="complete")


STREAM_SPAN_DECONTAM_ORACLE = """
WITH corpus AS (
    SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 != 7
),
cidx AS (
    SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS span_h
    FROM corpus, unnest(range(1, len(w) - 6)) AS u(i)
),
inc AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 7
),
s AS (
    SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS span_h
    FROM inc, unnest(range(1, len(w) - 6)) AS u(i)
),
st AS (
    SELECT s.doc_id,
           count(*) AS n_spans,
           sum(CASE WHEN c.span_h IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
    FROM s LEFT JOIN cidx c ON s.span_h = c.span_h
    GROUP BY 1
)
SELECT i.doc_id,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(st.n_hit, 0) AS BIGINT) AS n_hit_spans,
       CASE WHEN st.n_spans IS NULL OR st.n_spans = 0 THEN 0.0
            ELSE CAST(st.n_hit AS DOUBLE) / st.n_spans END AS hit_frac
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) i
LEFT JOIN st ON i.doc_id = st.doc_id
"""


def stream_pattern_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-step CEP chain (view → click within 30 min → purchase within
    2 h) in its native streaming form: a per-key NFA in
    ``applyInPandasWithState`` (streaming/pattern.py) with vectorized
    micro-batch resolution — the streaming twin of the batch compiler
    behind ``pattern_view_click_purchase`` and the chained Pattern-API
    surface (OrderPayTimeout.java:52-64) run as a continuous query.

    A chain emits the moment its final step binds; chains the stream never
    completes stay pending (``within`` classifies matched vs matched_late,
    it does not expire a wait — the first-candidate-decides rule). The
    oracle is therefore the batch pattern result minus its ``incomplete``
    rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 30 MINUTES"),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
        )
    )


def stream_pattern_within_view_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GLOBAL pattern window (Flink ``Pattern...within(Time)``,
    OrderPayTimeout.java:52-64) in streaming form: view → click → purchase
    completing within 3 days of the anchor. Binding under
    skip-till-next-match is within-independent, so the twin runs the plain
    3-step NFA and applies the global budget at emission — a match emits
    the moment its purchase binds, and is kept iff its whole span fits the
    window (inclusive boundary, the family's deadline rule). A production
    deployment sets ``state_ttl`` ≥ the window so partials past their
    budget are flushed — the global window doubles as the state bound; the
    replay twin leaves it off for exact batch equality. Oracle: the batch
    ``pattern_within`` result restricted to its matched rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    res = run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[("view", None), ("click", None), ("purchase", None)],
        )
    )
    deadline = F.col("t1") + F.expr("INTERVAL 3 DAYS")
    return (
        res.filter((F.col("state") == "matched") & (F.col("t3") <= deadline))
        .select(
            "user_id",
            "anchor_id",
            "t1",
            "t2",
            "t3",
            F.lit(3).cast("long").alias("max_step"),
            (F.unix_micros(F.col("t3")) - F.unix_micros(F.col("t1")))
            .cast("long")
            .alias("span_us"),
            F.lit("matched").alias("state"),
        )
    )


def _stream_pattern_within_vcp_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_WITHIN_VCP_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_WITHIN_VCP_ORACLE}) WHERE state = 'matched'"
    )


def stream_pattern_iterative_price_escalation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IterativeCondition CEP (Flink ``where(IterativeCondition)`` /
    ``ctx.getEventsForPattern``) as a continuous query: view → purchase at
    ≥ 2× the viewed amount (3 d) → purchase above the previous one (3 d).
    The NFA (streaming/pattern.py:make_iterative_matcher) holds the
    H-horizon buffer and walks skip-till-next greedily with the
    per-partial-match conditions; a complete chain is FINAL once the
    watermark passes its END (a usurper for any step must sort before a
    bound event), so the oracle is the batch
    ``pattern_iterative_price_escalation`` restricted to chains whose end
    precedes the final ms-floored watermark."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_iterative

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect_iterative(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("purchase", "INTERVAL 3 DAYS"),
                ("purchase", "INTERVAL 3 DAYS"),
            ],
            payload={"cents": F.floor(F.col("value") * 100).cast("long")},
            conds_py={
                2: lambda pre, c: c[0] >= 2 * pre[0][0],
                3: lambda pre, c: c[0] > pre[1][0],
            },
        )
    )


def _stream_pattern_iterative_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ITERATIVE_ORACLE

    return f"""
SELECT * FROM ({PATTERN_ITERATIVE_ORACLE})
WHERE epoch_us(t3) < (SELECT (epoch_us(max(ts)) // 1000) * 1000
                      FROM events WHERE event_type IN ('view', 'purchase'))
"""


def stream_match_recognize_onboarding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE as a continuous query — Flink SQL's row-pattern
    clause over a stream, the declarative spelling of the Pattern-API NFA
    (operators/match_recognize.py:stream_match_recognize →
    stream_pattern_detect): ``PATTERN (S C P) AFTER MATCH SKIP PAST LAST
    ROW`` — non-overlapping signup → click (6 h) → purchase (24 h)
    onboarding episodes per user, the streaming skip fold's per-key
    (end_ts, end_id) horizon in state. Only matched rows emit, so the
    oracle is the batch greedy-fold query itself."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C P",
            define={"S": "signup", "C": "click", "P": "purchase"},
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
        )
    ).select("user_id", "anchor_id", "S_ts", "C_ts", "P_ts")


STREAM_MATCH_RECOGNIZE_ONBOARDING_ORACLE = """
WITH RECURSIVE
s0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
c0 AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT s0.user_id, s0.event_id AS anchor_id, s0.ts AS t1,
         (SELECT min(c0.ts) FROM c0
           WHERE c0.user_id = s0.user_id AND c0.ts >= s0.ts) AS t2
  FROM s0
),
s3 AS (
  SELECT s2.*,
         (SELECT min(p0.ts) FROM p0
           WHERE p0.user_id = s2.user_id AND p0.ts >= s2.t2) AS t3
  FROM s2
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, t3,
         (SELECT min(p0.event_id) FROM p0
           WHERE p0.user_id = s3.user_id AND p0.ts = s3.t3) AS end_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY t3, (SELECT min(p0.event_id) FROM p0
                          WHERE p0.user_id = s3.user_id AND p0.ts = s3.t3),
                    t1, anchor_id) AS r
  FROM s3
  WHERE t3 IS NOT NULL
    AND t2 <= t1 + INTERVAL 6 HOUR AND t3 <= t2 + INTERVAL 24 HOUR
),
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS le_ts,
         CAST(-1 AS BIGINT) AS le_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.t3 ELSE s.le_ts END,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.end_id ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS C_ts, c.t3 AS P_ts
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def stream_match_recognize_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion ``{- C -}`` on the STREAM front-end (round 9 second
    pass; r8 raised on every stream exclusion): ISO exclusion is pure
    output shaping — the excluded click still matches and gates the
    chain (its within bounds hold), its columns just leave the ONE-row
    projection, a stateless drop after the same stateful NFA as
    stream_match_recognize_onboarding. Oracle: the onboarding fold
    minus the C_ts column — match SET identical, projection narrower."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S {- C -} P",
            define={"S": "signup", "C": "click", "P": "purchase"},
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
        )
    ).select("user_id", "anchor_id", "S_ts", "P_ts")


# the SAME fold — exclusion never changes the match set, only the
# projection, so the oracle is the onboarding SQL minus the C_ts column
STREAM_MATCH_RECOGNIZE_EXCLUDED_ORACLE = (
    STREAM_MATCH_RECOGNIZE_ONBOARDING_ORACLE.replace("c.t2 AS C_ts, ", "")
)


def stream_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-changelog materialization as a CONTINUOUS query —
    Flink's upsert-stream → dynamic table (upsert-kafka consumption):
    the same ONE-aggregate shape as the batch cdc_latest_state, run in
    COMPLETE mode so the state store holds exactly the per-key latest
    struct (Flink's upsert materialization state bound — one row per
    key, independent of stream length). Tombstone keys stay filtered at
    emission; late/out-of-order upserts never flap the result because
    the winner is the (ts, id) max, not arrival order."""
    from flink_uba_spark.operators.changelog import changelog_latest

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        changelog_latest(
            ev,
            keys=["user_id"],
            values={
                "last_type": F.col("event_type"),
                "last_cents": F.floor(F.col("value") * 100).cast("long"),
                "last_props": F.col("props"),
            },
            delete_when=F.col("event_type") == "error",
        ),
        output_mode="complete",
    )


# identical semantics to the batch materialization — the stream runs
# the same aggregate to completion (COMPLETE mode), so the oracle is
# the batch query's
from flink_uba_spark.queries.behavior import CDC_LATEST_STATE_ORACLE as \
    STREAM_CDC_LATEST_STATE_ORACLE  # noqa: E402


def stream_match_recognize_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-referencing DEFINE through the STREAM front-end (round 9
    second pass; the engine — stream_pattern_detect_iterative — was
    already soaked via the Pattern-API catalog): ``PATTERN (S C P)
    DEFINE P AS P.cents >= S.cents`` under NO SKIP, the iterative
    condition in its streaming spelling (``iter_define_py`` over
    payload tuples — the batch Column binder can't cross into the
    Arrow-side NFA). Oracle: the batch iterative candidates (no fold —
    NO SKIP emits per anchor) restricted to chains whose END precedes
    the final ms-floored watermark."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C P",
            define={
                "S": F.col("event_type") == "signup",
                "C": F.col("event_type") == "click",
                "P": F.col("event_type") == "purchase",
            },
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            payload={"cents": F.floor(F.col("value") * 100).cast("long")},
            iter_define_py={"P": lambda pre, c: c[0] >= pre[0][0]},
            after_match="no_skip",
        )
    ).select(
        "user_id", "anchor_id", "S_ts", "C_ts", "P_ts",
        "cents_S", "cents_C", "cents_P",
    )


def stream_match_recognize_trailing_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GREEDY trailing run under SKIP PAST LAST as a CONTINUOUS query
    (round 9 second pass — the streaming twin of
    match_recognize_trailing_run): ``PATTERN (S E{1,4})``, the match's
    end being the run's LAST repetition. Served by the
    recompute-over-buffer chain replay (streaming/skip_replay.py
    make_quantified_chain_replayer): per key the classified rows inside the
    horizon are buffered, candidates re-derive each invoke, and the
    non-overlap walk emits the decidable completion-order prefix
    (``end + H < wm``, H = entry-within + mx·gap — the cap is therefore
    mandatory on the stream). Oracle: the batch capped fold truncated
    at the same cut (emitted ends are non-decreasing, so the stream
    result is exactly that prefix)."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{1,4}",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
            },
            default_within="INTERVAL 12 HOURS",
            after_match="skip_past_last",
        )
    ).select(
        "user_id", "anchor_id", "S_ts", "E_ts", "E_last_ts", "E_n", "end_id"
    )


STREAM_MATCH_RECOGNIZE_TRAILING_RUN_ORACLE = """
WITH RECURSIVE
err AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM err
),
runs AS (
  SELECT user_id, event_id, ts, sid,
         row_number() OVER ws AS rn, count(*) OVER wf AS cnt,
         COALESCE(lead(ts, 3) OVER ws, last_value(ts) OVER wl) AS last_ts,
         COALESCE(lead(event_id, 3) OVER ws,
                  last_value(event_id) OVER wl) AS last_id,
         LEAST(4, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid),
         wl AS (PARTITION BY user_id, sid ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
ent AS (
  SELECT a.user_id, a.anchor_id, a.t1, e.ts AS t2, e.last_ts AS t2_last,
         CAST(e.n_reps AS BIGINT) AS e_n, e.last_id AS end_id
  FROM a
  JOIN LATERAL (
    SELECT r.ts, r.last_ts, r.last_id, r.n_reps FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) e ON TRUE
  WHERE e.ts <= a.t1 + INTERVAL 12 HOUR
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, e_n, end_id,
         row_number() OVER (
             PARTITION BY user_id ORDER BY t2_last, end_id, t1, anchor_id) AS r
  FROM ent
),
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS le_ts,
         CAST(-1 AS BIGINT) AS le_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.t2_last ELSE s.le_ts END,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.end_id ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS E_ts,
       c.t2_last AS E_last_ts, c.e_n AS E_n, c.end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
  -- the streaming decidability cut: end + H < final ms-floored
  -- watermark, H = entry within + mx*gap = 12h + 4*12h = 60h
  AND epoch_us(c.t2_last) + CAST(60 AS BIGINT) * 3600 * 1000000
      < (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type IN ('signup', 'error'))
"""


def stream_match_recognize_within_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OVERALL within on the STREAM front-end (round 9 second pass)
    — ``PATTERN (S C P) WITHIN INTERVAL '12' HOUR`` under NO SKIP: the
    chain NFA binds within-independently (first-candidate-decides), so
    the bound is a STATELESS post-filter on complete matches — exactly
    the Pattern-API twin's shape (stream_pattern_within_view_click
    _purchase); under a skip strategy it raises (the stream fold is
    in-NFA, a post-filter would let pruned candidates advance the
    horizon). Oracle: the batch earliest-binding candidates under every
    bound — emission is completion-driven, no watermark cut."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C P",
            define={
                "S": F.col("event_type") == "signup",
                "C": F.col("event_type") == "click",
                "P": F.col("event_type") == "purchase",
            },
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="no_skip",
            within_overall="INTERVAL 12 HOURS",
        )
    ).select("user_id", "anchor_id", "S_ts", "C_ts", "P_ts")


STREAM_MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE = """
WITH
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
s2 AS (
  SELECT a.*, (SELECT min(c.ts) FROM events c
     WHERE c.event_type = 'click' AND c.user_id = a.user_id
       AND c.ts >= a.t1) AS t2
  FROM a
),
s3 AS (
  SELECT s2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = s2.user_id
       AND p.ts >= s2.t2) AS t3
  FROM s2
)
SELECT user_id, anchor_id, t1 AS S_ts, t2 AS C_ts, t3 AS P_ts
FROM s3
WHERE t3 IS NOT NULL
  AND t2 <= t1 + INTERVAL 6 HOUR AND t3 <= t2 + INTERVAL 24 HOUR
  AND t3 <= t1 + INTERVAL 12 HOUR
"""


STREAM_MATCH_RECOGNIZE_ITERATIVE_ORACLE = """
WITH
a AS (SELECT user_id, event_id AS i1, ts AS t1,
             CAST(floor(value * 100) AS BIGINT) AS c1
      FROM events WHERE event_type = 'signup'),
s2 AS (
  SELECT a.*, c.ts AS t2, c.event_id AS i2, c.c2
  FROM a JOIN LATERAL (
    SELECT ts, event_id, CAST(floor(value * 100) AS BIGINT) AS c2
    FROM events c
    WHERE c.event_type = 'click' AND c.user_id = a.user_id
      AND c.ts >= a.t1 AND c.ts <= a.t1 + INTERVAL 6 HOUR
    ORDER BY c.ts, c.event_id LIMIT 1) c ON TRUE
),
s3 AS (
  SELECT s2.*, p.ts AS t3, p.event_id AS i3, p.c3
  FROM s2 JOIN LATERAL (
    SELECT ts, event_id, CAST(floor(value * 100) AS BIGINT) AS c3
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = s2.user_id
      AND p.ts >= s2.t2 AND p.ts <= s2.t2 + INTERVAL 24 HOUR
      AND CAST(floor(p.value * 100) AS BIGINT) >= s2.c1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
)
SELECT user_id, i1 AS anchor_id, t1 AS S_ts, t2 AS C_ts, t3 AS P_ts,
       c1 AS cents_S, c2 AS cents_C, c3 AS cents_P
FROM s3
WHERE epoch_us(t3) < (SELECT (epoch_us(max(ts)) // 1000) * 1000
                      FROM events
                      WHERE event_type IN ('signup', 'click', 'purchase'))
"""


def stream_window_join_views_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The window join TVF (Flink 1.14 ``TUMBLE ⋈ TUMBLE``) in its native
    streaming form: stream-stream inner join with watermarks on both
    sides and EQUALITY on the derived tumbling window — the window in the
    join key is the state-retention bound (each side keeps one window of
    rows per key; Flink's window join stores exactly the same). Oracle:
    the batch bucket-join result — every pair completes at some
    micro-batch, emission is data-driven."""
    # the watermark rides a scratch copy of ts that is dropped after the
    # window derivation — Spark allows ONE event-time column per join
    # side, and the window struct inherits it
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            F.col("ts").alias("__vt"),
        )
        .withWatermark("__vt", "10 seconds")
        .withColumn("__wv", F.window("__vt", "1 hour"))
        .drop("__vt")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("ts").alias("__pt"),
        )
        .withWatermark("__pt", "10 seconds")
        .withColumn("__wp", F.window("__pt", "1 hour"))
        .drop("__pt")
    )
    joined = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("__wv") == F.col("__wp")),
            "inner",
        )
        .select(
            "user_id",
            F.col("__wv.start").alias("window_start"),
            F.col("__wv.end").alias("window_end"),
            "view_id",
            "view_ts",
            "purchase_id",
            "purchase_ts",
        )
    )
    return run_to_table(joined)


def _stream_window_join_oracle() -> str:
    from flink_uba_spark.queries.temporal import WINDOW_JOIN_ORACLE

    return WINDOW_JOIN_ORACLE


def stream_interval_join_left_outer_clicks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER interval join as a continuous query (Flink SQL's outer
    interval join; the DataStream intervalJoin of the reference family,
    TxPayMatchByJoin.java:60-77, is inner-only): stream-stream left join
    with watermarks on both sides — matched pairs emit data-driven, and a
    purchase with NO click in [pay_ts − 30 min, pay_ts] emits null-padded
    once the GLOBAL watermark (min across sides − delay) passes it, when
    no matching click can still arrive: Flink's outer-join state story
    exactly. On a bounded replay the frontier tail is still pending, so
    BOTH the query and the oracle restrict to pay_ts strictly below the
    final global watermark (least side max, ms-floored, − 10 s) — a
    replay artifact made explicit, not a semantics change; the cut rides
    a broadcast 1-row aggregate, no driver collect."""
    pays = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("pay_id"),
            F.col("ts").alias("pay_ts"),
        )
        .withWatermark("pay_ts", "10 seconds")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 seconds")
    )
    j = pays.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("pay_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("pay_ts")),
        "leftOuter",
    ).select("user_id", "pay_id", "pay_ts", "click_id", "click_ts")
    res = run_to_table(j)
    from flink_uba_spark.sources.readers import load_testdata

    ev = load_testdata(spark, sf_dir, ("events",))["events"]
    cut = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(
            (
                F.min(F.expr("unix_micros(mx) div 1000") * 1000) - 10_000_000
            ).alias("cut_us")
        )
    )
    return (
        res.crossJoin(F.broadcast(cut))
        .filter(F.unix_micros(F.col("pay_ts")) < F.col("cut_us"))
        .drop("cut_us")
    )


def _stream_interval_join_left_outer_oracle() -> str:
    return """
WITH p AS (SELECT user_id, event_id AS pay_id, ts AS pay_ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM events
      WHERE event_type = 'click'),
cut AS (
  SELECT least(
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'purchase'),
    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
      WHERE event_type = 'click')
  ) - 10000000 AS cut_us
)
SELECT p.user_id, p.pay_id, p.pay_ts, c.click_id, c.click_ts
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.click_ts >= p.pay_ts - INTERVAL 30 MINUTE
 AND c.click_ts <= p.pay_ts, cut
WHERE epoch_us(p.pay_ts) < cut.cut_us
"""


def stream_window_dedup_first_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window Deduplication TVF as a continuous query (Flink SQL's
    windowed ROW_NUMBER()=1): the first click per user per epoch-aligned
    hour. The watermark rides the DERIVED ``window_end`` (the cumulate
    twin's construction): window_end > ts by construction and replay is
    file-ordered, so a window finalizes once a later-window click lands;
    on bounded availableNow replay the final watermark reaches
    max(window_end) and append-mode eviction is inclusive, so EVERY
    window finalizes — the oracle is the batch query itself. State: one
    min-struct per open (user, window) group."""
    bucket_us = 3_600_000_000
    ev = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    start_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts")) % bucket_us
    windowed = (
        ev.select(
            "user_id",
            F.timestamp_micros(start_us).alias("window_start"),
            F.timestamp_micros(start_us + bucket_us).alias("window_end"),
            "ts",
            "event_id",
        )
        .withWatermark("window_end", "0 seconds")
    )
    agg = (
        windowed.groupBy("user_id", "window_start", "window_end")
        .agg(F.min(F.struct("ts", "event_id")).alias("f"))
        .select(
            "user_id",
            "window_start",
            "window_end",
            F.col("f.ts").alias("first_ts"),
            F.col("f.event_id").alias("first_click_id"),
        )
    )
    return run_to_table(agg)


def _stream_window_dedup_oracle() -> str:
    from flink_uba_spark.queries.temporal import WINDOW_DEDUP_ORACLE

    return WINDOW_DEDUP_ORACLE


def stream_embedding_topic_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector ingestion with index-time topic assignment: embeddings STREAM
    in and every vector is assigned its nearest centroid against the
    broadcast codebook derived from the static corpus — the IVF/topic
    partitioning step a production vector pipeline runs at ingest
    (operators/similarity.py:cluster_assign over a stream-static broadcast;
    the stream side never shuffles). Per-vector output (the ingest shape),
    vs the batch query's per-cluster purity rollup."""
    from flink_uba_spark.operators import similarity as S
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import stream_embeddings

    static = load_testdata(spark, sf_dir, ("embeddings",))["embeddings"]
    cb = S.default_codebook(static, 8)
    inc = stream_embeddings(spark, sf_dir)
    out = S.cluster_assign(inc, codebook=cb).select(
        "vec_id", F.col("label").cast("long").alias("label"), "cluster_id"
    )
    return run_to_table(out)


def _stream_embedding_topic_assign_oracle() -> str:
    from flink_uba_spark.queries.datapipe import _QUANT_SQL

    return f"""
WITH n AS (
    SELECT vec_id, label, {_QUANT_SQL} AS qemb,
           list_dot_product({_QUANT_SQL}, {_QUANT_SQL}) AS qq
    FROM embeddings
),
cent AS (SELECT vec_id AS ck, qemb AS cemb, qq AS cqq FROM n WHERE vec_id < 8),
cosses AS (
    SELECT v.vec_id, v.label, c.ck,
           list_dot_product(v.qemb, c.cemb) / (sqrt(v.qq) * sqrt(c.cqq)) AS cos
    FROM n v CROSS JOIN cent c
),
assign AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label, ck AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ck ASC) AS rn
        FROM cosses
    ) WHERE rn = 1
)
SELECT vec_id, label, cluster_id FROM assign
"""


def stream_pattern_error_streak_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The times(from, to) CEP chain (signup → error.times(2, 4) within
    6 h gaps → purchase within 12 h of the run's LAST error) in its
    native streaming form — the generalized NFA's min_reps-restricted
    binding (round 5): error streaks shorter than 2 are transparent, and
    a tentatively-bound open run that closes short of 2 resets the chain
    to waiting. The oracle is the batch result restricted to chains whose
    streak CLOSED before the stream ended (cap 4, same-key gap evidence,
    or the final ms-floored watermark)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 6 HOURS", (2, 4)),
                ("purchase", "INTERVAL 12 HOURS"),
            ],
        )
    )


def _stream_pattern_streak_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ERROR_STREAK_ORACLE

    gap_us = 6 * 3600 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_ERROR_STREAK_ORACLE}),
relevant AS (
  SELECT user_id, ts FROM events
  WHERE event_type IN ('signup', 'error', 'purchase')
),
keymax AS (SELECT user_id, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.user_id, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.user_id = b.user_id
WHERE b.state != 'incomplete'
  AND (b.n2 = 4
       OR k.kmax > b.t2_last + INTERVAL 6 HOUR
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def stream_pattern_optional_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optional() CEP chain (view → click? within 30 min → purchase
    within 2 h of the click if taken, else of the view) in its native
    streaming form — the generalized NFA's greedy race (round 5): the
    optional step binds iff its earliest candidate precedes the earliest
    purchase candidate in (ts, rank, id) order, decided stably across
    micro-batches by event-time ordering (a candidate observed first wins
    any race against one not yet observed). The oracle is the batch form
    minus its incomplete rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 30 MINUTES"),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
            optional={2},
        )
    )


def _stream_pattern_optional_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_OPTIONAL_CLICK_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_OPTIONAL_CLICK_ORACLE}) "
        "WHERE state != 'incomplete'"
    )


def stream_pattern_optional_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-faithful MULTI-MATCH optional() in its native streaming form
    (round 6 — the last batch/streaming CEP divergence closed): view →
    click? → purchase emitting BOTH branches per anchor, exactly as the
    reference's branching NFA (Pattern.optional()).
    streaming/pattern.py:stream_pattern_detect_branching — each
    optional-subset runs as its own plain-chain NFA (within bounds
    re-anchored on the surviving predecessor), all of them packed into
    one stateful operator by make_fused_matcher; `skipped` names the
    branch. The oracle is the batch branching form minus its incomplete
    rows (a streaming chain that never completes never emits)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_branching

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect_branching(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 30 MINUTES"),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
            optional={2},
        )
    )


def _stream_pattern_branching_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_OPTIONAL_BRANCHING_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_OPTIONAL_BRANCHING_ORACLE}) "
        "WHERE state != 'incomplete'"
    )


def stream_pattern_impulse_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strict-contiguity CEP chain (view ``next()`` purchase within
    1 h) in its native streaming form (round 6): the NFA binds a pending
    chain to the IMMEDIATE timeline successor of its frontier or kills it
    — across micro-batches, the next batch's first row IS the true
    successor, since event-time-ordered replays never reorder. Strict
    semantics turn the match-nothing scan filter off (every key row is a
    contiguity witness), the same cost Flink's NFA pays. The oracle is
    the batch form minus its incomplete rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[("view", None), ("purchase", "INTERVAL 1 HOUR")],
            strict={2},
        )
    )


def _stream_pattern_impulse_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_IMPULSE_PURCHASE_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_IMPULSE_PURCHASE_ORACLE}) "
        "WHERE state != 'incomplete'"
    )


def stream_pattern_clean_onboarding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``notNext()`` CEP chain (signup NOT immediately followed by an
    error, then purchase within 24 h) in its native streaming form
    (round 6): the NFA probes the immediate successor once and LATCHES
    the cleared decision in state (nn_flags), so a later micro-batch
    never re-probes against its own first row — the cross-batch trap the
    latch exists for. Killed chains emit nothing (Flink's discard); the
    oracle is the batch form minus incomplete AND negated rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[("signup", None), ("purchase", "INTERVAL 24 HOURS")],
            not_next={1: "error"},
        )
    )


def _stream_pattern_onboarding_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_CLEAN_ONBOARDING_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_CLEAN_ONBOARDING_ORACLE}) "
        "WHERE state IN ('matched', 'matched_late')"
    )


def stream_pattern_nonoverlap_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AFTER-MATCH SKIP strategy (Flink CEP's
    ``AfterMatchSkipStrategy.SKIP_PAST_LAST_EVENT``, round 6) in its
    native streaming form: non-overlapping view → click (4 h) → purchase
    (12 h) episodes per user. The NFA keeps a per-key (end_ts, end_id)
    horizon in state (field 19): matches emit in completion order, each
    emission discards every pending run anchored at or before its last
    event and blocks later anchors at or before it — including same-ts
    anchors arriving in later micro-batches, which is why the horizon
    outlives the chains. Only 'matched' rows emit (a late chain is a
    discarded partial match under a skip strategy), so the oracle is the
    batch greedy-fold query itself."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 4 HOURS"),
                ("purchase", "INTERVAL 12 HOURS"),
            ],
            after_match="skip_past_last",
        )
    ).select("user_id", "anchor_id", "t1", "t2", "t3")


def _stream_pattern_nonoverlap_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_NONOVERLAP_EPISODES_ORACLE

    return (
        "SELECT user_id, anchor_id, t1, t2, t3 FROM "
        f"({PATTERN_NONOVERLAP_EPISODES_ORACLE})"
    )


def stream_pattern_any_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``followedByAny`` (round 7) in its native streaming form: the
    branch-on-every-candidate journey view → click (12 h) → purchase
    (24 h) per user via ``streaming/pattern.py:stream_pattern_detect_any``
    — a per-key H-horizon event buffer (H = summed withins) in
    ``applyInPandasWithState``; every combination emits exactly once, in
    the micro-batch where its last-arriving event lands (Flink emits each
    followedByAny branch when its final step binds). A complete replay
    therefore equals the batch ``pattern_any_view_click_purchase`` result
    bit-for-bit, which is the oracle."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_any

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect_any(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 12 HOURS"),
                ("purchase", "INTERVAL 24 HOURS"),
            ],
        )
    )


def _stream_pattern_any_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ANY_VCP_ORACLE

    return PATTERN_ANY_VCP_ORACLE


def stream_pattern_combinations_view_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``allowCombinations()`` in its native streaming form: per user,
    view → click.times(1, 2).allowCombinations() (24 h gap) → purchase
    within 48 h of the subset's last click. Compiled exactly like the
    batch operator — the loop expands to m identical followedByAny legs,
    one NFA per admitted count (the H-horizon buffer with data-driven
    exactly-once emission) — but both count NFAs are PACKED into one
    stateful operator over one source scan
    (``stream_pattern_detect_fused``, round 8; r7 ran one independent
    replay per count), with the column-aligned null padding applied
    pandas-side and NO dedupe exchange (nK separates the branches).
    Every combination emits in the micro-batch its last-arriving event
    lands, so a complete replay equals the batch
    ``pattern_combinations_view_clicks`` bit-for-bit — the oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from flink_uba_spark.streaming.pattern import stream_pattern_detect_fused

    ev = stream_events(spark, sf_dir)
    g_us = 24 * 3600 * 1_000_000
    w_us = 48 * 3600 * 1_000_000
    cols = ["user_id", "i1", "t1", "i2_1", "i2_2", "t2_1", "t2_2",
            "n2", "i3", "t3"]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("i1", T.LongType()),
            T.StructField("t1", T.TimestampType()),
            T.StructField("i2_1", T.LongType()),
            T.StructField("i2_2", T.LongType()),
            T.StructField("t2_1", T.TimestampType()),
            T.StructField("t2_2", T.TimestampType()),
            T.StructField("n2", T.LongType()),
            T.StructField("i3", T.LongType()),
            T.StructField("t3", T.TimestampType()),
        ]
    )

    def proj(m):
        last = m + 2

        def _p(f):
            return pd.DataFrame(
                {
                    "user_id": f["user_id"],
                    "i1": f["i1"],
                    "t1": f["t1"],
                    "i2_1": f["i2"],
                    "i2_2": f["i3"] if m == 2
                    else pd.array([None] * len(f), dtype="Int64"),
                    "t2_1": f["t2"],
                    "t2_2": f["t3"] if m == 2
                    else pd.Series(pd.NaT, index=f.index,
                                   dtype="datetime64[ns]"),
                    "n2": pd.array([m] * len(f), dtype="int64"),
                    "i3": f[f"i{last}"],
                    "t3": f[f"t{last}"],
                }
            )[cols]

        return _p

    return run_to_table(
        stream_pattern_detect_fused(
            ev,
            key="user_id",
            flags={
                "v": F.col("event_type") == "view",
                "c": F.col("event_type") == "click",
                "p": F.col("event_type") == "purchase",
            },
            branches=[
                {
                    "engine": "any",
                    "slots": ["v"] + ["c"] * m + ["p"],
                    "withins_us": [0] + [g_us] * m + [w_us],
                    "project": proj(m),
                }
                for m in (1, 2)
            ],
            output_schema=schema,
        )
    )


def _stream_pattern_combinations_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_COMBINATIONS_ORACLE

    return PATTERN_COMBINATIONS_ORACLE


def stream_pattern_group_browse_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP patterns in their native streaming form: per user, signup →
    (view → click).times(1, 2) → purchase — the batch compile's tiling
    (group steps repeated m times) run as one followedByAny NFA per
    count (H-horizon buffer, exactly-once data-driven emission), both
    counts PACKED into one stateful operator over one source scan
    (``stream_pattern_detect_fused``, round 8; r7 ran one independent
    replay per count), projected pandas-side into the gi{r}_{j}/n_loops
    shape. A complete replay equals the batch
    ``pattern_group_browse_loop`` bit-for-bit — the oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from flink_uba_spark.streaming.pattern import stream_pattern_detect_fused

    ev = stream_events(spark, sf_dir)
    v_us = 48 * 3600 * 1_000_000
    c_us = 24 * 3600 * 1_000_000
    p_us = 72 * 3600 * 1_000_000
    cols = ["user_id", "i1", "t1"]
    fields = [
        T.StructField("user_id", T.LongType()),
        T.StructField("i1", T.LongType()),
        T.StructField("t1", T.TimestampType()),
    ]
    for r in range(1, 3):
        for j in range(1, 3):
            cols += [f"gi{r}_{j}", f"gt{r}_{j}"]
            fields += [
                T.StructField(f"gi{r}_{j}", T.LongType()),
                T.StructField(f"gt{r}_{j}", T.TimestampType()),
            ]
    cols += ["n_loops", "s1_id", "s1_ts"]
    fields += [
        T.StructField("n_loops", T.LongType()),
        T.StructField("s1_id", T.LongType()),
        T.StructField("s1_ts", T.TimestampType()),
    ]
    schema = T.StructType(fields)

    def proj(m):
        last = 2 * m + 2

        def _p(f):
            d = {"user_id": f["user_id"], "i1": f["i1"], "t1": f["t1"]}
            for r in range(1, 3):
                for j in range(1, 3):
                    if r <= m:
                        pos = 1 + (r - 1) * 2 + j
                        d[f"gi{r}_{j}"] = f[f"i{pos}"]
                        d[f"gt{r}_{j}"] = f[f"t{pos}"]
                    else:
                        d[f"gi{r}_{j}"] = pd.array(
                            [None] * len(f), dtype="Int64"
                        )
                        d[f"gt{r}_{j}"] = pd.Series(
                            pd.NaT, index=f.index, dtype="datetime64[ns]"
                        )
            d["n_loops"] = pd.array([m] * len(f), dtype="int64")
            d["s1_id"] = f[f"i{last}"]
            d["s1_ts"] = f[f"t{last}"]
            return pd.DataFrame(d)[cols]

        return _p

    return run_to_table(
        stream_pattern_detect_fused(
            ev,
            key="user_id",
            flags={
                "s": F.col("event_type") == "signup",
                "v": F.col("event_type") == "view",
                "c": F.col("event_type") == "click",
                "p": F.col("event_type") == "purchase",
            },
            branches=[
                {
                    "engine": "any",
                    "slots": ["s"] + ["v", "c"] * m + ["p"],
                    "withins_us": [0] + [v_us, c_us] * m + [p_us],
                    "project": proj(m),
                }
                for m in (1, 2)
            ],
            output_schema=schema,
        )
    )


def _stream_pattern_group_loop_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_GROUP_LOOP_ORACLE

    return PATTERN_GROUP_LOOP_ORACLE


def stream_pattern_any_skip_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKIP_TO_NEXT over streaming followedByAny (round 7): one survivor
    per view anchor — the first-completing branch. Emission is
    watermark-driven: an anchor's winner is final once the watermark
    passes its current best's END (no later event can complete earlier),
    so the twin emits without waiting out the anchor's full window; the
    pending-winner timer re-fires on watermark advance and the final
    availableNow drive flushes the stream tail. A complete replay equals
    the batch ``pattern_any_skip_to_next`` fold bit-for-bit — the
    oracle."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect_any

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect_any(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 12 HOURS"),
                ("purchase", "INTERVAL 24 HOURS"),
            ],
            after_match="skip_to_next",
        )
    )


def _stream_pattern_any_skip_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ANY_SKIP_TO_NEXT_ORACLE

    return PATTERN_ANY_SKIP_TO_NEXT_ORACLE


def stream_pattern_uncapped_error_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCAPPED oneOrMore CEP chain in its native streaming form
    (round 6): per event shard (user_id % 8), signup →
    error.oneOrMore(30 min gap, NO cap) → purchase within 2 h of the
    cascade's LAST error. The NFA carries cap=∞ as an int64 sentinel so a
    run closes ONLY when its gap lapses (in-batch evidence or event-time
    timer) — per-run state stays one fixed-width frontier plus the
    gap-horizon buffer, which is why the uncapped form is deployable: the
    repetition GAP bounds state, not the cap. The oracle is the batch
    form restricted to chains whose cascade CLOSED before the stream
    ended (a same-shard event beyond the gap, or the final ms-floored
    watermark passing last_rep + gap — no cap term, there is no cap)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir).withColumn("shard", F.col("user_id") % 8)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="shard",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 30 MINUTES", float("inf")),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
        )
    ).withColumnRenamed("user_id", "shard")


def _stream_pattern_uncapped_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_UNCAPPED_ERROR_RUN_ORACLE

    gap_us = 30 * 60 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_UNCAPPED_ERROR_RUN_ORACLE}),
relevant AS (
  SELECT user_id % 8 AS shard, ts FROM events
  WHERE event_type IN ('signup', 'error', 'purchase')
),
keymax AS (SELECT shard, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.shard, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.shard = b.shard
WHERE b.state != 'incomplete'
  AND (k.kmax > b.t2_last + INTERVAL 30 MINUTE
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def stream_pattern_error_run_until_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``oneOrMore().until(...)`` in its native streaming form (round 7):
    per shard, signup → error.oneOrMore(30 min gap, UNCAPPED).until(
    purchase) → click within 2 h of the truncated cascade's last error.
    The NFA carries the stop rows as a new POSITIONAL closure-evidence
    class: stop rows split the repetition sessions in the run machinery's
    (ts, id) order (a dual rep+stop row is its run's final repetition),
    an observed stop at/after a run's last rep closes it immediately
    (definitive under the event-time-ordered replay contract — no
    watermark wait), and the min_reps/restore machinery applies to the
    refined runs unchanged. Oracle: the batch until query minus
    incomplete rows, restricted to runs that CLOSED before the stream
    ended — by gap evidence, the final watermark, or a stop row at/after
    the run's last error (the new closure class)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir).withColumn("shard", F.col("user_id") % 8)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="shard",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 30 MINUTES", float("inf")),
                ("click", "INTERVAL 2 HOURS"),
            ],
            until={2: "purchase"},
        )
    ).withColumnRenamed("user_id", "shard")


def _stream_pattern_until_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ERROR_RUN_UNTIL_ORACLE

    gap_us = 30 * 60 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_ERROR_RUN_UNTIL_ORACLE}),
relevant AS (
  SELECT user_id % 8 AS shard, ts, event_type FROM events
  WHERE event_type IN ('signup', 'error', 'click', 'purchase')
),
keymax AS (SELECT shard, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.shard, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.shard = b.shard
WHERE b.state != 'incomplete'
  AND (k.kmax > b.t2_last + INTERVAL 30 MINUTE
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000
       OR EXISTS (SELECT 1 FROM relevant u
                  WHERE u.shard = b.shard AND u.event_type = 'purchase'
                    AND u.ts >= b.t2_last))
"""


def stream_pattern_times_or_more_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``timesOrMore(3)`` in its native streaming form: per user,
    signup → error.timesOrMore(3) (12 h gap, NO cap) → purchase within
    24 h of the cascade's last error. The NFA carries (gap, ∞-cap,
    min_reps=3): a run short of 3 repetitions at closure is an INVALID
    binding — the min_reps/restore machinery rolls the chain back to its
    pre-bind snapshot so the signup can bind the next valid cascade —
    and per-run state stays one fixed-width frontier plus the gap-horizon
    buffer (the cap plays no part in state size). Oracle: the batch
    timesOrMore form minus incomplete rows, restricted to cascades that
    CLOSED before the stream ended (gap evidence or the final ms-floored
    watermark passing last_rep + gap)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 12 HOURS", (3, float("inf"))),
                ("purchase", "INTERVAL 24 HOURS"),
            ],
        )
    )


def _stream_pattern_times_or_more_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_TIMES_OR_MORE_ORACLE

    gap_us = 12 * 3600 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_TIMES_OR_MORE_ORACLE}),
relevant AS (
  SELECT user_id, ts FROM events
  WHERE event_type IN ('signup', 'error', 'purchase')
),
keymax AS (SELECT user_id, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.user_id, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.user_id = b.user_id
WHERE b.state != 'incomplete'
  AND (k.kmax > b.t2_last + INTERVAL 12 HOUR
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def stream_pattern_reluctant_error_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELUCTANT (non-greedy) Kleene in its native streaming form: per
    user, signup → error.times(1, 3) RELUCTANT (12 h gap) → purchase
    within 24 h of the prefix's last error. Compiled as Flink's shared
    version tree — one NFA per admitted repetition count (times(m, m),
    m = 1..3), all three packed into ONE stateful operator over ONE
    source scan (``stream_pattern_detect_fused``, round 8; r7 ran three
    independent replays — VERDICT r7 "What's wrong" #1). No dedupe
    exchange is needed: streaming emits complete chains only, and every
    complete row carries its branch's count in ``n2``, so branch outputs
    are disjoint by construction (the batch form's duplicates are
    never-bound anchors, which a stream does not emit).

    Closure: an exact-count run closes by CAP the moment its m-th
    repetition arrives (no gap timer on the happy path), and a tentative
    short-session bind rolls back when the next session's first error
    row provides gap evidence — both mid-replay — so the oracle is the
    batch union minus incomplete rows, with no end-of-stream closure
    residue (sessions are gap-separated: the bound entry's own presence
    closes every earlier short session)."""
    from flink_uba_spark.streaming.pattern import (
        pattern_output_schema,
        stream_pattern_detect_fused,
    )

    ev = stream_events(spark, sf_dir)
    gap_us = 12 * 3600 * 1_000_000
    w3_us = 24 * 3600 * 1_000_000
    schema = pattern_output_schema(3, [None, (gap_us, 1, 1), None])
    cols = [f.name for f in schema.fields]

    def ident(frame):
        return frame[cols]

    return run_to_table(
        stream_pattern_detect_fused(
            ev,
            key="user_id",
            flags={
                "s": F.col("event_type") == "signup",
                "e": F.col("event_type") == "error",
                "p": F.col("event_type") == "purchase",
            },
            branches=[
                {
                    "engine": "chain",
                    "slots": ["s", "e", "p"],
                    "withins_us": [None, gap_us, w3_us],
                    "kleenes": [None, (gap_us, m, m), None],
                    "project": ident,
                }
                for m in (1, 2, 3)
            ],
            output_schema=schema,
        )
    )


def _stream_pattern_reluctant_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_RELUCTANT_ORACLE

    return f"""
SELECT * FROM ({PATTERN_RELUCTANT_ORACLE})
WHERE state != 'incomplete'
"""


def stream_pattern_consecutive_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``oneOrMore().consecutive()`` in its native streaming form: per
    user, signup → error.oneOrMore().consecutive() (12 h gap) → purchase
    within 24 h of the burst's last error. Repetitions must sit at
    CONSECUTIVE per-key global sequence positions (the NFA assigns every
    observed row a position in the key's total (ts, rank, id) order and
    persists buffered rows' positions — state fields 20-21); any row at
    the run's next position that is not an in-gap repetition ends the
    loop AND closes the run immediately — consecutive() runs close on
    observed successors, cheaper than the gap timer, which remains only
    as the end-of-stream fallback. Every key row rides the exchange as a
    contiguity witness (scan filter off, the price next() pays too).
    Oracle: the batch consecutive form minus incomplete rows, restricted
    to bursts whose successor position was observed (the burst's last
    error is not the user's positionally-last event) or whose gap lapsed
    by the final ms-floored watermark."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 12 HOURS", float("inf")),
                ("purchase", "INTERVAL 24 HOURS"),
            ],
            consecutive={2},
        )
    )


def _stream_pattern_consecutive_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_CONSECUTIVE_BURST_ORACLE

    gap_us = 12 * 3600 * 1_000_000
    # thread the run's LAST global position through the batch oracle so
    # the stream filter can apply the successor-observed closure rule
    n2_sel = (
        "(SELECT r.n_reps FROM runs r WHERE r.user_id = a.user_id"
        " AND r.ts >= a.t1\n"
        "     ORDER BY r.ts, r.event_id LIMIT 1) AS n2"
    )
    batchform = (
        PATTERN_CONSECUTIVE_BURST_ORACLE.replace(
            "SELECT user_id, event_id, ts,\n"
            "         sum(ns) OVER",
            "SELECT user_id, event_id, ts, pos,\n"
            "         sum(ns) OVER",
        )
        .replace(
            "max(ts) OVER wf AS run_last,",
            "max(ts) OVER wf AS run_last, max(pos) OVER wf AS last_pos,",
        )
        .replace(
            n2_sel,
            n2_sel + ",\n    (SELECT r.last_pos FROM runs r WHERE"
            " r.user_id = a.user_id AND r.ts >= a.t1\n"
            "     ORDER BY r.ts, r.event_id LIMIT 1) AS last_pos",
        )
        .replace(
            "SELECT user_id, anchor_id, t1, t2, t2_last,"
            " CAST(n2 AS BIGINT) AS n2, t3,",
            "SELECT user_id, anchor_id, t1, t2, t2_last,"
            " CAST(n2 AS BIGINT) AS n2, t3,\n       last_pos,",
        )
    )
    return f"""
WITH batchform AS ({batchform}),
keypos AS (
  SELECT user_id, count(*) AS pmax FROM events GROUP BY 1
),
gmax AS (SELECT max(ts) AS g FROM events)
SELECT b.user_id, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keypos k ON k.user_id = b.user_id
WHERE b.state != 'incomplete'
  AND (b.last_pos < k.pmax
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def stream_pattern_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The negative-pattern CEP chain (view → click within 30 min →
    purchase within 2 h, ``notFollowedBy(error)`` between click and
    purchase) in its native streaming form — the generalized NFA's guard
    slots (streaming/pattern.py, round 5): a forbidden row landing before
    the binder (or while no binder ever arrives) KILLS the chain
    silently, reproducing Flink's pending-path discard
    (Pattern.notFollowedBy). The oracle is the batch form minus its
    incomplete AND negated rows."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("view", None),
                ("click", "INTERVAL 30 MINUTES"),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
            not_followed_by={2: "error"},
        )
    )


def _stream_pattern_no_error_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_PURCHASE_NO_ERROR_ORACLE

    return (
        f"SELECT * FROM ({PATTERN_PURCHASE_NO_ERROR_ORACLE}) "
        "WHERE state IN ('matched', 'matched_late')"
    )


def stream_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance at INGEST (round-5): vectors
    stream in (every 5th, every 3rd of those with a changed embedding),
    each is assigned against the broadcast centroid table — map-only, the
    stream side never shuffles — and classified against the STATIC
    inverted file with a stream-static left join: op ∈ {new, moved,
    unchanged}. Only ``new``/``moved`` rows need writing back; the corpus
    index is probed, never rebuilt (operators/similarity.py:
    ivf_index_upsert). Stream-static joins on bounded input converge to
    the batch answer, so the oracle is the batch query's."""
    from flink_uba_spark.operators import similarity as S
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import stream_embeddings

    static = load_testdata(spark, sf_dir, ("embeddings",))["embeddings"]
    cb = S.default_codebook(static, 8)
    index = S.build_ivf_index(static.filter(F.col("vec_id") % 7 != 0), codebook=cb)
    inc = stream_embeddings(spark, sf_dir).filter(F.col("vec_id") % 5 == 0).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 3 == 0,
            F.transform(F.col("embedding"), lambda x: -x),
        ).otherwise(F.col("embedding")),
    )
    return run_to_table(S.ivf_index_upsert(inc, index, cb))


def stream_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means SERVING at ingest (round 6): centroids are
    trained in batch (operators/similarity.py:kmeans_centroids_exact —
    the oracle-replayable Lloyd's loop) and shipped to the stream as the
    k×dim int64 matrix inside the ``kmeans_assign_exact`` mapInArrow task
    closure (round 12), so each arriving vector is assigned
    map-only — the stream side never joins and never shuffles (the
    cluster-routing step of a streaming curation pipeline). The bounded
    replay covers every vector, so the oracle is the batch
    train+assign query's (SEMANTIC_KMEANS_ASSIGN_ORACLE)."""
    from flink_uba_spark.operators import similarity as S
    from flink_uba_spark.sources.readers import load_testdata
    from flink_uba_spark.streaming.runner import stream_embeddings

    static = load_testdata(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = S.kmeans_centroids_exact(static, k=8, iters=3)
    return run_to_table(
        S.kmeans_assign_exact(stream_embeddings(spark, sf_dir), cents)
    )


def stream_classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier quality gate at INGEST: documents stream through the
    hashed-feature linear scorer with the 256-row weight dim broadcast per
    micro-batch (stream-static; the stream side shuffles only for the
    doc_id rollup) — where a production pipeline actually runs its quality
    model. Same operator, stream input; oracle = the batch contract. The
    per-doc score rollup runs in complete mode over the bounded replay
    (doc-keyed state, same as stream_span_decontam); an unbounded
    deployment windows it by arrival time + watermark."""
    from flink_uba_spark.operators.text import classifier_quality_scores
    from flink_uba_spark.streaming.runner import stream_documents

    return run_to_table(
        classifier_quality_scores(stream_documents(spark, sf_dir)),
        output_mode="complete",
    )


def stream_gopher_rule_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher named-rule gate at INGEST: documents stream through the
    integer-permille rule projections (operators/text.py:gopher_rules) —
    a stateless scan-fused stage, so the stream side never shuffles and
    the twin is the batch contract verbatim (append mode, no state)."""
    from flink_uba_spark.operators.text import gopher_rules
    from flink_uba_spark.streaming.runner import stream_documents

    return run_to_table(
        gopher_rules(stream_documents(spark, sf_dir)).select(
            "doc_id", "n_words", "mwl_pm", "uniq_pm",
            "wc_ok", "mwl_ok", "uniq_ok", "keep",
        )
    )


def stream_window_cogroup_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed coGroup as a continuous query (Flink
    ``coGroup().window()``): per (user, hour) both sides' grouped rows —
    including one-side-empty groups — via the union+group lowering: ONE
    stateful aggregation keyed on (user, window), the watermark riding
    the derived window_end (the cumulate construction), so every window
    finalizes on bounded replay and the oracle is the batch query. State
    per open group: the two id lists of one window."""
    bucket_us = 3_600_000_000
    ev = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    )
    start_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts")) % bucket_us
    tagged = (
        ev.select(
            "user_id",
            F.timestamp_micros(start_us).alias("window_start"),
            F.timestamp_micros(start_us + bucket_us).alias("window_end"),
            (F.col("event_type") == "view").alias("__is_v"),
            "event_id",
        )
        .withWatermark("window_end", "0 seconds")
    )
    side = lambda v: F.when(F.col("__is_v") == v, F.col("event_id"))
    agg = (
        tagged.groupBy("user_id", "window_start", "window_end")
        .agg(
            F.count(side(True)).alias("n_views"),
            F.count(side(False)).alias("n_purchases"),
            F.concat_ws(",", F.sort_array(F.collect_list(side(True)))).alias(
                "view_ids"
            ),
            F.concat_ws(",", F.sort_array(F.collect_list(side(False)))).alias(
                "purchase_ids"
            ),
        )
    )
    return run_to_table(agg)


def _stream_window_cogroup_oracle() -> str:
    from flink_uba_spark.queries.temporal import WINDOW_COGROUP_ORACLE

    return WINDOW_COGROUP_ORACLE


def stream_temporal_join_price_at_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time temporal table join (``FOR SYSTEM_TIME AS OF``) as a
    continuous query — in Flink this IS a streaming operator; Spark has
    no native one, so streaming/temporal.py runs the asof relation as a
    per-key stateful operator: purchase price versions and view probes
    union-tagged through ONE keyed exchange; a view emits once the
    watermark passes it (no earlier version can still arrive;
    last-writer-wins on version-ts ties), versions are evicted once
    dominated. Oracle: the batch ``temporal_join_price_at_view``
    restricted to views strictly below the final ms-floored watermark."""
    from flink_uba_spark.streaming.temporal import stream_temporal_table_join

    ev = stream_events(spark, sf_dir)
    facts = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    versions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = stream_temporal_table_join(
        facts,
        versions,
        key="user_id",
        fact_id="event_id",
        version_id="event_id",
        payload=F.floor(F.col("value") * 100),
    )
    return run_to_table(out).select(
        "user_id",
        F.col("fact_id").alias("view_id"),
        F.col("fact_ts").alias("view_ts"),
        "version_id",
        "version_ts",
        F.col("payload").alias("price_cents"),
    )


def _stream_temporal_join_oracle() -> str:
    from flink_uba_spark.queries.temporal import TEMPORAL_JOIN_PRICE_ORACLE

    return f"""
SELECT * FROM ({TEMPORAL_JOIN_PRICE_ORACLE})
WHERE epoch_us(view_ts) < (SELECT (epoch_us(max(ts)) // 1000) * 1000
                           FROM events
                           WHERE event_type IN ('view', 'purchase'))
"""


def stream_match_recognize_error_streak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUANTIFIED MATCH_RECOGNIZE on a stream: ``PATTERN (S E{2,3} P)``
    (12 h repetition gap, 24 h recovery) through the declarative
    front-end onto the streaming NFA — the streaming skip fold is
    plain-chain-bound, so quantified patterns stream under ``no_skip``
    (documented in operators/match_recognize.py). Oracle: the batch
    binding restricted to matched chains whose error run CLOSED before
    the stream ended (cap 3, same-key gap evidence, or the final
    ms-floored watermark — the streak twin's rule)."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{2,3} P",
            define={"S": "signup", "E": "error", "P": "purchase"},
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="no_skip",
        )
    ).select("user_id", "anchor_id", "S_ts", "E_ts", "E_last_ts", "E_n", "P_ts")


STREAM_MATCH_RECOGNIZE_STREAK_ORACLE = """
WITH err AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM err
),
runs AS (
  SELECT user_id, event_id, ts,
         count(*) OVER wf - row_number() OVER ws + 1 AS avail,
         COALESCE(lead(ts, 2) OVER ws, max(ts) OVER wf) AS run_last,
         LEAST(3, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
a2 AS (
  SELECT a.*, r.ts AS t2, r.run_last AS t2_last, r.n_reps AS n2
  FROM a JOIN LATERAL (
    SELECT ts, run_last, n_reps, event_id FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1 AND r.avail >= 2
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
relevant AS (SELECT user_id, ts FROM events
             WHERE event_type IN ('signup', 'error', 'purchase')),
keymax AS (SELECT user_id, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT a3.user_id, anchor_id, t1 AS S_ts, t2 AS E_ts, t2_last AS E_last_ts,
       CAST(n2 AS BIGINT) AS E_n, t3 AS P_ts
FROM a3 JOIN keymax k ON k.user_id = a3.user_id
WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
  AND t3 <= t2_last + INTERVAL 24 HOUR
  AND (n2 = 3 OR k.kmax > t2_last + INTERVAL 12 HOUR
       OR epoch_us(t2_last) + 43200000000
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def _stream_gopher_oracle() -> str:
    from flink_uba_spark.queries.datapipe import GOPHER_RULE_GATE_ORACLE

    return GOPHER_RULE_GATE_ORACLE


def _stream_classifier_oracle() -> str:
    from flink_uba_spark.queries.datapipe import CLASSIFIER_QUALITY_FILTER_ORACLE

    return CLASSIFIER_QUALITY_FILTER_ORACLE


def stream_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU as a streaming query — the distinct-count-in-streaming
    pattern: keyed dedup state (``dropDuplicates`` on (day, user)) feeds a
    COMPLETE-mode per-day count, so each user counts once per day no
    matter how many events arrive. State is one entry per active
    (day, user); a production deployment bounds it with the watermark
    horizon (dropDuplicatesWithinWatermark). Oracle: the batch DAU."""
    ev = stream_events(spark, sf_dir)
    pairs = ev.select(
        F.date_trunc("DAY", "ts").alias("day"), "user_id"
    ).dropDuplicates(["day", "user_id"])
    return run_to_table(
        pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau")),
        output_mode="complete",
    )


STREAM_DAU_ORACLE = """
SELECT date_trunc('day', ts) AS day, count(DISTINCT user_id) AS dau
FROM events GROUP BY 1
"""


def stream_pattern_error_burst_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-Kleene CEP chain (signup → error.oneOrMore(30 min gap,
    cap 5) → purchase within 2 h of the run's LAST error) in its native
    streaming form: streaming/pattern.py:stream_pattern_detect with a
    Kleene step — a per-key NFA whose open runs close on cap, on in-batch
    gap evidence, or at the stream's end via event-time timers; recovery
    candidates that arrive while a run is open wait in a gap-horizon
    buffer. The signup → error transition is bounded by the same 30
    minutes as the repetition gap.

    The oracle is the batch Kleene result restricted to chains whose run
    CLOSED before the stream ended: cap reached, a same-key event beyond
    the gap, or the final (ms-floored, order-timeout-style) watermark
    passing last_rep + gap."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("signup", None),
                ("error", "INTERVAL 30 MINUTES", 5),
                ("purchase", "INTERVAL 2 HOURS"),
            ],
        )
    )


def _stream_kleene_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_ERROR_BURST_ORACLE

    gap_us = 30 * 60 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_ERROR_BURST_ORACLE}),
relevant AS (
  SELECT user_id, ts FROM events
  WHERE event_type IN ('signup', 'error', 'purchase')
),
keymax AS (SELECT user_id, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.user_id, b.anchor_id, b.t1, b.t2, b.t2_last, b.n2, b.t3,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.user_id = b.user_id
WHERE b.state != 'incomplete'
  AND (b.n2 = 5
       OR k.kmax > b.t2_last + INTERVAL 30 MINUTE
       OR epoch_us(b.t2_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def _stream_pattern_vcp_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_VCP_ORACLE

    return f"SELECT * FROM ({PATTERN_VCP_ORACLE}) WHERE state != 'incomplete'"


def stream_pattern_signup_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4-step MID-CHAIN-Kleene CEP chain (signup → view within 1 h →
    error.oneOrMore(6 h gap, cap 3) → purchase within 12 h of the run's
    LAST error) in its native streaming form — round 5's generalized NFA
    (streaming/pattern.py:stream_pattern_detect with a (pred, within,
    max_reps) step at position 3), the streaming twin of the batch
    compiler behind ``pattern_signup_journey``. Proves the streaming
    engine handles ``oneOrMore`` at arbitrary step positions, closing
    round-4 VERDICT item 2 (the prior NFA was hardwired to A → B⁺ → C).

    The oracle is the batch result restricted to chains whose Kleene run
    CLOSED before the stream ended: cap reached, a same-key event beyond
    the gap, or the final (ms-floored) watermark passing last_rep + gap."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_pattern_detect(
            ev,
            key="user_id",
            steps=[
                ("signup", None),
                ("view", "INTERVAL 1 HOUR"),
                ("error", "INTERVAL 6 HOURS", 3),
                ("purchase", "INTERVAL 12 HOURS"),
            ],
        )
    )


def _stream_pattern_signup_journey_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_SIGNUP_JOURNEY_ORACLE

    gap_us = 6 * 3600 * 1_000_000
    return f"""
WITH batchform AS ({PATTERN_SIGNUP_JOURNEY_ORACLE}),
relevant AS (
  SELECT user_id, ts FROM events
  WHERE event_type IN ('signup', 'view', 'error', 'purchase')
),
keymax AS (SELECT user_id, max(ts) AS kmax FROM relevant GROUP BY 1),
gmax AS (SELECT max(ts) AS g FROM relevant)
SELECT b.user_id, b.anchor_id, b.t1, b.t2, b.t3, b.t3_last, b.n3, b.t4,
       b.max_step, b.state
FROM batchform b JOIN keymax k ON k.user_id = b.user_id
WHERE b.state != 'incomplete'
  AND (b.n3 = 3
       OR k.kmax > b.t3_last + INTERVAL 6 HOUR
       OR epoch_us(b.t3_last) + {gap_us}
            <= (epoch_us((SELECT g FROM gmax)) // 1000) * 1000)
"""


def stream_rolling_7d_user_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time OVER aggregation as a continuous query — Flink SQL's
    ``SUM(cents) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN
    INTERVAL '7' DAY PRECEDING AND CURRENT ROW)``, a native streaming
    operator in Flink with no prior twin (round 8; the batch family
    member is rolling_7d_purchase_value's RANGE frame). Every purchase
    row emits exactly once, watermark-final, carrying its trailing-7-day
    per-user cents sum (equal-ts peers included — true RANGE). Rows in
    the stream's final sub-ms tail (ts at/above the ms-floored terminal
    watermark) stay pending — the frontier-cut contract, applied to the
    oracle identically."""
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    ev = stream_events(spark, sf_dir)
    out = run_to_table(
        stream_over_aggregate(
            ev,
            key="user_id",
            value=F.floor(F.col("value") * 100),
            range_interval="INTERVAL 7 DAYS",
            row_filter=F.col("event_type") == "purchase",
        )
    )
    return out.select(
        "user_id", "event_id", "ts",
        F.col("val").alias("cents"),
        F.col("agg").alias("rolling_cents"),
    )


STREAM_ROLLING_7D_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM p)
SELECT user_id, event_id, ts, cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
         AS BIGINT) AS rolling_cents
FROM p
WHERE epoch_us(ts) < (SELECT us FROM wm)
"""


def stream_pattern_budget_error_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped Kleene run in its native streaming form (round 8) —
    the twin of pattern_budget_error_run: signup → error-run (12 h gap,
    cumulative cents ≤ 100.00, cap 5) → purchase within 24 h. The
    recompute-over-buffer matcher emits a match once it is
    watermark-FINAL: the run closed (cap reached, or the gap lapsed past
    its last repetition — a budget-blocked run stays open: a smaller
    payload could still arrive in-gap and extend the prefix) and the
    watermark passed the suffix strictly. Oracle: the batch form under
    the same terminal-watermark finality cut."""
    from flink_uba_spark.streaming.budget_run import stream_budget_run_detect

    ev = stream_events(spark, sf_dir)
    out = run_to_table(
        stream_budget_run_detect(
            ev,
            key="user_id",
            anchor=F.col("event_type") == "signup",
            run=F.col("event_type") == "error",
            suffix=F.col("event_type") == "purchase",
            payload=F.floor(F.col("value") * 100),
            budget=10000,
            gap="INTERVAL 12 HOURS",
            suffix_within="INTERVAL 24 HOURS",
            cap=5,
        )
    )
    return out.select(
        "user_id", "anchor_id",
        F.col("t1").alias("S_ts"),
        F.col("t2").alias("E_ts"),
        F.col("t2_last").alias("E_last_ts"),
        F.col("n2").alias("E_n"),
        F.col("spent").alias("spent_cents"),
        F.col("t3").alias("P_ts"),
        "end_id",
    )


def _stream_pattern_budget_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_BUDGET_RUN_ORACLE

    gap_us = 12 * 3600 * 1_000_000
    return f"""
WITH b AS ({PATTERN_BUDGET_RUN_ORACLE}),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
SELECT b.* FROM b
WHERE (b.E_n = 5
       OR epoch_us(b.E_last_ts) + {gap_us} < (SELECT us FROM wm))
  AND epoch_us(b.P_ts) < (SELECT us FROM wm)
"""


def stream_last5_purchase_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time OVER aggregation with a ROWS frame — Flink SQL's
    ``SUM(cents) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4
    PRECEDING AND CURRENT ROW)`` (round 8; the RANGE twin is
    stream_rolling_7d_user_purchases): each purchase row emits once,
    watermark-final, with the sum over itself and the user's 4 previous
    purchases in the (ts, id) total order — state per key is the last 4
    emitted rows plus the pending tail, nothing more. Same ms-floored
    terminal frontier cut, applied to the oracle identically."""
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    ev = stream_events(spark, sf_dir)
    out = run_to_table(
        stream_over_aggregate(
            ev,
            key="user_id",
            value=F.floor(F.col("value") * 100),
            rows_preceding=4,
            row_filter=F.col("event_type") == "purchase",
        )
    )
    return out.select(
        "user_id", "event_id", "ts",
        F.col("val").alias("cents"),
        F.col("agg").alias("last5_cents"),
    )


STREAM_LAST5_PURCHASE_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM p)
SELECT user_id, event_id, ts, cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         AS BIGINT) AS last5_cents
FROM p
WHERE epoch_us(ts) < (SELECT us FROM wm)
"""


def stream_purchase_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate event-time OVER window (round 9) — Flink SQL's
    ``COUNT(*)/MIN/MAX/SUM(cents) OVER (PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)`` as ONE
    continuous operator: the four aggregates share one frame pass
    (SUM/COUNT probe the prefix array; MIN/MAX probe a per-invoke
    sparse table — idempotent aggregates don't subtract). Same
    watermark-final emission + ms-floored terminal frontier cut as the
    SUM-only round-8 twin, applied to the oracle identically."""
    from flink_uba_spark.streaming.over_agg import stream_over_aggregate

    ev = stream_events(spark, sf_dir)
    out = run_to_table(
        stream_over_aggregate(
            ev,
            key="user_id",
            value=F.floor(F.col("value") * 100),
            range_interval="INTERVAL 7 DAYS",
            row_filter=F.col("event_type") == "purchase",
            aggs=("count", "min", "max", "sum"),
        )
    )
    return out.select(
        "user_id", "event_id", "ts",
        F.col("val").alias("cents"),
        F.col("agg_count").alias("n_7d"),
        F.col("agg_min").alias("min_cents_7d"),
        F.col("agg_max").alias("max_cents_7d"),
        F.col("agg_sum").alias("sum_cents_7d"),
    )


STREAM_PURCHASE_WINDOW_STATS_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM p)
SELECT user_id, event_id, ts, cents,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(min(cents) OVER w AS BIGINT) AS min_cents_7d,
       CAST(max(cents) OVER w AS BIGINT) AS max_cents_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_7d
FROM p
WHERE epoch_us(ts) < (SELECT us FROM wm)
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
"""


def stream_match_recognize_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming alternation (round 9) — ``PATTERN (S (C|V) P) AFTER
    MATCH NO SKIP`` as a continuous query: the branch-union's two
    plain-chain NFAs pack into ONE stateful operator
    (``stream_pattern_detect_preferred`` = make_fused_matcher + the
    watermark-final preference fold). An anchor's leftmost-alternative
    winner is decidable once the watermark strictly passes ``t1 + 30 h``
    (the max branch within-sum: 6 h engagement + 24 h purchase) — every
    in-bound completion is at or below that horizon, and later rows are
    late. Oracle: the batch branch-union preference under the same
    horizon cut."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S (C|V) P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "V": F.col("event_type") == "view",
            "P": F.col("event_type") == "purchase",
        },
        withins={
            "C": "INTERVAL 6 HOURS",
            "V": "INTERVAL 6 HOURS",
            "P": "INTERVAL 24 HOURS",
        },
        after_match="no_skip",
    )
    return run_to_table(out)


STREAM_MATCH_RECOGNIZE_ALTERNATION_ORACLE = """
WITH a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
br AS (SELECT 0 AS b, 'C' AS cls, 'click' AS mid
       UNION ALL SELECT 1, 'V', 'view'),
m2 AS (
  SELECT a.*, br.b, br.cls, e.ts AS t2
  FROM a CROSS JOIN br
  JOIN LATERAL (
    SELECT ts FROM events e
    WHERE e.event_type = br.mid AND e.user_id = a.user_id AND e.ts >= a.t1
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
),
m3 AS (
  SELECT m2.*, p.ts AS t3
  FROM m2 JOIN LATERAL (
    SELECT ts FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = m2.user_id
      AND p.ts >= m2.t2
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
  WHERE m2.t2 <= m2.t1 + INTERVAL 6 HOUR
),
ok AS (SELECT * FROM m3 WHERE t3 <= t2 + INTERVAL 24 HOUR),
pref AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, i1 ORDER BY b) AS pr
  FROM ok
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM events
       WHERE event_type IN ('signup', 'click', 'view', 'purchase'))
SELECT user_id, i1 AS anchor_id, t1 AS S_ts,
       CASE WHEN cls = 'C' THEN t2 END AS C_ts,
       CASE WHEN cls = 'V' THEN t2 END AS V_ts,
       t3 AS P_ts, cls AS classifier_2
FROM pref
WHERE pr = 1
  AND epoch_us(t1) + 108000000000 < (SELECT us FROM wm)
"""


def stream_match_recognize_permute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PERMUTE (round 9) — ``PATTERN (S PERMUTE(C,E) P) AFTER
    MATCH NO SKIP``: click and error in EITHER order between signup and
    purchase, the two orderings' chain NFAs packed into one
    preference-folded stateful operator; (C,E) wins when both complete
    (ISO: PERMUTE = the alternation of all orderings in listed order).
    Finality horizon 36 h (6 h + 6 h + 24 h). Oracle: the batch PERMUTE
    branch union under the same horizon cut."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S PERMUTE(C,E) P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={
            "C": "INTERVAL 6 HOURS",
            "E": "INTERVAL 6 HOURS",
            "P": "INTERVAL 24 HOURS",
        },
        after_match="no_skip",
    )
    return run_to_table(out)


STREAM_MATCH_RECOGNIZE_PERMUTE_ORACLE = """
WITH a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
br AS (SELECT 0 AS b, 'click' AS m1, 'error' AS m2
       UNION ALL SELECT 1, 'error', 'click'),
s2 AS (
  SELECT a.*, br.b, br.m1, br.m2, e.ts AS t2
  FROM a CROSS JOIN br
  JOIN LATERAL (
    SELECT ts FROM events e
    WHERE e.event_type = br.m1 AND e.user_id = a.user_id AND e.ts >= a.t1
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
),
s3 AS (
  SELECT s2.*, e.ts AS t3
  FROM s2 JOIN LATERAL (
    SELECT ts FROM events e
    WHERE e.event_type = s2.m2 AND e.user_id = s2.user_id AND e.ts >= s2.t2
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
  WHERE s2.t2 <= s2.t1 + INTERVAL 6 HOUR
),
s4 AS (
  SELECT s3.*, p.ts AS t4
  FROM s3 JOIN LATERAL (
    SELECT ts FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = s3.user_id
      AND p.ts >= s3.t3
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
  WHERE s3.t3 <= s3.t2 + INTERVAL 6 HOUR
),
ok AS (SELECT * FROM s4 WHERE t4 <= t3 + INTERVAL 24 HOUR),
pref AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, i1 ORDER BY b) AS pr
  FROM ok
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS us FROM events
       WHERE event_type IN ('signup', 'click', 'error', 'purchase'))
SELECT user_id, i1 AS anchor_id, t1 AS S_ts,
       CASE WHEN b = 0 THEN t2 ELSE t3 END AS C_ts,
       CASE WHEN b = 0 THEN t3 ELSE t2 END AS E_ts,
       t4 AS P_ts,
       CASE WHEN b = 0 THEN 'C,E' ELSE 'E,C' END AS classifier_2
FROM pref
WHERE pr = 1
  AND epoch_us(t1) + 129600000000 < (SELECT us FROM wm)
"""


def stream_match_recognize_skip_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``AFTER MATCH SKIP TO FIRST C`` (round 9 — a lifted
    batch-only route): ``PATTERN (S C P)`` with the ≥-horizon replay as
    a continuous query. Candidates replay in completion order; a
    candidate's replay prefix is final once the watermark strictly
    passes ``P_ts + 30 h`` (the within sum — any yet-unknown candidate
    completes later than that). Oracle: the batch SKIP TO FIRST output
    under the same cut."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S C P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "P": F.col("event_type") == "purchase",
        },
        withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="skip_to_first C",
    )
    return run_to_table(out)


def _stream_mr_skip_to_first_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_SKIP_TO_FIRST_ORACLE,
    )

    h_us = 30 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_SKIP_TO_FIRST_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'click', 'purchase'))
"""


def stream_match_recognize_within_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming overall WITHIN under ``SKIP PAST LAST ROW`` (round 10 —
    VERDICT r9 item 5 lifted the raise): ``PATTERN (S C P) WITHIN 12h``
    through the chain replayer in its past-last mode
    (streaming/skip_replay.py:stream_quantified_chain_detect) — the
    bound prunes candidates BEFORE the fold, so a pruned candidate
    never advances the skip horizon and a later overlapping candidate
    can emit (the corner the batch twin's oracle pins). Decidable once
    the watermark strictly passes ``P_ts + 30 h`` (the within sum);
    oracle: the batch within_overall fold under the same cut."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S C P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "P": F.col("event_type") == "purchase",
        },
        withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="skip_past_last",
        within_overall="INTERVAL 12 HOURS",
    )
    return run_to_table(out)


def _stream_mr_within_skip_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE,
    )

    h_us = 30 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'click', 'purchase'))
"""


def stream_match_recognize_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT surface as a continuous query (round 10 —
    ``stream_match_recognize_sql``): the same ISO clause string a Flink
    SQL user types, compiled onto the streaming engines — here the
    within_overall + SKIP PAST LAST spec, so the text twin rides the
    chain replayer's past-last mode end-to-end. Shares
    stream_match_recognize_within_skip's oracle (same NFA, same cut),
    pinning text-parse ≡ dict-spec ≡ DuckDB on the STREAM side too."""
    from flink_uba_spark.operators.match_recognize_sql import (
        stream_match_recognize_sql,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize_sql(
        ev,
        """
        PARTITION BY user_id
        ORDER BY ts
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S C P) WITHIN INTERVAL '12' HOUR
        DEFINE S AS S.event_type = 'signup',
               C AS C.event_type = 'click',
               P AS P.event_type = 'purchase'
        """,
        withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
    )
    return run_to_table(out)


def stream_match_recognize_reluctant_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lazy reluctant under ``SKIP PAST LAST ROW`` (round 9 —
    the other lifted batch-only route): ``PATTERN (S E{1,3}? P)`` as a
    continuous query — per-count candidates re-derived over the buffer,
    the earliest-completion (ties → smaller count) preference per
    anchor, then the non-overlap horizon replay, all watermark-driven.
    A candidate is final once the watermark strictly passes ``P_ts +
    60 h`` (cap·gap + suffix within). Oracle: the batch lazy fold under
    the same cut."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S E{1,3}? P",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="skip_past_last",
    )
    return run_to_table(out)


def _stream_mr_reluctant_lazy_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_RELUCTANT_LAZY_ORACLE,
    )

    h_us = 60 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_RELUCTANT_LAZY_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
"""


def stream_match_recognize_reluctant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reluctant MATCH_RECOGNIZE spec as a continuous query (round
    8): ``PATTERN (S E{1,3}? P) AFTER MATCH NO SKIP`` through the
    streaming front-end, which compiles the per-count NFAs into the ONE
    packed stateful operator (``stream_pattern_detect_fused``) — Flink's
    shared version tree, one source scan. NO SKIP is the streaming
    emission (Flink CEP's multi-match: one row per admissible count);
    the batch SKIP PAST LAST lazy fold is match_recognize_reluctant_lazy.
    Oracle: the batch per-count union minus incomplete rows (the
    reluctant stream twin's established closure argument)."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S E{1,3}? P",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="no_skip",
    )
    return run_to_table(out)


def _stream_match_recognize_reluctant_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_RELUCTANT_ORACLE

    return f"""
SELECT user_id, anchor_id, t1 AS S_ts, t2 AS E_ts, t2_last AS E_last_ts,
       n2 AS E_n, t3 AS P_ts
FROM ({PATTERN_RELUCTANT_ORACLE})
WHERE state = 'matched'
"""


def stream_match_recognize_reluctant_excluded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exclusion on the RELUCTANT engine as a CONTINUOUS query (round 11
    — the last stream exclusion cell): the fused per-count NFAs emit
    multi-matches under NO SKIP, then the excluded error-run columns
    leave the projection — a stateless drop after the fold, so two
    counts binding the same purchase emit duplicate rows (one row per
    match). Emission is data-driven, no cut — the reluctant twin's
    rule. Oracle: match_recognize_reluctant_excluded's, shared (x +
    stream_x)."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S {- E{1,3}? -} P",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
                "P": F.col("event_type") == "purchase",
            },
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="no_skip",
        )
    )


def _stream_reluctant_excluded_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import _reluctant_excluded_oracle

    return _reluctant_excluded_oracle()


def stream_match_recognize_mid_run_within_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MID-pattern greedy run + SKIP PAST LAST + overall WITHIN as a
    CONTINUOUS query (round 11 — VERDICT r10 item 6, the LAST
    within_overall routing cell): ``PATTERN (S E{1,2} P) WITHIN 30h``
    through the GENERAL quantified-chain replayer
    (streaming/skip_replay.py make_quantified_chain_replayer — the
    trailing-run recompute generalized to runs at any position; this
    also makes quantified chains under SKIP PAST LAST streamable at
    all, previously an in-NFA-fold raise). The overall bound prunes
    candidates in-replayer BEFORE the fold. Oracle: the batch fold
    truncated at the decidability cut ``end + H < final ms-floored
    watermark``, H = 12h entry + 2x12h run + 24h suffix = 60h."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
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
    )


def _stream_mid_run_within_skip_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_MID_RUN_WITHIN_SKIP_ORACLE,
    )

    h_us = 60 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_MID_RUN_WITHIN_SKIP_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
"""


def stream_match_recognize_optional_within_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIONAL step + SKIP PAST LAST + overall WITHIN as a CONTINUOUS
    query (round 11 second pass — the last in-NFA-fold cell): the
    optional greedy race runs per anchor INSIDE the quantified-chain
    replayer (take C unless the earliest purchase strictly precedes the
    earliest click; a skipped C leaves the frontier at S — the batch
    fall-through rule). This also makes optional chains under SKIP PAST
    LAST streamable at all (the in-NFA skip fold is plain-chains-only).
    Oracle: the batch race + fold under the ``end + 30h < final
    ms-floored watermark`` decidability cut (H = 6h + 24h)."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C? P",
            define={
                "S": F.col("event_type") == "signup",
                "C": F.col("event_type") == "click",
                "P": F.col("event_type") == "purchase",
            },
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            within_overall="INTERVAL 30 HOURS",
        )
    )


def _stream_optional_within_skip_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_OPTIONAL_WITHIN_SKIP_ORACLE,
    )

    h_us = 30 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_OPTIONAL_WITHIN_SKIP_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'click', 'purchase'))
"""


def stream_match_recognize_sql_run_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run-aggregate MEASURES through the STREAMING SQL-TEXT front-end
    (round 11 — VERDICT r10 item 4 closed the ONE-ROW-only asymmetry):
    the same `PATTERN (S E{2,3} P)` NFA as
    stream_match_recognize_error_streak, but spelled as the ISO clause
    string with ``COUNT(E.*)`` / ``FIRST(E.ts)`` / ``LAST(E.ts)``
    MEASURES. The text compiler rewrites them onto the run-count and
    run-boundary columns the streaming NFA already emits (zero new
    runtime weight — a stateless projection), so the oracle is the
    error-streak twin's, shared verbatim: text-parse ≡ dict-spec ≡
    DuckDB on the stream run-agg surface. Reference anchor: the SQL
    surface is Flink's second CEP spelling of OrderPayTimeout.java:52-64."""
    from flink_uba_spark.operators.match_recognize_sql import (
        stream_match_recognize_sql,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize_sql(
        ev,
        """
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES anchor_id AS anchor_id, S.ts AS S_ts,
                     FIRST(E.ts) AS E_ts, LAST(E.ts) AS E_last_ts,
                     COUNT(E.*) AS E_n, P.ts AS P_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (S E{2,3} P)
            DEFINE S AS S.event_type = 'signup',
                   E AS E.event_type = 'error',
                   P AS P.event_type = 'purchase'
        )
        """,
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
    )
    return run_to_table(out)


def stream_match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALL ROWS PER MATCH`` as a CONTINUOUS query (round 11): the
    onboarding fold's matches (``PATTERN (S C P)`` under SKIP PAST LAST)
    emitted as one row PER BOUND EVENT — the streaming NFA now carries
    per-step bound ids in state (streaming/pattern.py, ``s_bndid`` in
    ``make_pattern_matcher``'s state), so the per-event explode is the same stateless projection as
    batch (``_explode_plain_rows``). Completion is data-driven (the
    in-NFA skip fold emits when the chain completes), so the oracle is
    the batch fold itself, exploded — no watermark cut, exactly the
    onboarding twin's rule."""
    from flink_uba_spark.operators.match_recognize import stream_match_recognize

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C P",
            define={"S": "signup", "C": "click", "P": "purchase"},
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            rows_per_match="all",
        )
    )


def stream_match_recognize_sql_all_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same ALL ROWS continuous query spelled as the ISO clause
    STRING (round 11 — the text front-end no longer raises on
    ``ALL ROWS PER MATCH`` where the dict stream surface serves it):
    compiles onto stream_match_recognize_all_rows' exact plan and
    shares its oracle — text-parse ≡ dict-spec ≡ DuckDB for streaming
    ALL ROWS."""
    from flink_uba_spark.operators.match_recognize_sql import (
        stream_match_recognize_sql,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize_sql(
        ev,
        """
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (S C P)
            DEFINE S AS S.event_type = 'signup',
                   C AS C.event_type = 'click',
                   P AS P.event_type = 'purchase'
        )
        """,
        withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
    )
    return run_to_table(out)


# the onboarding skip fold with per-step ids, exploded to (seq, var,
# event_id, ts) — the binder is the (ts, id)-min eligible row per step,
# the fold walks completion order (t3, i3, t1, i1), and emission is
# data-driven so no watermark cut applies (the onboarding rule)
STREAM_MATCH_RECOGNIZE_ALL_ROWS_ORACLE = """
WITH RECURSIVE
s0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
c0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT s0.user_id, s0.event_id AS i1, s0.ts AS t1, c.ts AS t2,
         c.event_id AS i2
  FROM s0 JOIN LATERAL (
    SELECT ts, event_id FROM c0
    WHERE c0.user_id = s0.user_id AND c0.ts >= s0.ts
    ORDER BY ts, event_id LIMIT 1) c ON TRUE
),
s3 AS (
  SELECT s2.*, p.ts AS t3, p.event_id AS i3
  FROM s2 JOIN LATERAL (
    SELECT ts, event_id FROM p0
    WHERE p0.user_id = s2.user_id AND p0.ts >= s2.t2
    ORDER BY ts, event_id LIMIT 1) p ON TRUE
),
cand AS (
  SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY t3, i3, t1, i1) AS r
  FROM s3
  WHERE t2 <= t1 + INTERVAL 6 HOUR AND t3 <= t2 + INTERVAL 24 HOUR
),
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS le_ts,
         CAST(-1 AS BIGINT) AS le_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.i1) > (s.le_ts, s.le_id)
              THEN c.t3 ELSE s.le_ts END,
         CASE WHEN (c.t1, c.i1) > (s.le_ts, s.le_id)
              THEN c.i3 ELSE s.le_id END,
         (c.t1, c.i1) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
),
m AS (
  SELECT c.user_id, c.i1 AS anchor_id, c.i1, c.t1, c.i2, c.t2, c.i3, c.t3
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
)
SELECT user_id, anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       i1 AS event_id, t1 AS ts FROM m
UNION ALL
SELECT user_id, anchor_id, CAST(2 AS BIGINT) AS seq, 'C' AS var,
       i2 AS event_id, t2 AS ts FROM m
UNION ALL
SELECT user_id, anchor_id, CAST(3 AS BIGINT) AS seq, 'P' AS var,
       i3 AS event_id, t3 AS ts FROM m
"""


def stream_match_recognize_value_run_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VALUE aggregates in MEASURES as a CONTINUOUS query (round 12 —
    VERDICT r11 item 2): ``SUM/MAX(E.cents)`` and boundary
    ``FIRST/LAST(E.cents)`` over ``PATTERN (S E{1,3} P)`` under SKIP
    PAST LAST — the exact batch match_recognize_measures_run_agg
    surface, streamed. Batch recovers run membership with the ALL-ROWS
    band join; the stream carries the declared value column IN the
    quantified-chain replayer's buffer (streaming/skip_replay.py state
    field ``vals``) and computes every aggregate exactly over the bound
    slice in-operator — no band join, ONE keyed stateful exchange.
    Oracle: the batch measures oracle under the replay decidability cut
    ``P_ts + H < final ms-floored watermark``, H = 12h entry + 3x12h
    run + 24h suffix = 72h. Reference anchor: the value-measure SQL
    spelling of Flink's ``ctx.getEventsForPattern("E")`` folds
    (OrderPayTimeout.java:52-64 family)."""
    from flink_uba_spark.operators.match_recognize import (
        run_agg,
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{1,3} P",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
                "P": F.col("event_type") == "purchase",
            },
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            measures={
                "anchor_id": F.col("anchor_id"),
                "S_ts": F.col("S_ts"),
                "P_ts": F.col("P_ts"),
                "E_n": F.col("E_n"),
                "err_cnt": run_agg("count", "E"),
                "err_sum_cents": run_agg("sum", "E", cents),
                "err_max_cents": run_agg("max", "E", cents),
                "err_first_cents": run_agg("first", "E", cents),
                "err_last_cents": run_agg("last", "E", cents),
                "end_id": F.col("end_id"),
            },
        )
    )


def _stream_value_run_agg_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_MEASURES_RUN_AGG_ORACLE,
    )

    h_us = 72 * 3600 * 1_000_000
    return f"""
SELECT b.* FROM ({MATCH_RECOGNIZE_MEASURES_RUN_AGG_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
"""


def stream_match_recognize_sql_value_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same VALUE-aggregate continuous query spelled as the ISO
    clause STRING (round 12 — the text front-end compiles
    ``SUM/MAX/FIRST/LAST(FLOOR(E.value * 100))`` onto the stream
    RunAgg path instead of raising): compiles onto
    stream_match_recognize_value_run_agg's exact plan and shares its
    oracle — text-parse ≡ dict-spec ≡ DuckDB for streaming value
    MEASURES."""
    from flink_uba_spark.operators.match_recognize_sql import (
        stream_match_recognize_sql,
    )

    ev = stream_events(spark, sf_dir)
    out = stream_match_recognize_sql(
        ev,
        """
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES anchor_id AS anchor_id, S.ts AS S_ts, P.ts AS P_ts,
                     COUNT(E.*) AS E_n,
                     COUNT(E.*) AS err_cnt,
                     SUM(FLOOR(E.value * 100)) AS err_sum_cents,
                     MAX(FLOOR(E.value * 100)) AS err_max_cents,
                     FIRST(FLOOR(E.value * 100)) AS err_first_cents,
                     LAST(FLOOR(E.value * 100)) AS err_last_cents,
                     end_id AS end_id
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (S E{1,3} P)
            DEFINE S AS S.event_type = 'signup',
                   E AS E.event_type = 'error',
                   P AS P.event_type = 'purchase'
        )
        """,
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
    )
    return run_to_table(out)


def stream_match_recognize_subset_value_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUBSET-union VALUE aggregates as a CONTINUOUS query (round 12):
    ``SUBSET U = (S, E, P)`` with ``COUNT(U.*)`` / ``SUM(U.cents)`` —
    the members' per-step partial aggregates combine STATELESSLY after
    the replayer's fold (a union's total is the sum of member partial
    sums), so the union costs no extra state. Offset navigation over a
    union keeps the curated batch-only raise (it needs the merged
    (ts, id) row order across members — the batch band join). Oracle:
    the batch SUBSET oracle's non-offset columns under the 72h replay
    cut."""
    from flink_uba_spark.operators.match_recognize import (
        run_agg,
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{1,3} P",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
                "P": F.col("event_type") == "purchase",
            },
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            subset={"U": ("S", "E", "P")},
            measures={
                "anchor_id": F.col("anchor_id"),
                "S_ts": F.col("S_ts"),
                "P_ts": F.col("P_ts"),
                "E_n": F.col("E_n"),
                "u_cnt": run_agg("count", "U"),
                "u_sum_cents": run_agg("sum", "U", cents),
                "end_id": F.col("end_id"),
            },
        )
    )


def _stream_subset_value_agg_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_SUBSET_AGG_ORACLE,
    )

    h_us = 72 * 3600 * 1_000_000
    return f"""
SELECT b.user_id, b.anchor_id, b.S_ts, b.P_ts, b.E_n,
       b.u_cnt, b.u_sum_cents, b.end_id
FROM ({MATCH_RECOGNIZE_SUBSET_AGG_ORACLE}) b
WHERE epoch_us(b.P_ts) + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
"""


def stream_match_recognize_all_rows_within_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ALL ROWS PER MATCH`` + overall ``WITHIN`` + SKIP PAST LAST as
    a CONTINUOUS query (round 12): the chain replayer
    (streaming/skip_replay.py make_quantified_chain_replayer) emits one row
    per bound event — the chain IS the per-step id list, so the explode
    is in-operator enumeration; the 12h overall bound prunes candidates
    BEFORE the fold (a pruned candidate never advances the skip
    horizon). Oracle: the within_overall fold with the click binder's
    event id attached ((ts, id)-min at the bound ts — the engines'
    binder rule), exploded to (seq, var, event_id, ts), under the
    30h replay cut (H = 6h + 24h) applied per MATCH."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S C P",
            define={
                "S": F.col("event_type") == "signup",
                "C": F.col("event_type") == "click",
                "P": F.col("event_type") == "purchase",
            },
            withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            within_overall="INTERVAL 12 HOURS",
            rows_per_match="all",
        )
    )


# the within_overall fold (MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE's
# machinery) with the click binder's id recovered ((ts, id)-min at the
# bound ts) and the kept matches exploded per bound event, under the
# per-match 30h replay decidability cut
STREAM_MR_ALL_ROWS_WITHIN_SKIP_ORACLE = """
WITH RECURSIVE
s0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
c0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT s0.user_id, s0.event_id AS anchor_id, s0.ts AS t1,
         (SELECT min(c0.ts) FROM c0
           WHERE c0.user_id = s0.user_id AND c0.ts >= s0.ts) AS t2
  FROM s0
),
s3 AS (
  SELECT s2.*,
         (SELECT min(c0.event_id) FROM c0
           WHERE c0.user_id = s2.user_id AND c0.ts = s2.t2) AS i2,
         (SELECT min(p0.ts) FROM p0
           WHERE p0.user_id = s2.user_id AND p0.ts >= s2.t2) AS t3
  FROM s2
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, i2, t3,
         (SELECT min(p0.event_id) FROM p0
           WHERE p0.user_id = s3.user_id AND p0.ts = s3.t3) AS end_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY t3, (SELECT min(p0.event_id) FROM p0
                          WHERE p0.user_id = s3.user_id AND p0.ts = s3.t3),
                    t1, anchor_id) AS r
  FROM s3
  WHERE t3 IS NOT NULL
    AND t2 <= t1 + INTERVAL 6 HOUR AND t3 <= t2 + INTERVAL 24 HOUR
    AND t3 <= t1 + INTERVAL 12 HOUR
),
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS le_ts,
         CAST(-1 AS BIGINT) AS le_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.t3 ELSE s.le_ts END,
         CASE WHEN (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
              THEN c.end_id ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
),
m AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
    AND epoch_us(c.t3) + 108000000000 <
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type IN ('signup', 'click', 'purchase'))
)
SELECT user_id, anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       anchor_id AS event_id, t1 AS ts FROM m
UNION ALL
SELECT user_id, anchor_id, CAST(2 AS BIGINT) AS seq, 'C' AS var,
       i2 AS event_id, t2 AS ts FROM m
UNION ALL
SELECT user_id, anchor_id, CAST(3 AS BIGINT) AS seq, 'P' AS var,
       end_id AS event_id, t3 AS ts FROM m
"""


def stream_match_recognize_no_skip_value_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VALUE aggregates under NO SKIP (SKIP TO NEXT ROW) as a
    CONTINUOUS query (round 12): the quantified-chain replayer's
    ``mode="no_skip"`` — every anchor's greedy candidate emits, no
    fold, the horizon never advances — with ``SUM/MIN(E.cents)``
    computed exactly over each run slice in-operator. Same match
    population as the error-streak twin (``PATTERN (S E{2,3} P)``)
    but emission is the replay decidability cut ``P_ts + H < wm``
    (H = 12h + 3x12h + 24h = 72h), which IMPLIES the streak engine's
    run-closure evidence (any run-extending row would sit past
    run_last + gap), so the oracle is the streak candidates under the
    cut, value aggregates attached by the run-membership join."""
    from flink_uba_spark.operators.match_recognize import (
        run_agg,
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{2,3} P",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
                "P": F.col("event_type") == "purchase",
            },
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="no_skip",
            measures={
                "anchor_id": F.col("anchor_id"),
                "S_ts": F.col("S_ts"),
                "E_ts": F.col("E_ts"),
                "E_last_ts": F.col("E_last_ts"),
                "E_n": F.col("E_n"),
                "P_ts": F.col("P_ts"),
                "err_sum_cents": run_agg("sum", "E", cents),
                "err_min_cents": run_agg("min", "E", cents),
                "end_id": F.col("end_id"),
            },
        )
    )


# the error-streak candidate population (per-anchor greedy E{2,3} run +
# earliest suffix purchase) under the REPLAYER's decidability cut
# ``P_ts + 72h < final ms-floored watermark`` (which implies the streak
# engine's run-closure disjunction: t2_last <= t3, so the cut bounds
# every run's extension window too); value aggregates recovered by the
# run-membership join exactly as the batch measures oracle
STREAM_MR_NO_SKIP_VALUE_AGG_ORACLE = """
WITH err AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, cents,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM err
),
runs AS (
  SELECT user_id, event_id, ts, cents, sid,
         row_number() OVER ws AS rn,
         count(*) OVER wf - row_number() OVER ws + 1 AS avail,
         COALESCE(lead(ts, 2) OVER ws, max(ts) OVER wf) AS run_last,
         LEAST(3, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
a2 AS (
  SELECT a.*, r.ts AS t2, r.run_last AS t2_last, r.n_reps AS n2,
         r.sid, r.rn
  FROM a JOIN LATERAL (
    SELECT ts, run_last, n_reps, sid, rn, event_id FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1 AND r.avail >= 2
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
m AS (
  SELECT a3.*,
         (SELECT min(p.event_id) FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = a3.user_id
            AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
    AND epoch_us(t3) + 259200000000 <
        (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
         WHERE event_type IN ('signup', 'error', 'purchase'))
),
agg AS (
  SELECT m.user_id, m.anchor_id,
         CAST(sum(r.cents) AS BIGINT) AS err_sum_cents,
         CAST(min(r.cents) AS BIGINT) AS err_min_cents
  FROM m JOIN runs r
    ON r.user_id = m.user_id AND r.sid = m.sid
   AND r.rn BETWEEN m.rn AND m.rn + m.n2 - 1
  GROUP BY m.user_id, m.anchor_id
)
SELECT m.user_id, m.anchor_id, m.t1 AS S_ts, m.t2 AS E_ts,
       m.t2_last AS E_last_ts, CAST(m.n2 AS BIGINT) AS E_n,
       m.t3 AS P_ts, g.err_sum_cents, g.err_min_cents, m.end_id
FROM m JOIN agg g
  ON g.user_id = m.user_id AND g.anchor_id = m.anchor_id
"""


def stream_match_recognize_all_rows_run(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ALL ROWS PER MATCH`` over a QUANTIFIED run as a CONTINUOUS
    query (round 12 — VERDICT r11 item 3): ``PATTERN (S E{1,3} P)``
    under SKIP PAST LAST emits one row PER BOUND EVENT including every
    repetition of the error run — the quantified-chain replayer already
    holds per-chain run membership (entry/cnt per step), so the
    per-event explode is leg-slice enumeration in-operator
    (streaming/skip_replay.py ALL_ROWS_SCHEMA), ``var`` (CLASSIFIER)
    attached statelessly from the compile-time step list. Oracle: the
    batch ALL-ROWS-over-run oracle under the per-MATCH 72h replay cut
    (a match emits when its END — its max bound ts — passes the
    horizon)."""
    from flink_uba_spark.operators.match_recognize import (
        stream_match_recognize,
    )

    ev = stream_events(spark, sf_dir)
    return run_to_table(
        stream_match_recognize(
            ev,
            partition_by="user_id",
            order_by="ts",
            pattern="S E{1,3} P",
            define={
                "S": F.col("event_type") == "signup",
                "E": F.col("event_type") == "error",
                "P": F.col("event_type") == "purchase",
            },
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="skip_past_last",
            rows_per_match="all",
        )
    )


def _stream_all_rows_run_oracle() -> str:
    from flink_uba_spark.queries.rowpattern import (
        MATCH_RECOGNIZE_ALL_ROWS_RUN_ORACLE,
    )

    h_us = 72 * 3600 * 1_000_000
    return f"""
SELECT user_id, anchor_id, seq, var, event_id, ts FROM (
  SELECT b.*, max(epoch_us(b.ts)) OVER (
           PARTITION BY b.user_id, b.anchor_id) AS mend
  FROM ({MATCH_RECOGNIZE_ALL_ROWS_RUN_ORACLE}) b
)
WHERE mend + {h_us} <
      (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
       WHERE event_type IN ('signup', 'error', 'purchase'))
"""


QUERIES = {
    "stream_hot_items": stream_hot_items,
    "stream_pattern_view_click_purchase": stream_pattern_view_click_purchase,
    "stream_pattern_within_view_click_purchase": stream_pattern_within_view_click_purchase,
    "stream_pattern_iterative_price_escalation": stream_pattern_iterative_price_escalation,
    "stream_match_recognize_onboarding": stream_match_recognize_onboarding,
    "stream_match_recognize_excluded": stream_match_recognize_excluded,
    "stream_cdc_latest_state": stream_cdc_latest_state,
    "stream_match_recognize_iterative": stream_match_recognize_iterative,
    "stream_match_recognize_within_overall": stream_match_recognize_within_overall,
    "stream_match_recognize_trailing_run": stream_match_recognize_trailing_run,
    "stream_window_join_views_purchases": stream_window_join_views_purchases,
    "stream_interval_join_left_outer_clicks": stream_interval_join_left_outer_clicks,
    "stream_window_dedup_first_click": stream_window_dedup_first_click,
    "stream_gopher_rule_gate": stream_gopher_rule_gate,
    "stream_window_cogroup_user_activity": stream_window_cogroup_user_activity,
    "stream_temporal_join_price_at_view": stream_temporal_join_price_at_view,
    "stream_dedup_events_state_bounded": stream_dedup_events_state_bounded,
    "stream_rolling_7d_user_purchases": stream_rolling_7d_user_purchases,
    "stream_last5_purchase_total": stream_last5_purchase_total,
    "stream_purchase_window_stats": stream_purchase_window_stats,
    "stream_match_recognize_alternation": stream_match_recognize_alternation,
    "stream_match_recognize_permute": stream_match_recognize_permute,
    "stream_match_recognize_skip_to_first": stream_match_recognize_skip_to_first,
    "stream_match_recognize_within_skip": stream_match_recognize_within_skip,
    "stream_match_recognize_sql_text": stream_match_recognize_sql_text,
    "stream_match_recognize_sql_run_agg": stream_match_recognize_sql_run_agg,
    "stream_match_recognize_reluctant_excluded": stream_match_recognize_reluctant_excluded,
    "stream_match_recognize_mid_run_within_skip": stream_match_recognize_mid_run_within_skip,
    "stream_match_recognize_optional_within_skip": stream_match_recognize_optional_within_skip,
    "stream_match_recognize_all_rows": stream_match_recognize_all_rows,
    "stream_match_recognize_sql_all_rows": stream_match_recognize_sql_all_rows,
    "stream_match_recognize_value_run_agg": stream_match_recognize_value_run_agg,
    "stream_match_recognize_sql_value_agg": stream_match_recognize_sql_value_agg,
    "stream_match_recognize_subset_value_agg": stream_match_recognize_subset_value_agg,
    "stream_match_recognize_no_skip_value_agg": stream_match_recognize_no_skip_value_agg,
    "stream_match_recognize_all_rows_within_skip": stream_match_recognize_all_rows_within_skip,
    "stream_match_recognize_all_rows_run": stream_match_recognize_all_rows_run,
    "stream_match_recognize_reluctant_lazy": stream_match_recognize_reluctant_lazy,
    "stream_match_recognize_reluctant": stream_match_recognize_reluctant,
    "stream_pattern_budget_error_run": stream_pattern_budget_error_run,
    "stream_match_recognize_error_streak": stream_match_recognize_error_streak,
    "stream_pattern_error_burst_recovery": stream_pattern_error_burst_recovery,
    "stream_pattern_signup_journey": stream_pattern_signup_journey,
    "stream_pattern_purchase_no_error": stream_pattern_purchase_no_error,
    "stream_pattern_error_streak_recovery": stream_pattern_error_streak_recovery,
    "stream_pattern_optional_click_purchase": stream_pattern_optional_click_purchase,
    "stream_pattern_optional_branching": stream_pattern_optional_branching,
    "stream_pattern_uncapped_error_run": stream_pattern_uncapped_error_run,
    "stream_pattern_error_run_until_purchase": stream_pattern_error_run_until_purchase,
    "stream_pattern_times_or_more_errors": stream_pattern_times_or_more_errors,
    "stream_pattern_reluctant_error_prefixes": stream_pattern_reluctant_error_prefixes,
    "stream_pattern_consecutive_error_burst": stream_pattern_consecutive_error_burst,
    "stream_pattern_impulse_purchase": stream_pattern_impulse_purchase,
    "stream_pattern_clean_onboarding": stream_pattern_clean_onboarding,
    "stream_pattern_nonoverlap_episodes": stream_pattern_nonoverlap_episodes,
    "stream_pattern_any_view_click_purchase": stream_pattern_any_view_click_purchase,
    "stream_pattern_combinations_view_clicks": stream_pattern_combinations_view_clicks,
    "stream_pattern_group_browse_loop": stream_pattern_group_browse_loop,
    "stream_pattern_any_skip_to_next": stream_pattern_any_skip_to_next,
    "stream_heavy_hitter_bigrams": stream_heavy_hitter_bigrams,
    "stream_embedding_topic_assign": stream_embedding_topic_assign,
    "stream_ivf_upsert": stream_ivf_upsert,
    "stream_kmeans_assign": stream_kmeans_assign,
    "stream_classifier_quality_filter": stream_classifier_quality_filter,
    "stream_daily_active_users": stream_daily_active_users,
    "stream_span_decontam": stream_span_decontam,
    "stream_mktseg_revenue": stream_mktseg_revenue,
    "stream_corpus_ingest": stream_corpus_ingest,
    "stream_cumulate_event_volume": stream_cumulate_event_volume,
    "stream_user_sessions": stream_user_sessions,
    "stream_user_sessions_dynamic_gap": stream_user_sessions_dynamic_gap,
    "stream_attribution_join": stream_attribution_join,
    "stream_order_timeout_states": stream_order_timeout_states,
    "stream_tx_reconcile": stream_tx_reconcile,
    "stream_hot_pages": stream_hot_pages,
    "stream_hot_pages_allowed_lateness": stream_hot_pages_allowed_lateness,
    "stream_hot_pages_late_rows": stream_hot_pages_late_rows,
    "stream_dedup_events": stream_dedup_events,
    "stream_dedup_incremental": stream_dedup_incremental,
    "stream_daily_anomaly": stream_daily_anomaly,
    "stream_event_transitions": stream_event_transitions,
}


def _stream_dedup_incremental_oracle() -> str:
    from flink_uba_spark.queries.datapipe import _dedup_incremental_oracle

    return _dedup_incremental_oracle()


ORACLES = {
    "stream_dedup_incremental": _stream_dedup_incremental_oracle(),
    "stream_pattern_view_click_purchase": _stream_pattern_vcp_oracle(),
    "stream_pattern_within_view_click_purchase": _stream_pattern_within_vcp_oracle(),
    "stream_pattern_iterative_price_escalation": _stream_pattern_iterative_oracle(),
    "stream_match_recognize_onboarding": STREAM_MATCH_RECOGNIZE_ONBOARDING_ORACLE,
    "stream_match_recognize_excluded": STREAM_MATCH_RECOGNIZE_EXCLUDED_ORACLE,
    "stream_cdc_latest_state": STREAM_CDC_LATEST_STATE_ORACLE,
    "stream_match_recognize_iterative": STREAM_MATCH_RECOGNIZE_ITERATIVE_ORACLE,
    "stream_match_recognize_within_overall": STREAM_MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE,
    "stream_match_recognize_trailing_run": STREAM_MATCH_RECOGNIZE_TRAILING_RUN_ORACLE,
    "stream_window_join_views_purchases": _stream_window_join_oracle(),
    "stream_interval_join_left_outer_clicks": _stream_interval_join_left_outer_oracle(),
    "stream_window_dedup_first_click": _stream_window_dedup_oracle(),
    "stream_gopher_rule_gate": _stream_gopher_oracle(),
    "stream_window_cogroup_user_activity": _stream_window_cogroup_oracle(),
    "stream_temporal_join_price_at_view": _stream_temporal_join_oracle(),
    "stream_dedup_events_state_bounded": STREAM_DEDUP_STATE_BOUNDED_ORACLE,
    "stream_rolling_7d_user_purchases": STREAM_ROLLING_7D_ORACLE,
    "stream_last5_purchase_total": STREAM_LAST5_PURCHASE_ORACLE,
    "stream_purchase_window_stats": STREAM_PURCHASE_WINDOW_STATS_ORACLE,
    "stream_match_recognize_alternation": STREAM_MATCH_RECOGNIZE_ALTERNATION_ORACLE,
    "stream_match_recognize_permute": STREAM_MATCH_RECOGNIZE_PERMUTE_ORACLE,
    "stream_match_recognize_skip_to_first": _stream_mr_skip_to_first_oracle(),
    "stream_match_recognize_within_skip": _stream_mr_within_skip_oracle(),
    "stream_match_recognize_sql_text": _stream_mr_within_skip_oracle(),
    "stream_match_recognize_sql_run_agg": STREAM_MATCH_RECOGNIZE_STREAK_ORACLE,
    "stream_match_recognize_reluctant_excluded": _stream_reluctant_excluded_oracle(),
    "stream_match_recognize_mid_run_within_skip": _stream_mid_run_within_skip_oracle(),
    "stream_match_recognize_optional_within_skip": _stream_optional_within_skip_oracle(),
    "stream_match_recognize_all_rows": STREAM_MATCH_RECOGNIZE_ALL_ROWS_ORACLE,
    "stream_match_recognize_sql_all_rows": STREAM_MATCH_RECOGNIZE_ALL_ROWS_ORACLE,
    "stream_match_recognize_value_run_agg": _stream_value_run_agg_oracle(),
    "stream_match_recognize_sql_value_agg": _stream_value_run_agg_oracle(),
    "stream_match_recognize_subset_value_agg": _stream_subset_value_agg_oracle(),
    "stream_match_recognize_no_skip_value_agg": STREAM_MR_NO_SKIP_VALUE_AGG_ORACLE,
    "stream_match_recognize_all_rows_within_skip": STREAM_MR_ALL_ROWS_WITHIN_SKIP_ORACLE,
    "stream_match_recognize_all_rows_run": _stream_all_rows_run_oracle(),
    "stream_match_recognize_reluctant_lazy": _stream_mr_reluctant_lazy_oracle(),
    "stream_match_recognize_reluctant": _stream_match_recognize_reluctant_oracle(),
    "stream_pattern_budget_error_run": _stream_pattern_budget_oracle(),
    "stream_match_recognize_error_streak": STREAM_MATCH_RECOGNIZE_STREAK_ORACLE,
    "stream_pattern_error_burst_recovery": _stream_kleene_oracle(),
    "stream_pattern_signup_journey": _stream_pattern_signup_journey_oracle(),
    "stream_pattern_purchase_no_error": _stream_pattern_no_error_oracle(),
    "stream_pattern_error_streak_recovery": _stream_pattern_streak_oracle(),
    "stream_pattern_optional_click_purchase": _stream_pattern_optional_oracle(),
    "stream_pattern_optional_branching": _stream_pattern_branching_oracle(),
    "stream_pattern_uncapped_error_run": _stream_pattern_uncapped_oracle(),
    "stream_pattern_error_run_until_purchase": _stream_pattern_until_oracle(),
    "stream_pattern_times_or_more_errors": _stream_pattern_times_or_more_oracle(),
    "stream_pattern_reluctant_error_prefixes": _stream_pattern_reluctant_oracle(),
    "stream_pattern_consecutive_error_burst": _stream_pattern_consecutive_oracle(),
    "stream_pattern_impulse_purchase": _stream_pattern_impulse_oracle(),
    "stream_pattern_clean_onboarding": _stream_pattern_onboarding_oracle(),
    "stream_pattern_nonoverlap_episodes": _stream_pattern_nonoverlap_oracle(),
    "stream_pattern_any_view_click_purchase": _stream_pattern_any_oracle(),
    "stream_pattern_combinations_view_clicks": _stream_pattern_combinations_oracle(),
    "stream_pattern_group_browse_loop": _stream_pattern_group_loop_oracle(),
    "stream_pattern_any_skip_to_next": _stream_pattern_any_skip_oracle(),
    "stream_heavy_hitter_bigrams": _stream_heavy_hitter_oracle(),
    "stream_embedding_topic_assign": _stream_embedding_topic_assign_oracle(),
    "stream_ivf_upsert": __import__("flink_uba_spark.queries.datapipe", fromlist=["IVF_INDEX_UPSERT_ORACLE"]).IVF_INDEX_UPSERT_ORACLE,
    "stream_kmeans_assign": __import__("flink_uba_spark.queries.datapipe", fromlist=["SEMANTIC_KMEANS_ASSIGN_ORACLE"]).SEMANTIC_KMEANS_ASSIGN_ORACLE,
    "stream_classifier_quality_filter": _stream_classifier_oracle(),
    "stream_daily_active_users": STREAM_DAU_ORACLE,
    "stream_span_decontam": STREAM_SPAN_DECONTAM_ORACLE,
    "stream_daily_anomaly": _stream_daily_anomaly_oracle(),
    "stream_event_transitions": _stream_event_transitions_oracle(),
    "stream_hot_items": STREAM_HOT_ITEMS_ORACLE,
    "stream_mktseg_revenue": STREAM_MKTSEG_REVENUE_ORACLE,
    "stream_corpus_ingest": STREAM_CORPUS_INGEST_ORACLE,
    "stream_cumulate_event_volume": _stream_cumulate_oracle(),
    "stream_user_sessions": STREAM_USER_SESSIONS_ORACLE,
    "stream_user_sessions_dynamic_gap": STREAM_USER_SESSIONS_DYNAMIC_GAP_ORACLE,
    "stream_attribution_join": ATTRIBUTION_ORACLE,
    "stream_order_timeout_states": STREAM_ORDER_TIMEOUT_ORACLE,
    "stream_tx_reconcile": STREAM_TX_RECONCILE_ORACLE,
    "stream_hot_pages": STREAM_HOT_PAGES_ORACLE,
    "stream_hot_pages_allowed_lateness": STREAM_HOT_PAGES_ALLOWED_LATENESS_ORACLE,
    "stream_hot_pages_late_rows": STREAM_HOT_PAGES_LATE_ROWS_ORACLE,
    "stream_dedup_events": STREAM_DEDUP_EVENTS_ORACLE,
}
