"""Row-pattern-recognition catalog (round 8): the MATCH_RECOGNIZE SQL
front-end's wired specialties, each as a catalog query + DuckDB oracle.

Flink exposes CEP twice — the Pattern API the reference uses
(OrderPayTimeout.java:52-64) and SQL MATCH_RECOGNIZE; these queries are
the SQL surface of the engines the Pattern-API catalog already
exercises: reluctant (lazy) quantifiers, AFTER MATCH SKIP TO FIRST/LAST
<var>, alternation ``(A|B)``, prefix-referencing DEFINE
(IterativeCondition), and ALL ROWS PER MATCH over a quantified run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_uba_spark.sources.readers import load_testdata


def _events(spark, sf_dir):
    return load_testdata(spark, sf_dir, ("events",))["events"]


def match_recognize_reluctant_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S E{1,3}? P)`` — a RELUCTANT quantifier under the SQL
    default ``AFTER MATCH SKIP PAST LAST ROW``: the lazy run binds as FEW
    error repetitions as admissible while still completing (ISO 9075-2's
    reluctant preference; the greedy twin match_recognize_error_run binds
    the longest run), then the non-overlap fold segments episodes.
    Compiled by the count-enumeration engine
    ``pattern_detect_reluctant_enum`` (round 9; bit-equal to the r8
    per-count union, one session pass instead of one plan per count)
    with the earliest-completion preference pick per anchor."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


MATCH_RECOGNIZE_RELUCTANT_LAZY_ORACLE = """
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
         row_number() OVER ws AS rn, count(*) OVER wf AS cnt
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
ms AS (SELECT * FROM (VALUES (1), (2), (3)) AS t(m)),
-- per count m: the anchor binds the earliest entry whose session still
-- holds >= m repetitions (times(m, m): an entry with fewer rows is not a
-- valid m-binding and the previous step binds the next valid entry)
ent AS (
  SELECT a.user_id, a.anchor_id, a.t1, ms.m, e.ts AS t2, e.sid, e.rn
  FROM a CROSS JOIN ms
  JOIN LATERAL (
    SELECT r.ts, r.sid, r.rn FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
      AND r.cnt - r.rn + 1 >= ms.m
    ORDER BY r.ts, r.event_id LIMIT 1) e ON TRUE
),
lastrep AS (
  SELECT ent.*, r2.ts AS t2_last
  FROM ent JOIN runs r2
    ON r2.user_id = ent.user_id AND r2.sid = ent.sid
   AND r2.rn = ent.rn + ent.m - 1
),
pb AS (
  SELECT l.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = l.user_id
       AND p.ts >= l.t2_last) AS t3
  FROM lastrep l
),
cand0 AS (
  SELECT user_id, anchor_id, t1, m, t2, t2_last, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = pb.user_id AND p.ts = pb.t3) AS end_id
  FROM pb
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
-- lazy (reluctant) preference: per anchor the candidate completing
-- EARLIEST, ties to the smaller repetition count
lazy AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, anchor_id ORDER BY t3, end_id, m) AS pr
  FROM cand0
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, m, t3, end_id,
         row_number() OVER (
             PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM lazy WHERE pr = 1
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
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS E_ts,
       c.t2_last AS E_last_ts, CAST(c.m AS BIGINT) AS E_n,
       c.t3 AS P_ts, c.end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_skip_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``AFTER MATCH SKIP TO FIRST C`` on ``PATTERN (S C P)`` — after a
    match emits, matching resumes AT the bound click (not past the last
    row): anchors at-or-past the click survive, so adjacent episodes may
    share a tail the SKIP PAST LAST fold would discard. Served by
    ``after_match_skip_to_first`` over the engine's per-step event ids
    (plain chains bind one event per variable, so FIRST ≡ LAST)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


MATCH_RECOGNIZE_SKIP_TO_FIRST_ORACLE = """
WITH RECURSIVE
a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
c2 AS (
  SELECT a.*, c.ts AS t2, c.event_id AS i2
  FROM a JOIN LATERAL (
    SELECT ts, event_id FROM events c
    WHERE c.event_type = 'click' AND c.user_id = a.user_id AND c.ts >= a.t1
    ORDER BY c.ts, c.event_id LIMIT 1) c ON TRUE
),
c3 AS (
  SELECT c2.*, p.ts AS t3, p.event_id AS i3
  FROM c2 JOIN LATERAL (
    SELECT ts, event_id FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = c2.user_id
      AND p.ts >= c2.t2
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, i1, t2, i2) AS r
  FROM c3
  WHERE t2 <= t1 + INTERVAL 6 HOUR AND t3 <= t2 + INTERVAL 24 HOUR
),
-- SKIP TO FIRST C replay: a candidate survives iff its anchor is
-- AT-OR-PAST the running horizon (Flink's "started before" clause is
-- strict, so >= here); emitting advances the horizon to the bound click
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS h_ts,
         CAST(-1 AS BIGINT) AS h_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.i1) >= (s.h_ts, s.h_id)
                AND (c.t2, c.i2) > (s.h_ts, s.h_id)
              THEN c.t2 ELSE s.h_ts END,
         CASE WHEN (c.t1, c.i1) >= (s.h_ts, s.h_id)
                AND (c.t2, c.i2) > (s.h_ts, s.h_id)
              THEN c.i2 ELSE s.h_id END,
         (c.t1, c.i1) >= (s.h_ts, s.h_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.i1 AS anchor_id, c.t1 AS S_ts, c.t2 AS C_ts,
       c.t3 AS P_ts, c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S (C|V) P)`` — ISO 9075-2 alternation with the
    leftmost-alternative preference: per anchor the click branch wins if
    both complete; the CLASSIFIER() column names the bound member.
    Compiled as one pattern_detect plan per alternative, unioned (the
    pattern_detect_branching construction), then the SKIP PAST LAST
    fold."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_ALTERNATION_ORACLE = """
WITH RECURSIVE
a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
br AS (SELECT 0 AS b, 'C' AS cls, 'click' AS mid
       UNION ALL SELECT 1, 'V', 'view'),
m2 AS (
  SELECT a.*, br.b, br.cls, e.ts AS t2, e.event_id AS i2
  FROM a CROSS JOIN br
  JOIN LATERAL (
    SELECT ts, event_id FROM events e
    WHERE e.event_type = br.mid AND e.user_id = a.user_id AND e.ts >= a.t1
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
),
m3 AS (
  SELECT m2.*, p.ts AS t3, p.event_id AS i3
  FROM m2 JOIN LATERAL (
    SELECT ts, event_id FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = m2.user_id
      AND p.ts >= m2.t2
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
  WHERE m2.t2 <= m2.t1 + INTERVAL 6 HOUR
),
ok AS (SELECT * FROM m3 WHERE t3 <= t2 + INTERVAL 24 HOUR),
-- leftmost-alternative preference: lowest branch index that matched
pref AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, i1 ORDER BY b) AS pr
  FROM ok
),
cand AS (
  SELECT user_id, i1, t1, b, cls, t2, i2, t3, i3,
         row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, i1) AS r
  FROM pref WHERE pr = 1
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
)
SELECT c.user_id, c.i1 AS anchor_id, c.t1 AS S_ts,
       CASE WHEN c.cls = 'C' THEN c.t2 END AS C_ts,
       CASE WHEN c.cls = 'V' THEN c.t2 END AS V_ts,
       c.t3 AS P_ts, c.cls AS classifier_2, c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_all_rows_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S (C|V) P) ... ALL ROWS PER MATCH`` (round 9 second
    pass; r9 first pass raised on every specialty): one output row per
    BOUND EVENT of the winning branch, CLASSIFIER() naming each row's
    variable — the leftmost-alternative preference and SKIP PAST LAST
    fold run on the branch union first, then a stateless explode of the
    branch's compile-time (seq, var) projection."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        after_match="skip_past_last",
        rows_per_match="all",
    )


MATCH_RECOGNIZE_ALL_ROWS_ALTERNATION_ORACLE = """
WITH RECURSIVE
a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
br AS (SELECT 0 AS b, 'C' AS cls, 'click' AS mid
       UNION ALL SELECT 1, 'V', 'view'),
m2 AS (
  SELECT a.*, br.b, br.cls, e.ts AS t2, e.event_id AS i2
  FROM a CROSS JOIN br
  JOIN LATERAL (
    SELECT ts, event_id FROM events e
    WHERE e.event_type = br.mid AND e.user_id = a.user_id AND e.ts >= a.t1
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
),
m3 AS (
  SELECT m2.*, p.ts AS t3, p.event_id AS i3
  FROM m2 JOIN LATERAL (
    SELECT ts, event_id FROM events p
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
cand AS (
  SELECT user_id, i1, t1, b, cls, t2, i2, t3, i3,
         row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, i1) AS r
  FROM pref WHERE pr = 1
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
kept AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
)
SELECT user_id, i1 AS anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       i1 AS event_id, t1 AS ts FROM kept
UNION ALL
SELECT user_id, i1, CAST(2 AS BIGINT), cls, i2, t2 FROM kept
UNION ALL
SELECT user_id, i1, CAST(3 AS BIGINT), 'P', i3, t3 FROM kept
"""


def match_recognize_prev_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO PHYSICAL navigation in DEFINE — ``DEFINE R AS R.cents >
    PREV(R.cents)`` (round 9 second pass): PREV(n) reads the
    partition's previous ROW, so it compiles to a window ``lag`` on the
    MATCH_RECOGNIZE input BEFORE classification — the value is a plain
    column by the time DEFINE sees it (Flink compiles PREV the same
    way: a physical offset over the ordered input, unlike the
    bound-variable LOGICAL navigation iter_define serves). The query:
    rising-price purchase streaks — any purchase anchors, then a run of
    2-4 purchases each pricier than its PREDECESSOR purchase, SKIP PAST
    LAST segmenting streaks (also exercising the trailing-run fold on a
    rank-overlapping input: every row matches the anchor step too)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("cents", cents).withColumn(
        "prev_cents", F.lag("cents").over(w)
    )
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="B R{2,4}",
        define={
            "B": F.lit(True),
            "R": F.col("cents") > F.col("prev_cents"),
        },
        default_within="INTERVAL 7 DAYS",
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_PREV_NAVIGATION_ORACLE = """
WITH RECURSIVE
p AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         lag(CAST(floor(value * 100) AS BIGINT)) OVER w AS prev_cents
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r0 AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w2 IS NULL
                OR ts > lag(ts) OVER w2 + INTERVAL 7 DAY THEN 1 ELSE 0 END AS ns
  FROM p WHERE cents > prev_cents
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM r0
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
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM p),
-- EVERY row matches the anchor step, so every row's rank is step 1 and
-- the entry must sit strictly after the anchor in plain (ts, id) order;
-- times(2, 4): entries with fewer than 2 reachable reps are skipped
ent AS (
  SELECT a.user_id, a.anchor_id, a.t1, e.ts AS t2, e.last_ts AS t2_last,
         CAST(e.n_reps AS BIGINT) AS e_n, e.last_id AS end_id
  FROM a
  JOIN LATERAL (
    SELECT r.ts, r.last_ts, r.last_id, r.n_reps FROM runs r
    WHERE r.user_id = a.user_id
      AND (r.ts > a.t1 OR (r.ts = a.t1 AND r.event_id > a.anchor_id))
      AND r.cnt - r.rn + 1 >= 2
    ORDER BY r.ts, r.event_id LIMIT 1) e ON TRUE
  WHERE e.ts <= a.t1 + INTERVAL 7 DAY
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
SELECT c.user_id, c.anchor_id, c.t1 AS B_ts, c.t2 AS R_ts,
       c.t2_last AS R_last_ts, c.e_n AS R_n, c.end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_within_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's OVERALL within on MATCH_RECOGNIZE (round 9 second pass) —
    SQL ``PATTERN (S C P) WITHIN INTERVAL '12' HOUR`` /
    ``Pattern.within(Time.hours(12))``: the match's END must sit within
    the bound of the ANCHOR, on top of the per-transition withins.
    Violating candidates are not matches, so they prune BEFORE the SKIP
    PAST LAST fold — a pruned candidate never advances the skip
    horizon, which can let a LATER overlapping candidate emit (the
    corner the oracle pins)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE = """
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
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS C_ts, c.t3 AS P_ts,
       c.end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-referencing DEFINE — SQL's ``DEFINE P AS P.cents >=
    S.cents`` (Flink's IterativeCondition reached through
    MATCH_RECOGNIZE): signup → click (6 h) → purchase (24 h) whose value
    recovers at least the signup's, the condition evaluated BEFORE
    binding (a cheaper purchase is SKIPPED and the search continues).
    Served by ``pattern_detect_iterative`` through the front-end's
    ``iter_define`` binder; amounts are exact integer cents."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        iter_define={"P": lambda b: b["P"]["cents"] >= b["S"]["cents"]},
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_ITERATIVE_ORACLE = """
WITH RECURSIVE
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
-- the iterative condition is part of CANDIDACY: purchases cheaper than
-- the signup are skipped and the search continues inside the band
s3 AS (
  SELECT s2.*, p.ts AS t3, p.event_id AS i3, p.c3
  FROM s2 JOIN LATERAL (
    SELECT ts, event_id, CAST(floor(value * 100) AS BIGINT) AS c3
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = s2.user_id
      AND p.ts >= s2.t2 AND p.ts <= s2.t2 + INTERVAL 24 HOUR
      AND CAST(floor(p.value * 100) AS BIGINT) >= s2.c1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, i1) AS r
  FROM s3
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
)
SELECT c.user_id, c.i1 AS anchor_id, c.t1 AS S_ts, c.t2 AS C_ts,
       c.t3 AS P_ts, c.c1 AS cents_S, c.c2 AS cents_C, c.c3 AS cents_P,
       c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_all_rows_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALL ROWS PER MATCH`` over a prefix-referencing DEFINE (round 9
    second pass; ALL ROWS previously composed with the single-plan path
    and alternation only): the iterative join compile finds the matches
    — purchases recovering at least the signup's amount are part of
    CANDIDACY, not a post-filter — then the per-event rows are a
    stateless explode of the plain chain's (seq, var) layout."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        iter_define={"P": lambda b: b["P"]["cents"] >= b["S"]["cents"]},
        after_match="skip_past_last",
        rows_per_match="all",
    )


MATCH_RECOGNIZE_ALL_ROWS_ITERATIVE_ORACLE = """
WITH RECURSIVE
a AS (SELECT user_id, event_id AS i1, ts AS t1,
             CAST(floor(value * 100) AS BIGINT) AS c1
      FROM events WHERE event_type = 'signup'),
s2 AS (
  SELECT a.*, c.ts AS t2, c.event_id AS i2
  FROM a JOIN LATERAL (
    SELECT ts, event_id
    FROM events c
    WHERE c.event_type = 'click' AND c.user_id = a.user_id
      AND c.ts >= a.t1 AND c.ts <= a.t1 + INTERVAL 6 HOUR
    ORDER BY c.ts, c.event_id LIMIT 1) c ON TRUE
),
s3 AS (
  SELECT s2.*, p.ts AS t3, p.event_id AS i3
  FROM s2 JOIN LATERAL (
    SELECT ts, event_id
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = s2.user_id
      AND p.ts >= s2.t2 AND p.ts <= s2.t2 + INTERVAL 24 HOUR
      AND CAST(floor(p.value * 100) AS BIGINT) >= s2.c1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, i1) AS r
  FROM s3
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
kept AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
)
SELECT user_id, i1 AS anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       i1 AS event_id, t1 AS ts FROM kept
UNION ALL
SELECT user_id, i1, CAST(2 AS BIGINT), 'C', i2, t2 FROM kept
UNION ALL
SELECT user_id, i1, CAST(3 AS BIGINT), 'P', i3, t3 FROM kept
"""


def match_recognize_all_rows_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALL ROWS PER MATCH`` over a QUANTIFIED variable — ``PATTERN
    (S E{1,3} P)``: every bound event of each non-overlapping episode
    emits its own row, the error RUN enumerated one row per repetition
    (round 8; the r7 front-end raised on quantified vars). The run is the
    ``n``-prefix of the step's rows from the bound entry, recovered by a
    band join back to the input."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


MATCH_RECOGNIZE_ALL_ROWS_RUN_ORACLE = """
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
  SELECT user_id, event_id, ts,
         COALESCE(lead(ts, 2) OVER ws, max(ts) OVER wf) AS run_last,
         LEAST(3, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
a2 AS (
  SELECT a.*, r.ts AS t2, r.event_id AS i2, r.run_last AS t2_last,
         r.n_reps AS n2
  FROM a JOIN LATERAL (
    SELECT ts, run_last, n_reps, event_id FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, i2, t2_last, n2, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
  SELECT c.* FROM sel s
  JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
)
SELECT user_id, anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       anchor_id AS event_id, t1 AS ts
FROM m
UNION ALL
-- the quantified run: the n-prefix of the step's rows from the bound
-- entry in (ts, id) order
SELECT m.user_id, m.anchor_id, CAST(2 AS BIGINT), 'E', e.event_id, e.ts
FROM m JOIN LATERAL (
  SELECT event_id, ts FROM sess e
  WHERE e.user_id = m.user_id
    AND (e.ts > m.t2 OR (e.ts = m.t2 AND e.event_id >= m.i2))
    AND e.ts <= m.t2_last
  ORDER BY e.ts, e.event_id LIMIT 3) e ON TRUE
UNION ALL
SELECT user_id, anchor_id, CAST(3 AS BIGINT), 'P', end_id, t3
FROM m
"""


def match_recognize_permute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S PERMUTE(C,E) P)`` — ISO 9075-2 PERMUTE (round 8):
    click and error must BOTH occur between signup and purchase, in
    either order; PERMUTE expands to the alternation of all orderings in
    listed order, so (C,E) is preferred when both complete. CLASSIFIER
    records the bound ordering. One pattern_detect plan per permutation,
    unioned, then the SKIP PAST LAST fold."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_PERMUTE_ORACLE = """
WITH RECURSIVE
a AS (SELECT user_id, event_id AS i1, ts AS t1 FROM events
      WHERE event_type = 'signup'),
br AS (SELECT 0 AS b, 'click' AS m1, 'error' AS m2
       UNION ALL SELECT 1, 'error', 'click'),
s2 AS (
  SELECT a.*, br.b, br.m1, br.m2, e.ts AS t2, e.event_id AS i2
  FROM a CROSS JOIN br
  JOIN LATERAL (
    SELECT ts, event_id FROM events e
    WHERE e.event_type = br.m1 AND e.user_id = a.user_id AND e.ts >= a.t1
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
),
s3 AS (
  SELECT s2.*, e.ts AS t3, e.event_id AS i3
  FROM s2 JOIN LATERAL (
    SELECT ts, event_id FROM events e
    WHERE e.event_type = s2.m2 AND e.user_id = s2.user_id AND e.ts >= s2.t2
    ORDER BY e.ts, e.event_id LIMIT 1) e ON TRUE
  WHERE s2.t2 <= s2.t1 + INTERVAL 6 HOUR
),
s4 AS (
  SELECT s3.*, p.ts AS t4, p.event_id AS i4
  FROM s3 JOIN LATERAL (
    SELECT ts, event_id FROM events p
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
cand AS (
  SELECT user_id, i1, t1, b, t2, t3, t4, i4,
         row_number() OVER (PARTITION BY user_id
             ORDER BY t4, i4, t1, i1) AS r
  FROM pref WHERE pr = 1
),
sel AS (
  SELECT user_id, 0 AS r, TIMESTAMP '1900-01-01' AS le_ts,
         CAST(-1 AS BIGINT) AS le_id, FALSE AS kept
  FROM (SELECT DISTINCT user_id FROM cand)
  UNION ALL
  SELECT c.user_id, c.r,
         CASE WHEN (c.t1, c.i1) > (s.le_ts, s.le_id)
              THEN c.t4 ELSE s.le_ts END,
         CASE WHEN (c.t1, c.i1) > (s.le_ts, s.le_id)
              THEN c.i4 ELSE s.le_id END,
         (c.t1, c.i1) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.i1 AS anchor_id, c.t1 AS S_ts,
       CASE WHEN c.b = 0 THEN c.t2 ELSE c.t3 END AS C_ts,
       CASE WHEN c.b = 0 THEN c.t3 ELSE c.t2 END AS E_ts,
       c.t4 AS P_ts,
       CASE WHEN c.b = 0 THEN 'C,E' ELSE 'E,C' END AS classifier_2,
       c.i4 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_all_rows_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALL ROWS PER MATCH`` with an EXCLUSION — ``PATTERN
    (S {- E{1,3} -} P)`` (round 8): the error run must still occur (it
    gates matching exactly as in match_recognize_all_rows_run) but its
    rows are excluded from the output — ISO exclusion is pure output
    shaping. Emits the S and P rows of each non-overlapping episode."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S {-E{1,3}-} P",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="skip_past_last",
        rows_per_match="all",
    )


MATCH_RECOGNIZE_ALL_ROWS_EXCLUDED_ORACLE = """
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
  SELECT user_id, event_id, ts,
         COALESCE(lead(ts, 2) OVER ws, max(ts) OVER wf) AS run_last
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
a2 AS (
  SELECT a.*, r.ts AS t2, r.run_last AS t2_last
  FROM a JOIN LATERAL (
    SELECT ts, run_last FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
  SELECT c.* FROM sel s
  JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
)
SELECT user_id, anchor_id, CAST(1 AS BIGINT) AS seq, 'S' AS var,
       anchor_id AS event_id, t1 AS ts
FROM m
UNION ALL
SELECT user_id, anchor_id, CAST(3 AS BIGINT), 'P', end_id, t3
FROM m
"""


def match_recognize_anchored_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO partition anchor ``^`` (round 8): ``PATTERN (^ S P)`` — users
    whose FIRST-ever event is a signup, converting to a purchase within
    30 days. The anchor is a pure candidate filter against the
    partition's (ts, id)-first row — matching semantics unchanged;
    batch-only (a partition's extremes are unknowable on an unbounded
    stream)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="^ S P",
        define={
            "S": F.col("event_type") == "signup",
            "P": F.col("event_type") == "purchase",
        },
        withins={"P": "INTERVAL 30 DAYS"},
        after_match="no_skip",
    )


MATCH_RECOGNIZE_ANCHORED_START_ORACLE = """
WITH ext AS (
  SELECT user_id, min(struct_pack(ts := ts, id := event_id)) AS firstrow
  FROM events GROUP BY user_id
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
c2 AS (
  SELECT a.*, p.ts AS t2
  FROM a JOIN LATERAL (
    SELECT ts FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = a.user_id
      AND p.ts >= a.t1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
)
SELECT c2.user_id, c2.anchor_id, c2.t1 AS S_ts, c2.t2 AS P_ts
FROM c2 JOIN ext ON ext.user_id = c2.user_id
WHERE c2.t2 <= c2.t1 + INTERVAL 30 DAY
  AND c2.anchor_id = ext.firstrow.id
"""


def match_recognize_anchored_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO partition anchor ``$`` (round 8): ``PATTERN (S P $)`` — a
    signup whose earliest following purchase IS the user's LAST-ever
    event (the partition closes on the conversion). Exercises the
    end-anchor path: the engine binds with_end_id and filters candidates
    against the partition's (ts, id)-last row."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S P $",
        define={
            "S": F.col("event_type") == "signup",
            "P": F.col("event_type") == "purchase",
        },
        withins={},
        default_within=None,
        after_match="no_skip",
    )


MATCH_RECOGNIZE_ANCHORED_END_ORACLE = """
WITH ext AS (
  SELECT user_id, max(struct_pack(ts := ts, id := event_id)) AS lastrow
  FROM events GROUP BY user_id
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
c2 AS (
  SELECT a.*, p.ts AS t2, p.event_id AS i2
  FROM a JOIN LATERAL (
    SELECT ts, event_id FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = a.user_id
      AND p.ts >= a.t1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
)
SELECT c2.user_id, c2.anchor_id, c2.t1 AS S_ts, c2.t2 AS P_ts
FROM c2 JOIN ext ON ext.user_id = c2.user_id
WHERE c2.i2 = ext.lastrow.id
"""


def match_recognize_measures_run_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation in MEASURES over a quantified run (round 9)
    — ISO 9075-2's ``SUM(E.cents)`` / ``COUNT(E.*)`` / ``MAX(E.cents)``
    / ``FIRST(E.cents)`` / ``LAST(E.cents)`` on ``PATTERN (S E{1,3} P)
    AFTER MATCH SKIP PAST LAST ROW`` — the SQL twin of Flink's
    ``ctx.getEventsForPattern("E")`` folds. The run members are
    recovered by one band join of the matches to the input (membership =
    the n-prefix of the step's rows from the bound entry), and one
    aggregate over the matches computes every measure, with no join
    back."""
    from flink_uba_spark.operators.match_recognize import (
        match_recognize,
        run_agg,
    )

    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return match_recognize(
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


MATCH_RECOGNIZE_MEASURES_RUN_AGG_ORACLE = """
WITH RECURSIVE
err AS (
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
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, n2, sid, rn, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
kept AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
),
-- run members: the n2-length rn-window of the bound entry's session
agg AS (
  SELECT k.user_id, k.anchor_id,
         CAST(count(*) AS BIGINT) AS err_cnt,
         CAST(sum(m.cents) AS BIGINT) AS err_sum_cents,
         CAST(max(m.cents) AS BIGINT) AS err_max_cents,
         CAST(min(CASE WHEN m.rn = k.rn THEN m.cents END) AS BIGINT)
           AS err_first_cents,
         CAST(min(CASE WHEN m.rn = k.rn + k.n2 - 1 THEN m.cents END) AS BIGINT)
           AS err_last_cents
  FROM kept k JOIN runs m
    ON m.user_id = k.user_id AND m.sid = k.sid
   AND m.rn BETWEEN k.rn AND k.rn + k.n2 - 1
  GROUP BY k.user_id, k.anchor_id
)
SELECT k.user_id, k.anchor_id, k.t1 AS S_ts, k.t3 AS P_ts,
       CAST(k.n2 AS BIGINT) AS E_n,
       g.err_cnt, g.err_sum_cents, g.err_max_cents,
       g.err_first_cents, g.err_last_cents, k.end_id
FROM kept k JOIN agg g
  ON g.user_id = k.user_id AND g.anchor_id = k.anchor_id
"""


def match_recognize_subset_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSET union variables (round 9 second pass) — ISO 9075-2's
    ``SUBSET U = (S, E, P)`` consumed by MEASURES aggregates:
    ``SUM(U.cents)`` / ``COUNT(U.*)`` / ``FIRST(U.cents, 1)`` /
    ``LAST(U.cents, 1)`` over the UNION of the members' bound rows in
    (ts, id) row order — plain members contribute their bound row,
    the quantified member its whole run. Same match shape as
    match_recognize_measures_run_agg (PATTERN (S E{1,3} P), SKIP PAST
    LAST), so the union is anchor + run + suffix; the offset probes
    (second member / second-from-last) are genuinely order-sensitive
    across the member boundary."""
    from flink_uba_spark.operators.match_recognize import (
        match_recognize,
        run_agg,
    )

    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return match_recognize(
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
            "u_second_cents": run_agg("first", "U", cents, 1),
            "u_penult_cents": run_agg("last", "U", cents, 1),
            "end_id": F.col("end_id"),
        },
    )


MATCH_RECOGNIZE_SUBSET_AGG_ORACLE = """
WITH RECURSIVE
err AS (
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
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, n2, sid, rn, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
kept AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
),
-- SUBSET U = (S, E, P): the union of the members' bound rows — the
-- anchor row, the run's n2-length rn-window, and the suffix row
mem AS (
  SELECT k.user_id, k.anchor_id, e.ts, e.event_id,
         CAST(floor(e.value * 100) AS BIGINT) AS cents
  FROM kept k JOIN events e
    ON e.user_id = k.user_id AND e.event_id = k.anchor_id
  UNION ALL
  SELECT k.user_id, k.anchor_id, m.ts, m.event_id, m.cents
  FROM kept k JOIN runs m
    ON m.user_id = k.user_id AND m.sid = k.sid
   AND m.rn BETWEEN k.rn AND k.rn + k.n2 - 1
  UNION ALL
  SELECT k.user_id, k.anchor_id, e.ts, e.event_id,
         CAST(floor(e.value * 100) AS BIGINT)
  FROM kept k JOIN events e
    ON e.user_id = k.user_id AND e.event_id = k.end_id
),
ranked AS (
  SELECT *, row_number() OVER (
             PARTITION BY user_id, anchor_id ORDER BY ts, event_id) AS r2,
         count(*) OVER (PARTITION BY user_id, anchor_id) AS c2
  FROM mem
),
agg AS (
  SELECT user_id, anchor_id,
         CAST(count(*) AS BIGINT) AS u_cnt,
         CAST(sum(cents) AS BIGINT) AS u_sum_cents,
         CAST(min(CASE WHEN r2 = 2 THEN cents END) AS BIGINT)
           AS u_second_cents,
         CAST(min(CASE WHEN r2 = c2 - 1 THEN cents END) AS BIGINT)
           AS u_penult_cents
  FROM ranked GROUP BY user_id, anchor_id
)
SELECT k.user_id, k.anchor_id, k.t1 AS S_ts, k.t3 AS P_ts,
       CAST(k.n2 AS BIGINT) AS E_n,
       g.u_cnt, g.u_sum_cents, g.u_second_cents, g.u_penult_cents,
       k.end_id
FROM kept k JOIN agg g
  ON g.user_id = k.user_id AND g.anchor_id = k.anchor_id
"""


def match_recognize_quantified_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified alternation group (round 9) — ``PATTERN (S (C|V){1,3}
    P)``: a signup, then a greedy run of 1-3 engagement events where
    EACH repetition may be a click OR a view (ISO 9075-2's
    per-repetition alternative choice — NOT a branch union), then a
    purchase. Compiled to ONE OR-predicate Kleene step on the
    single-plan path; SKIP PAST LAST segments episodes."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S (C|V){1,3} P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "V": F.col("event_type") == "view",
            "P": F.col("event_type") == "purchase",
        },
        withins={
            "C": "INTERVAL 2 HOURS",
            "V": "INTERVAL 2 HOURS",
            "P": "INTERVAL 24 HOURS",
        },
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_QUANTIFIED_GROUP_ORACLE = """
WITH RECURSIVE
eng AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 2 HOUR THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type IN ('click', 'view')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM eng
),
runs AS (
  SELECT user_id, event_id, ts,
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
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, n2, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 2 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS C_V_ts,
       c.t2_last AS C_V_last_ts, CAST(c.n2 AS BIGINT) AS C_V_n,
       c.t3 AS P_ts, c.end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_group_run_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RunAgg over a QUANTIFIED GROUP's run (round 9 second pass) —
    ``PATTERN (S (C|V){1,3} P)`` with ``SUM/COUNT/MAX(U.cents)`` where U
    is the group: the run's admission predicate is the OR of the
    members' DEFINEs (the same OR-Kleene step the single-plan compile
    built), so the band join recovers every repetition regardless of
    which member matched it."""
    from flink_uba_spark.operators.match_recognize import (
        match_recognize,
        run_agg,
    )

    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S (C|V){1,3} P",
        define={
            "S": F.col("event_type") == "signup",
            "C": F.col("event_type") == "click",
            "V": F.col("event_type") == "view",
            "P": F.col("event_type") == "purchase",
        },
        withins={
            "C": "INTERVAL 2 HOURS",
            "V": "INTERVAL 2 HOURS",
            "P": "INTERVAL 24 HOURS",
        },
        after_match="skip_past_last",
        measures={
            "anchor_id": F.col("anchor_id"),
            "S_ts": F.col("S_ts"),
            "P_ts": F.col("P_ts"),
            "run_n": F.col("C_V_n"),
            "run_cnt": run_agg("count", "C_V"),
            "run_sum_cents": run_agg("sum", "C_V", cents),
            "run_max_cents": run_agg("max", "C_V", cents),
            "end_id": F.col("end_id"),
        },
    )


MATCH_RECOGNIZE_GROUP_RUN_AGG_ORACLE = """
WITH RECURSIVE
eng AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 2 HOUR THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type IN ('click', 'view')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, cents,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM eng
),
runs AS (
  SELECT user_id, event_id, ts, cents, sid,
         row_number() OVER ws AS rn,
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
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
       AND p.ts >= a2.t2_last) AS t3
  FROM a2
),
cand0 AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, n2, sid, rn, t3,
         (SELECT min(p.event_id) FROM events p WHERE p.event_type = 'purchase'
            AND p.user_id = a3.user_id AND p.ts = a3.t3) AS end_id
  FROM a3
  WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 2 HOUR
    AND t3 <= t2_last + INTERVAL 24 HOUR
),
cand AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY t3, end_id, t1, anchor_id) AS r
  FROM cand0
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
kept AS (
  SELECT c.* FROM sel s JOIN cand c
    ON c.user_id = s.user_id AND c.r = s.r
  WHERE s.kept
),
agg AS (
  SELECT k.user_id, k.anchor_id,
         CAST(count(*) AS BIGINT) AS run_cnt,
         CAST(sum(m.cents) AS BIGINT) AS run_sum_cents,
         CAST(max(m.cents) AS BIGINT) AS run_max_cents
  FROM kept k JOIN runs m
    ON m.user_id = k.user_id AND m.sid = k.sid
   AND m.rn BETWEEN k.rn AND k.rn + k.n2 - 1
  GROUP BY k.user_id, k.anchor_id
)
SELECT k.user_id, k.anchor_id, k.t1 AS S_ts, k.t3 AS P_ts,
       CAST(k.n2 AS BIGINT) AS run_n,
       g.run_cnt, g.run_sum_cents, g.run_max_cents, k.end_id
FROM kept k JOIN agg g
  ON g.user_id = k.user_id AND g.anchor_id = k.anchor_id
"""


def match_recognize_iterative_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iter_define + a quantified variable (round 9 — the routing-matrix
    lift): ``PATTERN (S E{1,3} P) DEFINE E AS E.cents < S.cents, P AS
    P.cents >= S.cents``. The iterative condition admits the error RUN's
    ENTRY (cheaper than the signup; non-qualifying errors are skipped
    and the search continues), the run then follows the 12 h gap session
    capped at 3, and the purchase must recover the signup's value.
    Served by ``pattern_detect_iterative``'s session-refined run step —
    the iterative join compile with a Kleene entries leg."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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
        payload={"cents": F.floor(F.col("value") * 100).cast("long")},
        iter_define={
            "E": lambda b: b["E"]["cents"] < b["S"]["cents"],
            "P": lambda b: b["P"]["cents"] >= b["S"]["cents"],
        },
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_ITERATIVE_RUN_ORACLE = """
WITH RECURSIVE
err AS (
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
  SELECT user_id, event_id, ts, cents,
         COALESCE(lead(ts, 2) OVER ws, max(ts) OVER wf) AS run_last,
         LEAST(3, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1,
             CAST(floor(value * 100) AS BIGINT) AS c1
      FROM events WHERE event_type = 'signup'),
-- the iterative condition is part of CANDIDACY: entries at least as
-- expensive as the signup are skipped and the search continues inside
-- the admission band (the within is part of the iterative join, unlike
-- the single-plan engine's classify-only bounds)
a2 AS (
  SELECT a.*, r.ts AS t2, r.run_last AS t2_last, r.n_reps AS n2,
         r.cents AS c2
  FROM a JOIN LATERAL (
    SELECT ts, run_last, n_reps, cents, event_id FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
      AND r.ts <= a.t1 + INTERVAL 12 HOUR
      AND r.cents < a.c1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
),
a3 AS (
  SELECT a2.*, p.ts AS t3, p.event_id AS i3, p.c3
  FROM a2 JOIN LATERAL (
    SELECT ts, event_id, CAST(floor(value * 100) AS BIGINT) AS c3
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
      AND p.ts >= a2.t2_last AND p.ts <= a2.t2_last + INTERVAL 24 HOUR
      AND CAST(floor(p.value * 100) AS BIGINT) >= a2.c1
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, anchor_id) AS r
  FROM a3
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
              THEN c.i3 ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS E_ts,
       c.t2_last AS E_last_ts, CAST(c.n2 AS BIGINT) AS E_n, c.t3 AS P_ts,
       c.c1 AS cents_S, c.c2 AS cents_E, c.c3 AS cents_P, c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_reluctant_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped reluctant ``E+?`` (round 9 — the lifted raise):
    ``PATTERN (S E+? P) AFTER MATCH NO SKIP`` emits one row per
    ADMISSIBLE repetition count per anchor with NO finite cap — Flink
    CEP's default (non-greedy) oneOrMore multi-match. Served by the
    count-enumeration engine (``pattern_detect_reluctant_enum``): one
    session pass derives every count's binding, where the per-count
    plan union needed a finite cap and one plan per count. The 12 h
    repetition gap bounds per-anchor emission (the uncapped rule)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S E+? P",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
            "P": F.col("event_type") == "purchase",
        },
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
        after_match="no_skip",
    )


MATCH_RECOGNIZE_RELUCTANT_UNCAPPED_ORACLE = """
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
  SELECT user_id, event_id, ts, sid,
         row_number() OVER ws AS rn, count(*) OVER wf AS cnt
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
-- every count up to the longest run is admissible somewhere; per
-- (anchor, m) the binding is the earliest entry whose session still
-- holds >= m repetitions (the times(m, m) validity rule)
ms AS (SELECT unnest(generate_series(1,
         GREATEST((SELECT max(cnt) FROM runs), 1))) AS m),
ent AS (
  SELECT a.user_id, a.anchor_id, a.t1, ms.m, e.ts AS t2, e.sid, e.rn
  FROM a CROSS JOIN ms
  JOIN LATERAL (
    SELECT r.ts, r.sid, r.rn FROM runs r
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
      AND r.cnt - r.rn + 1 >= ms.m
    ORDER BY r.ts, r.event_id LIMIT 1) e ON TRUE
),
lastrep AS (
  SELECT ent.*, r2.ts AS t2_last
  FROM ent JOIN runs r2
    ON r2.user_id = ent.user_id AND r2.sid = ent.sid
   AND r2.rn = ent.rn + ent.m - 1
),
pb AS (
  SELECT l.*, (SELECT min(p.ts) FROM events p
     WHERE p.event_type = 'purchase' AND p.user_id = l.user_id
       AND p.ts >= l.t2_last) AS t3
  FROM lastrep l
)
SELECT user_id, anchor_id, t1 AS S_ts, t2 AS E_ts, t2_last AS E_last_ts,
       CAST(m AS BIGINT) AS E_n, t3 AS P_ts
FROM pb
WHERE t3 IS NOT NULL AND t2 <= t1 + INTERVAL 12 HOUR
  AND t3 <= t2_last + INTERVAL 24 HOUR
"""


def match_recognize_trailing_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S E+)`` under ``AFTER MATCH SKIP PAST LAST ROW`` — a
    GREEDY quantifier on the FINAL pattern variable (round 9 second
    pass; previously a validated front-end raise): the match's end is
    the run's LAST repetition, which the engine surfaces as ``end_id``
    (``il{n}`` — the same lead/session-last probe as ``t{n}_last``), and
    the non-overlap fold walks (t_last, end_id). Run-last ends are
    monotone in anchor order under skip-till-next, so the fold's
    completion-order replay is exactly ISO's row-order scan. The shape
    is Flink's "signup followed by its whole error burst" episode
    segmentation (OrderPayTimeout.java:52-64's chain family with a
    trailing oneOrMore)."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
        ev,
        partition_by="user_id",
        order_by="ts",
        pattern="S E+",
        define={
            "S": F.col("event_type") == "signup",
            "E": F.col("event_type") == "error",
        },
        default_within="INTERVAL 12 HOURS",
        after_match="skip_past_last",
    )


MATCH_RECOGNIZE_TRAILING_RUN_ORACLE = """
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
         last_value(ts) OVER wl AS last_ts,
         last_value(event_id) OVER wl AS last_id
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id, sid),
         wl AS (PARTITION BY user_id, sid ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
a AS (SELECT user_id, event_id AS anchor_id, ts AS t1 FROM events
      WHERE event_type = 'signup'),
-- the uncapped greedy run: entry = earliest error at-or-after the
-- anchor; the run is the entry's session SUFFIX (extends to session end)
ent AS (
  SELECT a.user_id, a.anchor_id, a.t1, e.ts AS t2, e.last_ts AS t2_last,
         CAST(e.cnt - e.rn + 1 AS BIGINT) AS e_n, e.last_id AS end_id
  FROM a
  JOIN LATERAL (
    SELECT r.ts, r.rn, r.cnt, r.last_ts, r.last_id FROM runs r
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
-- SKIP PAST LAST: completion-order scan, keep iff the anchor is
-- strictly past the previously emitted match's run-last (ts, id)
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
"""


# ---------------------------------------------------------------------------
# SQL-TEXT surface (round 10) — the same NFAs driven from ISO clause TEXT
# via operators/match_recognize_sql.py (Flink's second CEP surface is a
# SQL string; the dict spec is the Pattern-API spelling). Each text twin
# pairs with its dict twin's oracle, so the driver gate pins
# text-parse ≡ dict-spec ≡ DuckDB on every run.
# ---------------------------------------------------------------------------


def match_recognize_sql_error_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PATTERN (S E{1,3} P)`` from SQL TEXT — the full wrapper form a
    Flink SQL user types (quantified run + SKIP PAST LAST); per-transition
    withins ride the kwarg (the Pattern-API knob ISO text cannot spell).
    Same plan as match_recognize_error_run, same oracle."""
    from flink_uba_spark.operators.match_recognize_sql import match_recognize_sql

    return match_recognize_sql(
        _events(spark, sf_dir),
        """
        SELECT * FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (S E{1,3} P)
            DEFINE S AS S.event_type = 'signup',
                   E AS E.event_type = 'error',
                   P AS P.event_type = 'purchase'
        )
        """,
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
    )


def match_recognize_sql_skip_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``AFTER MATCH SKIP TO FIRST C`` from SQL TEXT — the SKIP variant
    pin. Same plan as match_recognize_skip_to_first, same oracle."""
    from flink_uba_spark.operators.match_recognize_sql import match_recognize_sql

    return match_recognize_sql(
        _events(spark, sf_dir),
        """
        PARTITION BY user_id
        ORDER BY ts
        AFTER MATCH SKIP TO FIRST C
        PATTERN (S C P)
        DEFINE S AS S.event_type = 'signup',
               C AS C.event_type = 'click',
               P AS P.event_type = 'purchase'
        """,
        withins={"C": "INTERVAL 6 HOURS", "P": "INTERVAL 24 HOURS"},
    )


def match_recognize_sql_subset_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES run aggregates + SUBSET from SQL TEXT — ``COUNT(U.*)``,
    ``SUM/FIRST/LAST`` over value EXPRESSIONS (the ``U.``-prefixed refs
    rewrite onto the input columns), plus output-column measures
    (``S.ts`` → S_ts, bare ``anchor_id``/``E_n``/``end_id``). Same plan
    as match_recognize_subset_agg, same oracle."""
    from flink_uba_spark.operators.match_recognize_sql import match_recognize_sql

    return match_recognize_sql(
        _events(spark, sf_dir),
        """
        PARTITION BY user_id
        ORDER BY ts
        MEASURES anchor_id AS anchor_id,
                 S.ts AS S_ts,
                 P.ts AS P_ts,
                 E_n AS E_n,
                 COUNT(U.*) AS u_cnt,
                 SUM(CAST(floor(U.value * 100) AS BIGINT)) AS u_sum_cents,
                 FIRST(CAST(floor(U.value * 100) AS BIGINT), 1) AS u_second_cents,
                 LAST(CAST(floor(U.value * 100) AS BIGINT), 1) AS u_penult_cents,
                 end_id AS end_id
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S E{1,3} P)
        SUBSET U = (S, E, P)
        DEFINE S AS S.event_type = 'signup',
               E AS E.event_type = 'error',
               P AS P.event_type = 'purchase'
        """,
        withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
    )


def match_recognize_reluctant_excluded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exclusion ``{- E{1,3}? -}`` on the RELUCTANT engine (round 11 —
    the last batch exclusion cell): the lazy error run still matches
    and gates the chain, its columns just leave the ONE-row projection
    AFTER the per-count multi-match emission. Two counts binding the
    SAME purchase therefore emit as DUPLICATE (user, anchor, S_ts,
    P_ts) rows — faithful ONE-row semantics, each row is one distinct
    match. Oracle: the reluctant union-of-counts oracle, projected —
    duplicates preserved on both sides. Reference family:
    Pattern.oneOrMore (non-greedy default), OrderPayTimeout.java:52-64."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


def _reluctant_excluded_oracle() -> str:
    from flink_uba_spark.queries.behavior import PATTERN_RELUCTANT_ORACLE

    return f"""
SELECT user_id, anchor_id, t1 AS S_ts, t3 AS P_ts
FROM ({PATTERN_RELUCTANT_ORACLE})
WHERE state = 'matched'
"""


def match_recognize_mid_run_within_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MID-pattern greedy run under ``SKIP PAST LAST`` with an overall
    WITHIN — ``PATTERN (S E{1,2} P) WITHIN 30h`` (round 11; the batch
    twin of the streaming quantified-chain replayer that closed VERDICT
    r10 item 6): signup → up to two errors (12 h gap) → purchase
    (24 h of the run's last error), non-overlapping episodes, matches
    whose whole span exceeds 30 h pruned BEFORE the skip fold.
    Reference family: Pattern.times(1,2) chaining + within,
    OrderPayTimeout.java:52-64."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


# mid-run candidates (greedy min(2, session-remaining) error runs),
# the overall-WITHIN prune BEFORE the fold, then the SKIP PAST LAST
# completion-order walk — the trailing-run oracle's fold over the
# streak oracle's session machinery
MATCH_RECOGNIZE_MID_RUN_WITHIN_SKIP_ORACLE = """
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
  SELECT user_id, event_id, ts,
         COALESCE(lead(ts, 1) OVER ws, ts) AS run_last,
         LEAST(2, count(*) OVER wf - row_number() OVER ws + 1) AS n_reps
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
    WHERE r.user_id = a.user_id AND r.ts >= a.t1
    ORDER BY r.ts, r.event_id LIMIT 1) r ON TRUE
  WHERE r.ts <= a.t1 + INTERVAL 12 HOUR
),
a3 AS (
  SELECT a2.*, p.ts AS t3, p.event_id AS i3
  FROM a2 JOIN LATERAL (
    SELECT ts, event_id FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = a2.user_id
      AND p.ts >= a2.t2_last
    ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
  WHERE p.ts <= a2.t2_last + INTERVAL 24 HOUR
    -- the overall WITHIN prunes BEFORE the fold (inclusive bound)
    AND p.ts <= a2.t1 + INTERVAL 30 HOUR
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, t2_last, n2, t3, i3,
         row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, anchor_id) AS r
  FROM a3
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
              THEN c.i3 ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS E_ts,
       c.t2_last AS E_last_ts, CAST(c.n2 AS BIGINT) AS E_n,
       c.t3 AS P_ts, c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


def match_recognize_optional_within_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIONAL step under ``SKIP PAST LAST`` with an overall WITHIN —
    ``PATTERN (S C? P) WITHIN 30h`` (round 11 second pass; the batch
    twin of the optional greedy race on the streaming quantified-chain
    replayer): signup → optionally a click (6 h; skipped when the
    earliest purchase precedes the earliest click — the engines' race)
    → purchase (24 h of the bound frontier), non-overlapping episodes,
    spans over 30 h pruned BEFORE the fold."""
    from flink_uba_spark.operators.match_recognize import match_recognize

    ev = _events(spark, sf_dir)
    return match_recognize(
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


# the optional greedy race (take C unless the earliest purchase strictly
# precedes the earliest click — ties take, the step-rank rule), the
# fall-through P bind from the surviving frontier, the overall-WITHIN
# prune, then the SKIP PAST LAST completion fold
MATCH_RECOGNIZE_OPTIONAL_WITHIN_SKIP_ORACLE = """
WITH RECURSIVE
s0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
c0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p0 AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT s0.user_id, s0.event_id AS anchor_id, s0.ts AS t1,
         c.ts AS c_ts, p.ts AS p_ts
  FROM s0
  LEFT JOIN LATERAL (
    SELECT ts FROM c0 WHERE c0.user_id = s0.user_id AND c0.ts >= s0.ts
    ORDER BY ts, event_id LIMIT 1) c ON TRUE
  LEFT JOIN LATERAL (
    SELECT ts FROM p0 WHERE p0.user_id = s0.user_id AND p0.ts >= s0.ts
    ORDER BY ts, event_id LIMIT 1) p ON TRUE
),
b2 AS (
  SELECT user_id, anchor_id, t1,
         CASE WHEN c_ts IS NOT NULL AND (p_ts IS NULL OR c_ts <= p_ts)
              THEN c_ts END AS t2
  FROM r
),
b3 AS (
  SELECT b2.*, pp.ts AS t3, pp.event_id AS i3
  FROM b2 JOIN LATERAL (
    SELECT ts, event_id FROM p0
    WHERE p0.user_id = b2.user_id AND p0.ts >= COALESCE(b2.t2, b2.t1)
    ORDER BY ts, event_id LIMIT 1) pp ON TRUE
  -- a BOUND optional violating its within is matched_late (killed),
  -- not a fallback to the skip branch
  WHERE (b2.t2 IS NULL OR b2.t2 <= b2.t1 + INTERVAL 6 HOUR)
    AND pp.ts <= COALESCE(b2.t2, b2.t1) + INTERVAL 24 HOUR
    AND pp.ts <= b2.t1 + INTERVAL 30 HOUR
),
cand AS (
  SELECT user_id, anchor_id, t1, t2, t3, i3,
         row_number() OVER (PARTITION BY user_id
             ORDER BY t3, i3, t1, anchor_id) AS r
  FROM b3
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
              THEN c.i3 ELSE s.le_id END,
         (c.t1, c.anchor_id) > (s.le_ts, s.le_id)
  FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r + 1
)
SELECT c.user_id, c.anchor_id, c.t1 AS S_ts, c.t2 AS C_ts, c.t3 AS P_ts,
       c.i3 AS end_id
FROM sel s JOIN cand c ON c.user_id = s.user_id AND c.r = s.r
WHERE s.kept
"""


QUERIES = {
    "match_recognize_reluctant_excluded": match_recognize_reluctant_excluded,
    "match_recognize_mid_run_within_skip": match_recognize_mid_run_within_skip,
    "match_recognize_optional_within_skip": match_recognize_optional_within_skip,
    "match_recognize_trailing_run": match_recognize_trailing_run,
    "match_recognize_sql_error_run": match_recognize_sql_error_run,
    "match_recognize_sql_skip_to_first": match_recognize_sql_skip_to_first,
    "match_recognize_sql_subset_agg": match_recognize_sql_subset_agg,
    "match_recognize_subset_agg": match_recognize_subset_agg,
    "match_recognize_all_rows_alternation": match_recognize_all_rows_alternation,
    "match_recognize_group_run_agg": match_recognize_group_run_agg,
    "match_recognize_all_rows_iterative": match_recognize_all_rows_iterative,
    "match_recognize_within_overall": match_recognize_within_overall,
    "match_recognize_prev_navigation": match_recognize_prev_navigation,
    "match_recognize_measures_run_agg": match_recognize_measures_run_agg,
    "match_recognize_quantified_group": match_recognize_quantified_group,
    "match_recognize_iterative_run": match_recognize_iterative_run,
    "match_recognize_reluctant_uncapped": match_recognize_reluctant_uncapped,
    "match_recognize_reluctant_lazy": match_recognize_reluctant_lazy,
    "match_recognize_skip_to_first": match_recognize_skip_to_first,
    "match_recognize_alternation": match_recognize_alternation,
    "match_recognize_iterative": match_recognize_iterative,
    "match_recognize_all_rows_run": match_recognize_all_rows_run,
    "match_recognize_permute": match_recognize_permute,
    "match_recognize_all_rows_excluded": match_recognize_all_rows_excluded,
    "match_recognize_anchored_start": match_recognize_anchored_start,
    "match_recognize_anchored_end": match_recognize_anchored_end,
}

from flink_uba_spark.queries.behavior import (  # noqa: E402  (oracle reuse)
    MATCH_RECOGNIZE_ERROR_RUN_ORACLE as _SQL_ERROR_RUN_ORACLE,
)

ORACLES = {
    "match_recognize_reluctant_excluded": _reluctant_excluded_oracle(),
    "match_recognize_mid_run_within_skip": MATCH_RECOGNIZE_MID_RUN_WITHIN_SKIP_ORACLE,
    "match_recognize_optional_within_skip": MATCH_RECOGNIZE_OPTIONAL_WITHIN_SKIP_ORACLE,
    "match_recognize_trailing_run": MATCH_RECOGNIZE_TRAILING_RUN_ORACLE,
    "match_recognize_sql_error_run": _SQL_ERROR_RUN_ORACLE,
    "match_recognize_sql_skip_to_first": MATCH_RECOGNIZE_SKIP_TO_FIRST_ORACLE,
    "match_recognize_sql_subset_agg": MATCH_RECOGNIZE_SUBSET_AGG_ORACLE,
    "match_recognize_subset_agg": MATCH_RECOGNIZE_SUBSET_AGG_ORACLE,
    "match_recognize_all_rows_alternation": MATCH_RECOGNIZE_ALL_ROWS_ALTERNATION_ORACLE,
    "match_recognize_group_run_agg": MATCH_RECOGNIZE_GROUP_RUN_AGG_ORACLE,
    "match_recognize_all_rows_iterative": MATCH_RECOGNIZE_ALL_ROWS_ITERATIVE_ORACLE,
    "match_recognize_within_overall": MATCH_RECOGNIZE_WITHIN_OVERALL_ORACLE,
    "match_recognize_prev_navigation": MATCH_RECOGNIZE_PREV_NAVIGATION_ORACLE,
    "match_recognize_measures_run_agg": MATCH_RECOGNIZE_MEASURES_RUN_AGG_ORACLE,
    "match_recognize_quantified_group": MATCH_RECOGNIZE_QUANTIFIED_GROUP_ORACLE,
    "match_recognize_iterative_run": MATCH_RECOGNIZE_ITERATIVE_RUN_ORACLE,
    "match_recognize_reluctant_uncapped": MATCH_RECOGNIZE_RELUCTANT_UNCAPPED_ORACLE,
    "match_recognize_reluctant_lazy": MATCH_RECOGNIZE_RELUCTANT_LAZY_ORACLE,
    "match_recognize_skip_to_first": MATCH_RECOGNIZE_SKIP_TO_FIRST_ORACLE,
    "match_recognize_alternation": MATCH_RECOGNIZE_ALTERNATION_ORACLE,
    "match_recognize_iterative": MATCH_RECOGNIZE_ITERATIVE_ORACLE,
    "match_recognize_all_rows_run": MATCH_RECOGNIZE_ALL_ROWS_RUN_ORACLE,
    "match_recognize_permute": MATCH_RECOGNIZE_PERMUTE_ORACLE,
    "match_recognize_all_rows_excluded": MATCH_RECOGNIZE_ALL_ROWS_EXCLUDED_ORACLE,
    "match_recognize_anchored_start": MATCH_RECOGNIZE_ANCHORED_START_ORACLE,
    "match_recognize_anchored_end": MATCH_RECOGNIZE_ANCHORED_END_ORACLE,
}
