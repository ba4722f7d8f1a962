"""Correctness check: every benchmark output against its DuckDB oracle.

Hashes use ``tools/check.py``'s ``frame_hash``, the same order-insensitive,
type-sensitive value hash the repository's correctness gate uses. The
oracle SQL comes from the catalog's ``oracle_sql()``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check import frame_hash  # noqa: E402


class Oracle:
    """DuckDB over the generated ``events`` files of one workload."""

    def __init__(self, events_glob: str) -> None:
        import __spark_entry__

        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")

    def compare(self, name: str, got: pd.DataFrame, sql: str | None = None) -> tuple[bool, str]:
        """(match, detail) for one output against oracle ``name`` (or
        against ``sql``, a query derived from it)."""
        want = self.con.execute(sql or self.sql[name]).df()
        if sorted(got.columns) != sorted(want.columns):
            return False, f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
        hg, hw = frame_hash(got), frame_hash(want)
        if len(got) != len(want) or hg != hw:
            return False, f"{name}: rows {len(got)}/{len(want)} hash {hg}/{hw}"
        return True, f"{name}: rows {len(got)} hash {hg}"

    def close(self) -> None:
        self.con.close()


def replayed_timers_sql(twin_sql: str, events_glob: str, deadline_us: int) -> str:
    """The order-timeout oracle for a file-by-file replay.

    The catalog twin's oracle holds for one micro-batch, where the
    watermark moves only after all data. Replayed one file per batch, the
    watermark during batch ``k`` is the latest signup/purchase time in
    files ``0 .. k-1`` (whole milliseconds), and an event-time timer fires
    in any batch in which the watermark has passed the anchor's deadline.
    An anchor whose first purchase lies two or more files later therefore
    times out first, when the watermark during the batch just before the
    purchase's file has passed the deadline; the purchase then resolves
    nothing. This query rewrites the twin's answer accordingly.
    """
    file_no = "CAST(regexp_extract(filename, '([0-9]+)[.]parquet$', 1) AS INTEGER)"
    return f"""
WITH twin AS ({twin_sql}),
fe AS (
    SELECT event_id, {file_no} AS f
    FROM read_parquet('{events_glob}', filename = true)
),
fmax AS (
    SELECT {file_no} AS f, max(epoch_us(ts)) AS mx
    FROM read_parquet('{events_glob}', filename = true)
    WHERE event_type IN ('signup', 'purchase')
    GROUP BY 1
),
wm AS (
    SELECT f + 1 AS k,
           (max(mx) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) // 1000) * 1000 AS wm_us
    FROM fmax
),
judged AS (
    SELECT t.*,
           coalesce(t.state IN ('payed', 'payed_late')
                    AND b.f >= a.f + 2
                    AND epoch_us(t.anchor_ts) + {deadline_us} <= w.wm_us, false) AS fired
    FROM twin t
    LEFT JOIN fe a ON a.event_id = t.anchor_id
    LEFT JOIN fe b ON b.event_id = t.follow_id
    LEFT JOIN wm w ON w.k = b.f - 1
)
SELECT anchor_id,
       CASE WHEN fired THEN NULL ELSE follow_id END AS follow_id,
       user_id,
       anchor_ts,
       CASE WHEN fired THEN NULL ELSE follow_ts END AS follow_ts,
       CASE WHEN fired THEN 'timeout' ELSE state END AS state
FROM judged
"""
