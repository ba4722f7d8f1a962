"""MATCH_RECOGNIZE run aggregates (``_attach_run_aggregates``, one
reference to the match set) against the per-variable band joins they
replaced (``tests/run_agg_reference.py``), on the catalog's RunAgg and
fold-route queries at sf0.001 and on two edge specs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_uba_spark.operators import match_recognize as mr
from flink_uba_spark.queries import rowpattern
from tests.run_agg_reference import attach_run_aggregates

QUERIES = (
    "match_recognize_subset_agg",
    "match_recognize_measures_run_agg",
    "match_recognize_anchored_end",
    "match_recognize_quantified_group",
    "match_recognize_group_run_agg",
)

TYPES = {"S": "signup", "E": "error", "C": "click", "V": "view", "P": "purchase"}


def _define() -> dict:
    return {v: F.col("event_type") == t for v, t in TYPES.items()}


def _cents():
    return F.floor(F.col("value") * 100).cast("long")


def _both(monkeypatch, build) -> tuple[list, list]:
    got = sorted(tuple(r) for r in build().collect())
    with monkeypatch.context() as m:
        m.setattr(mr, "_attach_run_aggregates", attach_run_aggregates)
        want = sorted(tuple(r) for r in build().collect())
    return got, want


@pytest.mark.parametrize("name", QUERIES)
def test_catalog_query_matches_reference(spark, sf_dir, monkeypatch, name):
    fn = getattr(rowpattern, name)
    got, want = _both(monkeypatch, lambda: fn(spark, sf_dir))
    assert want
    assert got == want


def _events(spark, sf_dir):
    return rowpattern._events(spark, sf_dir)


def test_subset_with_skipped_optional_member(spark, sf_dir, monkeypatch):
    """``S E? C{1,3} P`` with ``U = (S, E, C)``: matches that skip E take
    U's rows from S and the C run only."""
    ev = _events(spark, sf_dir)

    def build():
        return mr.match_recognize(
            ev, partition_by="user_id", order_by="ts",
            pattern="S E? C{1,3} P", define=_define(),
            withins={"C": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            subset={"U": ("S", "E", "C")},
            measures={
                "anchor_id": F.col("anchor_id"),
                "E_ts": F.col("E_ts"),
                "u_cnt": mr.run_agg("count", "U"),
                "u_sum": mr.run_agg("sum", "U", _cents()),
                "u_avg": mr.run_agg("avg", "U", _cents()),
                "u_min": mr.run_agg("min", "U", _cents()),
                "u_first": mr.run_agg("first", "U", _cents(), 1),
                "u_last": mr.run_agg("last", "U", _cents()),
                "c_cnt": mr.run_agg("count", "C", _cents()),
            },
        )

    got, want = _both(monkeypatch, build)
    assert got == want
    assert any(r[2] is None for r in want)  # some match skipped E


def test_anchored_end_run(spark, sf_dir, monkeypatch):
    """A trailing-run pattern with the ``$`` partition anchor under NO
    SKIP: every anchor's match carries its own run aggregates."""
    ev = _events(spark, sf_dir)

    def build():
        return mr.match_recognize(
            ev, partition_by="user_id", order_by="ts",
            pattern="V C{1,3} $", define=_define(),
            after_match="no_skip",
            measures={
                "anchor_id": F.col("anchor_id"),
                "c_cnt": mr.run_agg("count", "C"),
                "c_max": mr.run_agg("max", "C", _cents()),
                "c_last": mr.run_agg("last", "C", _cents(), 1),
            },
        )

    got, want = _both(monkeypatch, build)
    assert want and got == want


def test_count_over_no_member_rows_is_null(spark, sf_dir, monkeypatch):
    """``S E? P`` with ``U = (E,)``: a match that skips E has no U rows,
    so COUNT(U.*) is NULL (not 0) and SUM is NULL."""
    ev = _events(spark, sf_dir)

    def build():
        return mr.match_recognize(
            ev, partition_by="user_id", order_by="ts",
            pattern="S E? P", define=_define(),
            withins={"E": "INTERVAL 12 HOURS", "P": "INTERVAL 24 HOURS"},
            after_match="no_skip",
            subset={"U": ("E",)},
            measures={
                "anchor_id": F.col("anchor_id"),
                "E_ts": F.col("E_ts"),
                "u_cnt": mr.run_agg("count", "U"),
                "u_sum": mr.run_agg("sum", "U", _cents()),
            },
        )

    got, want = _both(monkeypatch, build)
    assert got == want
    skipped = [r for r in want if r[2] is None]
    assert skipped and all(r[3] is None and r[4] is None for r in skipped)
    assert any(r[3] == 1 for r in want)
