"""Fused multi-branch streaming operator (streaming/pattern.py
stream_pattern_detect_fused, round 8) — packs the per-count NFAs of the
reluctant / allowCombinations / group-loop twins into ONE
applyInPandasWithState over ONE source scan (VERDICT r7 "What's wrong"
#1: three independent replays, 3 source scans, 10 s warm).

Risk surface: the seg_lens state packing (branch isolation across
micro-batches), timer coalescing, and the pandas-side projections — so
the core test drives the packed matcher against the SAME branch
detectors run independently, over randomized events and batch splits,
and asserts multiset-identical output. Plan tests pin the one-scan /
one-stateful-operator shape the fusion exists to deliver.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_uba_spark.streaming.pattern import (
    make_any_matcher,
    make_fused_matcher,
    make_pattern_matcher,
)
from tests.state_harness import replay


def _flags(nbits):
    """An (eid, ts_us, mask) event's __p1..__p{nbits} flag columns (the
    fused wire format)."""
    return lambda e: {f"__p{j + 1}": bool(e[2] >> j & 1) for j in range(nbits)}


def _rows(frame):
    out = []
    for r in frame.itertuples(index=False):
        vals = []
        for v in r:
            if isinstance(v, pd.Timestamp):
                vals.append(v.value)
            elif pd.isna(v):
                vals.append(None)
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def _drive(det, events, cuts, cols, project=lambda f: f):
    """The rows ``det`` emits through the state harness over ``events``
    split at ``cuts``, projected by ``project``."""
    frames, _ = replay(det, events, sorted(cuts), cols)
    return [t for f in frames for t in _rows(project(f))]


@st.composite
def _fused_case(draw):
    n_ev = draw(st.integers(0, 20))
    events = [
        (i, draw(st.integers(0, 80)), draw(st.integers(0, 7)))
        for i in range(n_ev)
    ]
    cuts = draw(st.sets(st.integers(1, 80), max_size=4))
    gap = draw(st.integers(2, 30))
    return events, cuts, gap


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_fused_case())
def test_fused_chain_equals_independent_branches(case):
    """The packed per-count chain NFAs emit exactly what the same
    detectors emit when driven independently — state segmentation never
    leaks across branches or batches."""
    events, cuts, gap = case

    def mk(m):
        return make_pattern_matcher(
            ["s1", "s2", "s3"], [None, gap, 100],
            kleenes=[None, (gap, m, m), None],
        )

    want = []
    for m in (1, 2, 3):
        want += _drive(mk(m), events, cuts, _flags(3))

    fused = make_fused_matcher(
        [(mk(m), ["__p1", "__p2", "__p3"], lambda f: f) for m in (1, 2, 3)],
    )
    got = _drive(fused, events, cuts, _flags(3))
    assert sorted(got, key=repr) == sorted(want, key=repr)


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_fused_case())
def test_fused_any_equals_independent_branches(case):
    """Same packing guarantee for the followedByAny engine — including
    heterogeneous branch widths (n=3 vs n=4) over a shared flag set."""
    events, cuts, gap = case

    # branch 1: v -> c -> p (n=3); branch 2: v -> c -> c -> p (n=4,
    # both middle slots drawing the same packed flag). Branch outputs
    # project onto a COMMON schema, as the real fused queries do.
    def proj(n):
        def _p(f):
            return pd.DataFrame(
                {
                    "user_id": f["user_id"],
                    "ids": [
                        ",".join(str(int(v)) for v in row)
                        for row in f[[f"i{k}" for k in range(1, n + 1)]]
                        .to_numpy()
                    ],
                    "width": pd.array([n] * len(f), dtype="int64"),
                }
            )

        return _p

    def remap2(e):
        p1, p2, p3 = (bool(e[2] >> j & 1) for j in range(3))
        return {"__p1": p1, "__p2": p2, "__p3": p2, "__p4": p3}

    want = _drive(make_any_matcher(3, [0, gap, 100]), events, cuts, _flags(3), proj(3)) + _drive(
        make_any_matcher(4, [0, gap, gap, 100]), events, cuts, remap2, proj(4)
    )

    fused = make_fused_matcher(
        [(make_any_matcher(3, [0, gap, 100]),
          ["__p1", "__p2", "__p3"], proj(3)),
         (make_any_matcher(4, [0, gap, gap, 100]),
          ["__p1", "__p2", "__p2", "__p3"], proj(4))],
    )
    got = _drive(fused, events, cuts, _flags(3))
    assert sorted(got) == sorted(want)


def test_fused_rejects_mixed_engines(spark):
    with pytest.raises(ValueError, match="one engine"):
        from pyspark.sql import functions as F

        from flink_uba_spark.streaming.pattern import (
            stream_pattern_detect_fused,
        )

        stream_pattern_detect_fused(
            None, "user_id", {"a": F.lit(True)},
            [{"engine": "chain", "slots": ["a"], "withins_us": [None],
              "project": lambda f: f},
             {"engine": "any", "slots": ["a"], "withins_us": [0],
              "project": lambda f: f}],
            None,
        )


def _plan(sdf):
    return sdf._jdf.queryExecution().logical().toString()


@pytest.mark.parametrize(
    "qname",
    [
        "stream_pattern_reluctant_error_prefixes",
        "stream_pattern_combinations_view_clicks",
        "stream_pattern_group_browse_loop",
    ],
)
def test_fused_queries_plan_one_scan_one_stateful(spark, qname):
    """The fusion's whole point: the plan holds exactly ONE stateful
    operator and ONE streaming source — not a union of per-count
    queries. Asserted on the pre-run streaming frame (run_to_table
    executes it, so the catalog callable can't be introspected here)."""
    from flink_uba_spark.queries import streaming as qs
    from flink_uba_spark.streaming import runner

    captured = []
    orig = runner.run_to_table

    def capture(sdf, *a, **k):
        captured.append(sdf)
        return orig(sdf, *a, **k)

    # the queries import run_to_table into their module namespace
    saved = qs.run_to_table
    qs.run_to_table = capture
    try:
        qs.QUERIES[qname](spark, "/root/testdata/sf0.001").count()
    finally:
        qs.run_to_table = saved
    assert len(captured) == 1, "fused query must run ONE streaming query"
    plan = _plan(captured[0])
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert "Union" not in plan
