"""The chain replayer (``streaming/skip_replay.make_quantified_chain_replayer``)
in its plain-chain, trailing-run and reluctant-step shapes, against the
independent brute references of ``tools/nfa_soak.py``: random micro-batch
splits with mid-stream timer fires, every emitted row compared with the
batch fold truncated at the decidability cut ``end + H < final_wm``.

- ``skip-to-stream``: plain chains under SKIP TO (``mode="skip_to"``) and
  SKIP PAST LAST (``mode="past_last"``), with and without an overall
  WITHIN;
- ``trail-stream``: a capped greedy run as the last step under SKIP PAST
  LAST;
- ``lazy-stream``: a capped reluctant middle step under SKIP PAST LAST
  (the lazy fold: earliest completion, then fewest repetitions).

The same harness drives the packed multi-branch matcher
(``streaming/pattern.make_fused_matcher``) through the ``stream-branching``,
``fused`` and ``pref`` modes, the horizon-buffer matchers through
``stream-any`` and ``iter``, and the chain NFA under a moving watermark
through ``timers`` and ``stream-consec``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import nfa_soak  # noqa: E402

from flink_uba_spark.operators.match_recognize import (  # noqa: E402
    stream_match_recognize,
)


def test_plain_chain_skip_modes_match_brute():
    assert nfa_soak.soak_skip_to_stream(300) == 0


def test_trailing_run_matches_brute():
    assert nfa_soak.soak_trail_stream(300) == 0


def test_lazy_reluctant_step_matches_brute():
    assert nfa_soak.soak_lazy_stream(300) == 0


@pytest.mark.parametrize(
    "soak",
    [
        nfa_soak.soak_stream_branching,
        nfa_soak.soak_fused,
        nfa_soak.soak_pref,
        nfa_soak.soak_stream_any,
        nfa_soak.soak_iter,
    ],
    ids=["stream-branching", "fused", "pref", "stream-any", "iter"],
)
def test_packed_and_horizon_matchers_match_brute(soak):
    """The fused matcher (under the branching, per-count and preference
    operators) and the followedByAny / iterative horizon buffers, over
    random micro-batch splits with mid-stream timer fires."""
    assert soak(300) == 0


@pytest.mark.parametrize("with_consecs", [False, True], ids=["timers", "stream-consec"])
def test_chain_matcher_under_a_moving_watermark_matches_brute(with_consecs):
    """The chain NFA over ms-scale cases, so the lagged watermark moves
    and closes runs mid-stream; the soak fails when no call read a
    watermark above 0."""
    assert nfa_soak.soak_stream(300, timers=True, with_consecs=with_consecs) == 0


def test_single_quantified_variable_under_skip_past_last_raises(spark):
    """A lone quantified variable has no anchor step for the replayer;
    the PATTERN parser refuses it before any route is picked."""
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("event_id"),
            (F.col("value") % 5).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.lit("e").alias("event_type"),
        )
    )
    with pytest.raises(ValueError, match="at least 2 variables"):
        stream_match_recognize(
            sdf, "user_id", "ts", "B{2,3}", {"B": F.col("event_type") == "e"},
            default_within="INTERVAL 1 HOUR", after_match="skip_past_last",
        )
