"""The after-match horizon fold (``operators/sequence._horizon_fold``)
against the pandas folds it replaced (``tests/after_match_reference.py``).

Candidates are seeded and random: many keys with few candidates, one hot
key with hundreds, and end/anchor timestamps drawn from a narrow range so
that ties on end ts and end id are common. Arrow record batches are cut
at 7 rows, so most keys straddle a batch boundary and a fold that lost
its horizon between batches would keep candidates it must drop.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_uba_spark.operators.sequence import (
    after_match_skip_past_last,
    after_match_skip_to_first,
)
from tests import after_match_reference as ref

SEEDS = (0, 1, 2)


@pytest.fixture()
def small_batches(spark):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    yield
    spark.conf.set(conf, old)


def _keys(rng: random.Random) -> list[tuple[int, int]]:
    """(key, candidate count): 40 small keys and one hot key."""
    return [(k, rng.randint(1, 12)) for k in range(40)] + [(99, 400)]


def _frame(spark, rows: list[tuple], names: list[str]):
    df = spark.createDataFrame(rows, names)
    return df.select(
        *[
            F.timestamp_micros(F.col(c)).alias(c) if c[0] == "t" else F.col(c)
            for c in names
        ]
    )


def _past_last_candidates(spark, seed: int):
    """skip-past-last candidates: (user_id, anchor_id, t1, t2, end_id);
    the end is (t2, end_id) and anchor ids are unique per key."""
    rng = random.Random(seed)
    rows = []
    for key, n in _keys(rng):
        for anchor_id in rng.sample(range(10 * n), n):
            t1 = rng.randint(0, 3 * n)
            t2 = t1 + rng.randint(0, 6)
            rows.append((key, anchor_id, t1, t2, rng.randint(0, 10 * n)))
    return _frame(spark, rows, ["user_id", "anchor_id", "t1", "t2", "end_id"])


def _skip_to_candidates(spark, seed: int):
    """followedByAny-shaped candidates: (user_id, t1, i1, t2, i2, t3, i3)
    with non-decreasing step timestamps, distinct per key."""
    rng = random.Random(seed)
    rows = set()
    for key, n in _keys(rng):
        for _ in range(n):
            t1 = rng.randint(0, 2 * n)
            t2 = t1 + rng.randint(0, 3)
            t3 = t2 + rng.randint(0, 3)
            rows.add((key, t1, rng.randint(0, 4 * n), t2, rng.randint(0, 4 * n),
                      t3, rng.randint(0, 4 * n)))
    return _frame(spark, sorted(rows),
                  ["user_id", "t1", "i1", "t2", "i2", "t3", "i3"])


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("seed", SEEDS)
def test_skip_past_last_matches_pandas_fold(spark, small_batches, seed):
    m = _past_last_candidates(spark, seed)
    got = _rows(after_match_skip_past_last(m, key="user_id"))
    want = _rows(ref.after_match_skip_past_last(m, key="user_id"))
    assert got == want
    assert 0 < len(want) < m.count()  # the walk kept some, dropped some


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("step", (2, 3))
def test_skip_to_first_matches_pandas_fold(spark, small_batches, seed, step):
    m = _skip_to_candidates(spark, seed)
    got = _rows(after_match_skip_to_first(m, key="user_id", step=step))
    want = _rows(ref.after_match_skip_to_first(m, key="user_id", step=step))
    assert got == want
    assert 0 < len(want) < m.count()
