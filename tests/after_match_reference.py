"""The after-match folds as they ran before ``operators/sequence.py``'s
``_horizon_fold``, kept as references for it.

Both exchange the candidate matches on ``pmod(hash(key), 64)`` and walk
each bucket's keys in one pandas frame inside ``applyInPandas``:
``after_match_skip_past_last`` keeps a candidate whose anchor is strictly
past the last emitted end, ``after_match_skip_to_first`` one whose anchor
is at or past the max emitted step-``p`` binding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def after_match_skip_past_last(
    matches: DataFrame,
    key: str,
    anchor_ts: str = "t1",
    anchor_id: str = "anchor_id",
    end_ts: str | None = None,
    end_id: str = "end_id",
) -> DataFrame:
    """SKIP PAST LAST: strict ``>`` horizon, reset per key."""
    import pandas as pd

    if end_ts is None:
        tcols = sorted(
            (c for c in matches.columns if c.startswith("t") and c[1:].isdigit()),
            key=lambda c: int(c[1:]),
        )
        if not tcols:
            raise ValueError("no t{k} columns to infer end_ts from")
        end_ts = tcols[-1]
    cols = list(matches.columns)
    schema = matches.schema

    # exchange on pmod(hash(key), 64) rather than the raw key: per-key
    # pandas groups cost ~3 ms each in Arrow overhead, so thousands of
    # tiny key groups dominate at test SF; the per-key replay runs
    # unchanged inside the bucket (horizon resets on key change), and 64
    # buckets bound parallelism — raise for a bigger cluster (round 7,
    # same change as after_match_skip_to_first)
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pdf[cols]
        pdf = pdf.sort_values(
            [key, end_ts, end_id, anchor_ts, anchor_id], kind="mergesort"
        ).reset_index(drop=True)
        kv = pdf[key].to_numpy()
        a_ts = pdf[anchor_ts].astype("datetime64[ns]").astype("int64").to_numpy()
        a_id = pdf[anchor_id].to_numpy().astype("int64")
        e_ts = pdf[end_ts].astype("datetime64[ns]").astype("int64").to_numpy()
        e_id = pdf[end_id].to_numpy().astype("int64")
        keep = [False] * len(pdf)
        cur = None
        le_ts = le_id = None
        for i in range(len(pdf)):
            if kv[i] != cur:
                cur, le_ts, le_id = kv[i], None, None
            if le_ts is None or (a_ts[i], a_id[i]) > (le_ts, le_id):
                keep[i] = True
                le_ts, le_id = e_ts[i], e_id[i]
        return pdf.loc[keep, cols]

    bucket = F.pmod(F.hash(F.col(key)), F.lit(64))
    return (
        matches.withColumn("__b", bucket)
        .groupBy("__b")
        .applyInPandas(lambda pdf: fold(pdf.drop(columns="__b")), schema)
    )


def after_match_skip_to_first(
    matches: DataFrame,
    key: str,
    step: int,
) -> DataFrame:
    """SKIP TO FIRST/LAST: ``>=`` against the max horizon, reset per key."""
    import pandas as pd

    tcols = sorted(
        (c for c in matches.columns if c[0] == "t" and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    n = len(tcols)
    if not 2 <= step <= n:
        raise ValueError(f"step must be in [2, {n}]")
    cols = list(matches.columns)
    schema = matches.schema
    sort_cols = [key, f"t{n}", f"i{n}", "t1", "i1"] + [
        c for k in range(2, n) for c in (f"t{k}", f"i{k}")
    ]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pdf[cols]
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        kv = pdf[key].to_numpy()
        a_ts = pdf["t1"].astype("datetime64[ns]").astype("int64").to_numpy()
        a_id = pdf["i1"].to_numpy().astype("int64")
        p_ts = pdf[f"t{step}"].astype("datetime64[ns]").astype("int64").to_numpy()
        p_id = pdf[f"i{step}"].to_numpy().astype("int64")
        keep = [False] * len(pdf)
        cur = None
        h_ts = h_id = None
        for i in range(len(pdf)):
            if kv[i] != cur:
                cur, h_ts, h_id = kv[i], None, None
            if h_ts is None or (a_ts[i], a_id[i]) >= (h_ts, h_id):
                keep[i] = True
                if h_ts is None or (p_ts[i], p_id[i]) > (h_ts, h_id):
                    h_ts, h_id = p_ts[i], p_id[i]
        return pdf.loc[keep, cols]

    bucket = F.pmod(F.hash(F.col(key)), F.lit(64))
    return (
        matches.withColumn("__b", bucket)
        .groupBy("__b")
        .applyInPandas(lambda pdf: fold(pdf.drop(columns="__b")), schema)
    )
