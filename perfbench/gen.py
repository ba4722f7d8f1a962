"""Seeded clickstream generator for the benchmark.

Output matches the ``events`` table of the engine's test data: ``event_id``
(bigint), ``ts`` (timestamp, microseconds, no time zone), ``user_id``
(bigint), ``event_type`` in {view, click, purchase, error, signup},
``value`` (double, two decimals) and ``props`` (``{"k": n}``).

The stream is cut into ``files`` consecutive event-time slices. Rows are
shuffled inside a file but every row of slice ``i + 1`` is later than every
row of slice ``i`` (a one-second gap separates them), so a file-by-file
replay advances the watermark without ever dropping a row and the batch
oracles hold for the streamed answer.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"], dtype=object)
ITEMS = 100
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
DAY_US = 86_400_000_000
GAP_US = 1_000_000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Spec:
    """Size and shape of one generated clickstream."""

    events: int
    users: int
    skew: float  # Zipf exponent of per-user activity; 0 means uniform
    files: int
    days: int = 30


def user_weights(users: int, skew: float) -> np.ndarray:
    w = 1.0 / np.arange(1, users + 1, dtype=np.float64) ** skew
    return w / w.sum()


def generate(spec: Spec, seed: int) -> list[pd.DataFrame]:
    """One frame per file, in event-time order of the slices."""
    rng = np.random.default_rng(seed)
    n = spec.events
    slice_us = spec.days * DAY_US // spec.files
    # events per slice: as even as possible, so every file is the same size
    per_file = np.full(spec.files, n // spec.files)
    per_file[: n % spec.files] += 1
    offsets = np.concatenate(
        [np.sort(rng.integers(0, slice_us - GAP_US, size=k)) + i * slice_us
         for i, k in enumerate(per_file)]
    )
    ts = START_US + offsets
    # user ids: Zipf rank -> a seeded permutation, so heavy users are not
    # simply the smallest ids
    ranks = rng.choice(spec.users, size=n, p=user_weights(spec.users, spec.skew))
    user_ids = rng.permutation(spec.users)[ranks] + 1
    frame = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": user_ids.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2).clip(0.01, None),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, ITEMS, size=n)],
        }
    )
    bounds = np.concatenate([[0], np.cumsum(per_file)])
    files = []
    for i in range(spec.files):
        part = frame.iloc[bounds[i] : bounds[i + 1]]
        files.append(part.iloc[rng.permutation(len(part))].reset_index(drop=True))
    return files


def input_hash(files: list[pd.DataFrame]) -> str:
    """Content hash of the generated rows, file order and row order included."""
    h = hashlib.sha256()
    for f in files:
        for col in ("event_id", "user_id", "value"):
            h.update(f[col].to_numpy().tobytes())
        h.update(f["ts"].to_numpy().astype("datetime64[us]").astype(np.int64).tobytes())
        h.update("\x00".join(f["event_type"]).encode())
        h.update("\x00".join(f["props"]).encode())
    return h.hexdigest()[:16]


def write_files(files: list[pd.DataFrame], directory: Path) -> list[Path]:
    """Write each frame as ``NNNNN.parquet`` under ``directory``, with
    modification times one second apart in file order (the file stream
    source replays files in modification-time order)."""
    directory.mkdir(parents=True, exist_ok=True)
    base = int(time.time()) - len(files)
    paths = []
    for i, f in enumerate(files):
        p = directory / f"{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(f, schema=SCHEMA, preserve_index=False), p)
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


def write_single(files: list[pd.DataFrame], path: Path) -> Path:
    """Write the whole stream as one parquet file (the batch table form)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(pd.concat(files, ignore_index=True), schema=SCHEMA,
                                 preserve_index=False)
    pq.write_table(table, path)
    return path
