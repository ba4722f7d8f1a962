"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a given sf dir,
runs the matching ``oracle_sql()`` in DuckDB on the same parquet tables, and
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, canonical string encoding).

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

# the repository this tool belongs to, wherever it is checked out
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    if isinstance(v, float):
        # shortest round-trip repr: bit-identical doubles hash equal and ANY
        # cross-engine ulp drift fails — at least as strict as the driver's
        # gate (the determinism contract promises bit-identical doubles).
        # Integral floats are NOT folded to ints: the driver's hash is
        # type-sensitive (3 != 3.0), and folding masked the r04 q12 red cell.
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(canon_cell(x) for x in seq) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(
        "\x01".join(canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from flink_uba_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows={len(spdf)} (no oracle — rows-only check) [{t_spark:.1f}s]")
            if len(spdf) == 0:
                failures.append(name)
            continue
        t0 = time.time()
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        t_oracle = time.time() - t0

        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} != {sorted(opdf.columns)}")
        else:
            # dtype-kind drift (int vs float vs ts) is a FAIL: the driver's
            # value hash is type-sensitive, so an engine returning 3 where the
            # other returns 3.0 red-cells even when values are equal (the r04
            # q12 lesson — this was a WARN and got ignored).
            for c in spdf.columns:
                ks, ko = spdf[c].dtype.kind, opdf[c].dtype.kind
                norm = lambda k: {"u": "i"}.get(k, k)  # noqa: E731
                if norm(ks) != norm(ko) and "O" not in (ks, ko):
                    problems.append(
                        f"dtype {c}: spark {spdf[c].dtype} vs oracle {opdf[c].dtype}"
                    )
        if not problems:
            hs, ho = frame_hash(spdf), frame_hash(opdf)
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
                # show a small diff sample to debug
                s = spdf[sorted(spdf.columns)].astype(str).apply("|".join, axis=1)
                o = opdf[sorted(opdf.columns)].astype(str).apply("|".join, axis=1)
                only_s = sorted(set(s) - set(o))[:3]
                only_o = sorted(set(o) - set(s))[:3]
                for r in only_s:
                    print(f"        spark-only: {r}")
                for r in only_o:
                    print(f"        oracle-only: {r}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [spark {t_spark:.1f}s oracle {t_oracle:.1f}s]")
            failures.append(name)
        else:
            print(f"PASS  {name}: rows={len(spdf)} [spark {t_spark:.1f}s oracle {t_oracle:.1f}s]")

    ran = [q for q in queries if not only or q in only]
    print(f"\n{len(ran) - len(failures)}/{len(ran)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
