"""Driver-realism probe: run the ENTIRE query catalog on a VANILLA
SparkSession (no flink_uba_spark.session configs — exactly how the driver
builds its own session) and compare row counts against the latest CHECK_FULL.

This is the failure mode that broke round 2: ingestion depended on session
configs (nanosAsLong / inferTimestampNTZ) that the driver's session did not
have until load time. Any query that only works under our session factory
fails HERE first.

Usage: python tools/vanilla_probe.py [sf_dir] [query ...]
Exit 0 iff every query runs and matches the recorded row count (when one
is recorded).
"""

from __future__ import annotations

import glob
import re
import sys
from pathlib import Path

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def latest_check_full() -> str | None:
    """The newest CHECK_FULL_r{N}.txt by round number — BY CONSTRUCTION
    (round 8; a hardcoded round left r6's probe comparing against stale
    counts). Returns None when no artifact exists yet."""
    paths = glob.glob(str(ROOT / "CHECK_FULL_r*.txt"))
    if not paths:
        return None
    return max(
        paths, key=lambda p: int(re.search(r"_r(\d+)\.txt$", p).group(1))
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    expected: dict[str, int] = {}
    ref = latest_check_full()
    if ref is not None:
        for line in open(ref):
            m = re.match(r"(?:PASS|ok\?)\s+(\w+): rows=(\d+)", line)
            if m and m.group(1) not in expected:
                # CHECK_FULL records three SF sections; sf0.01 (the
                # driver-gate SF this probe runs at) comes first
                expected[m.group(1)] = int(m.group(2))

    failures = []
    qs = entrymod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            n = fn(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: {e}", flush=True)
            failures.append(name)
            continue
        want = expected.get(name)
        if want is not None and n != want:
            print(f"FAIL  {name}: rows {n} != recorded {want}", flush=True)
            failures.append(name)
        else:
            print(f"ok    {name}: rows={n}", flush=True)
    ran = [q for q in qs if not only or q in only]
    print(f"\n{len(ran) - len(failures)}/{len(ran)} vanilla-session ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
