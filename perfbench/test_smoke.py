"""Smoke test of the benchmark: tiny inputs, one pass per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the generator is seed-deterministic and that every workload
prints every metric ``BENCHMARK.json`` names, with its unit, and passes its
oracle checks.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_same_seed_same_input():
    spec = gen.Spec(events=2_000, users=100, skew=1.1, files=3)
    assert gen.input_hash(gen.generate(spec, 5)) == gen.input_hash(gen.generate(spec, 5))


def test_other_seed_other_input():
    spec = gen.Spec(events=2_000, users=100, skew=1.1, files=3)
    assert gen.input_hash(gen.generate(spec, 5)) != gen.input_hash(gen.generate(spec, 6))


def test_files_are_time_ordered_slices():
    files = gen.generate(gen.Spec(events=3_000, users=50, skew=1.0, files=4), 1)
    assert sum(len(f) for f in files) == 3_000
    for a, b in zip(files, files[1:]):
        assert a["ts"].max() < b["ts"].min()
    ids = sorted(i for f in files for i in f["event_id"])
    assert ids == list(range(3_000))


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_live_feed_runs():
    result, stdout = _run("live_feed", 0)
    assert result["correct"] is True, stdout
    assert set(result["metrics"]) >= {m["name"] for m in SPEC["end_to_end"]}
    assert {"latency_p50_ms", "latency_p90_ms"} <= set(result["metrics"])
