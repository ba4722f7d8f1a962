"""User-behaviour-analytics benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_reports --seed 1 --seconds 10 --trace 0

Generates the workload's clickstream from ``--seed``, runs the engine on it
in a fresh Spark application at ``local[<cores>]``, checks every output
against its DuckDB oracle and prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything it writes goes under ``perfbench/.work`` and is
removed on exit. See ``perfbench/README.md`` for what each workload and
metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_cpu_s": "1/cpu_s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}


def layer_unit(name: str) -> str:
    if name.startswith(("plan.", "stream.batches", "sink.")) or name.endswith(
        ("rows_total", "rows_dropped_by_watermark", "files_max")
    ):
        return "count"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms") or "_ms." in name or "ms_p" in name:
        return "ms"
    return "s"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_reports", "stream_replay", "live_feed"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the smoke test")
    return ap.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file this run and its children write under ``work`` and
    put the repository root on the Python workers' import path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # every JVM, the launcher's included: temp files here, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    isolate(work)
    bench = None
    try:
        import workloads

        bench = workloads.Bench(work, args.seconds, bool(args.trace), workloads.SIZES[args.scale])
        out = workloads.WORKLOADS[args.workload](bench, args.seed)
        out.layers["mem.peak_rss_mb"] = bench.procs.peak_rss_bytes / 2**20
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass

    e2e = out.end_to_end
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    for line in out.notes:
        print("  " + line)
    print(f"  error_rate {out.failed}/{out.attempted} | " + " | ".join(
        f"{k} {v:.4g}" for k, v in {**e2e, "wall.events_per_s": out.layers["wall.events_per_s"]}.items()
    ))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(out.layers.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
