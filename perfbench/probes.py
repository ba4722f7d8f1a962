"""Measurements taken from outside the engine.

- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every query's
  progress reports (Spark's own per-micro-batch timings and state-store
  figures).
- ``ProcessTree``: RSS and CPU time of this process and every descendant
  (the JVM and its Python workers), read from ``/proc``.
- ``event_log_totals``: task metrics summed from a Spark event log over
  wall-time windows.
- ``plan_counts``: Exchange and Join operators in a frame's physical plan.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def epoch_s(spark_timestamp: str) -> float:
    """Progress ``timestamp`` (ISO-8601, UTC, ``Z`` suffix) as epoch seconds."""
    return datetime.fromisoformat(spark_timestamp.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Progress reports per query run, in arrival order.

    Callbacks arrive on another thread, after the batch they describe; use
    ``wait_terminated`` before reading a finished query's reports.
    """

    def __init__(self) -> None:
        self._lock = threading.Condition()
        self._progress: dict[str, list[dict]] = {}
        self._terminated: dict[str, str | None] = {}
        self._order: list[str] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            run = str(event.runId)
            self._progress.setdefault(run, [])
            self._order.append(run)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.setdefault(p["runId"], []).append(p)
            self._lock.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated[str(event.runId)] = event.exception
            self._lock.notify_all()

    def progress(self, run: str) -> list[dict]:
        with self._lock:
            return list(self._progress.get(run, []))

    def wait_terminated(self, count: int, timeout: float = 30.0) -> list[str]:
        """Block until ``count`` queries have terminated; return their run ids
        in start order."""
        deadline = time.monotonic() + timeout
        with self._lock:
            while len(self._terminated) < count:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"{len(self._terminated)}/{count} queries terminated")
                self._lock.wait(left)
            return [r for r in self._order if r in self._terminated][:count]

    def exception(self, run: str) -> str | None:
        with self._lock:
            return self._terminated.get(run)

    def wait_rows(self, run: str, rows: int, timeout: float) -> bool:
        """Block until the query's reports account for ``rows`` input rows."""
        deadline = time.monotonic() + timeout
        with self._lock:
            while sum(p["numInputRows"] for p in self._progress.get(run, [])) < rows:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._lock.wait(left)
            return True


def summarize_batches(reports: list[dict]) -> dict[str, float]:
    """Micro-batch protocol and state-store totals over progress reports;
    state size is taken from the last report."""
    dur = [p["durationMs"] for p in reports]
    ops = [p.get("stateOperators", []) for p in reports]
    last_ops = ops[-1] if ops else []
    return {
        "batches": len(reports),
        "trigger_ms": sum(d.get("triggerExecution", 0) for d in dur),
        "add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "commit_offsets_ms": sum(d.get("commitOffsets", 0) for d in dur),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for b in ops for o in b),
        "state_updates_ms": sum(o.get("allUpdatesTimeMs", 0) for b in ops for o in b),
        "rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b
        ),
        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs, since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class ProcessTree:
    """RSS and CPU of this process and all its descendants.

    ``start()`` runs a sampling thread for the peak RSS; ``cpu_s()`` reads
    user+system CPU seconds of the live tree (children that exited and were
    reaped are included through ``cutime``/``cstime``).
    """

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        kids = _children()
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def _stat(self, pid: int) -> tuple[int, int]:
        """(cpu ticks incl. reaped children, rss bytes)"""
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks = sum(int(x) for x in fields[11:15])
        return ticks, int(fields[21]) * self._page

    def sample(self) -> tuple[float, int]:
        ticks = rss = 0
        for pid in self._tree():
            try:
                t, r = self._stat(pid)
            except (OSError, IndexError, ValueError):
                continue
            ticks += t
            rss += r
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        return ticks / self._tick, rss

    def cpu_s(self) -> float:
        return self.sample()[0]

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def reap_descendants(self, timeout: float = 30.0) -> None:
        """Wait for every descendant to exit; kill those still alive after
        ``timeout``."""
        deadline = time.monotonic() + timeout
        while True:
            left = [p for p in self._tree() if p != os.getpid()]
            if not left:
                return
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


_PY_SCOPES = re.compile(r"Pandas|Arrow|Python|BatchEval")


def _stage_is_python(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        if _PY_SCOPES.search(rdd.get("Scope", "") + rdd.get("Name", "")):
            return True
    return False


def event_log_totals(log_dir: Path, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """Sum task metrics per named wall-time window (epoch seconds).

    A task belongs to a window when its finish time falls inside it.
    Returns ``{name: {executor_cpu_s, executor_run_s, gc_s,
    shuffle_write_bytes, spill_bytes, python_stage_s}}``.
    """
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    python_stages: set[tuple[int, int]] = set()
    tasks = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted" or kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if _stage_is_python(info):
                        python_stages.add((info["Stage ID"], info["Stage Attempt ID"]))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out = {
        name: dict(executor_cpu_s=0.0, executor_run_s=0.0, gc_s=0.0,
                   shuffle_write_bytes=0, spill_bytes=0, python_stage_s=0.0)
        for name in windows
    }
    for ev in tasks:
        m = ev.get("Task Metrics")
        if not m:
            continue
        finish = ev["Task Info"]["Finish Time"] / 1000.0
        for name, spans in windows.items():
            if not any(a <= finish <= b for a, b in spans):
                continue
            o = out[name]
            run_s = m.get("Executor Run Time", 0) / 1000.0
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["executor_run_s"] += run_s
            o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            o["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            if (ev["Stage ID"], ev["Stage Attempt ID"]) in python_stages:
                o["python_stage_s"] += run_s
    return out


_EXCHANGE = re.compile(r"\b(ShuffleExchange|Exchange|BroadcastExchange)\b")
_JOIN = re.compile(
    r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"CartesianProduct)\b"
)


def plan_counts(df) -> tuple[int, int]:
    """(Exchange, Join) operators in the frame's physical plan before
    adaptive re-planning, which is fixed for a given input size."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan)), len(_JOIN.findall(plan))
