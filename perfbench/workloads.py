"""The three workloads: batch_reports, stream_replay and live_feed.

Each workload generates its inputs (outside the timed figures), starts
Spark, runs its fixed warm-up, measures, then checks every output against
its DuckDB oracle. It only calls the engine's public surface:
``session.get_spark``, the ``queries()`` catalog, ``streaming.windows`` /
``streaming.order_timeout`` / ``streaming.pattern`` and
``streaming.runner.run_to_table``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import gen
import probes
from oracle import Oracle, replayed_timers_sql

REPORTS = (
    "hot_items",
    "hot_items_sql",
    "hot_pages",
    "user_sessions",
    "user_funnel",
    "order_timeout_states",
    "tx_reconcile_full_outer",
    "attribution_interval_join",
    "pattern_view_click_purchase",
    "match_recognize_subset_agg",
    "match_recognize_alternation",
)
JOBS = ("windowed_counts", "order_timeout", "pattern_chain")
# catalog twin whose oracle checks each stream job's output
TWINS = {
    "windowed_counts": "stream_hot_items",
    "order_timeout": "stream_order_timeout_states",
    "pattern_chain": "stream_pattern_view_click_purchase",
}
# the order-timeout twin's deadline
ORDER_DEADLINE = "6 hours"
ORDER_DEADLINE_US = 6 * 3600 * 1_000_000
# nominal pass lengths on 4 cores: a run times seconds / nominal passes
BATCH_PASS_S = 10.0
STREAM_PASS_S = 15.0
# run_to_table's state partition count, used for the live query too
STATE_PARTITIONS = 8


@dataclass(frozen=True)
class Sizes:
    batch: gen.Spec
    stream: gen.Spec
    live_users: int
    live_rate: int  # events per second
    live_interval_s: float  # one file released per interval
    live_warmup_s: float
    batch_warm_passes: int  # warm passes after the cold one, before timing


SIZES = {
    "full": Sizes(
        batch=gen.Spec(events=12_000, users=300, skew=0.0, files=1),
        stream=gen.Spec(events=6_000, users=1_000, skew=1.1, files=2),
        live_users=1_500,
        live_rate=2_000,
        live_interval_s=0.1,
        live_warmup_s=6.0,
        batch_warm_passes=1,
    ),
    "tiny": Sizes(
        batch=gen.Spec(events=1_000, users=50, skew=1.0, files=1),
        stream=gen.Spec(events=1_000, users=100, skew=1.1, files=2),
        live_users=100,
        live_rate=500,
        live_interval_s=0.25,
        live_warmup_s=2.0,
        batch_warm_passes=0,
    ),
}


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    end_to_end: dict[str, float]
    layers: dict[str, float]
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, detail: str) -> None:
        """Count one oracle comparison."""
        self.attempted += 1
        if ok:
            self.notes.append("ok   " + detail)
        else:
            self.fail(detail)

    def fail(self, detail: str) -> None:
        """Count a failure of an operation already counted as attempted."""
        self.failed += 1
        self.notes.append("FAIL " + detail)


class Bench:
    """Shared run state: work directory, Spark session and probes."""

    def __init__(self, work: Path, seconds: int, trace: bool, sizes: Sizes) -> None:
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.progress = probes.ProgressLog()
        self.procs = probes.ProcessTree()
        self.event_log = work / "eventlog"
        self.spark = None
        self.start_s = 0.0
        # epoch-second spans per named layer, for the event-log totals
        self.windows: dict[str, list[tuple[float, float]]] = {}

    def start_spark(self):
        from flink_uba_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = str(self.event_log)
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
        )
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.progress)
        self.procs.start()
        return self.spark

    def span(self, name: str, t0: float, t1: float) -> None:
        self.windows.setdefault(name, []).append((t0, t1))

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        self.procs.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        self.procs.reap_descendants()

    def jvm_layers(self, out: Outcome, window: str) -> None:
        """Event-log totals over the timed region (traced runs only)."""
        if not self.trace:
            return
        # the listener bus flushes the log asynchronously; give it a moment
        time.sleep(1.0)
        totals = probes.event_log_totals(self.event_log, self.windows)
        t = totals.get(window, {})
        out.layers["jvm.executor_cpu_s"] = t.get("executor_cpu_s", 0.0)
        out.layers["jvm.gc_s"] = t.get("gc_s", 0.0)
        out.layers["jvm.shuffle_write_bytes"] = t.get("shuffle_write_bytes", 0)
        out.layers["jvm.spill_bytes"] = t.get("spill_bytes", 0)
        for job in JOBS:
            out.layers[f"python.{job}.stage_s"] = totals.get(f"{window}.job.{job}", {}).get(
                "python_stage_s", 0.0
            )


def _zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: the figure for a layer a workload does
    not exercise."""
    z: dict[str, float] = {"session.start_s": 0.0}
    for r in REPORTS:
        for k in ("queries.build_ms", "operators.run_ms", "plan.exchanges", "plan.joins"):
            z[f"{k}.{r}"] = 0.0
    for k in ("batches", "add_batch_ms", "protocol_ms", "query_planning_ms",
              "wal_commit_ms", "commit_offsets_ms"):
        z[f"stream.{k}"] = 0.0
    for j in JOBS:
        z[f"stream.{j}.wall_s"] = 0.0
        z[f"stream.{j}.add_batch_ms"] = 0.0
        for k in ("rows_total", "memory_bytes", "commit_ms", "updates_ms",
                  "rows_dropped_by_watermark"):
            z[f"state.{j}.{k}"] = 0.0
        z[f"python.{j}.stage_s"] = 0.0
        z[f"sink.{j}.rows"] = 0.0
    for k in ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        z[f"jvm.{k}"] = 0.0
    for k in ("mem.peak_rss_mb", "cpu.busy_s", "host.steal_s", "pass_drift_pct",
              "trace.attributed_pct", "wall.events_per_s", "wall.setup_s"):
        z[k] = 0.0
    return z


def _protocol_layers(out: Outcome, batches: list[dict], passes: int) -> None:
    """Micro-batch protocol figures: batches per pass, mean ms per batch."""
    s = probes.summarize_batches(batches)
    n = max(s["batches"], 1)
    out.layers["stream.batches"] = s["batches"] / max(passes, 1)
    out.layers["stream.add_batch_ms"] = s["add_batch_ms"] / n
    out.layers["stream.protocol_ms"] = (s["trigger_ms"] - s["add_batch_ms"]) / n
    for k in ("query_planning_ms", "wal_commit_ms", "commit_offsets_ms"):
        out.layers[f"stream.{k}"] = s[k] / n


def _state_layers(out: Outcome, job: str, reports: list[dict]) -> None:
    s = probes.summarize_batches(reports)
    n = max(s["batches"], 1)
    out.layers[f"stream.{job}.add_batch_ms"] = s["add_batch_ms"] / n
    out.layers[f"state.{job}.rows_total"] = s["state_rows_total"]
    out.layers[f"state.{job}.memory_bytes"] = s["state_memory_bytes"]
    out.layers[f"state.{job}.commit_ms"] = s["state_commit_ms"] / n
    out.layers[f"state.{job}.updates_ms"] = s["state_updates_ms"] / n
    out.layers[f"state.{job}.rows_dropped_by_watermark"] = s["rows_dropped_by_watermark"]


def _drift_pct(pass_s: list[float]) -> float:
    """Last warm pass against the first, in percent."""
    if len(pass_s) < 2:
        return 0.0
    return 100.0 * (pass_s[-1] / pass_s[0] - 1.0)


def _batch_bounds(reports: list[dict]) -> tuple[list[float], list[float], list[int]]:
    """Start and end (epoch seconds) and cumulative input rows per batch."""
    starts, ends, cum = [], [], []
    rows = 0
    for p in reports:
        st = probes.epoch_s(p["timestamp"])
        starts.append(st)
        ends.append(st + p["durationMs"].get("triggerExecution", 0) / 1000.0)
        rows += p["numInputRows"]
        cum.append(rows)
    return starts, ends, cum


def _consuming_batches(cum: list[int], rows_per_file: list[int]) -> list[int | None]:
    """Index of the batch that consumed each file, in release order: the
    first batch whose cumulative input rows cover the file's last row."""
    out, total, b = [], 0, 0
    for n in rows_per_file:
        total += n
        while b < len(cum) and cum[b] < total:
            b += 1
        out.append(b if b < len(cum) else None)
    return out


def _timed_passes(bench: Bench, run_pass, nominal_s: float) -> tuple[list, float]:
    """Run ``seconds / nominal_s`` whole passes, rounded, at least one.

    The count depends only on ``seconds``, not on how fast the passes
    ran, so every run of a workload times the same work. Returns the pass
    results and the timed wall time."""
    count = max(1, round(bench.seconds / nominal_s))
    t0 = time.perf_counter()
    results = [run_pass() for _ in range(count)]
    return results, time.perf_counter() - t0


# --------------------------------------------------------------------------
# batch_reports


def batch_reports(bench: Bench, seed: int) -> Outcome:
    spec = bench.sizes.batch
    data = bench.work / "batch"
    frames = gen.generate(spec, seed)
    gen.write_single(frames, data / "events.parquet")
    in_hash = gen.input_hash(frames)

    t_setup, cpu_setup = time.perf_counter(), bench.procs.cpu_s()
    spark = bench.start_spark()
    import __spark_entry__

    catalog = __spark_entry__.queries()
    out = Outcome({}, _zero_layers())
    errors: dict[str, str] = {}

    def run_report(name: str, collect: bool):
        a = time.perf_counter()
        df = catalog[name](spark, str(data))
        b = time.perf_counter()
        if collect:
            result = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            result = None
        c = time.perf_counter()
        return b - a, c - b, result

    def run_pass(phase: str, collect: bool = False):
        t0 = time.time()
        build, run, results = {}, {}, {}
        for name in REPORTS:
            try:
                build[name], run[name], results[name] = run_report(name, collect)
            except Exception as e:  # noqa: BLE001 - a report that raises is a failed op
                errors.setdefault(name, f"{type(e).__name__}: {e}")
                out.fail(f"{name} raised {errors[name][:200]}")
        return {"wall": time.time() - t0, "build": build, "run": run, "results": results}

    # warm-up: the cold pass, whose collected outputs are checked below,
    # then warm passes until JIT compilation has settled
    cold = run_pass("warm", collect=True)
    warm = [run_pass("warm") for _ in range(bench.sizes.batch_warm_passes)]
    setup_s, setup_wall = bench.procs.cpu_s() - cpu_setup, time.perf_counter() - t_setup

    t_timed, cpu0, steal0 = time.time(), bench.procs.cpu_s(), probes.steal_s()
    passes, wall = _timed_passes(bench, lambda: run_pass("timed"), BATCH_PASS_S)
    bench.span("timed", t_timed, time.time())
    cpu_timed, steal_timed = bench.procs.cpu_s() - cpu0, probes.steal_s() - steal0

    events = spec.events * sum(len(p["run"]) for p in passes)
    out.attempted += len(REPORTS) * (1 + len(warm) + len(passes))
    out.end_to_end = {"setup_s": setup_s, "events_per_cpu_s": events / cpu_timed}
    out.notes.append(
        f"input {in_hash}: {spec.events} events, {spec.users} users; "
        f"{len(passes)} timed pass(es)"
    )
    L = out.layers
    L["session.start_s"] = bench.start_s
    L["wall.setup_s"] = setup_wall
    L["wall.events_per_s"] = events / wall
    for r in REPORTS:
        build = [p["build"][r] for p in passes if r in p["build"]]
        run = [p["run"][r] for p in passes if r in p["run"]]
        L[f"queries.build_ms.{r}"] = 1000 * probes.median(build)
        L[f"operators.run_ms.{r}"] = 1000 * probes.median(run)
    spans = sum(sum(p["build"].values()) + sum(p["run"].values()) for p in passes)
    L["trace.attributed_pct"] = 100.0 * spans / wall

    if bench.trace:
        for r in REPORTS:
            if r not in errors:
                ex, jn = probes.plan_counts(catalog[r](spark, str(data)))
                L[f"plan.exchanges.{r}"] = ex
                L[f"plan.joins.{r}"] = jn
        extra = [run_pass("drift")]
        L["pass_drift_pct"] = _drift_pct([p["wall"] for p in passes + extra])
    out.notes.append(
        "pass walls (s): cold %.2f | warm %s | timed %s" % (
            cold["wall"], " ".join(f"{p['wall']:.2f}" for p in warm),
            " ".join(f"{p['wall']:.2f}" for p in passes))
    )
    L["cpu.busy_s"] = cpu_timed
    L["host.steal_s"] = steal_timed
    out.notes.append(f"timed region: wall {wall:.2f} s, cpu {cpu_timed:.2f} s, "
                     f"steal {steal_timed:.2f} s")
    bench.jvm_layers(out, "timed")

    oracle = Oracle(str(data / "events.parquet"))
    try:
        for r in REPORTS:
            if r in cold["results"]:
                out.check(*oracle.compare(r, cold["results"][r]))
    finally:
        oracle.close()
    return out


# --------------------------------------------------------------------------
# stream_replay and live_feed


def _pattern_chain(events):
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    return stream_pattern_detect(
        events,
        key="user_id",
        steps=[
            ("view", None),
            ("click", "INTERVAL 30 MINUTES"),
            ("purchase", "INTERVAL 2 HOURS"),
        ],
    )


def _build_job(job: str, events):
    from pyspark.sql import functions as F

    if job == "windowed_counts":
        from flink_uba_spark.streaming.windows import stream_windowed_counts

        views = events.filter(F.col("event_type") == "view").select(
            F.get_json_object("props", "$.k").cast("long").alias("item_id"), "ts"
        )
        return stream_windowed_counts(views, F.col("item_id"), "item_id",
                                      watermark_delay="0 seconds")
    if job == "order_timeout":
        from flink_uba_spark.streaming.order_timeout import stream_order_timeout

        return stream_order_timeout(events, deadline=ORDER_DEADLINE)
    return _pattern_chain(events)


def _job_output(job: str, sink):
    """The sink rows in the shape of the job's catalog twin."""
    if job != "windowed_counts":
        return sink
    from pyspark.sql import functions as F

    from flink_uba_spark.operators.topn import topn_per_window
    from flink_uba_spark.queries.uba import TOP_N

    return topn_per_window(sink, "item_id", n=TOP_N).select(
        "window_start", "window_end", "item_id", "cnt", F.col("rnk").cast("long").alias("rnk")
    )


def stream_replay(bench: Bench, seed: int) -> Outcome:
    spec = bench.sizes.stream
    src = bench.work / "stream"
    warm = bench.work / "stream_warm"
    frames = gen.generate(spec, seed)
    paths = gen.write_files(frames, src)
    warm.mkdir(parents=True)
    shutil.copy2(paths[0], warm / paths[0].name)
    in_hash = gen.input_hash(frames)

    t_setup, cpu_setup = time.perf_counter(), bench.procs.cpu_s()
    spark = bench.start_spark()
    schema = spark.read.parquet(str(src)).schema
    out = Outcome({}, _zero_layers())
    finished = 0

    def source(directory: Path):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(directory)
        )

    from flink_uba_spark.streaming.runner import run_to_table

    def drain(phase: str, job: str, directory: Path):
        nonlocal finished
        a = time.time()
        sdf = _build_job(job, source(directory))
        b = time.time()
        sink = run_to_table(sdf)
        c = time.time()
        finished += 1
        run = bench.progress.wait_terminated(finished)[-1]
        bench.span(f"{phase}.job.{job}", b, c)
        return {"build": b - a, "run": c - b, "sink": sink, "run_id": run}

    def run_pass(phase: str, directory: Path = src):
        t0 = time.time()
        jobs = {job: drain(phase, job, directory) for job in JOBS}
        return {"wall": time.time() - t0, "jobs": jobs}

    # warm-up: one cold pass of every job over the first file only
    cold = run_pass("warm", warm)
    setup_s, setup_wall = bench.procs.cpu_s() - cpu_setup, time.perf_counter() - t_setup

    t_timed, cpu0, steal0 = time.time(), bench.procs.cpu_s(), probes.steal_s()
    passes, wall = _timed_passes(bench, lambda: run_pass("timed"), STREAM_PASS_S)
    bench.span("timed", t_timed, time.time())
    cpu_timed, steal_timed = bench.procs.cpu_s() - cpu0, probes.steal_s() - steal0

    out.attempted += len(JOBS) * (1 + len(passes))
    for p in [cold] + passes:
        for job, j in p["jobs"].items():
            exc = bench.progress.exception(j["run_id"])
            if exc:
                out.fail(f"{job} raised {exc[:200]}")
    all_batches = [
        b for p in passes for j in p["jobs"].values() for b in bench.progress.progress(j["run_id"])
    ]
    events = spec.events * len(JOBS) * len(passes)
    out.end_to_end = {"setup_s": setup_s, "events_per_cpu_s": events / cpu_timed}
    out.notes.append(
        f"input {in_hash}: {spec.events} events, {spec.users} users, {spec.files} files; "
        f"{len(passes)} timed pass(es)"
    )
    L = out.layers
    L["session.start_s"] = bench.start_s
    L["wall.setup_s"] = setup_wall
    L["wall.events_per_s"] = events / wall
    _protocol_layers(out, all_batches, len(passes))
    for job in JOBS:
        L[f"stream.{job}.wall_s"] = probes.median(
            [p["jobs"][job]["build"] + p["jobs"][job]["run"] for p in passes]
        )
        _state_layers(out, job, bench.progress.progress(passes[-1]["jobs"][job]["run_id"]))
    spans = sum(j["build"] + j["run"] for p in passes for j in p["jobs"].values())
    L["trace.attributed_pct"] = 100.0 * spans / wall
    if bench.trace:
        extra = [run_pass("drift")]
        L["pass_drift_pct"] = _drift_pct([p["wall"] for p in passes + extra])
    out.notes.append(
        "pass walls (s): cold %.2f | timed %s" % (
            cold["wall"], " ".join(f"{p['wall']:.2f}" for p in passes))
    )
    L["cpu.busy_s"] = cpu_timed
    L["host.steal_s"] = steal_timed
    out.notes.append(f"timed region: wall {wall:.2f} s, cpu {cpu_timed:.2f} s, "
                     f"steal {steal_timed:.2f} s")
    bench.jvm_layers(out, "timed")

    glob = str(src / "*.parquet")
    oracle = Oracle(glob)
    try:
        for job in JOBS:
            sink = passes[-1]["jobs"][job]["sink"]
            L[f"sink.{job}.rows"] = sink.count()
            sql = None
            if job == "order_timeout":
                sql = replayed_timers_sql(oracle.sql[TWINS[job]], glob, ORDER_DEADLINE_US)
            out.check(*oracle.compare(TWINS[job], _job_output(job, sink).toPandas(), sql))
    finally:
        oracle.close()
    return out


class Feeder(threading.Thread):
    """Open-loop generator: moves file ``j`` from ``stage`` into ``dest`` at
    ``t0 + j * interval``, whatever the engine is doing."""

    def __init__(self, files: list[Path], dest: Path, interval: float) -> None:
        super().__init__(name="feeder", daemon=True)
        self.files = files
        self.dest = dest
        self.interval = interval
        self.t0 = 0.0
        self.released: list[float] = []  # epoch seconds
        self._stop_event = threading.Event()

    def due(self, j: int) -> float:
        return self.t0 + j * self.interval

    def run(self) -> None:
        for j, f in enumerate(self.files):
            delay = self.due(j) - time.time()
            if delay > 0 and self._stop_event.wait(delay):
                return
            f.rename(self.dest / f.name)
            self.released.append(time.time())

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.start()

    def cancel(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def live_feed(bench: Bench, seed: int) -> Outcome:
    s = bench.sizes
    per_file = max(1, int(round(s.live_rate * s.live_interval_s)))
    n_warm = int(round(s.live_warmup_s / s.live_interval_s))
    n_timed = int(round(bench.seconds / s.live_interval_s))
    n_files = n_warm + n_timed
    spec = gen.Spec(events=per_file * n_files, users=s.live_users, skew=1.1, files=n_files,
                    days=max(1, n_files // 12))
    stage, src = bench.work / "live_stage", bench.work / "live_src"
    frames = gen.generate(spec, seed)
    files = gen.write_files(frames, stage)
    src.mkdir(parents=True)
    in_hash = gen.input_hash(frames)

    t_setup, cpu_setup = time.perf_counter(), bench.procs.cpu_s()
    spark = bench.start_spark()
    schema = spark.read.parquet(str(files[0])).schema
    out = Outcome({}, _zero_layers())
    feeder = Feeder(files, src, s.live_interval_s)

    sdf = _pattern_chain(spark.readStream.schema(schema).parquet(str(src)))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    name = "live_" + uuid.uuid4().hex[:12]
    query = sdf.writeStream.format("memory").queryName(name).outputMode("append").start()
    spark.conf.set("spark.sql.shuffle.partitions", prev)
    run_id = str(query.runId)
    feeder.start_at(time.time() + 0.05)
    # warm-up: the first live_warmup_s of the feed, cold batches included
    time.sleep(max(0.0, feeder.due(n_warm) - time.time()))
    setup_s, setup_wall = bench.procs.cpu_s() - cpu_setup, time.perf_counter() - t_setup
    cpu0, steal0 = bench.procs.cpu_s(), probes.steal_s()
    t_timed = feeder.due(n_warm)
    feeder.join(timeout=bench.seconds + 60)
    t_end = feeder.due(n_files)
    bench.span("timed", t_timed, t_end)
    rows_per_file = [len(f) for f in frames]
    total = sum(rows_per_file)
    bench.progress.wait_rows(run_id, total, timeout=60)
    cpu_timed, steal_timed = bench.procs.cpu_s() - cpu0, probes.steal_s() - steal0
    query.stop()
    bench.progress.wait_terminated(1)
    out.attempted += 1 + n_files
    if query.exception() is not None:
        out.fail(f"live query raised {str(query.exception())[:200]}")

    reports = bench.progress.progress(run_id)
    starts, ends, cum = _batch_bounds(reports)
    lat, wait, proc, used = [], [], [], set()
    unconsumed = 0
    consumed_at: dict[int, int] = {}
    for j, b in enumerate(_consuming_batches(cum, rows_per_file)):
        if b is None:
            unconsumed += 1
            continue
        consumed_at[j] = b
        if j >= n_warm:
            due = feeder.due(j)
            lat.append(1000 * (ends[b] - due))
            wait.append(1000 * (starts[b] - due))
            proc.append(1000 * (ends[b] - starts[b]))
            used.add(b)
    if unconsumed:
        out.failed += unconsumed
        out.notes.append(f"FAIL {unconsumed} of {n_files} files not consumed before the end")
    timed_batches = [reports[i] for i in sorted(used)]
    timed_events = sum(rows_per_file[n_warm:])
    last = max((consumed_at[j] for j in range(n_warm, n_files) if j in consumed_at), default=None)
    span_s = (ends[last] - t_timed) if last is not None else float("inf")
    late = [1000 * (feeder.released[j] - feeder.due(j)) for j in range(len(feeder.released))]
    backlog = []
    for b in sorted(used):
        released = sum(1 for t in feeder.released if t <= ends[b])
        done = max(j for j, bb in consumed_at.items() if bb <= b) + 1
        backlog.append(released - done)

    out.end_to_end = {
        "setup_s": setup_s,
        "events_per_cpu_s": timed_events / cpu_timed,
        "latency_p50_ms": probes.percentile(lat, 50),
        "latency_p90_ms": probes.percentile(lat, 90),
    }
    out.notes.append(
        f"input {in_hash}: {spec.events} events, {spec.users} users, {n_files} files of "
        f"{per_file} every {s.live_interval_s}s; {len(lat)} file latencies "
        f"after {n_warm} warm-up files, {len(timed_batches)} batches"
    )
    L = out.layers
    L["session.start_s"] = bench.start_s
    L["wall.setup_s"] = setup_wall
    L["wall.events_per_s"] = timed_events / span_s
    _protocol_layers(out, timed_batches, 1)
    L["stream.pattern_chain.wall_s"] = t_end - t_timed
    _state_layers(out, "pattern_chain", timed_batches)
    L["live.gen_late_p99_ms"] = probes.percentile(late, 99)
    L["live.backlog_files_max"] = max(backlog, default=0)
    L["live.queue_wait_ms_p50"] = probes.percentile(wait, 50)
    L["live.process_ms_p50"] = probes.percentile(proc, 50)
    durations = [reports[i]["durationMs"].get("triggerExecution", 0) for i in sorted(used)]
    half = len(durations) // 2
    if half:
        L["pass_drift_pct"] = _drift_pct(
            [probes.median(durations[:half]), probes.median(durations[half:])]
        )
    busy = sum(durations) / 1000.0
    L["trace.attributed_pct"] = 100.0 * min(busy, span_s) / span_s
    L["cpu.busy_s"] = cpu_timed
    L["host.steal_s"] = steal_timed
    bench.span("timed.job.pattern_chain", t_timed, t_end)
    bench.jvm_layers(out, "timed")

    oracle = Oracle(str(src / "*.parquet"))
    try:
        sink = spark.table(name)
        L["sink.pattern_chain.rows"] = sink.count()
        out.check(*oracle.compare(TWINS["pattern_chain"], sink.toPandas()))
    finally:
        oracle.close()
    return out


WORKLOADS = {
    "batch_reports": batch_reports,
    "stream_replay": stream_replay,
    "live_feed": live_feed,
}
