"""The two sync workloads, driven through the program's public entry
points: ``FeedPoller`` over loopback gRPC (``serve_transport`` +
``SocketGrpcTransport``), then ``EmployeeSyncPipeline`` /
``TaskSyncPipeline.run_available_now``.

Each workload returns a ``Result``: set-up time, one record per
measured op, the correctness tally and, when traced, the per-layer
figures. Correctness checks run outside the timed region.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hephaestus_spark.sources.grpc_source import (
    FeedPoller,
    InProcessTransport,
    SocketGrpcTransport,
    serve_transport,
)
from hephaestus_spark.streaming import sinks
from hephaestus_spark.streaming.pipeline import EmployeeSyncPipeline, TaskSyncPipeline
from perfbench import feedgen, hoststat, oracle

# setup_s is the program's own first-run cost, one sample a run: on
# sync_tick the store build (first employee poll and both pipelines'
# first drain), on sync_backfill the first day's poll and drain on a
# fresh session. Feed generation, encoding and the simulated geocoder
# are not in it.
EMPLOYEES = 5_000
# sync_tick: a resident store, then one small delta per tick
STORE_TASKS = 100_000
TICK_ROWS = 2_000
# Two quiet ticks, checked, not measured; with one, the first measured
# tick ran ~15 % slower than the next.
WARMUP_TICKS = 2
EMPLOYEE_CHANGE_EVERY = 10  # the employee snapshot changes on ticks i % 10 == 4
EMPLOYEE_CHANGE_AT = WARMUP_TICKS + 2  # the second measured tick
# Every run measures at least quiet, change, quiet ticks (or three
# backfill days), even when a slow host stretches them past the window.
MIN_OPS = 3
# sync_backfill: catch-up from empty state, one day per op
BACKFILL_ROWS = 6_000
# Days checked, not measured; day 1 is timed as setup_s. With three, the
# first measured day still cost ~25 % more CPU than the last (JIT).
BACKFILL_WARMUP_DAYS = 5
DAY = datetime.timedelta(days=1)


@dataclass
class Op:
    kind: str
    seconds: float
    cpu_s: float


@dataclass
class Result:
    setup_s: float = 0.0
    warmup_s: list[float] = field(default_factory=list)  # checked, not measured
    ops: list[Op] = field(default_factory=list)
    shares: dict[str, float] = field(default_factory=dict)  # op kind -> share
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, ops: int, msg: str) -> None:
        self.failed += ops
        self.errors.append(msg)


def _measure_more(started: float, seconds: float, ops: list[Op], tracer) -> bool:
    """Start another op until MIN_OPS are measured, then only if one as
    fast as the fastest so far would end inside the window (which does
    not count the traced run's REST collection between ops). The
    fastest, not the mean: on sync_tick an employee-change tick takes
    ~2x a quiet one."""
    elapsed = time.perf_counter() - started - tracer.collect_s
    return len(ops) < MIN_OPS or elapsed + min(o.seconds for o in ops) <= seconds


def _instrument(tracer) -> None:
    """Spans around the program's sink-side layer boundaries (traced
    runs only; the poll RPC spans are added per transport in Rig)."""
    tracer.wrap(sinks, "batch_fingerprint", "sink.fingerprint")
    tracer.wrap(sinks.ParquetSnapshotTarget, "merge_batch", "sink.employee_merge")
    tracer.wrap(sinks.WatermarkTable, "write", "sink.watermark")
    tracer.wrap(TaskSyncPipeline, "_merge_tasks", "sink.task_merge")
    tracer.wrap(TaskSyncPipeline, "_rebuild_bridge", "sink.bridge")


def _write_dim(path: str, employees: list[dict]) -> dict[str, int]:
    """The (shortname, emp_id) executor dimension, built once per set-up.
    ``TaskSyncPipeline(employees_path=...)`` cannot read the employee
    pipeline's own snapshot (both sides of its join carry ``id``)."""
    dim = {e["shortname"]: e["id"] for e in employees}
    pq.write_table(pa.table({
        "shortname": pa.array(list(dim), pa.string()),
        "emp_id": pa.array(list(dim.values()), pa.int64()),
    }), path)
    return dim


def _feed_bytes(*dirs: str) -> int:
    total = 0
    for d in dirs:
        if os.path.isdir(d):
            total += sum(e.stat().st_size for e in os.scandir(d)
                         if e.is_file() and e.name.endswith(".parquet"))
    return total


class Upstream:
    """The scraper side: canned feeds behind a loopback gRPC server."""

    def __init__(self, feeds: InProcessTransport):
        self.feeds = feeds
        self.server = serve_transport(feeds)

    def stop(self) -> None:
        self.server.stop()


@dataclass
class Rig:
    """One sync deployment: gRPC client, poller and both pipelines."""

    root: str
    upstream: Upstream
    transport: SocketGrpcTransport
    poller: FeedPoller
    employees: EmployeeSyncPipeline
    tasks: TaskSyncPipeline
    dim: dict[str, int]

    @classmethod
    def start(cls, root: str, upstream: Upstream, employees: list[dict], tracer) -> Rig:
        p = lambda name: os.path.join(root, name)  # noqa: E731
        for d in ("employee_feed", "task_feed"):
            os.makedirs(p(d))
        dim = _write_dim(p("dim.parquet"), employees)
        transport = SocketGrpcTransport("127.0.0.1", upstream.server.port)
        tracer.wrap(transport, "get_employees", "poll.rpc")
        tracer.wrap(transport, "get_daily_tasks", "poll.rpc")
        return cls(
            root, upstream, transport,
            FeedPoller(transport, p("employee_feed"), p("task_feed")),
            EmployeeSyncPipeline(p("employee_feed"), p("employees"), p("employee_wm")),
            TaskSyncPipeline(p("task_feed"), p("tasks"), p("bridge"), p("task_wm"),
                             employees_path=p("dim.parquet")),
            dim,
        )

    def close(self) -> None:
        self.transport.close()

    def check_tasks(self, replay: oracle.SyncReplay) -> list[str]:
        errs = []
        for what, path, expected, keys in (
            ("tasks", self.tasks.tasks_path, replay.expected_tasks(), ["id"]),
            ("bridge", self.tasks.bridge_path, replay.expected_bridge(),
             ["task_id", "member"]),
        ):
            diff = oracle.compare_tables(oracle.read_dir(path), expected, keys)
            if diff:
                errs.append(f"{what}: {diff}")
        return errs

    def resolve_ratio(self) -> float:
        ids = pq.read_table(self.tasks.bridge_path, columns=["member_id"])["member_id"]
        return 1 - ids.null_count / max(1, len(ids))


def _geocode(spark, tasks_path: str) -> None:
    """The external geocoder: fill coordinates of every stored task
    (the rule ``oracle.geocode`` restates)."""
    miss = F.col("id") % oracle.GEOCODE_MISS == 0
    snap = spark.read.parquet(tasks_path)
    out = snap.select(
        *[c for c in snap.columns if c not in oracle.GEO_COLS],
        F.when(miss, F.lit(None)).otherwise(F.col("id") % 1800 / 10.0 - 90.0)
        .cast("double").alias("latitude"),
        F.when(miss, F.lit(None)).otherwise(F.col("id") % 3600 / 10.0 - 180.0)
        .cast("double").alias("longitude"),
        F.when(miss, F.lit(3)).otherwise(F.col("id") % 3 + 1).cast("int")
        .alias("geocoding_attempts"),
        F.when(miss, F.lit(oracle.GEOCODE_ERROR)).cast("string").alias("geocoding_error"),
    )
    out.write.parquet(tasks_path + ".geo")
    shutil.rmtree(tasks_path)
    os.rename(tasks_path + ".geo", tasks_path)


# ------------------------------------------------------------------ sync_tick
def sync_tick(spark, work: str, seed: int, seconds: float, tracer) -> Result:
    res = Result(shares={"quiet": 1 - 1 / EMPLOYEE_CHANGE_EVERY,
                         "change": 1 / EMPLOYEE_CHANGE_EVERY})
    gen = feedgen.FeedGenerator(seed, EMPLOYEES, STORE_TASKS)
    seed_feed = gen.seed_table()
    employees = gen.employee_rows()
    upstream = Upstream(InProcessTransport(
        employee_payloads=feedgen.encode_employees(employees)))
    rig = Rig.start(os.path.join(work, "tick"), upstream, employees, tracer)
    pq.write_table(seed_feed, os.path.join(rig.poller.task_feed_dir, "seed.parquet"))
    t0 = time.perf_counter()
    rig.poller.poll_employees_once(spark, feedgen.EPOCH_DAY)
    rig.employees.run_available_now(spark)
    rig.tasks.run_available_now(spark)
    res.setup_s = time.perf_counter() - t0
    _geocode(spark, rig.tasks.tasks_path)
    if tracer.enabled:
        _instrument(tracer)

    replay = oracle.SyncReplay(rig.dim, seed_feed, geocoded=True)
    employee_day = feedgen.EPOCH_DAY
    layer = {"polls": 0, "skipped": 0, "feed_bytes": 0, "landed_rows": 0}
    measured: set[int] = set()
    started = None
    i, day = 0, feedgen.EPOCH_DAY
    while started is None or _measure_more(started, seconds, res.ops, tracer):
        i, day = i + 1, day + DAY
        change = i % EMPLOYEE_CHANGE_EVERY == EMPLOYEE_CHANGE_AT
        if change:
            gen.change_employees()
            upstream.feeds.employee_payloads = feedgen.encode_employees(gen.employee_rows())
            employee_day = day
        delta = gen.delta_table(i, TICK_ROWS)
        upstream.feeds.task_payloads_by_date[day.isoformat()] = feedgen.encode_tasks(delta)
        replay.apply(delta)
        feed_dirs = (rig.poller.employee_feed_dir, rig.poller.task_feed_dir)
        bytes0 = _feed_bytes(*feed_dirs) if tracer.enabled else 0

        tracer.op = i
        c0 = hoststat.tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("tick"):
            with tracer.span("poll.employees"):
                n_emp = rig.poller.poll_employees_once(spark, day)
            with tracer.span("poll.tasks"):
                n_task = rig.poller.poll_tasks_for_date(spark, day)
            with tracer.span("stream.employee_run"):
                rig.employees.run_available_now(spark)
            with tracer.span("stream.task_run"):
                rig.tasks.run_available_now(spark)
        t = time.perf_counter() - t0
        cpu = hoststat.tree_cpu_s() - c0

        res.attempted += 1
        errs = []
        if n_task != TICK_ROWS or n_emp != (EMPLOYEES if change else 0):
            errs.append(f"landed {n_emp} employees / {n_task} tasks")
        if oracle.watermark(rig.tasks.watermark_path) != day + DAY:
            errs.append("task watermark did not advance to day + 1")
        if errs:
            res.fail(1, f"tick {i}: " + "; ".join(errs))
        if i <= WARMUP_TICKS:
            res.warmup_s.append(t)
            if i == WARMUP_TICKS:
                started = time.perf_counter()
            continue
        res.ops.append(Op("change" if change else "quiet", t, cpu))
        measured.add(i)
        if tracer.enabled:
            tracer.collect()
            layer["polls"] += 2
            layer["skipped"] += n_emp == 0
            layer["landed_rows"] += n_emp + n_task
            layer["feed_bytes"] += _feed_bytes(*feed_dirs) - bytes0

    errs = rig.check_tasks(replay)
    diff = oracle.compare_tables(
        oracle.read_dir(rig.employees.snapshot_path),
        oracle.expected_employees(gen.employee_rows()), ["id"])
    if diff:
        errs.append(f"employees: {diff}")
    if oracle.watermark(rig.employees.watermark_path) != employee_day:
        errs.append("employee watermark is not the last changed feed day")
    if errs:  # the final state vouches for every tick
        res.fail(res.attempted - res.failed, "final state: " + "; ".join(errs))
    if tracer.enabled:
        res.layers = _layers(tracer, measured, layer, len(res.ops))
        res.layers["bridge.resolve_ratio"] = rig.resolve_ratio()
    rig.close()
    upstream.stop()
    return res


# -------------------------------------------------------------- sync_backfill
def sync_backfill(spark, work: str, seed: int, seconds: float, tracer) -> Result:
    """Catch-up from empty state, one day per op: poll the day over gRPC,
    then drain it (one micro-batch)."""
    res = Result(shares={"day": 1.0})
    gen = feedgen.FeedGenerator(seed, EMPLOYEES, 0)
    upstream = Upstream(InProcessTransport())
    rig = Rig.start(os.path.join(work, "backfill"), upstream, gen.employee_rows(), tracer)
    replay = oracle.SyncReplay(rig.dim)
    if tracer.enabled:
        _instrument(tracer)

    layer = {"polls": 0, "skipped": 0, "feed_bytes": 0, "landed_rows": 0}
    measured: set[int] = set()
    started = None
    d, day = 0, feedgen.EPOCH_DAY
    while started is None or _measure_more(started, seconds, res.ops, tracer):
        d, day = d + 1, day + DAY
        delta = gen.delta_table(d, BACKFILL_ROWS)
        upstream.feeds.task_payloads_by_date[day.isoformat()] = feedgen.encode_tasks(delta)
        replay.apply(delta)
        bytes0 = _feed_bytes(rig.poller.task_feed_dir) if tracer.enabled else 0

        tracer.op = d
        c0 = hoststat.tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("day"):
            with tracer.span("poll.tasks"):
                landed = rig.poller.poll_tasks_for_date(spark, day)
            with tracer.span("stream.task_run"):
                rig.tasks.run_available_now(spark)
        t = time.perf_counter() - t0
        cpu = hoststat.tree_cpu_s() - c0

        res.attempted += 1
        errs = []
        if landed != BACKFILL_ROWS:
            errs.append(f"landed {landed} tasks")
        if oracle.watermark(rig.tasks.watermark_path) != day + DAY:
            errs.append("task watermark did not advance to day + 1")
        if errs:
            res.fail(1, f"day {d}: " + "; ".join(errs))
        if d == 1:
            res.setup_s = t
        if d <= BACKFILL_WARMUP_DAYS:
            res.warmup_s.append(t)
            if d == BACKFILL_WARMUP_DAYS:
                started = time.perf_counter()
            continue
        res.ops.append(Op("day", t, cpu))
        measured.add(d)
        if tracer.enabled:
            tracer.collect()
            layer["polls"] += 1
            layer["landed_rows"] += landed
            layer["feed_bytes"] += _feed_bytes(rig.poller.task_feed_dir) - bytes0

    errs = rig.check_tasks(replay)
    if errs:  # the final state vouches for every day
        res.fail(res.attempted - res.failed, "final state: " + "; ".join(errs))
    if tracer.enabled:
        res.layers = _layers(tracer, measured, layer, len(res.ops))
        res.layers["bridge.resolve_ratio"] = rig.resolve_ratio()
    rig.close()
    upstream.stop()
    return res


# ---------------------------------------------------------------- per layer
def _layers(tracer, ops: set[int], counts: dict, n_ops: int) -> dict[str, float]:
    """Per-op means of the traced run's span, trigger and stage figures."""
    n = max(1, n_ops)
    runs = {"stream.employee_run", "stream.task_run"}
    rpc = tracer.span_s("poll.rpc", ops)
    poll = tracer.span_s("poll.employees", ops) + tracer.span_s("poll.tasks", ops)
    trig = tracer.triggers_in(ops, runs)
    trigger_s = sum(t["duration_ms"].get("triggerExecution", 0) for t in trig) / 1e3
    run_s = sum(tracer.span_s(s, ops) for s in runs)
    spark_all = tracer.spark_totals(ops)
    sink = tracer.spark_totals(ops, runs)
    out = {
        "poll.rpc_s": rpc / n,
        "poll.land_s": (poll - rpc) / n,
        "poll.skip_ratio": counts["skipped"] / max(1, counts["polls"]),
        "poll.feed_bytes": counts["feed_bytes"] / n,
        "stream.employee_run_s": tracer.span_s("stream.employee_run", ops) / n,
        "stream.task_run_s": tracer.span_s("stream.task_run", ops) / n,
        "stream.trigger_s": trigger_s / n,
        "stream.add_batch_s": sum(t["duration_ms"].get("addBatch", 0) for t in trig) / 1e3 / n,
        "stream.overhead_s": (run_s - trigger_s) / n,
        "stream.batches": len(trig) / n,
        "sink.fingerprint_s": tracer.span_s("sink.fingerprint", ops) / n,
        "sink.employee_merge_s": tracer.span_s("sink.employee_merge", ops) / n,
        "sink.task_merge_s": tracer.span_s("sink.task_merge", ops) / n,
        "sink.bridge_s": tracer.span_s("sink.bridge", ops) / n,
        "sink.watermark_s": tracer.span_s("sink.watermark", ops) / n,
        "sink.bytes_written": sink["output_bytes"] / n,
        "sink.write_amp": sink["output_bytes"] / max(1, counts["feed_bytes"]),
        "sink.rows_rewritten_per_row": sink["output_records"] / max(1, counts["landed_rows"]),
    }
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        out[f"spark.{k}"] = spark_all[k] / n
    out["spark.task_p50_s"] = spark_all["task_p50_s"]
    out["spark.task_max_s"] = spark_all["task_max_s"]
    return out
