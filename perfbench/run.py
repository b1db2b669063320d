"""Sync benchmark: one command, two workloads, end-to-end or per layer.

    python3 perfbench/run.py --workload sync_tick --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the
end-to-end metrics with the Spark UI off and no instrumentation;
``--trace 1`` is a separate run that records spans, streaming progress
and Spark stage metrics and prints the per-layer metrics. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout; the trace of a traced run is kept there, the rest is removed.
See perfbench/README.md for what each workload exercises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cycle_s": ("s", "lower"),
    "cpu_per_cycle_s": ("s", "lower"),
}
PER_LAYER = {
    "poll.rpc_s": ("s", "lower"),
    "poll.land_s": ("s", "lower"),
    "poll.skip_ratio": ("ratio", "higher"),
    "poll.feed_bytes": ("bytes", "lower"),
    "stream.employee_run_s": ("s", "lower"),
    "stream.task_run_s": ("s", "lower"),
    "stream.trigger_s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.overhead_s": ("s", "lower"),
    "stream.batches": ("count", "lower"),
    "sink.fingerprint_s": ("s", "lower"),
    "sink.employee_merge_s": ("s", "lower"),
    "sink.task_merge_s": ("s", "lower"),
    "sink.bridge_s": ("s", "lower"),
    "sink.watermark_s": ("s", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.write_amp": ("ratio", "lower"),
    "sink.rows_rewritten_per_row": ("ratio", "lower"),
    "bridge.resolve_ratio": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_p50_s": ("s", "lower"),
    "spark.task_max_s": ("s", "lower"),
    "setup.session_s": ("s", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
    "host.steal_frac": ("ratio", "lower"),
    "host.busy_other_frac": ("ratio", "lower"),
    "trace.cycle_s": ("s", "lower"),
    "trace.cpu_per_cycle_s": ("s", "lower"),
}
WORKLOADS = ("sync_tick", "sync_backfill")


def _pin_environment(work: str, trace: bool) -> None:
    """Session pinning and scratch locations, all inside the checkout.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ.update({
        # Python workers import the program by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": f"{min(3072, total_mb // 4)}m",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Djava.io.tmpdir={tmp}'
                               ' -XX:-UsePerfData" pyspark-shell',
    })


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it; wait for all."""
    from pyspark import SparkContext

    from perfbench import hoststat

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in hoststat.tree_pids() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _weighted_median(res, attr: str) -> float:
    """Per-op ``attr``: each op kind's median weighted by the kind's
    scheduled share (sync_tick: quiet 0.9, employee change 0.1), so
    neither the number of ticks a run fits nor one slow op moves the
    share of employee-change ticks."""
    pairs = [(share, [getattr(o, attr) for o in res.ops if o.kind == kind])
             for kind, share in res.shares.items()]
    pairs = [(s, v) for s, v in pairs if v]
    return sum(s * statistics.median(v) for s, v in pairs) / sum(s for s, _ in pairs)


def end_to_end(res) -> dict[str, float]:
    return {
        "cycle_s": _weighted_median(res, "seconds"),
        "cpu_per_cycle_s": _weighted_median(res, "cpu_s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hephaestus_spark")):
        print(f"perfbench: no program to measure under {ROOT} "
              "(hephaestus_spark/ is missing)", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the checkout root, not perfbench/
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work, bool(args.trace))

    from hephaestus_spark.session import get_session

    from perfbench import hoststat, tracing, workloads

    t0 = time.perf_counter()
    spark = get_session("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark) if args.trace else tracing.NoTrace()
    try:
        stat0, cpu0 = hoststat.cpu_stat(), hoststat.tree_cpu_s()
        res = getattr(workloads, args.workload)(spark, work, args.seed, args.seconds, tracer)
        host = hoststat.contention(stat0, hoststat.cpu_stat(), hoststat.tree_cpu_s() - cpu0)
        peak_rss = hoststat.tree_peak_rss_mb()
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                     f"{args.workload}-{args.seed}.json"))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(res)
    if args.trace:
        values = {**res.layers, "setup.session_s": session_s, "mem.peak_rss_mb": peak_rss,
                  "host.steal_frac": host["steal_frac"],
                  "host.busy_other_frac": host["busy_other_frac"],
                  "trace.cycle_s": e2e["cycle_s"],
                  "trace.cpu_per_cycle_s": e2e["cpu_per_cycle_s"]}
        declared = PER_LAYER
    else:
        values = {**e2e, "setup_s": res.setup_s}
        declared = END_TO_END
    for err in res.errors:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(f"host: steal_frac={host['steal_frac']:.4f} "
          f"busy_other_frac={host['busy_other_frac']:.4f} "
          f"setup_s={res.setup_s:.3f} warmup_s={[round(w, 3) for w in res.warmup_s]} "
          f"ops(kind, s, cpu_s)="
          f"{[(o.kind, round(o.seconds, 3), round(o.cpu_s, 2)) for o in res.ops]}")
    print(json.dumps({
        "correct": res.failed == 0 and not res.errors,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": unit}
                    for k, (unit, _better) in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
