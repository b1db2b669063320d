"""Spans, streaming progress and Spark job/stage metrics for traced runs.

Spans are recorded by the benchmark around its calls into the
program's layers; each carries name, start, end, parent and the id of
the op (tick or backfill) it belongs to. A ``StreamingQueryListener``
collects each trigger's ``durationMs``, and the status REST API gives
every Spark job and completed stage, each attributed to the innermost
span open when it was submitted. Everything is kept in memory and
written out once at the end.

``NoTrace`` has the same surface and records nothing; untraced runs
use it, with the Spark UI off.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import statistics
import time
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


def _rest_time(s: str) -> float:
    """'2026-01-02T03:04:05.678GMT' or '...678Z' -> epoch seconds."""
    return datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=datetime.timezone.utc).timestamp()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Progress(StreamingQueryListener):
    """Per-trigger ``durationMs`` of every streaming query."""

    def __init__(self) -> None:
        self.triggers: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.triggers.append({
            "start": _rest_time(p.timestamp),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class NoTrace:
    enabled = False
    op = -1
    collect_s = 0.0

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def collect(self) -> None:
        pass


@dataclass
class Tracer:
    spark: object
    enabled = True
    op: int = -1
    collect_s: float = 0.0  # time spent in collect(), kept out of the window
    spans: list[Span] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    progress: Progress = field(default_factory=Progress)
    _stack: list[int] = field(default_factory=list)
    _seen: set = field(default_factory=set)

    def __post_init__(self) -> None:
        self.spark.streams.addListener(self.progress)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``. A missing
        attribute is an error: the layer's figures would read 0."""
        if not hasattr(owner, attr):
            raise AttributeError(
                f"perfbench: cannot trace {name}: {owner!r} has no {attr!r}; "
                "update the span in perfbench/workloads.py")
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def _get(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Fetch the jobs and completed stages new since the last call."""
        t0 = time.perf_counter()
        try:
            self._collect()
        finally:
            self.collect_s += time.perf_counter() - t0

    def _collect(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        for j in self._get("jobs"):
            if ("job", j["jobId"]) in self._seen or "submissionTime" not in j:
                continue
            self._seen.add(("job", j["jobId"]))
            self.jobs.append({"id": j["jobId"],
                              "span": self._innermost(_rest_time(j["submissionTime"]))})
        for s in self._get("stages?status=complete"):
            key = ("stage", s["stageId"], s["attemptId"])
            if key in self._seen:
                continue
            self._seen.add(key)
            s["span"] = self._innermost(_rest_time(s["submissionTime"]))
            tasks = [] if s["span"] is None else self._get(
                f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
            s["task_durations_s"] = [t.get("duration", 0) / 1000 for t in tasks]
            self.stages.append(s)

    def _innermost(self, t: float) -> int | None:
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end and (best is None or sp.start >= self.spans[best].start):
                best = i
        return best

    def under(self, idx: int | None, names: set[str]) -> bool:
        """True when span ``idx`` or one of its ancestors is in ``names``."""
        while idx is not None:
            if self.spans[idx].name in names:
                return True
            idx = self.spans[idx].parent
        return False

    def op_of(self, idx: int | None) -> int | None:
        return None if idx is None else self.spans[idx].op

    def span_s(self, name: str, ops: set[int]) -> float:
        return sum(sp.end - sp.start for sp in self.spans
                   if sp.name == name and sp.op in ops)

    def triggers_in(self, ops: set[int], names: set[str]) -> list[dict]:
        """Streaming triggers that started inside a span in ``names``."""
        out = []
        for t in self.progress.triggers:
            idx = self._innermost(t["start"])
            if self.op_of(idx) in ops and self.under(idx, names):
                out.append(t)
        return out

    def spark_totals(self, ops: set[int], names: set[str] | None = None) -> dict:
        """Spark counters over the jobs/stages of ``ops`` (optionally only
        those submitted under a span in ``names``)."""
        def keep(idx):
            return self.op_of(idx) in ops and (names is None or self.under(idx, names))

        stages = [s for s in self.stages if keep(s["span"])]
        durations = [d for s in stages for d in s["task_durations_s"]]
        return {
            "jobs": sum(1 for j in self.jobs if keep(j["span"])),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
            "output_records": sum(s["outputRecords"] for s in stages),
            "task_p50_s": statistics.median(durations) if durations else 0.0,
            "task_max_s": max(durations, default=0.0),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [sp.__dict__ for sp in self.spans],
                "triggers": self.progress.triggers,
                "jobs": self.jobs,
                "stages": [{k: s.get(k) for k in (
                    "stageId", "attemptId", "name", "numTasks", "executorCpuTime",
                    "jvmGcTime", "shuffleWriteBytes", "shuffleReadBytes",
                    "diskBytesSpilled", "outputBytes", "outputRecords", "span")}
                    for s in self.stages],
            }, f)
