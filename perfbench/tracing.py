"""Spans, Spark status-store counts and memory sampling for the benchmark.

Every op is timed as the sum of its *steps*; a step is one call from the
benchmark into one layer of the package (plan build, action, Avro write...).
In a traced pass each step also becomes a span (name, start, end, parent;
the spans of one op share its ``op_id``) and is charged with the Spark jobs
it started. Jobs are found as the job-id delta in Spark's status store
across the step, not by job group, so jobs started by streaming threads are
counted too. The status store is read only after the step's clock has
stopped, so the bookkeeping never lands inside a timed step.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class StatusStore:
    """Reads jobs and stages from the driver's ``AppStatusStore``. It is
    populated with ``spark.ui.enabled=false`` too; records come back as the
    same JSON the Spark REST API serves."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._no_quantiles = getattr(self._store, "stageList$default$4")()
        self._all_task_statuses = getattr(self._store, "stageList$default$5")()
        self.job_cursor = max((j["jobId"] for j in self.jobs()), default=-1)

    def drain(self) -> None:
        """Wait until every listener event posted so far is processed."""
        self._bus.waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return json.loads(self._json.writeValueAsString(self._store.jobsList(None)))

    def new_jobs(self) -> list[dict]:
        """Jobs started since the previous call, oldest first."""
        self.drain()
        fresh = [j for j in self.jobs() if j["jobId"] > self.job_cursor]
        fresh.sort(key=lambda j: j["jobId"])
        if fresh:
            self.job_cursor = fresh[-1]["jobId"]
        return fresh

    def stages(self, stage_ids: set[int]) -> list[dict]:
        every = json.loads(
            self._json.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._all_task_statuses
                )
            )
        )
        return [s for s in every if s["stageId"] in stage_ids]

    def tasks(self, stage: dict) -> list[dict]:
        return json.loads(
            self._json.writeValueAsString(
                self._store.taskList(stage["stageId"], stage["attemptId"], stage["numTasks"])
            )
        )

    def task_run_quantiles(self, stage: dict) -> tuple[float, float] | None:
        """(median, max) task executor run time of one stage attempt, ms."""
        opt = self._store.taskSummary(stage["stageId"], stage["attemptId"], self._quantiles)
        if opt.isEmpty():
            return None
        run = json.loads(self._json.writeValueAsString(opt.get()))["executorRunTime"]
        return run[0], run[1]


class StreamListener(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query. Callbacks run
    on py4j threads, so all state is guarded by a lock."""

    def __init__(self):
        self._lock = threading.Lock()
        self.run_ids: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> tuple[set[str], list[dict]]:
        """Everything recorded since the previous call."""
        with self._lock:
            run_ids, progress = self.run_ids, self.progress
            self.run_ids, self.progress = set(), []
        return run_ids, progress


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Times op steps; when ``enabled``, also records spans and job counts.

    With tracing off a step costs two ``perf_counter`` calls, so passes with
    tracing on and off measure the same work.
    """

    def __init__(self, status: StatusStore | None):
        self.status = status
        self.enabled = False
        self.spans: list[Span] = []
        self._op: Span | None = None

    @contextmanager
    def op(self, op_id: int, name: str):
        span = None
        if self.enabled:
            # jobs started outside any op (between ops) are nobody's
            outside = self.status.new_jobs()
            span = Span(len(self.spans), name, op_id, None, time.time())
            span.attrs["jobs_before_op"] = len(outside)
            self.spans.append(span)
        self._op = span
        try:
            yield
        finally:
            if span is not None:
                span.end = time.time()
            self._op = None

    @contextmanager
    def step(self, layer: str, timings: dict):
        """Time one call into ``layer``; adds its seconds to ``timings[layer]``."""
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t0
            timings[layer] = timings.get(layer, 0.0) + elapsed
            if self.enabled and self._op is not None:
                self._record(layer, wall0, wall0 + elapsed)

    def _record(self, layer: str, start: float, end: float) -> None:
        jobs = self.status.new_jobs()
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self.status.stages(stage_ids) if s["status"] != "SKIPPED"]
        skew = 1.0
        if layer == "operators.action":
            for s in stages:
                if s["numTasks"] >= 2:
                    q = self.status.task_run_quantiles(s)
                    if q and q[0] > 0:
                        skew = max(skew, q[1] / q[0])
        first = min(stages, key=lambda s: s["stageId"]) if stages else None
        first_tasks = self.status.tasks(first) if first and layer == "operators.action" else []
        result_stages = {max(j["stageIds"]) for j in jobs if j["stageIds"]}
        job_intervals = {
            j["jobId"]: (j["submissionTime"] / 1e3, (j["completionTime"] or 0) / 1e3)
            for j in jobs
            if j["submissionTime"]
        }
        parent = self._op
        span = Span(len(self.spans), layer, parent.op_id, parent.span_id, start, end)
        span.attrs = {
            "jobs": len(jobs),
            "job_groups": [j["jobGroup"] for j in jobs],
            "job_names": [j["name"] for j in jobs],
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(
                s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages
            ),
            "result_bytes": sum(
                s["resultSize"] for s in stages if s["stageId"] in result_stages
            ),
            "task_skew": skew,
            "first_stage_tasks": first["numTasks"] if first else 0,
            "first_stage_tasks_nonempty": sum(
                t["taskMetrics"]["inputMetrics"]["recordsRead"] > 0 for t in first_tasks
            ),
            "job_s": covered_s(list(job_intervals.values()), start, end),
        }
        self.spans.append(span)
        for job_id, (a, b) in job_intervals.items():
            self.spans.append(
                Span(len(self.spans), "spark.job", parent.op_id, span.span_id, a, b,
                     {"job_id": job_id})
            )

    def steps(self, op_ids: set[int]) -> list[Span]:
        """Step spans of the given ops."""
        return [
            s
            for s in self.spans
            if s.op_id in op_ids and s.parent is not None and s.name != "spark.job"
        ]


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * RssSampler.PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total

