"""Spans, Spark job groups and status-store readings for the traced run.

A ``Tracer`` wraps each call into a module's public function in a *phase*:
a span (name, start, end, parent) plus a Spark job group named after the
phase. The program's fan-out threads re-apply the caller's job group, so
every job a phase causes lands in its group. After each phase the tracer
drains the listener bus and reads the phase's jobs and stages from the
Spark status store (``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``).

With tracing off every method is a no-op, so the same workload code runs in
both modes.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_FIELDS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                "input_mb", "shuffle_write_mb", "spill_mb", "driver_only_s")


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by the union of (start, end) intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)
    # (submitted, completed) of the Spark jobs attributed to this span
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it the children cover."""
        return self.duration - union_length(
            [(c.start, c.end) for c in self.children], self.start, self.end)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[Span] = []
        self._current: Span | None = None
        self._seen_unattributed: set[int] = set()
        self.unattributed_jobs = 0

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def operation(self, index: int):
        """Root span of one operation; phases opened inside are its
        children. Jobs it causes outside any phase count as unattributed."""
        if not self.enabled:
            yield None
            return
        self._drain()
        before = self._ungrouped_jobs()
        self._seen_unattributed |= before
        span = Span(f"op{index}", time.time())
        self._current = span
        try:
            yield span
        finally:
            span.end = time.time()
            self._current = None
            self._drain()
            new = self._ungrouped_jobs() - self._seen_unattributed
            self._seen_unattributed |= new
            self.unattributed_jobs += len(new)
            span.jobs = self._job_spans(new)
            self.ops.append(span)

    @contextmanager
    def phase(self, name: str):
        if not self.enabled or self._current is None:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._current
        group = f"perfbench.{parent.name}.{name}"
        sc.setJobGroup(group, name)
        span = Span(name, time.time(), parent=parent)
        try:
            yield
        finally:
            span.end = time.time()
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
            parent.children.append(span)
            self._drain()
            span.spark = self._read_group(group, span)

    # -- status store ---------------------------------------------------------

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _ungrouped_jobs(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None))

    def _job_spans(self, job_ids) -> list[tuple[float, float]]:
        """(submitted, completed) in epoch seconds of each finished job."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        spans = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1000.0,
                              done.get().getTime() / 1000.0))
        return spans

    def _read_group(self, group: str, span: Span) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        span.jobs = self._job_spans(job_ids)
        for jid in job_ids:
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else []):
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_mb"] += st.inputBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += st.memoryBytesSpilled() / 2**20
        out["driver_only_s"] = span.duration - union_length(
            span.jobs, span.start, span.end)
        return out

    # -- summaries ------------------------------------------------------------

    def phase_metrics(self, phases) -> dict[str, float]:
        """Median over traced operations of each phase's self seconds and
        Spark fields (0 for a phase an operation never entered)."""
        out = {}
        for name in phases:
            walls, fields = [], {f: [] for f in SPARK_FIELDS}
            for op in self.ops:
                spans = [c for c in op.children if c.name == name]
                walls.append(sum(s.self_time for s in spans))
                for f in SPARK_FIELDS:
                    fields[f].append(sum(s.spark.get(f, 0.0) for s in spans))
            out[f"{name}.s"] = median(walls) if walls else 0.0
            for f, vals in fields.items():
                out[f"{name}.{f}"] = median(vals) if vals else 0.0
        return out

    def accounting(self) -> dict[str, float]:
        """Medians over traced operations of
        - ``op.driver_only_s``: wall time during which none of the
          operation's jobs ran, whichever group they were in;
        - ``trace.accounted_share``: (each phase's job time + that
          driver-only time) / wall time. Job time that no phase group
          claims (an unlabelled fan-out job) lowers it below 1."""
        driver_only, shares = [], []
        for op in self.ops:
            every_job = op.jobs + [j for c in op.children for j in c.jobs]
            idle = op.duration - union_length(every_job, op.start, op.end)
            phased = sum(union_length(c.jobs, c.start, c.end)
                         for c in op.children)
            driver_only.append(idle)
            if op.duration > 0:
                shares.append((phased + idle) / op.duration)
        return {"op.driver_only_s": median(driver_only) if driver_only else 0.0,
                "trace.accounted_share": median(shares) if shares else 0.0}
