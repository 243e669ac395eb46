"""Spans around calls into the package, each under its own Spark job
group, with that group's stage metrics read back from the Spark status
store (works with ``spark.ui.enabled=false``; no listener jar).

Spans are kept in memory; a span's Spark metrics are read once, after
the span has ended.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional

STAGE_FIELDS = {
    # StageData getter -> span metric name
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


@dataclass
class Span:
    name: str
    parent: Optional[str]
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    metrics: Optional[Dict[str, float]] = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """``with tracer.span("canon.cc"):`` runs the body under a fresh job
    group, so every Spark job the body starts is attributed to the span.

    ``overhead_s`` is the driver time the tracer itself spends: switching
    job groups and reading the status store. Spark keeps the status store
    whether or not a span is open, so this is all that tracing adds."""

    _ids = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self.overhead_s = 0.0
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, parent, f"perfbench-{next(self._ids)}-{name}", t0)
        self.sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer.group, outer.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def span_metric(self, sp: Span, key: str) -> float:
        if sp.metrics is None:
            self._collect(sp)
        return sp.metrics[key]

    def span_jobs(self, sp: Span) -> int:
        if sp.metrics is None:
            self._collect(sp)
        return sp.jobs

    def totals(self) -> Dict[str, float]:
        """Jobs and stage metrics summed over every span (job groups do
        not nest, so nothing is counted twice)."""
        out: Dict[str, float] = {"jobs": 0.0}
        for sp in self.spans:
            if sp.metrics is None:
                self._collect(sp)
            out["jobs"] += sp.jobs
            for k, v in sp.metrics.items():
                out[k] = out.get(k, 0.0) + v
        return out

    def _collect(self, sp: Span) -> None:
        """Read one span's jobs and stages. Waits (at most 30 s) for the
        status store to see every job of the group finish, since listener
        events arrive asynchronously."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.monotonic() + 30.0
        job_ids = list(tracker.getJobIdsForGroup(sp.group))
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.05)
                info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(STAGE_FIELDS.values(), 0.0)
        for sid in stage_ids:
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            if str(data.status()) != "COMPLETE":
                continue
            for getter, key in STAGE_FIELDS.items():
                totals[key] += float(getattr(data, getter)())
        sp.jobs = len(job_ids)
        sp.metrics = totals
        self.overhead_s += time.perf_counter() - t0
