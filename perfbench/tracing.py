"""Spans around calls into the engine, with Spark work counted per span.

A span records name, parent, start and end (``perf_counter`` seconds) and
the range of Spark job ids submitted while it was open. Job ids are one
global sequence per SparkContext, so the range also captures jobs started
by pool threads inside the call (``record_checks.validate`` runs its
families in threads that do not inherit the caller's job group). Stage,
task, shuffle and spill counts are looked up from Spark's status store
once, when the run ends, so the measured window pays only one py4j call
per span boundary.

``NullTracer`` is the untraced run: same call sites, no recording.
"""

from __future__ import annotations

import contextlib
import inspect
import itertools
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0  # exclusive
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(children.get(s.span_id, [])) for s in spans}


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextlib.contextmanager
    def wrapping(self, module, attr: str, name: str):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), parent, name, 0.0, attrs=dict(attrs))
        s.first_job = self._next_job()
        s.start = time.perf_counter()
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.end_job = self._next_job()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span that ended before the tracer existed (session start)."""
        self.spans.append(Span(next(self._ids), None, name, start, end, 0, self._next_job()))

    @contextlib.contextmanager
    def wrapping(self, module, attr: str, name: str):
        """Open a span around every call of ``module.attr`` while the block
        runs — how calls that the engine makes internally (``restore`` ->
        ``replay`` / ``validate``) are timed from outside it."""
        raw = inspect.getattr_static(module, attr)  # a classmethod stays one
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, raw)

    def spark_counts(self) -> dict[int, dict[str, int]]:
        """span_id -> jobs, stages, tasks, shuffle write bytes and spilled
        bytes of the jobs submitted while the span was open. Stages a job
        skipped (shuffle output reused) are not counted."""
        store = self._sc.statusStore()
        stage_cache: dict[int, tuple[int, int, int] | None] = {}
        job_cache: dict[int, list[int]] = {}

        def job_stages(job_id: int) -> list[int]:
            if job_id not in job_cache:
                ids = store.job(job_id).stageIds()
                job_cache[job_id] = [ids.apply(i) for i in range(ids.size())]
            return job_cache[job_id]

        def stage(stage_id: int):
            if stage_id not in stage_cache:
                sd = store.lastStageAttempt(stage_id)
                stage_cache[stage_id] = (
                    (sd.numCompleteTasks(), sd.shuffleWriteBytes(),
                     sd.memoryBytesSpilled() + sd.diskBytesSpilled())
                    if sd.status().toString() == "COMPLETE" else None
                )
            return stage_cache[stage_id]

        out = {}
        for s in self.spans:
            stages = {sid for j in range(s.first_job, s.end_job) for sid in job_stages(j)}
            done = [x for x in map(stage, sorted(stages)) if x is not None]
            out[s.span_id] = {
                "jobs": s.end_job - s.first_job,
                "stages": len(done),
                "tasks": sum(x[0] for x in done),
                "shuffle_bytes": sum(x[1] for x in done),
                "spill_bytes": sum(x[2] for x in done),
            }
        return out

    def write(self, path: str, counts: dict[int, dict[str, int]], metrics: dict) -> None:
        selfs = self_times(self.spans)
        spans = []
        for s in sorted(self.spans, key=lambda s: s.span_id):
            d = asdict(s)
            d.update(run_id=self.run_id, duration=s.duration, self_s=selfs[s.span_id], **counts[s.span_id])
            spans.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "metrics": metrics, "spans": spans}, f, indent=1)
