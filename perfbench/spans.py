"""Layer spans for the traced run.

Every wrapped call becomes a span with its own Spark job group; straight
after the call the span reads its job, stage and task counts from the
status tracker, so the tracker's retained-jobs cap never drops a job.
Spans stay in memory until the run ends.

The wrappers sit on the objects the benchmark injects into the service
(export client, storage, database) and, for the two functions the service
imports by name, on the names inside ``hauser_spark.service``.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    op: int  # the bundle the span belongs to
    parent: str | None
    start_ms: float  # since the tracer was created
    ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans for the operation numbered ``op`` while ``enabled``."""

    def __init__(self, sc):
        self.sc = sc
        self.status = sc.statusTracker()
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[str] = []
        self._groups = 0
        self._t0 = time.perf_counter()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        self._groups += 1
        group = f"perfbench-{self._groups}"
        span = Span(group, name, self.op, self._stack[-1] if self._stack else None, 0.0)
        self._stack.append(group)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        span.start_ms = (t0 - self._t0) * 1000
        try:
            result = fn(*args, **kwargs)
        finally:
            span.ms = (time.perf_counter() - t0) * 1000
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "outer")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(span)
            self.spans.append(span)
        return result

    def _count_jobs(self, span: Span) -> None:
        for job_id in self.status.getJobIdsForGroup(span.id):
            info = self.status.getJobInfo(job_id)
            if info is None:
                continue
            span.jobs += 1
            for stage_id in info.stageIds:
                stage = self.status.getStageInfo(stage_id)
                if stage is not None:
                    span.stages += 1
                    span.tasks += stage.numTasks

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced


class TracedProxy:
    """Delegates every attribute to ``target``; the named methods are
    traced as ``<layer>.<method>``."""

    def __init__(self, target, tracer: Tracer, layer: str, methods: tuple[str, ...]):
        self._target = target
        for m in methods:
            setattr(self, m, tracer.wrap(f"{layer}.{m}", getattr(target, m)))

    def __getattr__(self, name):
        return getattr(self._target, name)
