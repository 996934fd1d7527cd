"""In-memory spans for the traced benchmark run.

A span wraps one call into a module of the pipeline, taken from the
benchmark's own code. While a span is open, every Spark job the calling
thread submits carries the span's job group, so the per-stage task
metrics of the status store (available with the UI disabled) can be
summed per span once it closes. Spans nest; a span's self time is its
duration minus the time its children cover.

With tracing off, ``span`` only yields, so the untraced run times the
same code without setting job groups or reading the status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: status-store stage fields summed per span
STAGE_FIELDS = (
    "executorCpuTime", "executorRunTime", "shuffleReadBytes", "shuffleWriteBytes",
    "inputRecords", "inputBytes", "outputRecords", "outputBytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_id}/{span.id}/{span.name}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(self._group(s), name)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(self._group(parent), parent.name)
            self._collect(s)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - s.end)

    def _collect(self, s: Span) -> None:
        """Sum the finished stages of this span's own jobs."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        s.stage = dict.fromkeys(STAGE_FIELDS, 0)
        for job in sc.statusTracker().getJobIdsForGroup(self._group(s)):
            info = sc.statusTracker().getJobInfo(job)
            if info is None:
                continue
            s.jobs += 1
            for sid in list(info.stageIds):
                it = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, empty).iterator()
                while it.hasNext():
                    d = it.next()
                    if str(d.status()) != "COMPLETE":
                        continue  # skipped stages reuse shuffle output and ran no task
                    s.stages += 1
                    s.tasks += d.numCompleteTasks()
                    for f in STAGE_FIELDS:
                        s.stage[f] += getattr(d, f)()

    # -- queries over finished spans -------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, s: Span, key: str) -> int:
        """Stage metric summed over the span and all its descendants."""
        total = s.stage.get(key, 0) if key in STAGE_FIELDS else getattr(s, key)
        return total + sum(self.inclusive(c, key) for c in self.spans if c.parent == s.id)

    def self_seconds(self, s: Span) -> float:
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == s.id)

    def dump(self, path: str) -> None:
        rows = [
            {**asdict(s), "seconds": s.seconds, "self_seconds": self.self_seconds(s)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "overhead_s": self.overhead_s, "spans": rows}, f)
