"""Spans and Spark counters for the traced run.

A span records a name, start, end and the span that caused it; spans of one
operation share the operation id. Every operation runs under its own Spark
job group, and when tracing every span gets a group of its own, so each job
is attributed to the innermost span that launched it. Spans stay in memory
and are written out once the run ends.

``overhead_s`` is the time the tracer's own code takes: opening and closing
spans (one Py4J ``setJobGroup`` each), reading Catalyst phases, and
reading the counters when an operation closes. It is measured directly
rather than as traced minus untraced wall, because the run-to-run spread of
the wall is larger than the overhead. The ``plan`` span's
``executedPlan()`` call is not counted: it moves planning out of the action
rather than adding work.

Spark-side numbers come from the application status store
(``statusTracker`` for job ids, ``AppStatusStore.stageData`` for stage
metrics) and from ``QueryExecution.tracker()`` for the Catalyst phases;
both work with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

EXEC_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


@dataclass
class Span:
    name: str
    parent: int | None  # index into the operation's span list
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.duration - covered)
    return out


class Tracer:
    """Operation scopes for every run; spans and counters when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._op = -1
        self._spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def operation(self, name: str):
        """Scope one operation: its own job group, and its root span."""
        self._op += 1
        self._spans, self._stack = [], []
        sc = self.spark.sparkContext
        sc.setJobGroup(f"op{self._op}", name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setJobGroup("idle", "between operations")

    @contextmanager
    def span(self, name: str):
        """Time a call into a layer; spans opened inside are its children."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        idx = len(self._spans)
        s = Span(name, self._stack[-1] if self._stack else None, 0.0,
                 group=f"op{self._op}.{idx}.{name}")
        self._spans.append(s)
        self._stack.append(idx)
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._spans[self._stack[-1]]
                sc.setJobGroup(parent.group, parent.name)
            self.overhead_s += time.perf_counter() - s.end

    def catalyst_phases(self, df) -> dict[str, float]:
        """Catalyst analysis/optimization/planning seconds of ``df``."""
        t0 = time.perf_counter()
        jvm = self.spark._jvm  # noqa: SLF001
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
        )
        out = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
        for k in phases.keySet():
            if k in out:
                out[k] = phases.get(k).durationMs() / 1000.0
        self.overhead_s += time.perf_counter() - t0
        return out

    def record(self, name: str, **fields) -> None:
        """Close the last operation: each span with its self time and the
        counters of the jobs launched under it."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        counters = self._exec_counters(self._spans)
        selfs = self_times(self._spans)
        rec = {
            "op": self._op,
            "name": name,
            **fields,
            "spans": [
                {
                    "name": s.name,
                    "parent": s.parent,
                    "dur_s": s.duration,
                    "self_s": self_s,
                    **s.attrs,
                    **c,
                }
                for s, self_s, c in zip(self._spans, selfs, counters)
            ],
        }
        self.ops.append(rec)
        self.overhead_s += time.perf_counter() - t0

    def _exec_counters(self, spans: list[Span]) -> list[dict]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        defaults = [getattr(store, f"stageData$default${i}")() for i in (3, 4, 5)]
        tracker = sc.statusTracker()
        out = []
        for s in spans:
            c = dict.fromkeys(EXEC_FIELDS, 0)
            stage_ids: set[int] = set()
            for job in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job)
                if info is not None:
                    c["jobs"] += 1
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                for sd in _iter(store.stageData(sid, False, *defaults)):
                    if sd.numTasks() == 0 or sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["task_run_s"] += sd.executorRunTime() / 1000.0
                    c["gc_s"] += sd.jvmGcTime() / 1000.0
                    c["input_bytes"] += sd.inputBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out.append(c)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.ops:
                f.write(json.dumps(rec) + "\n")


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
