"""Spans around calls into kgforge, costed from Spark's own status store.

Each span runs its calls under a Spark job group of its own. When the
span ends, the listener bus is drained and the span's jobs are looked up
with ``statusTracker().getJobIdsForGroup()``; their stages are read from
``statusStore().lastStageAttempt()``. This works with the Spark UI off.
Nested spans hand their job groups up to the parent, so an operation's
span covers the jobs of every layer span inside it.

Spans are kept in memory; ``write_jsonl`` writes them out at the end.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: cost counters every span reports (per-layer metric suffixes)
COUNTERS = (
    "wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
)

_MB = 1e6


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    group: str
    start: float = 0.0
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    top_stage: tuple[int, int] | None = None  # (stage id, attempt) with most run time

    def record(self) -> dict:
        return {
            "run_id": self.run_id, "span_id": self.span_id, "name": self.name,
            "parent": self.parent, "start": self.start, "end": self.end,
            **self.counters,
        }


class Tracer:
    """Opens spans and costs them. With ``layers=False`` only operation
    spans (``span(..., layer=False)``) are recorded; layer spans are
    no-ops, so an untraced run has exactly one job group per operation."""

    def __init__(self, spark, run_id: str, layers: bool):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.gateway = self.sc._gateway
        self.run_id = run_id
        self.layers = layers
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent costing spans, not in kgforge
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: bool = True):
        if layer and not self.layers:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent.span_id if parent else None, self.run_id,
                  group=f"{self.run_id}-{sid}")
        sp.groups.append(sp.group)
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            wall = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            b0 = time.perf_counter()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
                parent.groups.extend(sp.groups)
            else:
                self.sc._jsc.clearJobGroup()
            self._cost(sp, wall)
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - b0

    def _cost(self, sp: Span, wall: float) -> None:
        self.bus.waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0.0)
        c["wall_s"] = wall
        intervals = []
        top_run = -1
        tracker = self.sc.statusTracker()
        for g in sp.groups:
            for jid in tracker.getJobIdsForGroup(g):
                job = self.store.job(jid)
                c["jobs"] += 1
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = self.store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["tasks"] += st.numCompleteTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                    c["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                    c["spill_mb"] += st.diskBytesSpilled() / _MB
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    if st.executorRunTime() > top_run:
                        top_run = st.executorRunTime()
                        sp.top_stage = (st.stageId(), st.attemptId())
        c["driver_s"] = max(0.0, wall - _covered(intervals, sp.start, sp.end))
        sp.counters = c

    def task_skew(self, sp: Span) -> float:
        """Max / median task run time of the span's busiest stage."""
        if sp is None or sp.top_stage is None:
            return 0.0
        q = self.gateway.new_array(self.gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(sp.top_stage[0], sp.top_stage[1], q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.record()) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
