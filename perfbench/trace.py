"""Spans around calls into the engine's layers, from the benchmark's side.

A `Tracer` records one span per layer call (name, start, end, parent and the
run id shared by every span of one run) and tags the Spark jobs a span
submits with its own job group, so each span knows its jobs. Stage metrics
come from Spark's public status tracker and the application status store.
Nothing is written until `dump`, once, at the end of the run; untraced runs
never create a Tracer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "group", "jobs")

    def __init__(self, sid: int, name: str, parent: int | None, group: str):
        self.sid, self.name, self.parent, self.group = sid, name, parent, group
        self.start = self.end = 0.0
        self.jobs: list[int] = []

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # bound once a session exists; spans before it carry no jobs

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 f"{self.run_id}:{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        sc = self.sc
        if sc is not None:
            sc.setLocalProperty(_GROUP, s.group)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None and self.sc is sc:
                s.jobs = sorted(sc.statusTracker().getJobIdsForGroup(s.group))
                sc.setLocalProperty(_GROUP, parent.group if parent else None)

    def descendants(self, root: Span) -> list[Span]:
        ids, out = {root.sid}, [root]
        for s in self.spans[root.sid + 1:]:
            if s.parent in ids:
                ids.add(s.sid)
                out.append(s)
        return out

    def jobs_under(self, root: Span) -> list[int]:
        return sorted({j for s in self.descendants(root) for j in s.jobs})

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": s.sid, "name": s.name, "parent": s.parent, "run_id": self.run_id,
             "start": s.start, "end": s.end, "jobs": s.jobs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)


# ------------------------------------------------------- Spark status store


def drain_listener_bus(sc) -> None:
    """The status store is fed asynchronously; wait until it has caught up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_intervals(sc, jobs: list[int]) -> list[tuple[float, float]]:
    store = sc._jsc.sc().statusStore()
    out = []
    for j in jobs:
        data = store.job(j)
        a, b = _opt_ms(data.submissionTime()), _opt_ms(data.completionTime())
        if a is not None and b is not None:
            out.append((a, b))
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


STAGE_FIELDS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_write_bytes", "spill_bytes")


def stage_totals(sc, jobs: list[int]) -> dict[str, float]:
    """Sum of the executed stages' metrics over `jobs` (skipped stages,
    which reuse an earlier shuffle, count as neither stage nor task)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    seen: set[int] = set()
    t = dict.fromkeys(STAGE_FIELDS, 0.0)
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks()
            t["executor_run_s"] += st.executorRunTime() / 1e3
            t["executor_cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1e3
            t["input_bytes"] += st.inputBytes()
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
            t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return t


def plan_chars(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())
