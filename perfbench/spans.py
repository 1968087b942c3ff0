"""Spans recorded around the benchmark's own calls into each layer,
and the Spark status-store reader that gives them stage metrics.

Nothing inside the engine is instrumented: a span opens before the
benchmark calls a layer function and closes after the call (and the
benchmark's own materialization of its output) returns. Spans stay
in memory and are written when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str  # layer name, e.g. "operators.gaps"
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    pass_id: int = 0
    group: str = ""  # Spark job group the span's own jobs ran under
    counters: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children may overlap each other)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """In-memory span recorder. Each open span sets its own Spark job
    group, so the jobs a span triggers directly (not through a child
    span) carry that span's group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench:{self.pass_id}:{idx}:{name}"
        s = Span(name, time.perf_counter(), parent=parent, pass_id=self.pass_id, group=group)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def records(self) -> list[dict]:
        return [
            {**asdict(s), "self_s": st}
            for s, st in zip(self.spans, self_times(self.spans))
        ]


# -- Spark status store ------------------------------------------------

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "max_task_s",
)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Reads job and stage data from Spark's ``AppStatusStore``, which
    is populated with ``spark.ui.enabled=false`` too. Reads wait for
    the listener bus to drain first, so a job that has returned is
    fully recorded."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self._drain()
        out = []
        for j in _iter(self._store.jobsList(None)):
            group = j.jobGroup()
            out.append({
                "id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stage_ids": [int(s) for s in _iter(j.stageIds())],
            })
        return out

    def last_job_id(self) -> int:
        return max((j["id"] for j in self.jobs()), default=-1)

    def stage_totals(self, jobs: list[dict], max_task: bool = True) -> dict:
        """Totals over the stages that ran for *jobs* (skipped stages,
        whose output was reused, are not counted)."""
        wanted = {sid for j in jobs for sid in j["stage_ids"]}
        jvm = self._sc._gateway.jvm
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["jobs"] = len(jobs)
        max_q = self._sc._gateway.new_array(jvm.double, 1)
        max_q[0] = 1.0
        stages = self._store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        for s in _iter(stages):
            if s.stageId() not in wanted or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if max_task:
                q = self._store.taskSummary(s.stageId(), s.attemptId(), max_q)
                if q.isDefined():
                    tot["max_task_s"] = max(tot["max_task_s"], q.get().duration().apply(0) / 1e3)
        return tot

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with an id above *job_id*: those submitted since it."""
        return [j for j in self.jobs() if j["id"] > job_id]
