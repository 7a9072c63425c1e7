"""Spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's side only, around its calls
into the engine's modules; nothing inside the program is instrumented.
Each op runs under its own Spark job group, so Spark's status store
attributes jobs, stages, tasks, shuffle bytes and spill to it, and the
SQL status store yields the final (adaptive) plan of every query the
op executed. Catalyst phase times come from each op's result frame's
``QueryPlanningTracker``.

Spans stay in memory until the run ends; ``write`` then saves them.
The untraced run uses :class:`NullTracer`, whose hooks do nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    instrument_s = 0.0

    @contextmanager
    def op(self, kind: str):
        yield

    @contextmanager
    def span(self, layer: str, name: str = "", count_jobs: str | None = None):
        yield

    def count(self, key: str, n: float) -> None:
        pass

    def plan_phases(self, df, force_plan: bool = False) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []
        self.instrument_s = 0.0  # time spent reading Spark's instruments
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._group: str | None = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        op_id = len(self.groups)
        group = f"perfbench-op-{op_id}"
        self.groups.append(group)
        self._op_id, self._group = op_id, group
        self.sc.setJobGroup(group, kind)
        try:
            with self.span("op", kind):
                yield
        finally:
            self.sc.setJobGroup(None, None)
            self._op_id = self._group = None

    @contextmanager
    def span(self, layer: str, name: str = "", count_jobs: str | None = None):
        """Record a span; with ``count_jobs``, also add the number of
        Spark jobs started inside it to the count of that name."""
        rec = {"layer": layer, "name": name, "op": self._op_id,
               "parent": self._stack[-1] if self._stack else None}
        jobs0 = self._jobs_in_group() if count_jobs else 0
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if count_jobs:
                self.count(count_jobs, self._jobs_in_group() - jobs0)

    def count(self, key: str, n: float) -> None:
        self.counts[key] += n

    # -- Spark instruments ----------------------------------------------
    def _jobs_in_group(self) -> int:
        if self._group is None:
            return 0
        t0 = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(self._group))
        self.instrument_s += time.perf_counter() - t0
        return n

    def plan_phases(self, df, force_plan: bool = False) -> None:
        """Add the Catalyst phase times of ``df``'s query execution.
        ``force_plan`` plans a frame that was consumed by a write (the
        writer plans a separate execution of the same logical plan)."""
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        if force_plan:
            qe.executedPlan()
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                self.counts[f"catalyst.{name}_ms"] += opt.get().durationMs()
        self.instrument_s += time.perf_counter() - t0

    def exec_counts(self) -> dict[str, float]:
        """Status-store totals over every op's job group."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = defaultdict(float)
        job_ids: set[int] = set()
        for group in self.groups:
            job_ids.update(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            out["exec.failed_tasks"] += sd.numFailedTasks() + sd.attemptId()
            out["exec.task_busy_s"] += sd.executorRunTime() / 1000.0
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["exec.jobs"] = float(len(job_ids))
        out["exec.exchanges"] = float(self._exchanges(job_ids))
        self.instrument_s += time.perf_counter() - t0
        return dict(out)

    def _exchanges(self, job_ids: set[int]) -> int:
        """Exchange nodes (shuffle and broadcast) in the final plans of
        the SQL executions that ran any of ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        n = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keySet().mkString(",")
            if not keys or not job_ids.intersection(int(k) for k in keys.split(",")):
                continue
            nodes = sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                if nodes.apply(k).name() in ("Exchange", "BroadcastExchange"):
                    n += 1
        return n

    def write(self, path: str) -> None:
        """Write the spans (times relative to the first) as JSON lines."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")

    # -- derived --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of
        it that its child spans cover (children never overlap, since
        the benchmark's calls are sequential)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["layer"]] += (s["end"] - s["start"]) - child_s[i]
        return dict(out)

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and (name is None or s["name"] == name))

    def durations(self, layer: str, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["layer"] == layer and s["name"] == name]
