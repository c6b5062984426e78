"""Spans and Spark status-store counters, recorded from outside the program.

A span is (id, name, start, end, parent). Every span runs under its own
Spark job group, so the jobs it started, their stages and those stages'
task metrics can be read from the application status store without
executor-wide deltas. The reads wait for `Tracer.flush`, which runs after
a call's timed region: no span's time includes reading counters. Spans
stay in memory; `Tracer.dump` writes them out once, at the end of a run.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

#: ER stage name (StageRunner) -> per-layer span name
ER_STAGE_SPANS = {
    "keys": "pipeline.keys",
    "pairs": "blocking.pairs",
    "edges": "scoring.edges",
    "clusters": "cluster.clusters",
    "entities": "pipeline.entities",
}

MB = float(1 << 20)


class Counters:
    """Status-store reader for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.cores = self.sc.defaultParallelism

    def _settled_stage_ids(self, group: str, timeout: float = 10.0) -> tuple[list, list]:
        """(job ids, stage ids) of a finished group, once the listener bus
        has delivered every job-end event (it trails the action's return)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = sorted(self.tracker.getJobIdsForGroup(group))
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"job group {group!r} did not settle")
            time.sleep(0.02)
        stages = sorted({s for i in infos for s in i.stageIds})
        return jobs, stages

    def group(self, group: str, tasks: bool = False) -> dict:
        """Summed stage counters of a group; with `tasks`, also the busiest
        stage's slowest-task / median-task ratio."""
        jobs, stage_ids = self._settled_stage_ids(group)
        out = {"jobs": len(jobs), "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "task_skew": 1.0}
        busiest = None
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j surfaces NoSuchElementException
                continue  # a stage Spark skipped (its shuffle output was reused)
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            run_s = st.executorRunTime() / 1e3
            out["run_s"] += run_s
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            if busiest is None or run_s > busiest[0]:
                busiest = (run_s, sid, st.attemptId())
        if tasks and busiest is not None:
            out["task_skew"] = self._skew(busiest[1], busiest[2])
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        jvm = self.sc._jvm
        qs = self.sc._gateway.new_array(jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage_id, attempt, qs)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else (1.0 if top == 0 else top)


class Tracer:
    """In-memory span recorder. `span` sets a fresh job group around its
    body; `flush` reads the counters and plan routes of every span ended
    since the last flush."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = Counters(spark)
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._unread: list[tuple[dict, str | None]] = []  # (span, its `plan`)
        self._executions: dict[str, list[int]] = {}  # job group -> SQL execution ids
        self._executions_seen = 0
        self.call_id = None

    @contextmanager
    def span(self, name: str, plan: str | None = None, **attrs):
        """`plan`: "route" records the span's physical route (`plan_route`),
        "joins" its join operators (`join_kinds`), None neither."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = {"id": next(self._ids), "name": name, "call": self.call_id,
              "parent": parent["id"] if parent else None, **attrs}
        # the group id is also the job description, which SQL executions
        # take as theirs: that is how `flush` finds a span's query plans
        group = sp["group"] = f"perfbench-{sp['id']}"
        sc.setJobGroup(group, group)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["group"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self._unread.append((sp, plan))

    def flush(self) -> None:
        """Counters and routes of the spans ended since the last flush.
        Children run under their own groups, so a parent's counters cover
        only the jobs it started itself; `rollup` adds them up."""
        for sp, plan in self._unread:
            sp["counters"] = self.counters.group(sp["group"], tasks=True)
            if plan == "route":
                text = self._last_plan(sp["group"])
                sp["route"] = plan_route(text) if text else "no plan"
            elif plan == "joins":
                sp["route"] = join_kinds(self._last_plan(sp["group"], joins_only=True))
        self._unread = []

    def _last_plan(self, group: str, joins_only: bool = False) -> str:
        """Final physical plan (after adaptive re-planning) of the group's
        last SQL execution; with `joins_only`, of its last one that joins."""
        n = int(self.sql.executionsCount())
        if n > self._executions_seen:
            new = self.sql.executionsList(self._executions_seen, n - self._executions_seen)
            for k in range(new.size()):
                e = new.apply(k)
                self._executions.setdefault(e.description(), []).append(e.executionId())
            self._executions_seen = n
        for eid in reversed(self._executions.get(group, [])):
            plan = final_plan(self._finished_execution(eid).physicalPlanDescription())
            if not joins_only or _JOIN_OPS.search(plan):
                return plan
        return ""

    def _finished_execution(self, eid: int, timeout: float = 10.0):
        """The execution's final record: the listener bus delivers its end
        (and last plan update) after the action returns."""
        deadline = time.monotonic() + timeout
        while True:
            e = self.sql.execution(eid).get()
            if e.completionTime().isDefined() or time.monotonic() > deadline:
                return e
            time.sleep(0.02)

    def wall(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def children(self, sp: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        return self.wall(sp) - sum(self.wall(c) for c in self.children(sp))

    def rollup(self, sp: dict) -> dict:
        """A span's counters including every descendant's."""
        tot = dict(sp.get("counters", {}))
        for c in self.children(sp):
            for k, v in self.rollup(c).items():
                if k == "task_skew":
                    tot[k] = max(tot.get(k, 1.0), v)
                else:
                    tot[k] = tot.get(k, 0) + v
        return tot

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


@contextmanager
def stage_spans(tracer: Tracer):
    """Wrap `StageRunner.stage` so each ER stage runs inside its own span."""
    from fozzie_spark.checkpoint import StageRunner

    original = StageRunner.stage

    def traced(self, name, fn, *args, **kwargs):
        with tracer.span(ER_STAGE_SPANS.get(name, f"stage.{name}"), plan="joins", stage=name):
            return original(self, name, fn, *args, **kwargs)

    StageRunner.stage = traced
    try:
        yield
    finally:
        StageRunner.stage = original


_JOIN_OPS = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
)


def final_plan(plan: str) -> str:
    """A plan description without its adaptive "== Initial Plan ==" parts,
    so only the operators that ran are left."""
    out, skip_deeper = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        if skip_deeper is not None and indent > skip_deeper:
            continue
        skip_deeper = None
        if "== Initial Plan ==" in line:
            skip_deeper = indent
            continue
        out.append(line)
    return "\n".join(out)


def plan_route(plan: str) -> str:
    """Physical route of a plan: tiny-cross (a nested-loop or cartesian
    join), prefix (a prefix-filtered token index: it slices rarity-sorted
    gram arrays or ranks tokens with row_number), or share-any-gram; plus
    its join operators by kind, so a broadcast that became a shuffle join
    shows."""
    ops = _JOIN_OPS.findall(plan)
    if "BroadcastNestedLoopJoin" in ops or "CartesianProduct" in ops:
        route = "tiny_cross"
    elif "slice(" in plan or "row_number()" in plan:
        route = "prefix"
    else:
        route = "share_any_gram"
    return f"{route} {join_kinds(plan)}"


def join_kinds(plan: str) -> str:
    """A plan's join operators by kind, e.g. "BroadcastHashJoinx2"."""
    ops = _JOIN_OPS.findall(plan)
    return ",".join(f"{k}x{ops.count(k)}" for k in sorted(set(ops))) or "no joins"
