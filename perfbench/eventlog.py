"""Reads an uncompressed Spark event log into jobs, stages and tasks.

Each job carries the ``perfbench.site`` local property that was set when
it started, so a layer's jobs are found by the call site that launched
them. Task metrics are summed per stage; SQL metrics come from the task
accumulables (executor side) and from the driver accumulator updates of
the job's SQL execution (driver side, e.g. job commit time, bytes a scan
listed).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Task:
    duration_ms: float
    metrics: dict[str, float]
    accs: dict[str, float]


@dataclass
class Stage:
    id: int
    submitted_ms: float = 0.0
    completed_ms: float = 0.0
    tasks: list[Task] = field(default_factory=list)

    def sum(self, key: str) -> float:
        return sum(t.metrics.get(key, 0.0) for t in self.tasks)

    def acc(self, name: str) -> float:
        return sum(t.accs.get(name, 0.0) for t in self.tasks)

    @property
    def wall_s(self) -> float:
        return max(0.0, self.completed_ms - self.submitted_ms) / 1e3

    @property
    def input_bytes(self) -> float:
        return self.sum("input_bytes")

    @property
    def shuffle_write_bytes(self) -> float:
        return self.sum("shuffle_write_bytes")


@dataclass
class Job:
    id: int
    site: str | None
    execution: int | None
    start_ms: float
    end_ms: float = 0.0
    stages: list[Stage] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0.0, self.end_ms - self.start_ms) / 1e3


@dataclass
class EventLog:
    jobs: list[Job]
    # per SQL execution: accumulator id -> (metric name, plan node text)
    plan_metrics: dict[int, dict[int, tuple[str, str]]]
    # per SQL execution: accumulator id -> last driver-side value
    driver_values: dict[int, dict[int, float]]

    def driver_acc(self, jobs: list[Job], name: str,
                   node_contains: str = "") -> float:
        """A driver-side SQL metric summed over the distinct SQL executions
        of ``jobs``, optionally only on plan nodes whose text contains
        ``node_contains``."""
        total = 0.0
        for ex in {j.execution for j in jobs if j.execution is not None}:
            ids = {aid for aid, (n, node) in self.plan_metrics.get(
                ex, {}).items() if n == name and node_contains in node}
            total += sum(v for aid, v in self.driver_values.get(
                ex, {}).items() if aid in ids)
        return total


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    metrics = {
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_write_bytes":
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "fetch_wait_ms":
            m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0),
    }
    accs: dict[str, float] = defaultdict(float)
    for a in info.get("Accumulables", ()):
        name = a.get("Name", "")
        if name and not name.startswith("internal.") and "Update" in a:
            try:
                accs[name] += float(a["Update"])
            except (TypeError, ValueError):
                pass
    return Task(info["Finish Time"] - info["Launch Time"], metrics,
                dict(accs))


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], node.get("simpleString", ""))
    for c in node.get("children", ()):
        _plan_metrics(c, out)


def parse(log_dir: str) -> EventLog:
    """Every event file under ``log_dir`` (rolling logs are read in
    order)."""
    files = sorted(
        os.path.join(root, f) for root, _, fs in os.walk(log_dir)
        for f in fs if f.startswith("events_") or f.startswith("local-"))
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict[int, tuple[str, str]]] = defaultdict(dict)
    driver: dict[int, dict[int, float]] = defaultdict(dict)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(ev["Job ID"], props.get("perfbench.site"),
                              int(ex) if ex is not None else None,
                              ev["Submission Time"])
                    jobs[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"],
                                           Stage(info["Stage ID"]))
                    st.submitted_ms = info.get("Submission Time", 0)
                    st.completed_ms = info.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])) \
                        .tasks.append(_task(ev))
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"],
                                  plans[ev["executionId"]])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in ev["accumUpdates"]:
                        driver[ev["executionId"]][aid] = float(v)
    for sid, st in stages.items():
        if sid in stage_job and stage_job[sid] in jobs:
            jobs[stage_job[sid]].stages.append(st)
    return EventLog(sorted(jobs.values(), key=lambda j: j.id),
                    dict(plans), dict(driver))
