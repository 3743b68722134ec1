"""Per-job-group metrics from an uncompressed Spark event log.

Every job carries the job group its span set (see ``spans.Tracer``). This
module folds the log into one ``GroupStats`` per group:

- the tasks of its jobs (Spark stage, wall ms, GC ms, bytes spilled);
- its SQL metrics summed per (plan node, metric name) — task updates plus
  driver-side updates such as a broadcast's build time — with timings in
  seconds and sizes in bytes;
- for each plan node, the Spark stages whose tasks reported its metrics.

Accumulator ids map to plan nodes through the plan of each SQL execution
and every adaptive re-plan of it.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# metric type → factor to seconds / bytes / count
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class Task:
    stage: int
    ms: int
    gc_ms: int
    spill_bytes: int


@dataclass
class GroupStats:
    tasks: list[Task] = field(default_factory=list)
    sql: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))
    node_stages: dict[str, set[int]] = field(default_factory=lambda: defaultdict(set))

    def metric(self, node: str, name: str) -> float:
        return self.sql.get((node, name), 0.0)

    def task_skew(self, stages: set[int] | None = None) -> float:
        """max / median task time of the busiest Spark stage (by summed task
        time) among ``stages``; 0 when no such stage ran a task."""
        by_stage: dict[int, list[int]] = defaultdict(list)
        for t in self.tasks:
            if stages is None or t.stage in stages:
                by_stage[t.stage].append(t.ms)
        if not by_stage:
            return 0.0
        busiest = max(by_stage.values(), key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 1.0


def _walk_plan(plan: dict, acc: dict[int, tuple[str, str, str]]) -> None:
    node = plan.get("nodeName", "").strip()
    for m in plan.get("metrics", []):
        acc[m["accumulatorId"]] = (node, m["name"], m["metricType"])
    for child in plan.get("children", []):
        _walk_plan(child, acc)


def parse(path: str) -> dict[str, GroupStats]:
    acc: dict[int, tuple[str, str, str]] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    task_updates: list[tuple[str, int, int, float]] = []  # group, stage, acc id, update
    driver_updates: dict[str, dict[int, float]] = defaultdict(dict)
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == _SQL_START:
                _walk_plan(e["sparkPlanInfo"], acc)
                if e.get("jobGroupId"):
                    exec_group[e["executionId"]] = e["jobGroupId"]
            elif kind == _SQL_ADAPTIVE:
                _walk_plan(e["sparkPlanInfo"], acc)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                group = stage_group.get(sid)
                if group is None:
                    continue
                info = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                groups[group].tasks.append(
                    Task(
                        sid,
                        info["Finish Time"] - info["Launch Time"],
                        tm.get("JVM GC Time", 0),
                        tm.get("Disk Bytes Spilled", 0),
                    )
                )
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        task_updates.append((group, sid, a["ID"], float(a["Update"])))
            elif kind == _DRIVER_ACCUM:
                group = exec_group.get(e["executionId"])
                if group is not None:
                    for aid, value in e["accumUpdates"]:
                        driver_updates[group][aid] = float(value)

    for group, sid, aid, update in task_updates:
        info = acc.get(aid)
        if info is None or info[2] not in _SCALE:
            continue
        node, name, mtype = info
        groups[group].sql[(node, name)] += update * _SCALE[mtype]
        groups[group].node_stages[node].add(sid)
    for group, updates in driver_updates.items():
        for aid, value in updates.items():
            info = acc.get(aid)
            if info is None or info[2] not in _SCALE:
                continue
            node, name, mtype = info
            groups[group].sql[(node, name)] += value * _SCALE[mtype]
    return dict(groups)
