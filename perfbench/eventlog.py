"""Spark event-log reader: operator and task metrics per job description.

The traced run tags every action with a job description
(``SparkContext.setJobDescription``). Spark copies it into the SQL
execution start event and the job properties, so each task and each plan
operator can be charged to the tagged action it ran for. Needs an
uncompressed log (``spark.eventLog.compress=false``); stdlib ``json`` only.

Operator metrics come from the plan trees (the initial plan and every
adaptive re-plan), whose metrics name the accumulator that carries them;
values are the task updates plus the updates made outside tasks. Units
follow Spark's metric types: ``size`` in bytes, ``timing`` in ms,
``nsTiming`` in ns, the rest are counts.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Operator:
    node: str                 # plan node name, e.g. "MapInPandas"
    desc: str                 # plan node simpleString
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Action:
    """Everything that ran under one job description."""
    operators: list[Operator] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    stage_tasks_s: dict[int, list[float]] = field(default_factory=dict)

    def op_metric(self, node: str, metric: str, where: str = "") -> float:
        """Sum of ``metric`` over operators named ``node`` whose
        description contains ``where``."""
        return sum(op.metrics.get(metric, 0.0) for op in self.operators
                   if op.node == node and where in op.desc)

    def task_skew(self) -> float:
        """Max / median task time in the stage with the most task time."""
        if not self.stage_tasks_s:
            return 0.0
        durs = max(self.stage_tasks_s.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: plain logs and rolling-log dirs."""
    out = []
    for root, _, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in sorted(files)
                if f.startswith(("events_", "local-", "app-"))
                and not f.endswith(".crc")]
    return out


def parse(paths: list[str]) -> dict[str, Action]:
    """Aggregate the logs at ``paths`` into one :class:`Action` per job
    description. Work with no description is keyed ``""``."""
    exec_desc: dict[int, str] = {}
    acc_owner: dict[int, tuple[Operator, str]] = {}
    exec_ops: dict[int, list[Operator]] = {}
    acc_value: dict[int, float] = {}
    stage_desc: dict[int, str] = {}
    actions: dict[str, Action] = {}

    def act(desc: str) -> Action:
        return actions.setdefault(desc, Action())

    def plan(exec_id: int, node: dict) -> None:
        op = Operator(node["nodeName"].strip(), node.get("simpleString", ""))
        exec_ops.setdefault(exec_id, []).append(op)
        for m in node.get("metrics", ()):
            acc_owner[m["accumulatorId"]] = (op, m["name"])
        for child in node.get("children", ()):
            plan(exec_id, child)

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == _SQL + "SparkListenerSQLExecutionStart":
                    exec_desc[ev["executionId"]] = ev.get("description", "")
                    plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        acc_value[acc_id] = acc_value.get(acc_id, 0) + value
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description", "")
                    act(desc).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    _task_end(ev, act(stage_desc.get(ev["Stage ID"], "")),
                              acc_value)

    # an operator belongs to the execution's description; adaptive
    # re-plans repeat operators, so keep only those that own a value
    for acc_id, value in acc_value.items():
        if acc_id in acc_owner:
            op, name = acc_owner[acc_id]
            op.metrics[name] = op.metrics.get(name, 0.0) + value
    for exec_id, ops in exec_ops.items():
        act(exec_desc.get(exec_id, "")).operators += [
            op for op in ops if op.metrics]
    return actions


def _task_end(ev: dict, a: Action, acc_value: dict[int, float]) -> None:
    info = ev["Task Info"]
    for acc in info.get("Accumulables", ()):
        # SQL operator metrics arrive as strings; task metrics are read
        # from "Task Metrics" below instead
        if not acc["Name"].startswith("internal.") and "Update" in acc:
            acc_value[acc["ID"]] = (acc_value.get(acc["ID"], 0)
                                    + float(acc["Update"]))
    tm = ev.get("Task Metrics")
    if not tm:                 # a task that died before reporting
        return
    a.tasks += 1
    a.executor_cpu_s += tm["Executor CPU Time"] / 1e9
    a.gc_s += tm["JVM GC Time"] / 1e3
    a.fetch_wait_s += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
    a.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    a.shuffle_write_bytes += (
        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])
    a.stage_tasks_s.setdefault(ev["Stage ID"], []).append(
        (info["Finish Time"] - info["Launch Time"]) / 1e3)
