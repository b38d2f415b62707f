"""Reduce Spark's event log (JSON lines, uncompressed) to the ``exec.*``
and ``sources.*`` counters of a time window.

Jobs are attributed to the window by submission time; stages and tasks
follow their job. SQL metrics (files read) come from the plan graphs of
``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` and are summed over
driver and task accumulator updates.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Job:
    submit_ms: int
    stages: list[int]


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, list[dict]] = field(default_factory=lambda: defaultdict(list))
    metric_names: dict[int, str] = field(default_factory=dict)
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)  # (ms, id, value)


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def read(event_dir: str) -> Log:
    """Parse the one application log under ``event_dir``."""
    log = Log()
    [path] = glob.glob(os.path.join(event_dir, "*"))
    last_ms = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[e["Job ID"]] = Job(e["Submission Time"], e["Stage IDs"])
                last_ms = e["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                log.stage_tasks[e["Stage ID"]].append(e)
                last_ms = e["Task Info"]["Finish Time"] or last_ms
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], log.metric_names)
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    log.driver_accums.append((last_ms, acc_id, value))
    return log


def _sum_metric(log: Log, stages: set[int], t0_ms: int, t1_ms: int, name: str) -> int:
    ids = {i for i, n in log.metric_names.items() if n == name}
    total = sum(v for ms, i, v in log.driver_accums
                if i in ids and t0_ms <= ms <= t1_ms)
    for sid in stages:
        for t in log.stage_tasks.get(sid, ()):
            for a in t["Task Info"].get("Accumulables", ()):
                if a["ID"] in ids and "Update" in a:
                    total += int(a["Update"])
    return total


def window(log: Log, t0: float, t1: float, cores: int) -> dict[str, float]:
    """exec.* and sources.* over jobs submitted within [t0, t1] (epoch s)."""
    t0_ms, t1_ms = int(t0 * 1000), int(t1 * 1000)
    jobs = [j for j in log.jobs.values() if t0_ms <= j.submit_ms <= t1_ms]
    stages = {s for j in jobs for s in j.stages if s in log.stage_tasks}
    out = defaultdict(float)
    for sid in stages:
        tasks = log.stage_tasks[sid]
        if len(tasks) == 1:
            out["exec.single_task_stages"] += 1
        for t in tasks:
            m = t.get("Task Metrics") or {}
            out["exec.tasks"] += 1
            out["exec.task_ms"] += m.get("Executor Run Time", 0)
            out["exec.gc_ms"] += m.get("JVM GC Time", 0)
            out["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["exec.shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
            out["exec.shuffle_read_records"] += (
                m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0))
            out["sources.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    out["exec.jobs"] = len(jobs)
    out["exec.stages"] = len(stages)
    out["exec.busy_share"] = out.pop("exec.task_ms") / 1000 / max(t1 - t0, 1e-9) / cores
    out["sources.input_files"] = _sum_metric(log, stages, t0_ms, t1_ms,
                                             "number of files read")
    return dict(out)
