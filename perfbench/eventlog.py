"""Fold a Spark event log into per-job-group counters.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
true, ``spark.eventLog.compress`` is false and rolling is off. Every job
carries the ``spark.jobGroup.id`` set by ``setJobGroup`` in its
``SparkListenerJobStart`` properties; tasks are attributed to a group
through their stage, and SQL executions through the jobs they ran.

Per group the fold yields task counters summed from
``SparkListenerTaskEnd`` and two plan counts taken from the final
(post-AQE) physical plan of each SQL execution: shuffle/broadcast
``Exchange`` nodes and Python evaluation nodes (pandas/Arrow UDFs,
``mapInPandas`` and friends).
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator

_SQL = "org.apache.spark.sql.execution.ui."
TASK_COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "peak_execution_memory_bytes",
)
PLAN_COUNTERS = ("exchanges", "python_nodes")
COUNTERS = TASK_COUNTERS + PLAN_COUNTERS


def read_events(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _is_exchange(name: str) -> bool:
    return name.endswith("Exchange") and not name.startswith("Reused")


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def plan_counts(plan: dict) -> tuple[int, int]:
    """(exchanges, python nodes) in one ``sparkPlanInfo`` tree."""
    exchanges = python = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        exchanges += _is_exchange(name)
        python += _is_python(name)
        stack.extend(node.get("children", ()))
    return exchanges, python


def fold(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """Group id -> counter name -> value; jobs without a group fold
    under ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            c = out[stage_group.get(ev["Stage ID"], "")]
            rd = m.get("Shuffle Read Metrics", {})
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["peak_execution_memory_bytes"] = max(
                c["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for exec_id, plan in final_plan.items():
        if exec_id not in exec_group:
            continue  # planned but never ran a job (e.g. an empty relation)
        c = out[exec_group[exec_id]]
        exchanges, python = plan_counts(plan)
        c["exchanges"] += exchanges
        c["python_nodes"] += python
    return dict(out)
