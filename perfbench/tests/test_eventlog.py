"""Pins the event-log fold on a tiny checked-in log and the metric names
the benchmark declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold(eventlog.read_events(str(HERE / "data" / "eventlog.json")))


def test_task_counters_fold_by_job_group(groups):
    job = groups["job"]
    assert job["jobs"] == 1
    assert job["tasks"] == 2  # the killed task carries no metrics
    assert job["executor_run_s"] == pytest.approx(2.0)
    assert job["executor_cpu_s"] == pytest.approx(1.5)
    assert job["gc_s"] == pytest.approx(0.1)
    assert job["shuffle_write_bytes"] == 2048
    assert job["shuffle_read_bytes"] == 2048
    assert job["spill_bytes"] == 512
    assert job["peak_execution_memory_bytes"] == 8192


def test_plan_counts_use_the_final_adaptive_plan(groups):
    # final plan: Exchange + BroadcastExchange (ReusedExchange is not a
    # second exchange), MapInPandas + ArrowEvalPython
    assert groups["job"]["exchanges"] == 2
    assert groups["job"]["python_nodes"] == 2


def test_jobs_without_a_group_and_plans_without_jobs(groups):
    assert set(groups) == {"job", ""}
    other = groups[""]
    assert (other["jobs"], other["tasks"]) == (1, 1)
    assert other["executor_cpu_s"] == pytest.approx(0.005)
    assert other["exchanges"] == 0  # execution 1 was planned but never ran


def test_every_counter_and_declared_metric_name_is_well_formed():
    spec = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [f"spark.job.{c}" for c in eventlog.TASK_COUNTERS]
    assert names and all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(set(m["name"] for m in spec["end_to_end"] + spec["per_layer"])) == len(
        spec["end_to_end"] + spec["per_layer"]
    )
