"""The event-log reader the profiling tools share (tools/eventlog.py),
over a hand-written log: one grouped job, one job without a group."""

from __future__ import annotations

import gzip
import json

import pytest

from tools import eventlog, scale_check, shuffle_audit

SCOPE = json.dumps({"id": "3", "name": "Exchange"})
LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "q"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1050,
     "Stage IDs": [1], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task End Reason": {"Reason": "Success"},
     "Task Info": {"Launch Time": 1100, "Finish Time": 1400},
     "Task Metrics": {"Executor Run Time": 250, "Shuffle Write Metrics": {
         "Shuffle Bytes Written": 100, "Shuffle Records Written": 10}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task End Reason": {"Reason": "TaskKilled"},
     "Task Info": {"Launch Time": 1100, "Finish Time": 2100, "Killed": True},
     "Task Metrics": {"Executor Run Time": 900, "Shuffle Write Metrics": {
         "Shuffle Bytes Written": 5, "Shuffle Records Written": 1}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task End Reason": {"Reason": "Success"},
     "Task Info": {"Launch Time": 1100, "Finish Time": 9100},
     "Task Metrics": {"Executor Run Time": 8000}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1100,
        "Completion Time": 2150, "RDD Info": [{"Scope": SCOPE}, {}]}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2200},
]


@pytest.fixture(params=["plain", "gz"])
def log_dir(request, tmp_path):
    text = "\n".join(json.dumps(ev) for ev in LOG) + "\n"
    if request.param == "gz":
        with gzip.open(tmp_path / "app-1.gz", "wt") as f:
            f.write(text)
    else:
        (tmp_path / "app-1").write_text(text)
    (tmp_path / "appstatus_app-1").write_text("not an event\n")
    return str(tmp_path)


def test_job_groups_attribute_jobs_stages_and_tasks(log_dir):
    groups = eventlog.job_groups(log_dir)
    # The job without a group, its stage and its task are dropped.
    assert list(groups) == ["q"]
    g = groups["q"]
    assert g["jobs"] == {0: {"sub": 1000, "end": 2200}}
    assert g["stages"] == {
        0: {"job": 0, "name": "Exchange", "wall": 1.05, "tasks": 2}
    }
    assert g["tasks"] == [
        eventlog.Task(0, True, 0.3, 250, 100, 10),
        eventlog.Task(0, False, 1.0, 900, 5, 1),
    ]


def test_tool_aggregations(log_dir):
    # Shuffle sums count every task; the max task skips the killed one.
    assert shuffle_audit.shuffle_totals(log_dir) == {
        "q": {"bytes": 105, "records": 11}
    }
    assert scale_check.max_task_secs(log_dir) == {"q": 0.3}
