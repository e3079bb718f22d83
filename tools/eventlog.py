"""Spark event-log reader shared by the profiling tools.

``confs(log_dir)`` is the session conf block that writes one plain
(uncompressed, unrolled) event log into ``log_dir``; ``job_groups``
reads it back after ``spark.stop()`` and attributes every job, stage
and task to the job group (``SparkContext.setJobGroup``) its job ran
under. Stages of jobs started without a group are dropped.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
from typing import NamedTuple


def confs(log_dir: str) -> dict[str, str]:
    """The four ``spark.eventLog.*`` settings for a log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
    }


class Task(NamedTuple):
    """One ``SparkListenerTaskEnd`` record."""

    stage: int
    ok: bool  # ended in Success, neither failed nor killed
    secs: float  # launch to finish
    run_ms: int  # executor run time
    shuffle_bytes: int  # shuffle bytes written
    shuffle_records: int  # shuffle records written


def _events(log_dir: str):
    paths = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in sorted(paths):
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _scope_name(stage_info: dict) -> str:
    scopes = []
    for ri in stage_info.get("RDD Info", []):
        sc = ri.get("Scope")
        if sc:
            try:
                scopes.append(json.loads(sc)["name"])
            except (json.JSONDecodeError, KeyError):
                pass
    return " <- ".join(dict.fromkeys(scopes))


def job_groups(log_dir: str) -> dict[str, dict]:
    """group id -> ``{"jobs", "stages", "tasks"}`` for every job group
    in the log:

    * ``jobs``: job id -> ``{"sub": ms[, "end": ms]}`` (submission and,
      once seen, completion time);
    * ``stages``: completed stage id -> ``{"job", "name", "wall",
      "tasks"}`` (owning job, RDD scope names, wall seconds, task
      count);
    * ``tasks``: a ``Task`` per ``TaskEnd`` of the group's stages.

    A stage belongs to the group of the latest job that listed it when
    its event is read.
    """
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_owner: dict[int, tuple[str, int]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            g = groups.setdefault(
                group, {"jobs": {}, "stages": {}, "tasks": []}
            )
            jid = ev["Job ID"]
            g["jobs"][jid] = {"sub": ev.get("Submission Time")}
            job_group[jid] = group
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = (group, jid)
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev.get("Job ID"))
            if group:
                groups[group]["jobs"][ev["Job ID"]]["end"] = ev.get(
                    "Completion Time"
                )
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            owner = stage_owner.get(si["Stage ID"])
            if owner is None:
                continue
            groups[owner[0]]["stages"][si["Stage ID"]] = {
                "job": owner[1],
                "name": _scope_name(si),
                "wall": (si.get("Completion Time", 0)
                         - si.get("Submission Time", 0)) / 1e3,
                "tasks": si.get("Number of Tasks"),
            }
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"))
            if owner is None:
                continue
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            groups[owner[0]]["tasks"].append(Task(
                stage=ev["Stage ID"],
                ok=reason == "Success"
                and not ti.get("Failed") and not ti.get("Killed"),
                secs=(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                / 1000.0,
                run_ms=tm.get("Executor Run Time", 0),
                shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                shuffle_records=sw.get("Shuffle Records Written", 0),
            ))
    return groups
