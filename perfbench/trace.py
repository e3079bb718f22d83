"""Span recording and Spark counters for the traced run.

Spans are recorded from outside the package: ``Tracer.patched``
replaces a function or method on its owner with a recording wrapper
for the duration of a traced pass, then puts the original back. Spans
stay in memory and are reduced to per-layer self times after each
pass. A span's self time is its duration minus that of its direct
children, so nested layers are never counted twice.

``SparkRest`` reads job, stage and task counters for a set of job
groups from ``statusTracker`` and the monitoring REST API of the
session's own UI (enabled for traced runs only).
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """Nested driver-side spans plus named counters, kept in memory."""

    def __init__(self) -> None:
        self.roots: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(name, time.perf_counter())
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str,
             on_result: Callable[[Any], None] | None = None) -> Callable:
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return traced

    @contextmanager
    def patched(self, targets: list[tuple[Any, str, str, Callable | None]]):
        """Install recording wrappers on ``(owner, attr, span, hook)``."""
        saved = [(owner, attr, getattr(owner, attr))
                 for owner, attr, _, _ in targets]
        try:
            for (owner, attr, name, hook), (_, _, orig) in zip(targets, saved):
                setattr(owner, attr, self.wrap(orig, name, hook))
            yield self
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    def self_times(self, root: Span) -> dict[str, float]:
        """Summed self time per span name below and including ``root``."""
        out: dict[str, float] = defaultdict(float)
        todo = [root]
        while todo:
            s = todo.pop()
            out[s.name] += s.self_time
            todo.extend(s.children)
        return out

    def totals(self, root: Span) -> dict[str, float]:
        """Summed duration per span name below ``root``."""
        out: dict[str, float] = defaultdict(float)
        todo = list(root.children)
        while todo:
            s = todo.pop()
            out[s.name] += s.duration
            todo.extend(s.children)
        return out


def drain_rows(rows: Iterator) -> None:
    """A ``foreachPartition`` body that only pulls every row across the
    JVM->Python boundary."""
    for _ in rows:
        pass


class SparkRest:
    """Job/stage/task counters for job groups, from the session's UI."""

    def __init__(self, spark, ui_port: int) -> None:
        self.sc = spark.sparkContext
        self.base = (f"http://127.0.0.1:{ui_port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def group_counters(self, groups: list[str],
                       timeout_s: float = 20.0) -> dict[str, dict[str, float]]:
        """Per group: jobs, tasks, executor CPU, GC, shuffle and spill.

        The UI store is fed asynchronously by the listener bus, so
        this waits until every job ``statusTracker`` knows for the
        groups has reached a final state there.
        """
        tracker = self.sc.statusTracker()
        ids = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
        wanted = set().union(*ids.values()) if ids else set()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self._get("/jobs")
                    if j["jobId"] in wanted}
            done = all(j["status"] in ("SUCCEEDED", "FAILED")
                       for j in jobs.values())
            if (len(jobs) == len(wanted) and done) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        stages: dict[int, list[dict]] = defaultdict(list)
        for st in self._get("/stages"):
            stages[st["stageId"]].append(st)
        out = {}
        for g, job_ids in ids.items():
            c = dict.fromkeys(("jobs", "tasks", "executor_cpu_s", "gc_s",
                               "shuffle_bytes", "spill_bytes"), 0.0)
            c["jobs"] = float(len(job_ids))
            stage_ids = {s for j in job_ids if j in jobs
                         for s in jobs[j]["stageIds"]}
            for sid in stage_ids:
                for st in stages.get(sid, ()):
                    if st.get("status") != "COMPLETE":
                        continue
                    c["tasks"] += st.get("numCompleteTasks", 0)
                    c["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    c["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += st.get("diskBytesSpilled", 0)
            out[g] = c
        return out
