"""Spans around the program's public calls, joined to Spark's event log.

A span records (id, name, parent, op, start, end). While a span is open
the Spark job group is ``gb<span id>``, so every job the call launches
carries the span it ran under; lazy work lands in the span of the action
that runs it. After the session stops, :func:`read_event_log` parses the
event log that ``spark.eventLog.enabled`` wrote and :class:`Trace`
answers per-span questions: jobs, stages, tasks, executor time, shuffle
and spill bytes, task skew, and the driver residual (span wall time not
covered by any job).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

GROUP = "spark.jobGroup.id"


class Tracer:
    """Records spans; a disabled tracer is a no-op."""

    def __init__(self, sc, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent and parent["id"],
             "op": op if op is not None else parent and parent["op"]}
        self.spans.append(s)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"gb{s['id']}")
        self._stack.append(s)
        s["t0"] = time.time()
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP, prev)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from (json.loads(line) for line in f)


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the newest event log in ``log_dir``: jobs by id
    with group/start/end; completed stages by id with group, task count,
    summed task metrics and per-task run times. Reads both the single-file
    log and the rolling ``eventlog_v2_*/events_<n>_*`` layout."""
    path = max(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs, stages = {}, {}
    for e in _events(parts):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"group": (e.get("Properties") or {}).get(GROUP),
                                 "t0": e["Submission Time"] / 1000, "t1": None}
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "group": (e.get("Properties") or {}).get(GROUP), "tasks": [], "acc": {}}
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if st is not None and e.get("Task Metrics"):
                st["tasks"].append(e["Task Metrics"]["Executor Run Time"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if st is not None:
                st["acc"] = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])
                             if str(a.get("Name", "")).startswith("internal.metrics.")}
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Trace:
    """Per-span accounting over recorded spans and a parsed event log."""

    def __init__(self, spans: list[dict], jobs: dict, stages: dict):
        self.spans = spans
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_group: dict[str, list[dict]] = {}
        for j in jobs.values():
            self.jobs_by_group.setdefault(j["group"], []).append(j)
        self.stages_by_group: dict[str, list[dict]] = {}
        for st in stages.values():
            self.stages_by_group.setdefault(st["group"], []).append(st)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def _subtree(self, span: dict) -> list[int]:
        ids, todo = [], [span["id"]]
        while todo:
            i = todo.pop()
            ids.append(i)
            todo += self.children.get(i, [])
        return ids

    def jobs(self, span: dict) -> list[dict]:
        return [j for i in self._subtree(span) for j in self.jobs_by_group.get(f"gb{i}", [])]

    def stages(self, span: dict) -> list[dict]:
        return [st for i in self._subtree(span) for st in self.stages_by_group.get(f"gb{i}", [])]

    def tasks(self, span: dict) -> int:
        return sum(len(st["tasks"]) for st in self.stages(span))

    def metric(self, span: dict, name: str) -> float:
        return sum(st["acc"].get(f"internal.metrics.{name}", 0) for st in self.stages(span))

    def residual_s(self, span: dict) -> float:
        """Wall time of the span not covered by any of its jobs: Python,
        plan analysis and scheduling gaps."""
        iv = [(max(j["t0"], span["t0"]), min(j["t1"] or span["t1"], span["t1"])) for j in self.jobs(span)]
        return (span["t1"] - span["t0"]) - _union_s([(a, b) for a, b in iv if b > a])

    def task_skew(self, span: dict) -> float:
        """Largest max/median task run time over the span's stages of at
        least four tasks (1.0 when none)."""
        skews = [max(st["tasks"]) / max(statistics.median(st["tasks"]), 1)
                 for st in self.stages(span) if len(st["tasks"]) >= 4]
        return max(skews, default=1.0)

    @staticmethod
    def wall(span: dict) -> float:
        return span["t1"] - span["t0"]
