"""Spans around calls into the engine's layers, and the Spark event-log
reader that turns their job groups into per-layer Spark counters.

A span records name, start, end, parent and run id. Opening a span sets
a Spark job group named after it, so every job a layer launches can be
attributed to the innermost open span. Spans stay in memory and are
written out once, when the run ends. With tracing off, ``span`` is a
no-op context and no job group is set.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "span-"


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # the live SparkContext, set after each session start

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- queries over the recorded spans ---------------------------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c["id"] for c in self.children(cur))
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        return self.duration(s) - sum(
            self.duration(c) for c in self.children(s["id"])
        )

    def within(self, root: dict, name: str) -> list[dict]:
        ids = set(self.subtree(root["id"]))
        return [s for s in self.spans if s["id"] in ids and s["name"] == name]


def _scan_nodes(info: dict, out: dict) -> None:
    """accumulator id -> metric name, for every plan node's metrics."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _scan_nodes(c, out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle write/spill/input bytes, files
    read, and per-stage task durations. Each application's log is
    read on its own, since job and stage ids restart per application."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0, "files_read": 0,
        "stages": [],
    })
    apps = sorted(glob.glob(os.path.join(log_dir, "*")))
    for app in apps:
        files = (sorted(glob.glob(os.path.join(app, "events_*")))
                 if os.path.isdir(app) else [app])
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        stage_tasks: dict[int, list[float]] = defaultdict(list)
        accum_name: dict[int, str] = {}
        exec_files: dict[int, int] = defaultdict(int)
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        g = props.get("spark.jobGroup.id")
                        if not g or not g.startswith(GROUP_PREFIX):
                            continue
                        groups[g]["jobs"] += 1
                        for st in ev["Stage IDs"]:
                            stage_group[st] = g
                        ex = props.get("spark.sql.execution.id")
                        if ex is not None:
                            exec_group[int(ex)] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"])
                        tm = ev.get("Task Metrics")
                        if g is None or tm is None:
                            continue
                        gr = groups[g]
                        gr["tasks"] += 1
                        gr["shuffle_write_bytes"] += tm.get(
                            "Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
                        gr["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                              + tm.get("Disk Bytes Spilled", 0))
                        gr["input_bytes"] += tm.get("Input Metrics", {}).get(
                            "Bytes Read", 0)
                        info = ev["Task Info"]
                        stage_tasks[ev["Stage ID"]].append(
                            (info["Finish Time"] - info["Launch Time"]) / 1e3)
                    elif kind.endswith("SparkListenerSQLExecutionStart") or \
                            kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        _scan_nodes(ev["sparkPlanInfo"], accum_name)
                    elif kind.endswith("SparkListenerDriverAccumUpdates"):
                        for acc, val in ev["accumUpdates"]:
                            if accum_name.get(acc) == "number of files read":
                                exec_files[ev["executionId"]] += val
        for st, durs in stage_tasks.items():
            groups[stage_group[st]]["stages"].append(durs)
        for ex, n in exec_files.items():
            if ex in exec_group:
                groups[exec_group[ex]]["files_read"] += n
    return dict(groups)


def merge_stats(groups: dict[str, dict], span_ids) -> dict:
    """Spark counters summed over the job groups of ``span_ids``."""
    out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "input_bytes": 0, "files_read": 0,
           "stages": []}
    for sid in span_ids:
        g = groups.get(f"{GROUP_PREFIX}{sid}")
        if g is None:
            continue
        for k in out:
            out[k] = out[k] + g[k]
    return out


def task_max_over_median(stats: dict) -> float:
    """Max over median task time in the stage with the most task time:
    the straggler ratio where it costs most. 1.0 when nothing ran."""
    stages = [s for s in stats["stages"] if s]
    if not stages:
        return 1.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
