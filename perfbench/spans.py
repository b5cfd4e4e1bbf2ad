"""Traced-mode instrumentation, all from outside the program.

``Tracer`` wraps public functions at their module attributes, records one
span per call (name, start, end, parent) in memory and tags the Spark jobs
each call runs with ``setJobGroup`` so the event log can be folded per
span name. Nothing here is imported or installed in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                sc.setLocalProperty("spark.jobGroup.id", outer)
                sc.setLocalProperty("spark.job.description", outer)

    def wrap(self, module, attr: str, name: str, before=None, after=None):
        """Replace ``module.attr`` with a spanned twin. ``before(args,
        kwargs)`` returns a state handed to ``after(state, rec, result)``,
        which may add attributes to the span record."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name) as rec:
                result = original(*args, **kwargs)
            if after:
                after(state, rec, result)
            return result

        setattr(module, attr, traced)
        self._undo.append((module, attr, original))

    def unwrap_all(self) -> None:
        while self._undo:
            module, attr, original = self._undo.pop()
            setattr(module, attr, original)

    # -- folds -------------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def tree_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except FileNotFoundError:
                pass
    return total, files


def fold_event_logs(log_dir: str) -> dict[str, dict]:
    """Fold uncompressed Spark event logs into per-job-group totals:
    jobs, stages, tasks, executor run time, bytes read/shuffled/spilled
    and the task-time list (for skew). Each application's job and stage
    ids are its own, so logs are folded one application at a time."""
    groups: dict[str, dict] = {}
    apps: dict[str, list[str]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isfile(path):
            apps.setdefault(os.path.dirname(path), []).append(path)
    for app_dir, files in apps.items():
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        stage_tasks: dict[int, list[float]] = {}
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                        job_group[ev["Job ID"]] = g
                        for st in ev.get("Stage IDs", []):
                            stage_group[st] = g
                        acc = _acc(groups, g)
                        acc["jobs"] += 1
                        acc["stages"] += len(ev.get("Stage IDs", []))
                        acc["_job_start"][(app_dir, ev["Job ID"])] = ev["Submission Time"]
                    elif kind == "SparkListenerJobEnd":
                        g = job_group.get(ev["Job ID"], "-")
                        acc = _acc(groups, g)
                        t0 = acc["_job_start"].pop((app_dir, ev["Job ID"]), None)
                        if t0 is not None:
                            acc["job_wall_s"] += (ev["Completion Time"] - t0) / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"], "-")
                        acc = _acc(groups, g)
                        m = ev.get("Task Metrics") or {}
                        acc["tasks"] += 1
                        acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                        sr = m.get("Shuffle Read Metrics") or {}
                        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        info = ev.get("Task Info") or {}
                        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                        stage_tasks.setdefault((ev["Stage ID"], g), []).append(dur)
        for (_st, g), durs in stage_tasks.items():
            if len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    _acc(groups, g)["stage_skews"].append(max(durs) / med)
    for acc in groups.values():
        acc.pop("_job_start")
    return groups


def _acc(groups: dict, g: str) -> dict:
    if g not in groups:
        groups[g] = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                     "job_wall_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
                     "shuffle_write_bytes": 0, "spill_bytes": 0,
                     "stage_skews": [], "_job_start": {}}
    return groups[g]
