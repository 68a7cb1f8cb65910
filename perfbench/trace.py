"""Spans recorded around calls into the engine, and the Spark event-log
reader that hangs each Spark job under the call that launched it.

A span is ``pass -> call -> Spark job``. Calls are timed from the
benchmark's own code; each call runs under its own Spark job group, whose
id is also the job description, so every job in the event log (including
AQE query-stage and broadcast jobs, which inherit the submitting thread's
properties) names the call that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from tools.profile_query import parse_event_log

#: job classes, decided by the job's result-stage call site and output
JOB_CLASSES = ("pin", "aqe", "action", "write", "other")

#: span layers that are not calls into the engine
NOT_ENGINE = ("pass", "client.batch")


class Tracer:
    """In-memory span recorder. ``enabled=False`` still times calls (the
    end-to-end metrics need them) but sets no job groups."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent setting job groups (the tracer's own cost)
        self.cost_s = 0.0

    def _group(self, sid: int | None) -> None:
        t0 = time.perf_counter()
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", f"span-{sid}")
        self.cost_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str, name: str = ""):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self._group(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self.enabled:
                self._group(self._stack[-1] if self._stack else None)

    def calls(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _task_metrics(log_dir: str) -> dict[int, dict]:
    """Per-stage task totals the shared parser does not keep: CPU, GC,
    spill, output bytes and the task durations (for skew)."""
    out: dict[int, dict] = {}
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or "appstatus" in f:
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st = out.setdefault(ev["Stage ID"], {
                        "cpu_ns": 0, "gc_ms": 0, "spill": 0, "out": 0,
                        "durations": []})
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    st["out"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    st["durations"].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return out


def classify(job: dict, tasks: dict[int, dict], action_call: bool) -> str:
    """``write`` if the job wrote output bytes; else by the result stage's
    call site: ``pin`` (localCheckpoint), ``aqe`` (query-stage and
    broadcast jobs submitted from a CompletableFuture); ``action`` for any
    other job under a final-action call, ``other`` elsewhere (driver-side
    collects and footer reads inside a constructor)."""
    if any(tasks.get(s, {}).get("out", 0) > 0 for s in job["stages"]):
        return "write"
    name = job["stage_info"][max(job["stages"])]["name"] if job["stages"] \
        else ""
    if name.startswith(("localCheckpoint", "checkpoint")):
        return "pin"
    if "CompletableFuture" in name:
        return "aqe"
    return "action" if action_call else "other"


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def attach_jobs(spans: list[dict], log_dir: str,
                action_layers: tuple[str, ...]) -> list[dict]:
    """Read the event log and hang each Spark job under its call span.

    Adds to every span ``jobs`` (its own jobs, not its children's) and
    ``self_s`` (duration minus the union of its jobs' intervals: the
    driver-side gap). Returns the job records with their class, timing
    and task totals."""
    jobs = parse_event_log(log_dir)
    tasks = _task_metrics(log_dir)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["jobs"] = []
    out = []
    for j in jobs:
        desc = j.get("desc") or ""
        if not desc.startswith("span-") or j["t1"] is None:
            continue
        span = by_id.get(int(desc[5:]))
        if span is None:
            continue
        stages = [tasks.get(sid, {}) for sid in j["stages"]]
        rec = {
            "job_id": j["job_id"], "span": span["id"],
            "t0": j["t0"] / 1000, "t1": j["t1"] / 1000,
            "cls": classify(j, tasks, span["layer"] in action_layers),
            "tasks": sum(len(t.get("durations", ())) for t in stages),
            "task_s": sum(info.get("task_time_ms", 0)
                          for info in j["stage_info"].values()) / 1000,
            "cpu_s": sum(t.get("cpu_ns", 0) for t in stages) / 1e9,
            "gc_s": sum(t.get("gc_ms", 0) for t in stages) / 1000,
            "spill_mb": sum(t.get("spill", 0) for t in stages) / 1e6,
            "input_mb": sum(info.get("input", 0)
                            for info in j["stage_info"].values()) / 1e6,
            "shuffle_read_mb": sum(info.get("sh_read", 0)
                                   for info in j["stage_info"].values()) / 1e6,
            "shuffle_write_mb": sum(info.get("sh_write", 0)
                                    for info in j["stage_info"].values()) / 1e6,
            "skew": max((_skew(t.get("durations", ())) for t in stages),
                        default=1.0),
        }
        span["jobs"].append(rec)
        out.append(rec)
    for s in spans:
        dur = (s["t1"] or s["t0"]) - s["t0"]
        covered = _union([(max(j["t0"], s["t0"]), min(j["t1"], s["t1"]))
                             for j in s["jobs"]
                             if j["t1"] > s["t0"] and j["t0"] < s["t1"]])
        s["self_s"] = max(0.0, dur - covered)
    return out


def _skew(durations) -> float:
    """max / median task time of one stage; stages with fewer than four
    tasks have no meaningful median and count as unskewed."""
    if len(durations) < 4:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def exec_metrics(jobs: list[dict], spans: list[dict],
                 passes: int) -> dict[str, tuple[float, str]]:
    """Per-pass ``exec.*`` layer metrics from the jobs of call spans
    (jobs the benchmark's own checks launch hang under the pass span and
    are left out)."""
    calls = [s for s in spans if s["layer"] not in NOT_ENGINE]
    call_ids = {s["id"] for s in calls}
    jobs = [j for j in jobs if j["span"] in call_ids]
    m: dict[str, tuple[float, str]] = {}
    for cls in JOB_CLASSES:
        sel = [j for j in jobs if j["cls"] == cls]
        m[f"exec.jobs.{cls}"] = (len(sel) / passes, "count")
        m[f"exec.job_s.{cls}"] = (
            sum(j["t1"] - j["t0"] for j in sel) / passes, "s")
    m["exec.driver_gap_s"] = (sum(s["self_s"] for s in calls) / passes, "s")
    for key, unit in (("tasks", "count"), ("task_s", "s"), ("cpu_s", "s"),
                      ("gc_s", "s"), ("input_mb", "MB"),
                      ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                      ("spill_mb", "MB")):
        m[f"exec.{key}"] = (sum(j[key] for j in jobs) / passes, unit)
    m["exec.task_skew"] = (max((j["skew"] for j in jobs), default=1.0),
                           "ratio")
    return m
