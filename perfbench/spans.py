"""Spans, self times and Spark event-log counters for the traced run.

Spans are recorded by the benchmark around its calls into the program's
public functions, kept in memory and written once at exit. Spark's own jobs
are added afterwards as child spans, read from the event log the traced
session writes. Self time follows the usual definition: a span's duration
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, job) spans; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.job: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = self.add(name, time.time(), None, self._stack[-1] if self._stack else None, self.job)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent: int | None, job: int | None) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "job": job}
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children, clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


# -- Spark event log -------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single application log written under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    events = []
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            events.append(json.loads(line))
    return events


def attach_spark_jobs(tracer: Tracer, events: list[dict], group_prefix: str) -> dict[int, int]:
    """Add one ``spark.job`` span per Spark job; return Spark job id -> bench job.

    A Spark job belongs to the bench job named by its job group
    (``<group_prefix><n>``); jobs started from other threads (such as a
    streaming query's micro-batches) carry their own group and are assigned by time
    to the bench job running when they were submitted. The parent is the
    innermost bench span of that job open at submission.
    """
    bench = [s for s in tracer.spans if s["job"] is not None and s["end"] is not None]
    starts, ends = {}, {}
    groups = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            starts[e["Job ID"]] = e["Submission Time"] / 1000.0
            groups[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
        elif e["Event"] == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"] / 1000.0
    owner: dict[int, int] = {}
    for jid, t0 in starts.items():
        job = None
        g = groups[jid]
        if g.startswith(group_prefix):
            job = int(g[len(group_prefix):])
        else:
            roots = [s for s in bench if s["parent"] is None and s["start"] <= t0 <= s["end"]]
            if roots:
                job = roots[0]["job"]
        if job is None or jid not in ends:
            continue
        open_spans = [s for s in bench if s["job"] == job and s["start"] <= t0 <= s["end"]]
        if not open_spans:
            continue
        parent = max(open_spans, key=lambda s: s["start"])
        tracer.add("spark.job", t0, max(ends[jid], t0), parent["id"], job)
        owner[jid] = job
    return owner


def stage_task_counters(events: list[dict], job_owner: dict[int, int]) -> dict[int, dict]:
    """Per bench job: stage and task counters summed from the event log.

    Stages and tasks are assigned through the Spark job that submitted the
    stage; a shuffle stage reused by a later job counts once, for the job
    that ran it. Stage wall time is split between stages that write shuffle
    output (a MapReduce job's map side) and the others (its reduce side).
    """
    stage_job: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and e["Job ID"] in job_owner:
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, job_owner[e["Job ID"]])
    acc: dict[int, dict] = {}

    def slot(job: int) -> dict:
        return acc.setdefault(job, {
            "stages": 0, "tasks": set(), "attempts": 0, "tasks_failed": 0,
            "task_duration_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "input_records": 0,
            "shuffle_stage_s": 0.0, "result_stage_s": 0.0,
        })

    shuffle_stages: set[tuple[int, int]] = set()  # stages whose tasks wrote shuffle output
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            a = slot(stage_job[sid])
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            a["attempts"] += 1
            a["tasks"].add((sid, e["Stage Attempt ID"], info["Index"]))
            a["task_duration_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            if info.get("Failed") or info.get("Killed"):
                a["tasks_failed"] += 1
                continue  # time spent counts; output of a lost attempt does not
            w = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            i = m.get("Input Metrics") or {}
            a["input_bytes"] += i.get("Bytes Read", 0)
            a["input_records"] += i.get("Records Read", 0)
            if w.get("Shuffle Records Written", 0):
                shuffle_stages.add((sid, e["Stage Attempt ID"]))
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_job:
                continue
            a = slot(stage_job[sid])
            a["stages"] += 1
            if "Submission Time" in info and "Completion Time" in info:
                wall = (info["Completion Time"] - info["Submission Time"]) / 1000.0
                kind = "shuffle" if (sid, info["Stage Attempt ID"]) in shuffle_stages else "result"
                a[f"{kind}_stage_s"] += wall
    for a in acc.values():
        a["tasks"] = len(a["tasks"])
    return acc
