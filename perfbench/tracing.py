"""Spans, Spark event-log parsing and the percentile rule.

All of this runs in the benchmark process; the engine is not instrumented.
Spans wrap the benchmark's calls into the engine's public functions. Spark's
own view of a request comes from the event log, grouped by the job group the
benchmark sets before each request.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples, ladder=(99.9, 99, 95, 90, 75, 50)) -> tuple[float, float] | None:
    """(q, value) for the highest percentile q in ``ladder`` that has at least
    ten samples above it (nearest-rank), or None when not even the median has."""
    xs = sorted(samples)
    n = len(xs)
    for q in ladder:
        rank = math.ceil(q * n / 100.0 - 1e-9)  # float-safe nearest rank
        if rank >= 1 and n - rank >= 10:
            return q, float(xs[rank - 1])
    return None


class Tracer:
    """In-memory spans: name, start, end, parent and request id.

    ``enabled=False`` keeps the same call sites but records nothing, which is
    how the measured (untraced) run uses it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent, "request": request,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def parse_event_log(lines) -> dict[str, list[dict]]:
    """Job group id → its jobs, from Spark event-log JSON lines.

    Each job is ``{"id", "start_ms", "end_ms", "stages": {stage_id: stage}}``
    with ``stage = {"tasks": [run_ms, ...], "input_bytes", "shuffle_bytes"}``.
    Only stages that ran tasks are listed (skipped stages have none).
    Shuffle bytes count both what a stage's tasks wrote and what they read.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {"id": ev["Job ID"], "group": props.get("spark.jobGroup.id"),
                   "start_ms": ev["Submission Time"], "end_ms": None, "stages": {}}
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            st = job["stages"].setdefault(
                ev["Stage ID"], {"tasks": [], "input_bytes": 0, "shuffle_bytes": 0}
            )
            st["tasks"].append(m.get("Executor Run Time", 0))
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
    groups: dict[str, list[dict]] = {}
    for job in jobs.values():
        if job["group"] is not None and job["end_ms"] is not None:
            groups.setdefault(job["group"], []).append(job)
    return groups


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_summary(jobs: list[dict]) -> dict:
    """Plan shape and Spark time of one request's jobs."""
    stages = [st for j in jobs for st in j["stages"].values()]
    longest = max(stages, key=lambda st: max(st["tasks"]), default=None)
    skew = (
        max(longest["tasks"]) / max(1.0, statistics.median(longest["tasks"]))
        if longest else 1.0
    )
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(len(st["tasks"]) for st in stages),
        "job_ms": union_ms((j["start_ms"], j["end_ms"]) for j in jobs),
        "task_run_ms": float(sum(sum(st["tasks"]) for st in stages)),
        "input_bytes": sum(st["input_bytes"] for st in stages),
        "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
        "skew": skew,
    }
