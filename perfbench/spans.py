"""Spans recorded around engine calls, and task metrics from Spark's
local event log attributed to them.

Spans live in memory (:class:`Tracer`) and are written out once, when
the benchmark ends. Task metrics come from the uncompressed,
non-rolling event log that a traced session writes into the benchmark's
own directory. A task belongs to the innermost span whose interval
holds its job's *submission time*. Job groups are not used: the engine
submits some jobs from thread pools whose threads do not inherit the
caller's job group, but every job is submitted inside the call that
caused it.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import time

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """In-memory spans: (name, parent, start, end) in epoch seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["wall_s"] = time.monotonic() - t0
            rec["end"] = time.time()

    def wall(self, name: str) -> float:
        return next(s["wall_s"] for s in reversed(self.spans)
                    if s["name"] == name)


def _empty_totals() -> dict:
    return {"jobs": 0, "tasks": 0, "task_s": 0.0, "jvm_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the one application log in ``log_dir``, by submission
    time; each is {id, submitted (epoch s), tasks: [task metrics]}."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid,
                             "submitted": ev["Submission Time"] / 1000.0,
                             "tasks": []}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if jid is not None and metrics:
                    jobs[jid]["tasks"].append(metrics)
    return sorted(jobs.values(), key=lambda j: j["submitted"])


def _add_task(tot: dict, m: dict) -> None:
    tot["tasks"] += 1
    tot["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    tot["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    tot["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))


def attribute(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per-span totals (each job counted in the innermost span holding
    its submission time, and in that span's ancestors) plus ``_all``.
    Span names are unique per run, which the benchmark guarantees."""
    by_name = {s["name"]: s for s in spans}
    totals = {s["name"]: _empty_totals() for s in spans}
    totals["_all"] = _empty_totals()
    ordered = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in ordered]
    for job in jobs:
        t = job["submitted"]
        # innermost = the latest-starting span that still holds t
        i = bisect.bisect_right(starts, t) - 1
        owner = None
        while i >= 0:
            s = ordered[i]
            if s["start"] <= t <= s["end"]:
                owner = s
                break
            i -= 1
        chain = []
        while owner is not None:
            chain.append(owner["name"])
            owner = by_name.get(owner["parent"])
        for name in chain + ["_all"]:
            tot = totals[name]
            tot["jobs"] += 1
            for m in job["tasks"]:
                _add_task(tot, m)
    return totals
