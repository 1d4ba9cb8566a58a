"""Reduce a Spark event log to per-span layer metrics.

Each Spark job is assigned to the innermost span whose interval holds
the job's submission time.  With one client this is exact, including
jobs launched from promote's pool threads (their spans nest under the
promote call).  For each span the reducer reports, over the span and
everything under it: jobs, tasks, executor CPU and GC seconds, shuffle
and spill bytes, bytes written and failed tasks, plus ``self_s`` (wall
time not covered by child spans) and ``driver_s`` (wall time not
covered by any running job).
"""

from __future__ import annotations

import glob
import json
import os

COUNTERS = ("jobs", "tasks", "failed_tasks", "cpu_s", "gc_s", "shuffle_bytes",
            "spill_bytes", "written_bytes")
# Spark stamps events in whole milliseconds (floored).
_CLOCK_SLACK = 0.001


def read_jobs(path: str) -> list[dict]:
    """One dict per job: submit/end (epoch s) plus task counters."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                             "end": None, **{c: 0 for c in COUNTERS}, "jobs": 1}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["failed_tasks"] += int(bool(info.get("Failed")))
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["written_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def find_log(event_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {event_dir}")
    return max(logs, key=os.path.getmtime)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def reduce(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span id: the counters over its subtree, ``self_s``,
    ``driver_s`` and ``wall_s``.  Jobs outside every span are left out."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] - _CLOCK_SLACK <= j["submit"] <= s["end"]:
                if best is None or s["start"] > best["start"]:
                    best = s
        if best is not None:
            own[best["id"]].append(j)
    job_iv = [(j["submit"], j["end"]) for j in jobs]
    out: dict[int, dict] = {}

    def visit(sid: int) -> dict:
        s = by_id[sid]
        agg = {c: 0 for c in COUNTERS}
        for j in own[sid]:
            for c in COUNTERS:
                agg[c] += j[c]
        kid_iv = []
        for c in children[sid]:
            sub = visit(c)
            for k in COUNTERS:
                agg[k] += sub[k]
            kid_iv.append((by_id[c]["start"], by_id[c]["end"]))
        wall = s["end"] - s["start"]
        agg["wall_s"] = wall
        agg["self_s"] = wall - _covered(kid_iv, s["start"], s["end"])
        agg["driver_s"] = wall - _covered(job_iv, s["start"], s["end"])
        out[sid] = agg
        return agg

    for s in spans:
        if s["parent"] is None:
            visit(s["id"])
    return out
