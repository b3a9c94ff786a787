"""Spark event-log reader: task metrics attributed to layers by the
description of the job that ran them.

The pipeline labels its stage jobs ``frizbee:<stage>``; the benchmark
labels the jobs of each layer call it makes ``perfbench:<layer>[.<call>]``.
Jobs with no description are not attributed.
"""

from __future__ import annotations

import json
import os
import statistics

# pipeline stages whose jobs are one operator layer's work
_STAGE_LAYER = {
    "signatures": "dedup",
    "span_pairs": "dedup",
    "span_report": "dedup",
    "verified": "dedup",
    "clusters": "components",
}
FIELDS = ("executor_run_s", "tasks", "slot_utilization", "task_skew",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s")


def layer_of(description: str | None) -> str | None:
    if not description:
        return None
    prefix, _, rest = description.partition(":")
    if prefix == "frizbee":
        return _STAGE_LAYER.get(rest, "pipeline")
    if prefix == "perfbench":
        return rest.split(".", 1)[0]
    return None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def files(events_dir: str) -> list[str]:
    """The uncompressed event-log files of the one application logged in
    ``events_dir``, in write order: a plain file, or the numbered parts of
    a rolling (``eventlog_v2_*``) log."""
    apps = os.listdir(events_dir)
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {events_dir}, found {apps}")
    app = os.path.join(events_dir, apps[0])
    if os.path.isfile(app):
        return [app]
    parts = [p for p in os.listdir(app) if p.startswith("events_")]
    return [os.path.join(app, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]


def read(paths: list[str]) -> tuple[dict, list[dict]]:
    """``(jobs, tasks)``: job id -> {description, stages, start, end}, and
    one record per finished task."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                _event(json.loads(line), jobs, tasks)
    return jobs, tasks


def _event(ev: dict, jobs: dict, tasks: list) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        jobs[ev["Job ID"]] = {
            "description": (ev.get("Properties") or {}).get("spark.job.description"),
            "stages": ev.get("Stage IDs", []),
            "start": ev["Submission Time"],
            "end": ev["Submission Time"],
        }
    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        tasks.append({
            "stage": ev["Stage ID"],
            "duration_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
            "run_ms": m.get("Executor Run Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        })


def aggregate(jobs: dict, tasks: list[dict], key, cores: int) -> dict[str, dict]:
    """Per-group totals, grouping jobs by ``key(description)``.

    ``slot_utilization`` is task run time over (cores x the union of the
    group's job intervals); ``task_skew`` is the largest max/median task
    duration over the group's stages that ran more than one task.
    """
    stage_group: dict[int, str] = {}
    intervals: dict[str, list] = {}
    n_jobs: dict[str, int] = {}
    for _, job in sorted(jobs.items()):
        g = key(job["description"])
        if g is None:
            continue
        intervals.setdefault(g, []).append((job["start"], job["end"]))
        n_jobs[g] = n_jobs.get(g, 0) + 1
        for s in job["stages"]:
            stage_group.setdefault(s, g)
    out: dict[str, dict] = {
        g: {f: 0.0 for f in FIELDS} | {"jobs": n_jobs[g], "wall_s": _union_s(iv)}
        for g, iv in intervals.items()
    }
    durations: dict[int, list[int]] = {}
    for t in tasks:
        g = stage_group.get(t["stage"])
        if g is None:
            continue
        a = out[g]
        a["executor_run_s"] += t["run_ms"] / 1e3
        a["tasks"] += 1
        a["gc_s"] += t["gc_ms"] / 1e3
        a["shuffle_read_bytes"] += t["shuffle_read"]
        a["shuffle_write_bytes"] += t["shuffle_write"]
        a["spill_bytes"] += t["spill"]
        durations.setdefault(t["stage"], []).append(t["duration_ms"])
    for s, ds in durations.items():
        med = statistics.median(ds)
        if len(ds) > 1 and med > 0:
            a = out[stage_group[s]]
            a["task_skew"] = max(a["task_skew"], max(ds) / med)
    for a in out.values():
        if a["wall_s"] > 0:
            a["slot_utilization"] = a["executor_run_s"] / (cores * a["wall_s"])
    return out
