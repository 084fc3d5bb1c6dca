"""Spark event-log attribution per benchmark span.

Each traced call runs under a Spark job group named after its span id, so
every job in the event log belongs to exactly one span. Per span this
reports job time against driver gap (the span's own wall time that no job
covers: planning, collects, driver-side Python), plus jobs, stages, tasks,
failed tasks, shuffle bytes and how many rows were scanned from the input.
"""

from __future__ import annotations

import json
import os

SCAN_NODES = ("Scan parquet",)


def read_events(evlog_dir: str) -> list[dict]:
    """Events of every application logged under ``evlog_dir``; a rolling
    log is a directory of ``events_<n>_<app>`` files, read in ``n`` order."""
    paths = []
    for root, _, names in os.walk(evlog_dir):
        for name in names:
            if name.startswith("events_"):
                paths.append((root, int(name.split("_")[1]), name))
            elif not name.startswith(("appstatus", ".")):
                paths.append((root, 0, name))
    events = []
    for root, _, name in sorted(paths):
        with open(os.path.join(root, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _scan_accumulators(plan: dict, marker: str, out: set) -> None:
    """Accumulator ids of 'number of output rows' on scans of the input."""
    if plan.get("nodeName", "").startswith(SCAN_NODES) and marker in json.dumps(plan.get("metadata", {})):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_accumulators(child, marker, out)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def attribute(events: list[dict], input_marker: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, tasks_failed, job_s,
    shuffle_mb, input_rows."""
    scan_acc: set = set()
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(g: str) -> dict:
        return groups.setdefault(g, {
            "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
            "intervals": [], "shuffle_bytes": 0, "input_rows": 0,
        })

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_accumulators(ev.get("sparkPlanInfo", {}), input_marker, scan_acc)
        elif kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[ev["Job ID"]] = {"group": g, "t0": ev["Submission Time"] / 1000.0}
            for s in ev.get("Stage IDs", []):
                stage_group[s] = g
            group(g)["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            j = jobs[ev["Job ID"]]
            group(j["group"])["intervals"].append((j["t0"], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                group(stage_group[sid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
            g = group(stage_group[ev["Stage ID"]])
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["tasks_failed"] += 1
            metrics = ev.get("Task Metrics") or {}
            g["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in scan_acc:
                    g["input_rows"] += int(acc.get("Update") or 0)
    out = {}
    for g, v in groups.items():
        intervals = v.pop("intervals")
        v["job_s"] = _union_seconds(intervals)
        v["shuffle_mb"] = v.pop("shuffle_bytes") / 1e6
        out[g] = v
    return out
