"""Fold a Spark event log (uncompressed JSON lines) onto benchmark spans.

Each op span carries a job group ``<workload>/<pass>/<op>`` and the
wall-clock interval of its build and sink calls. A job is attributed
to the span whose group it carries; a job started from another thread
(a streaming micro-batch carries its own run-id group) is attributed
to the span whose interval contains its submission time. Stages and
tasks follow their job.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024 * 1024

FIELDS = (
    "jobs", "eager_jobs", "stages", "tasks", "attempts", "task_run_s",
    "task_deser_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "sched_gap_s", "pre_job_s",
)


def read(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events, spans: list[dict]) -> dict[str, dict]:
    """Return ``{group: {field: value}}`` for every span in ``spans``.

    A span is ``{"group", "start_ms", "sink_ms", "end_ms"}``: the op's
    build call starts at ``start_ms``, its sink call at ``sink_ms`` and
    it ends at ``end_ms``, all epoch milliseconds as Spark stamps them.
    """
    by_group = {s["group"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start_ms"])
    out = {g: dict.fromkeys(FIELDS, 0) for g in by_group}
    first_sink_job: dict[str, int] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    stage_info: dict[tuple, tuple[int, int]] = {}

    def by_time(ms: int) -> str | None:
        for s in ordered:
            if s["start_ms"] <= ms <= s["end_ms"]:
                return s["group"]
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            submitted = ev.get("Submission Time", 0)
            group = props.get("spark.jobGroup.id")
            if group not in by_group:
                group = by_time(submitted)
            if group is None:
                continue
            rec = out[group]
            rec["jobs"] += 1
            if submitted < by_group[group]["sink_ms"]:
                rec["eager_jobs"] += 1
            elif group not in first_sink_job or submitted < first_sink_job[group]:
                first_sink_job[group] = submitted
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            group = stage_group.get(sid)
            if group is None:
                continue
            rec = out[group]
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            rec["attempts"] += 1
            if reason == "Success" and not info.get("Failed") and not info.get("Killed"):
                rec["tasks"] += 1
            rec["task_run_s"] += metrics.get("Executor Run Time", 0) / 1e3
            rec["task_deser_s"] += metrics.get("Executor Deserialize Time", 0) / 1e3
            rec["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
            read_m = metrics.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (
                read_m.get("Remote Bytes Read", 0) + read_m.get("Local Bytes Read", 0)
            ) / MB
            write_m = metrics.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += write_m.get("Shuffle Bytes Written", 0) / MB
            rec["spill_mb"] += (
                metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
            ) / MB
            key = (sid, ev.get("Stage Attempt ID", 0))
            stage_tasks[key].append((info.get("Launch Time", 0), info.get("Finish Time", 0)))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            sid = info.get("Stage ID")
            if sid in stage_group and "Submission Time" in info:
                key = (sid, info.get("Stage Attempt ID", 0))
                stage_info[key] = (info["Submission Time"], info.get("Completion Time", 0))
                out[stage_group[sid]]["stages"] += 1

    # Scheduling gap: stage submitted -> first task launched, plus last
    # task finished -> stage marked complete.
    for key, (submitted, completed) in stage_info.items():
        tasks = stage_tasks.get(key)
        if not tasks:
            continue
        gap = max(min(t[0] for t in tasks) - submitted, 0)
        gap += max(completed - max(t[1] for t in tasks), 0)
        out[stage_group[key[0]]]["sched_gap_s"] += gap / 1e3
    for group, span in by_group.items():
        first = first_sink_job.get(group)
        end = span["end_ms"] if first is None else first
        out[group]["pre_job_s"] = max(end - span["sink_ms"], 0) / 1e3
    return out
