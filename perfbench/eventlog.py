"""Parse a Spark event log into per-span counters.

Spark writes one JSON object per line, either as a single file or as a
rolling ``eventlog_v2_*`` directory of ``events_*`` files. The traced
run sets a job group per span (``spans.Tracer``), so each job carries
the span's group id in its ``spark.jobGroup.id`` property; stages and
tasks are attributed to the group of the job that submitted them.

Only uncompressed logs are read (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0

UNTAGGED = "(untagged)"


def log_files(path: str) -> list[str]:
    """The event files of one application log, in write order.

    ``path`` is the log itself (a file or an ``eventlog_v2_*`` dir) or
    a ``spark.eventLog.dir`` holding exactly one application's log.
    """
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    if not any(n.startswith("events_") for n in names):
        apps = [n for n in names if not n.startswith(".")]
        if len(apps) != 1:
            raise ValueError(f"expected one application log in {path}, found {apps}")
        return log_files(os.path.join(path, apps[0]))
    files = [
        os.path.join(path, f)
        for f in names
        if f.startswith("events_")
    ]
    # events_<index>_<appid>: order by the numeric index
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _new_counters() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "stages_listed": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "task_wait_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "output_mb": 0.0,
        "task_skew": 1.0,
    }


def parse(path: str, window_ms=None) -> dict[str, dict]:
    """{span: counters} for every job group seen, plus ``"*"`` totals.

    With ``window_ms`` = (start, end), in epoch milliseconds, only jobs
    submitted in that window, and their stages and tasks, are counted.

    Counters: jobs; stages (submitted) and stages_listed (every stage
    a job planned, skipped ones included); tasks and failed_tasks;
    executor_run_s, gc_s; task_wait_s (task launch minus its stage's
    submission); shuffle write/read, spill (memory + disk) and output
    bytes in MB; task_skew (max / median task duration in the worst
    stage with at least two tasks).
    """
    stage_span: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    stage_durations: dict[tuple[int, int], list[int]] = defaultdict(list)
    spans: dict[str, dict] = defaultdict(_new_counters)
    outside: set[int] = set()  # stages of jobs outside the window
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev.get("Submission Time")
            if window_ms and not window_ms[0] <= submitted <= window_ms[1]:
                outside.update(ev.get("Stage IDs", []))
                continue
            props = ev.get("Properties") or {}
            span = props.get("spark.jobGroup.id") or UNTAGGED
            spans[span]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
            spans[span]["stages_listed"] += len(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info["Stage ID"] in outside:
                continue
            key = (info["Stage ID"], info["Stage Attempt ID"])
            span = stage_span.get(info["Stage ID"], UNTAGGED)
            spans[span]["stages"] += 1
            if info.get("Submission Time") is not None:
                stage_submit[key] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if key not in stage_submit and info.get("Submission Time"):
                stage_submit[key] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] not in outside:
            _task_end(ev, spans, stage_span, stage_submit, stage_durations)
    for (sid, _attempt), durs in stage_durations.items():
        if len(durs) < 2:
            continue
        med = statistics.median(durs)
        if med > 0:
            c = spans[stage_span.get(sid, UNTAGGED)]
            c["task_skew"] = max(c["task_skew"], max(durs) / med)
    out = dict(spans)
    out["*"] = merge(spans.values())
    return out


def _task_end(ev, spans, stage_span, stage_submit, stage_durations) -> None:
    sid, attempt = ev["Stage ID"], ev["Stage Attempt ID"]
    c = spans[stage_span.get(sid, UNTAGGED)]
    info = ev["Task Info"]
    c["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        c["failed_tasks"] += 1
    launch, finish = info.get("Launch Time"), info.get("Finish Time")
    submitted = stage_submit.get((sid, attempt))
    if launch is not None and submitted is not None:
        c["task_wait_s"] += max(0, launch - submitted) / 1000.0
    if launch is not None and finish:
        stage_durations[(sid, attempt)].append(finish - launch)
    m = ev.get("Task Metrics") or {}
    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / MB
    c["spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / MB
    out = m.get("Output Metrics") or {}
    c["output_mb"] += out.get("Bytes Written", 0) / MB


def merge(counters) -> dict:
    """Sum a group of span counters (``task_skew`` takes the max)."""
    total = _new_counters()
    for c in counters:
        for k, v in c.items():
            total[k] = max(total[k], v) if k == "task_skew" else total[k] + v
    return total


def skipped_ratio(c: dict) -> float:
    """Share of planned stages that never ran (reused shuffle output)."""
    listed = c["stages_listed"]
    return max(0, listed - c["stages"]) / listed if listed else 0.0
