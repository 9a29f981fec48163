"""Reader for Spark's JSON event log: per-job-description counters.

The traced run labels every Spark job with the span that ran it (the calling
thread's ``spark.job.description``), so grouping the log by that property
attributes jobs, stages, tasks, shuffle bytes, spill and task time to spans
without touching the engine.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
            "task_s", "gc_s")
UNLABELLED = "(none)"


def event_log_files(log_dir: str) -> list[str]:
    """The files of the one application log under ``log_dir`` (the
    benchmark starts one SparkContext per event-log directory): a single
    file, or the ``events_<n>_*`` parts of a rolling log in index order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def counters_by_description(events) -> dict[str, dict[str, float]]:
    """{job description: {counter: value}} over completed stages and tasks.

    A stage counts toward the description of the job that submitted it;
    stages a job skipped (shuffle output reused) never complete and are not
    counted."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or UNLABELLED
            out[desc]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Failure Reason" not in info:
                out[stage_desc.get(info["Stage ID"], UNLABELLED)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            c = out[stage_desc.get(e["Stage ID"], UNLABELLED)]
            c["tasks"] += 1
            c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return dict(out)
