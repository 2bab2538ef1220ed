"""Spark event-log aggregation by job description.

The benchmark tags each call it makes into the package with
``sc.setJobDescription(<span>)``; every job, and so every stage and task,
launched during the call carries that description. Spark 4 writes the log
as a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory (plain
``<app>`` files are read too); it must be written uncompressed.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator

_MB = 1024 * 1024
_DESC = "spark.job.description"
_PART = re.compile(r"events_(\d+)_")

# field -> (task-metrics path, scale to the reported unit)
TASK_FIELDS = {
    "task_run_s": (("Executor Run Time",), 1e-3),
    "jvm_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / _MB),
    "input_mb": (("Input Metrics", "Bytes Read"), 1 / _MB),
}


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in part order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if _PART.match(p)]
            parts.sort(key=lambda p: int(_PART.match(p).group(1)))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not name.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _metric(tm: dict, path: tuple[str, ...]) -> float:
    v = tm
    for key in path:
        v = v.get(key) if isinstance(v, dict) else None
    return float(v or 0)


def aggregate(events) -> dict[str | None, dict[str, float]]:
    """{description: {jobs, tasks, <TASK_FIELDS>}}; jobs without a
    description aggregate under None. A task belongs to the description of
    the job that submitted its stage."""
    job_desc: dict[int, str | None] = {}
    stage_desc: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = {}

    def bucket(desc):
        if desc not in out:
            out[desc] = {"jobs": 0.0, "tasks": 0.0, **{f: 0.0 for f in TASK_FIELDS}}
        return out[desc]

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(_DESC)
            job_desc[ev["Job ID"]] = desc
            bucket(desc)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's properties are authoritative for a stage
            # that several jobs list (a reused shuffle map stage)
            props = ev.get("Properties") or {}
            stage_desc[ev["Stage Info"]["Stage ID"]] = props.get(_DESC)
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_desc.get(ev["Stage ID"]))
            b["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for f, (path, scale) in TASK_FIELDS.items():
                b[f] += _metric(tm, path) * scale
    return out
