"""Spark event-log reader: task metrics grouped by job group.

Spark 4.1 rolls its event log by default: each application writes a
directory ``eventlog_v2_<app-id>/`` holding ``events_<n>_<app-id>`` files
(and an ``appstatus_*`` marker).  A non-rolled log is one plain file.
Both are read here, uncompressed (the benchmark sets
``spark.eventLog.compress=false``).

Every task-end event is attributed to the job group its stage was
submitted under (``SparkContext.setJobGroup``), and summed per group:

- ``task_s``        executor run time
- ``shuffle_bytes`` shuffle bytes written
- ``input_bytes``   bytes read by scans
- ``records_read``  records read by scans
- ``python_s``      ``time to run Python workers`` (Arrow UDF tasks)
- ``python_start_s`` ``time to start Python workers``
- ``arrow_bytes``   ``data sent to Python workers`` + ``data returned
  from Python workers``
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

_ROLLED_FILE = re.compile(r"events_(\d+)_")

#: task accumulable name -> (metric, scale to seconds/bytes)
_ACCUMULABLES = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("arrow_bytes", 1),
    "data returned from Python workers": ("arrow_bytes", 1),
}

METRICS = ("task_s", "shuffle_bytes", "input_bytes", "records_read",
           "python_s", "python_start_s", "arrow_bytes")


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in write order."""
    files: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            rolled = [f for f in os.listdir(path) if _ROLLED_FILE.match(f)]
            rolled.sort(key=lambda f: int(_ROLLED_FILE.match(f).group(1)))
            files.extend(os.path.join(path, f) for f in rolled)
        elif os.path.isfile(path):
            files.append(path)
    return files


def _events(log_dir: str):
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def task_metrics_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """``{job_group: {metric: total}}`` over every task of every job.

    Jobs submitted without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            agg = totals[stage_group.get(ev.get("Stage ID"), "")]
            tm = ev.get("Task Metrics") or {}
            agg["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            agg["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            inp = tm.get("Input Metrics") or {}
            agg["input_bytes"] += inp.get("Bytes Read", 0)
            agg["records_read"] += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                target = _ACCUMULABLES.get(acc.get("Name"))
                if target is not None and acc.get("Update") is not None:
                    agg[target[0]] += float(acc["Update"]) * target[1]
    return dict(totals)
