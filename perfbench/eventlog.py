"""Per-job counters from a Spark event log.

The traced run enables the event log (``spark.eventLog.*``) and tags every
benchmark job with a job group; this module sums, per group, the counters
the per-layer report needs: completed stages, finished tasks, shuffle
bytes written, shuffle write and fetch-wait time, input records read, and the bytes the Python-UDF operators
sent to and received from their Python workers.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _empty() -> dict:
    return {"stages": 0, "tasks": 0, "shuffle_bytes": 0, "shuffle_s": 0.0,
            "records_read": 0, "python_bytes_sent": 0,
            "python_bytes_received": 0}


def job_counters(log_dir: str) -> dict[str, dict]:
    """{job group: counters} over every event log file in ``log_dir``."""
    out: dict[str, dict] = defaultdict(_empty)
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path) and not name.endswith(".inprogress"):
            _read_log(path, out)
    return dict(out)


def _read_log(path: str, out: dict[str, dict]) -> None:
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is not None and "Failure Reason" not in info:
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is not None:
                    _add_task(ev, out[group])


def _add_task(ev: dict, acc: dict) -> None:
    acc["tasks"] += 1
    metrics = ev.get("Task Metrics") or {}
    write = metrics.get("Shuffle Write Metrics") or {}
    read = metrics.get("Shuffle Read Metrics") or {}
    acc["shuffle_bytes"] += write.get("Shuffle Bytes Written", 0)
    acc["shuffle_s"] += (write.get("Shuffle Write Time", 0) / 1e9
                         + read.get("Fetch Wait Time", 0) / 1e3)
    acc["records_read"] += (metrics.get("Input Metrics") or {}).get(
        "Records Read", 0)
    for accum in (ev.get("Task Info") or {}).get("Accumulables", ()):
        name = accum.get("Name")
        if name == PY_SENT:
            acc["python_bytes_sent"] += int(accum.get("Update", 0))
        elif name == PY_RECEIVED:
            acc["python_bytes_received"] += int(accum.get("Update", 0))
