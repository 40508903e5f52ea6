"""Fold a Spark event log into per-layer totals.

Every traced span sets the Spark job group to its layer name, so each job
(and through it each stage and task) is attributed to the layer that was
open when the job started. Jobs started outside any span fall to
``pipeline``. The log must be written uncompressed and unrolled (see
``EVENTLOG_CONF``).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

OUTSIDE = "pipeline"


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or "appstatus" in name:
            continue
        if os.path.isdir(path):
            yield from _events(path)
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """Return ``{layer: {jobs, stages, tasks, task_s, gc_s,
    shuffle_write_mb, spill_mb}}``."""
    stage_layer: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen_stages: set[int] = set()
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            layer = props.get("spark.jobGroup.id") or OUTSIDE
            for sid in ev.get("Stage IDs", []):
                stage_layer[sid] = layer
            totals[layer]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            layer = stage_layer.get(sid, OUTSIDE)
            metrics = ev.get("Task Metrics") or {}
            shuffle = metrics.get("Shuffle Write Metrics") or {}
            row = totals[layer]
            row["tasks"] += 1
            row["task_s"] += metrics.get("Executor Run Time", 0) / 1e3
            row["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
            row["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 2**20
            row["spill_mb"] += (
                metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
            ) / 2**20
            if sid not in seen_stages:  # stages that ran tasks (skipped ones do not)
                seen_stages.add(sid)
                row["stages"] += 1
    return {k: dict(v) for k, v in totals.items()}
