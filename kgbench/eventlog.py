"""Task metrics per Spark job tag, read from an uncompressed event log.

The traced run tags every job it starts with ``kgbench:<layer>:<op>``.
Tags reach the log in the ``spark.job.tags`` property of
``SparkListenerJobStart`` and ``SparkListenerStageSubmitted``; task metrics
arrive in ``SparkListenerTaskEnd`` and the Python worker timings as stage
accumulables in ``SparkListenerStageCompleted``. Both are joined to a tag
through the stage id.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, fields

TAG_PREFIX = "kgbench:"
# Spark's SQL timing metric around the Python worker's compute loop, in ms
PYTHON_RUN_ACCUM = "time to run Python workers"


@dataclass
class TagMetrics:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    max_task_s: float = 0.0
    rows_written: int = 0

    def add(self, other: "TagMetrics") -> None:
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, max(a, b) if f.name == "max_task_s" else a + b)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's log: a rolling ``eventlog_v2_<app>``
    directory (Spark 4 default) or a single file named after the app."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_")]
        parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
        return [os.path.join(rolled, n) for n in parts]
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def _bench_tags(props: dict | None) -> list[str]:
    raw = (props or {}).get("spark.job.tags", "")
    return [t for t in raw.split(",") if t.startswith(TAG_PREFIX)]


def read_tag_metrics(paths: list[str]) -> dict[str, TagMetrics]:
    """Aggregate task metrics per benchmark tag (``kgbench:`` prefix removed)."""
    stage_tags: dict[int, list[str]] = {}
    out: dict[str, TagMetrics] = {}

    def metrics_for(stage: int) -> list[TagMetrics]:
        return [out.setdefault(t, TagMetrics()) for t in stage_tags.get(stage, [])]

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = _bench_tags(ev.get("Properties"))
                    for t in tags:
                        out.setdefault(t, TagMetrics()).jobs += 1
                    for s in ev["Stage IDs"]:
                        stage_tags.setdefault(s, tags)
                elif kind == "SparkListenerStageSubmitted":
                    tags = _bench_tags(ev.get("Properties"))
                    if tags:
                        stage_tags[ev["Stage Info"]["Stage ID"]] = tags
                elif kind == "SparkListenerTaskEnd":
                    _add_task(ev, metrics_for(ev["Stage ID"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    ms = sum(
                        float(a["Value"])
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == PYTHON_RUN_ACCUM
                    )
                    for m in metrics_for(info["Stage ID"]):
                        m.python_s += ms / 1e3
    return {t[len(TAG_PREFIX) :]: m for t, m in out.items()}


def _add_task(ev: dict, targets: list[TagMetrics]) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    failed = ev["Task End Reason"]["Reason"] != "Success"
    task_s = (info["Finish Time"] - info["Launch Time"]) / 1e3
    shuffle = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    spill = tm.get("Disk Bytes Spilled", 0)
    written = (tm.get("Output Metrics") or {}).get("Records Written", 0)
    for m in targets:
        m.tasks += 1
        m.failed_tasks += failed
        m.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
        m.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        m.shuffle_bytes += shuffle
        m.spill_bytes += spill
        m.max_task_s = max(m.max_task_s, task_s)
        m.rows_written += written
