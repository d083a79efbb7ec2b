"""Reduce a Spark event log to per-span engine metrics.

Spark writes the event log as JSON lines. With rolling enabled (the
Spark 4 default) one application's log is a directory
``eventlog_v2_<app>/events_<n>_<app>`` of numbered parts; without it, a
single file. ``read_events`` reads either form in order.

Jobs are attributed to spans by submission time: a job belongs to the
span, among those whose ``[start, end]`` window holds the job's
submission time, that started last. For nested spans that is the
innermost one. The rule needs no job group or description, so jobs
submitted from worker threads, which carry neither, are attributed too.
Stages belong to the job that submitted them, and tasks to their stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

#: SQL-metric accumulables of the Python evaluation nodes
#: (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...)
PYTHON_ACCUMULABLES = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
}

#: metric name -> (task-metrics paths summed, scale to the reported unit)
TASK_METRICS = {
    "spark.executor_run_s": ([("Executor Run Time",)], 1e-3),
    "spark.executor_cpu_s": ([("Executor CPU Time",)], 1e-9),
    "spark.gc_s": ([("JVM GC Time",)], 1e-3),
    "spark.shuffle_read_bytes": (
        [
            ("Shuffle Read Metrics", "Remote Bytes Read"),
            ("Shuffle Read Metrics", "Local Bytes Read"),
        ],
        1.0,
    ),
    "spark.shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1.0),
    "spark.shuffle_fetch_wait_s": ([("Shuffle Read Metrics", "Fetch Wait Time")], 1e-3),
    "spark.spill_bytes": ([("Memory Bytes Spilled",), ("Disk Bytes Spilled",)], 1.0),
    "spark.input_bytes": ([("Input Metrics", "Bytes Read")], 1.0),
    "spark.output_bytes": ([("Output Metrics", "Bytes Written")], 1.0),
}

#: the same quantities as stage accumulables (StageCompleted events)
STAGE_ACCUMULABLES = {
    "spark.executor_run_s": (["internal.metrics.executorRunTime"], 1e-3),
    "spark.executor_cpu_s": (["internal.metrics.executorCpuTime"], 1e-9),
    "spark.gc_s": (["internal.metrics.jvmGCTime"], 1e-3),
    "spark.shuffle_read_bytes": (
        [
            "internal.metrics.shuffle.read.remoteBytesRead",
            "internal.metrics.shuffle.read.localBytesRead",
        ],
        1.0,
    ),
    "spark.shuffle_write_bytes": (["internal.metrics.shuffle.write.bytesWritten"], 1.0),
    "spark.shuffle_fetch_wait_s": (["internal.metrics.shuffle.read.fetchWaitTime"], 1e-3),
    "spark.spill_bytes": (
        ["internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"],
        1.0,
    ),
    "spark.input_bytes": (["internal.metrics.input.bytesRead"], 1.0),
    "spark.output_bytes": (["internal.metrics.output.bytesWritten"], 1.0),
}

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    *TASK_METRICS,
    "spark.peak_exec_mem_bytes",
)


@dataclass
class Span:
    """A timed interval, in epoch seconds, that jobs can be attributed to."""

    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def _part_index(path: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``: rolling
    ``eventlog_v2_*`` directories (parts in index order) and plain
    single-file logs."""
    events: list[dict] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "events_*")), key=_part_index)
        elif not entry.startswith(".") and not entry.endswith(".inprogress.crc"):
            parts = [path]
        else:
            parts = []
        for part in parts:
            with open(part, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key, {}) if isinstance(d, dict) else {}
    return float(d) if isinstance(d, (int, float)) else 0.0


def _task_values(metrics: dict) -> dict[str, float]:
    return {
        name: sum(_dig(metrics, p) for p in paths) * scale
        for name, (paths, scale) in TASK_METRICS.items()
    }


def _python_values(accumulables: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for acc in accumulables or ():
        spec = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if spec is not None and acc.get("Update") is not None:
            out[spec[0]] += float(acc["Update"]) * spec[1]
    return out


def empty_metrics() -> dict[str, float]:
    out = {name: 0.0 for name in SPARK_METRICS}
    out.update({name: 0.0 for name, _ in PYTHON_ACCUMULABLES.values()})
    return out


def stage_totals(events: list[dict]) -> dict[str, float]:
    """Whole-log totals from StageCompleted accumulables alone — an
    independent path to the same numbers ``reduce`` sums from tasks."""
    out = {name: 0.0 for name in STAGE_ACCUMULABLES}
    out.update({name: 0.0 for name, _ in PYTHON_ACCUMULABLES.values()})
    out["spark.stages"] = 0.0
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        out["spark.stages"] += 1
        accs = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
        for name, (keys, scale) in STAGE_ACCUMULABLES.items():
            out[name] += sum(float(accs.get(k) or 0) for k in keys) * scale
        for acc_name, (name, scale) in PYTHON_ACCUMULABLES.items():
            out[name] += float(accs.get(acc_name) or 0) * scale
    return out


def attribute(spans: list[Span], t: float) -> Span | None:
    """The span a job submitted at epoch second ``t`` belongs to."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def reduce(events: list[dict], spans: list[Span]) -> dict[int | None, dict[str, float]]:
    """Engine metrics per span id (None collects jobs outside every span).

    Counts are exact: jobs, stages (completed attempts) and tasks (ended
    attempts, retries included). Times are seconds, sizes bytes;
    ``spark.peak_exec_mem_bytes`` is the largest single task's peak.
    """
    stage_span: dict[int, int | None] = {}
    out: dict[int | None, dict[str, float]] = defaultdict(empty_metrics)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = attribute(spans, ev["Submission Time"] / 1000.0)
            sid = span.id if span else None
            out[sid]["spark.jobs"] += 1
            for stage in ev.get("Stage IDs", []):
                stage_span[stage] = sid
        elif kind == "SparkListenerStageCompleted":
            sid = stage_span.get(ev["Stage Info"]["Stage ID"])
            out[sid]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            m = out[sid]
            m["spark.tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for name, value in _task_values(metrics).items():
                m[name] += value
            m["spark.peak_exec_mem_bytes"] = max(
                m["spark.peak_exec_mem_bytes"], _dig(metrics, ("Peak Execution Memory",))
            )
            for name, value in _python_values(ev.get("Task Info", {}).get("Accumulables")).items():
                m[name] += value
    return dict(out)


def merge(parts: list[dict[str, float]]) -> dict[str, float]:
    """Sum metric sets; the peak-memory metric takes the maximum."""
    out = empty_metrics()
    for p in parts:
        for k, v in p.items():
            out[k] = max(out[k], v) if k == "spark.peak_exec_mem_bytes" else out[k] + v
    return out
