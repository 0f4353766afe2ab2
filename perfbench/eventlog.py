"""Per-window and per-job-group Spark engine metrics from the event log.

The traced run turns the event log on (uncompressed, not rolling), so
after ``spark.stop()`` the log is one JSON object per line. Every stage
carries its job group (the span that submitted it) and every task its
metrics; this module folds them into the ``spark.*`` layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from tracing import union_seconds

MB = 1024.0 * 1024.0


@dataclass
class Stage:
    sid: int
    group: str | None
    submit_ms: float = 0.0
    done_ms: float = 0.0
    tasks: list[dict] = field(default_factory=list)


def parse(log_dir: str) -> list[Stage]:
    """All completed stages in the one application log under
    ``log_dir``, each with its job group and task metrics."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stages: dict[int, Stage] = {}
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stages.setdefault(sid, Stage(sid, group))
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], None))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.tasks.append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shr_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shw_b": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "peak_b": m.get("Peak Execution Memory", 0),
                    "wall_ms": info["Finish Time"] - info["Launch Time"],
                })
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], None))
                st.submit_ms = info.get("Submission Time") or 0
                st.done_ms = info.get("Completion Time") or st.submit_ms
    return [s for s in stages.values() if s.done_ms]


SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.peak_exec_mem_mb", "MB"),
    ("spark.core_util", "ratio"),
    ("spark.task_skew", "ratio"),
    ("spark.uncovered_s", "s"),
)


def summarize(stages: list[Stage], windows: list[tuple[float, float]],
              cores: int, jobs: int = 0) -> dict[str, float]:
    """Engine metrics of the stages submitted inside ``windows``
    (epoch-ms intervals; their summed length is the wall)."""
    inside = [s for s in stages
              if any(a <= s.submit_ms < b for a, b in windows)]
    tasks = [t for s in inside for t in s.tasks]
    wall_s = sum(b - a for a, b in windows) / 1000.0
    covered = 0.0
    for a, b in windows:
        covered += union_seconds([
            (max(s.submit_ms, a), min(s.done_ms, b)) for s in inside
            if min(s.done_ms, b) > max(s.submit_ms, a)
        ]) / 1000.0
    task_s = sum(t["run_ms"] for t in tasks) / 1000.0
    walls = [t["wall_ms"] for t in tasks]
    med = statistics.median(walls) if walls else 0
    return {
        "spark.jobs": float(jobs),
        "spark.stages": float(len(inside)),
        "spark.tasks": float(len(tasks)),
        "spark.task_s": task_s,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.input_mb": sum(t["input_b"] for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t["shr_b"] for t in tasks) / MB,
        "spark.shuffle_write_mb": sum(t["shw_b"] for t in tasks) / MB,
        "spark.spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "spark.peak_exec_mem_mb": max((t["peak_b"] for t in tasks), default=0) / MB,
        "spark.core_util": task_s / (wall_s * cores) if wall_s else 0.0,
        "spark.task_skew": (max(walls) / med) if med else 0.0,
        "spark.uncovered_s": max(0.0, wall_s - covered),
    }


def count_jobs(log_dir: str, windows: list[tuple[float, float]]) -> int:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    n = 0
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' not in line:
                continue
            t = json.loads(line)["Submission Time"]
            n += any(a <= t < b for a, b in windows)
    return n


def by_group(stages: list[Stage]) -> dict[str, dict[str, float]]:
    """Task seconds, CPU seconds and stage count per job group (one
    group per span label and call)."""
    out: dict[str, dict[str, float]] = {}
    for s in stages:
        g = out.setdefault(s.group or "(none)",
                           {"stages": 0, "task_s": 0.0, "cpu_s": 0.0})
        g["stages"] += 1
        g["task_s"] += sum(t["run_ms"] for t in s.tasks) / 1000.0
        g["cpu_s"] += sum(t["cpu_ns"] for t in s.tasks) / 1e9
    return out
