"""Spark event log -> per-stage rows and run totals, with the stdlib.

The log is one JSON object per line.  Only jobs submitted inside the
timed window are counted, so set-up and correctness checks stay out of
the per-layer numbers.
"""

from __future__ import annotations

import json
import os
import statistics

MB = 1e6


def _log_files(log_dir: str) -> list[str]:
    return [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))]


def stage_rows(log_dir: str, window: tuple[float, float]) -> tuple[int, list[dict]]:
    """The number of jobs submitted within `window` (epoch seconds), and
    one row per completed stage of those jobs: wall, summed task time,
    shuffle read/write, spill, GC and max/median task time."""
    lo, hi = window[0] * 1000, window[1] * 1000
    stages_in_window: set[int] = set()
    jobs = 0
    tasks: dict[int, list[dict]] = {}
    stages: dict[int, dict] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev["Submission Time"] <= hi:
                        jobs += 1
                        stages_in_window.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        "write": wr.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "name": si.get("Stage Name", ""),
                        "wall_s": ((si.get("Completion Time") or 0) - (si.get("Submission Time") or 0)) / 1000,
                    }
    rows = []
    for sid in sorted(stages_in_window & stages.keys()):
        ts = tasks.get(sid, [])
        durs = [t["dur_ms"] / 1000 for t in ts]
        med = statistics.median(durs) if durs else 0.0
        rows.append({
            "stage": sid,
            "name": stages[sid]["name"],
            "wall_s": stages[sid]["wall_s"],
            "tasks": len(ts),
            "task_s": sum(t["run_ms"] for t in ts) / 1000,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000,
            "shuffle_read_mb": sum(t["read"] for t in ts) / MB,
            "shuffle_write_mb": sum(t["write"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "task_max_s": max(durs) if durs else 0.0,
            "task_median_s": med,
        })
    return jobs, rows


def totals(jobs: int, stages: list[dict]) -> dict[str, float]:
    """Collapse stage rows into the spark.* per-layer metrics."""
    longest = max(stages, key=lambda r: r["wall_s"], default=None)
    skew = 0.0
    if longest is not None and longest["task_median_s"] > 0:
        skew = longest["task_max_s"] / longest["task_median_s"]
    return {
        "spark.jobs": jobs,
        "spark.stages": len(stages),
        "spark.task_s": sum(r["task_s"] for r in stages),
        "spark.gc_s": sum(r["gc_s"] for r in stages),
        "spark.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in stages),
        "spark.shuffle_read_mb": sum(r["shuffle_read_mb"] for r in stages),
        "spark.spill_mb": sum(r["spill_mb"] for r in stages),
        "spark.task_skew": skew,
    }
