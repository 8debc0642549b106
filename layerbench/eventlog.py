"""Fold a Spark event log into whole-run Spark-layer metrics.

The session writes the log uncompressed (``spark.eventLog.compress=false``)
so it reads as JSON lines with the standard library.  Metrics cover the
jobs submitted inside a wall-clock window and every task of their stages.
Spark stamps events with the JVM's epoch milliseconds, the same clock as
Python's ``time.time()``.
"""

from __future__ import annotations

import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    "Every event of every log file under log_dir (rolling or not)."
    events = []
    for dirpath, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    "Length of the union of [start, end] intervals."
    covered, reach = 0.0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            covered += end - start
            reach = end
        elif end > reach:
            covered += end - reach
            reach = end
    return covered


def _skew(tasks: list[dict]) -> float:
    """Per stage max/median task run time, averaged over stages weighted
    by each stage's summed run time (stages of one task carry no skew)."""
    by_stage: dict[int, list[int]] = {}
    for ev in tasks:
        run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
        by_stage.setdefault(ev["Stage ID"], []).append(run)
    num = den = 0.0
    for runs in by_stage.values():
        med = statistics.median(runs)
        if len(runs) < 2 or med <= 0:
            continue
        num += max(runs) / med * sum(runs)
        den += sum(runs)
    return num / den if den else 1.0


def window_metrics(events: list[dict], start_s: float, end_s: float) -> dict:
    "spark.* metrics of the jobs submitted in [start_s, end_s]."
    lo, hi = start_s * 1000.0, end_s * 1000.0
    jobs: dict[int, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and lo <= ev["Submission Time"] <= hi:
            jobs[ev["Job ID"]] = [ev["Submission Time"], hi, ev["Stage IDs"]]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = min(ev["Completion Time"], hi)
    stages = {s for _, _, ids in jobs.values() for s in ids}
    tasks = [
        ev for ev in events
        if ev.get("Event") == "SparkListenerTaskEnd" and ev["Stage ID"] in stages
    ]

    def total(get) -> float:
        return float(sum(get(ev.get("Task Metrics") or {}) for ev in tasks))

    def shuffle_read(m: dict) -> int:
        r = m.get("Shuffle Read Metrics", {})
        return r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)

    return {
        # JVM task threads only: Python UDF worker CPU is not in here
        # (the process-tree cpu_s counts it)
        "spark.task_cpu_s": total(
            lambda m: m.get("Executor CPU Time", 0)
            + m.get("Executor Deserialize CPU Time", 0)
        ) / 1e9,
        "spark.gc_s": total(lambda m: m.get("JVM GC Time", 0)) / 1e3,
        "spark.shuffle_write_mb": total(
            lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        ) / 1e6,
        "spark.shuffle_read_mb": total(shuffle_read) / 1e6,
        "spark.spill_mb": total(lambda m: m.get("Disk Bytes Spilled", 0)) / 1e6,
        "spark.input_mb": total(
            lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0)
        ) / 1e6,
        "spark.output_mb": total(
            lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0)
        ) / 1e6,
        "spark.tasks": float(len(tasks)),
        "spark.jobs": float(len(jobs)),
        "spark.task_skew": _skew(tasks),
        "spark.no_job_s": (
            hi - lo - _covered_ms([(s, e) for s, e, _ in jobs.values()])
        ) / 1e3,
    }
