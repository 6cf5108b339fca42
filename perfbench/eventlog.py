"""Spark event-log reader: task metrics summed per job group.

The traced run launches the JVM with ``spark.eventLog.enabled`` (set
through ``PYSPARK_SUBMIT_ARGS``, so the program's session factory is
unchanged) and tags every measured action with a job group. After the
session stops, ``EventLog`` folds the JSON-lines log into per-group
totals: tasks, stages, run time, GC, shuffle, spill, output bytes, the
Python SQL metrics of the Arrow UDF nodes, and the task skew of the
group's heaviest stage.
"""
from __future__ import annotations

import glob
import json
import os
import statistics

# Python SQL metric names as the UI and the event log show them
PYTHON_METRICS = {
    "time to start Python workers": "python_boot",
    "time to run Python workers": "python_total",
    "data sent to Python workers": "python_data_sent",
}


def _number(value) -> float:
    if isinstance(value, (int, float)):
        return float(value)
    try:
        return float(str(value).replace(",", ""))
    except ValueError:
        return 0.0


class EventLog:
    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.job_group: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                self._fold(json.loads(line))

    def _fold(self, event: dict) -> None:
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            job = event["Job ID"]
            self.job_group[job] = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.job_stages[job] = list(event.get("Stage IDs") or [])
        elif kind == "SparkListenerTaskEnd":
            metrics = event.get("Task Metrics") or {}
            shuffle_read = metrics.get("Shuffle Read Metrics") or {}
            shuffle_write = metrics.get("Shuffle Write Metrics") or {}
            output = metrics.get("Output Metrics") or {}
            task = {
                "run_ms": metrics.get("Executor Run Time", 0),
                "gc_ms": metrics.get("JVM GC Time", 0),
                "fetch_wait_ms": shuffle_read.get("Fetch Wait Time", 0),
                "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
                "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
                + metrics.get("Disk Bytes Spilled", 0),
                "output_bytes": output.get("Bytes Written", 0),
            }
            for acc in (event.get("Task Info") or {}).get("Accumulables") or []:
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key:
                    task[key] = task.get(key, 0.0) + _number(acc.get("Update"))
            self.stage_tasks.setdefault(event["Stage ID"], []).append(task)

    def totals(self, group: str) -> dict:
        """Sums over every task of every stage that ran for ``group`` and
        its subgroups (``group:...``)."""
        jobs = [j for j, g in self.job_group.items()
                if g == group or g.startswith(group + ":")]
        stages = sorted({s for j in jobs for s in self.job_stages[j] if s in self.stage_tasks})
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": len(tasks)}
        for key in ("run_ms", "gc_ms", "fetch_wait_ms", "shuffle_write_bytes",
                    "spill_bytes", "output_bytes", *PYTHON_METRICS.values()):
            out[key] = float(sum(t.get(key, 0) for t in tasks))
        out["task_skew"] = 0.0
        if stages:
            heaviest = max(stages, key=lambda s: sum(t["run_ms"] for t in self.stage_tasks[s]))
            times = [t["run_ms"] for t in self.stage_tasks[heaviest]]
            median = statistics.median(times)
            out["task_skew"] = max(times) / median if median > 0 else 0.0
        return out
