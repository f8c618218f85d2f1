"""Per-job-group counters from a Spark event log (JSON lines).

The traced run tags every forced prefix with ``setJobGroup(<layer>)``; this
module folds the log's job, stage and task events into per-group totals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class EventLog:
    def __init__(self, log_dir: str):
        # one application: a plain log file, or a rolling log directory of
        # events_<n>_<app> files
        paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
        paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1])
                   if os.path.basename(p).startswith("events_") else 0)
        if not paths:
            raise RuntimeError(f"no event log in {log_dir}")
        self.jobs = {}                      # job id -> dict
        self.stage_acc = defaultdict(dict)  # stage id -> {accumulable name: value}
        self.stage_tasks = defaultdict(list)
        for line in (ln for p in paths for ln in open(p)):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"], "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for a in info.get("Accumulables", []):
                    try:
                        self.stage_acc[info["Stage ID"]][a["Name"]] = float(a["Value"])
                    except (TypeError, ValueError):
                        pass
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                ti = ev["Task Info"]
                sw = m.get("Shuffle Write Metrics") or {}
                self.stage_tasks[ev["Stage ID"]].append({
                    "dur_ms": ti["Finish Time"] - ti["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group and j["end"] is not None]

    def _stages(self, group: str) -> list[int]:
        return [s for j in self.group_jobs(group) for s in j["stages"] if s in self.stage_tasks]

    def job_ms(self, group: str, t0_ms: float | None = None, t1_ms: float | None = None) -> float:
        """Wall covered by the group's jobs, clipped to [t0_ms, t1_ms]."""
        iv = []
        for j in self.group_jobs(group):
            s, e = j["start"], j["end"]
            if t0_ms is not None:
                s, e = max(s, t0_ms), min(e, t1_ms)
            if e > s:
                iv.append((s, e))
        return _union_ms(iv)

    def counters(self, group: str) -> dict:
        """Task-metric totals and Python-UDF SQL metrics of the group."""
        out = defaultdict(float)
        for s in self._stages(group):
            for t in self.stage_tasks[s]:
                out["task_s"] += t["run_ms"] / 1e3
                out["cpu_s"] += t["cpu_ns"] / 1e9
                out["gc_s"] += t["gc_ms"] / 1e3
                out["shuffle_write_bytes"] += t["shuffle_w"]
                out["spill_bytes"] += t["spill"]
            acc = self.stage_acc[s]
            py_run = acc.get("time to run Python workers", 0.0) / 1e3
            out["python_run_s"] += py_run
            out["python_start_s"] += acc.get("time to start Python workers", 0.0) / 1e3
            out["bytes_to_python"] += acc.get("data sent to Python workers", 0.0)
            if py_run or acc.get("data sent to Python workers"):
                out["udf_task_s"] += sum(t["run_ms"] for t in self.stage_tasks[s]) / 1e3
                out["udf_cpu_s"] += sum(t["cpu_ns"] for t in self.stage_tasks[s]) / 1e9
        out["jobs"] = float(len(self.group_jobs(group)))
        return dict(out)

    def task_skew(self, group: str) -> float:
        """max / median task duration in the group's widest stage."""
        stages = self._stages(group)
        if not stages:
            return 0.0
        widest = max(stages, key=lambda s: (len(self.stage_tasks[s]), s))
        durs = [t["dur_ms"] for t in self.stage_tasks[widest]]
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0
