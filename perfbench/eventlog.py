"""Reader for Spark's JSON event log, aggregated by job group.

The traced run writes the log uncompressed (``spark.eventLog.compress=false``)
so the standard library can read it.  Spark 4 writes either one file per
application or, with rolling logs, a ``eventlog_v2_<app>`` directory of
``events_<n>_<app>`` files; both are handled.

``read(path)`` returns an ``EventLog`` holding, per job group:

* the jobs (id, submit/complete epoch ms, whether they failed),
* every finished task (stage id, duration, executor run time, GC time,
  shuffle bytes written, bytes spilled, failed flag),
* the Python-worker SQL metrics the tasks reported ("time to run Python
  workers", "data sent to/returned from Python workers"), converted to
  seconds and bytes using the metric types Spark records with each plan.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # (job_id, submit_ms, end_ms, failed)
    tasks: list = field(default_factory=list)  # dicts, see _task_row
    py_s: float = 0.0
    py_bytes: int = 0

    def interval_cover_ms(self, start_ms: float, end_ms: float) -> float:
        """Milliseconds of [start_ms, end_ms] covered by at least one job."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms)) for _, s, e, _ in self.jobs if e is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered

    def summary(self) -> dict:
        """Totals over every task of the group, in s / MB / counts."""
        tasks = self.tasks
        return {
            "task_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "py_s": self.py_s,
            "py_mb": self.py_bytes / 1e6,
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / 1e6,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "failed_tasks": sum(1 for t in tasks if t["failed"]),
            "jobs": len(self.jobs),
        }

    def task_skew(self) -> float:
        """max / median task time in the group's heaviest stage (by summed
        task time); 1.0 when no stage ran at least two tasks."""
        by_stage: dict = {}
        for t in self.tasks:
            by_stage.setdefault(t["stage"], []).append(t["duration_ms"])
        stages = [d for d in by_stage.values() if len(d) >= 2]
        if not stages:
            return 1.0
        heavy = max(stages, key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


@dataclass
class EventLog:
    groups: dict = field(default_factory=dict)  # job group -> GroupStats

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name) or GroupStats()


def _log_files(path: str) -> list:
    if os.path.isfile(path):
        return [path]
    names = sorted(
        (n for n in os.listdir(path) if n.startswith("events_")),
        key=lambda n: int(n.split("_")[1]),
    )
    return [os.path.join(path, n) for n in names]


def _walk_plan(node: dict, metric_types: dict) -> None:
    for m in node.get("metrics", []):
        metric_types[m["accumulatorId"]] = m.get("metricType", "sum")
    for child in node.get("children", []):
        _walk_plan(child, metric_types)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read(path: str) -> EventLog:
    """Parse the event log at ``path`` (a file or a v2 rolling directory)."""
    log = EventLog()
    stage_group: dict = {}
    job_group: dict = {}
    jobs: dict = {}
    metric_types: dict = {}
    for fname in _log_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev.get("sparkPlanInfo", {}), metric_types)
                elif kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = grp
                    jobs[ev["Job ID"]] = [ev["Job ID"], ev["Submission Time"], None, False]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job[2] = ev["Completion Time"]
                        job[3] = ev["Job Result"]["Result"] != "JobSucceeded"
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"], "")
                    stats = log.groups.setdefault(grp, GroupStats())
                    stats.tasks.append(_task_row(ev))
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_TIME:
                            mtype = metric_types.get(acc.get("ID"), "timing")
                            stats.py_s += _seconds(float(acc.get("Update", 0)), mtype)
                        elif name in (PY_SENT, PY_RETURNED):
                            stats.py_bytes += int(acc.get("Update", 0))
    for jid, job in jobs.items():
        log.groups.setdefault(job_group[jid], GroupStats()).jobs.append(tuple(job))
    return log


def _task_row(ev: dict) -> dict:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "duration_ms": info["Finish Time"] - info["Launch Time"],
        "run_ms": tm.get("Executor Run Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
    }


def find_log(log_dir: str, app_id: str) -> str:
    """Path of the finished event log of ``app_id`` under ``log_dir``."""
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress") and not name.startswith("."):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
