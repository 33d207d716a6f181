"""Reads Spark's own event log and sums it per job group.

Spark writes a rolling log ``eventlog_v2_<app>/events_<n>_<app>.zstd``
when ``spark.eventLog.enabled`` is on. The ``zstandard`` module is not
needed: ``pyarrow.CompressedInputStream(..., "zstd")`` reads the files.
Each stage carries the job group of the thread that submitted it, so
tasks are attributed to operations through their stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

# SQL metric name -> (group counter, scale to the reported unit)
SQL_METRICS = {
    "scan time": ("scan_time_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_bytes_in", 1),
    "data returned from Python workers": ("python_bytes_out", 1),
}


@dataclass
class Group:
    """What Spark did for one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_intervals: list = field(default_factory=list)   # (start, end) epoch s
    job_starts: list = field(default_factory=list)      # epoch s
    sums: dict = field(default_factory=dict)

    def add(self, key: str, v: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + v


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in file
    order (rolling files are numbered)."""
    def index(p: str) -> int:
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: (os.path.dirname(p), index(p)))
    events = []
    for path in files:
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                text = s.read().decode()
        else:
            with open(path, encoding="utf-8") as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines()
                      if line.strip())
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def by_group(events: list[dict]) -> dict[str, Group]:
    """Job group id -> :class:`Group`. Jobs outside any group are under
    the empty id."""
    groups: dict[str, Group] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def grp(gid: str) -> Group:
        return groups.setdefault(gid, Group())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = e["Job ID"]
            job_group[jid] = gid
            job_start[jid] = e["Submission Time"] / 1000.0
            g = grp(gid)
            g.jobs += 1
            g.job_starts.append(job_start[jid])
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                grp(job_group[jid]).job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[e["Stage Info"]["Stage ID"]] = gid
            grp(gid).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = grp(stage_group.get(e["Stage ID"], ""))
            g.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                g.failed_tasks += 1
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                spec = SQL_METRICS.get(acc.get("Name"))
                if spec:
                    g.add(spec[0], _num(acc.get("Update")) * spec[1])
            tm = e.get("Task Metrics") or {}
            if tm:
                g.add("executor_run_s", _num(tm.get("Executor Run Time")) / 1e3)
                g.add("executor_cpu_s", _num(tm.get("Executor CPU Time")) / 1e9)
                g.add("executor_deser_s",
                      _num(tm.get("Executor Deserialize Time")) / 1e3)
                g.add("executor_gc_s", _num(tm.get("JVM GC Time")) / 1e3)
                inp = tm.get("Input Metrics") or {}
                g.add("input_bytes", _num(inp.get("Bytes Read")))
                g.add("input_records", _num(inp.get("Records Read")))
                sw = tm.get("Shuffle Write Metrics") or {}
                g.add("shuffle_write_bytes", _num(sw.get("Shuffle Bytes Written")))
                sr = tm.get("Shuffle Read Metrics") or {}
                g.add("shuffle_read_bytes",
                      _num(sr.get("Remote Bytes Read"))
                      + _num(sr.get("Local Bytes Read")))
    return groups
