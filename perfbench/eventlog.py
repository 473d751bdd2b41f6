"""Reads a Spark event log into per-job-description stage and task totals.

The benchmark sets ``spark.job.description`` to a span name around each
call it traces, so every job, and through it every stage and task, is
attributed to the span that caused it. Spark 4 writes the log as a
directory ``eventlog_v2_<app>/events_<n>_<app>``; the benchmark turns
compression off, so each file is JSON lines.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PYTHON_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}


class StageTotals:
    def __init__(self, name: str):
        self.name = name
        self.task_ms: list[int] = []
        self.sums: dict[str, float] = defaultdict(float)

    def add_task(self, event: dict) -> None:
        info = event["Task Info"]
        m = event.get("Task Metrics") or {}
        self.task_ms.append(m.get("Executor Run Time", 0))
        s = self.sums
        s["cpu_ns"] += m.get("Executor CPU Time", 0)
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        s["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        s["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        inp = m.get("Input Metrics") or {}
        s["input_bytes"] += inp.get("Bytes Read", 0)
        s["input_records"] += inp.get("Records Read", 0)
        out = m.get("Output Metrics") or {}
        s["output_bytes"] += out.get("Bytes Written", 0)
        s["output_records"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables", ()):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key is not None and acc.get("Update") is not None:
                s[key] += float(acc["Update"])

    def skew(self) -> float:
        """Longest task over the median task, by executor run time."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


class Description:
    """Everything the jobs of one job description ran."""

    def __init__(self):
        self.jobs: list[int] = []
        self.stages: dict[int, StageTotals] = {}

    def total(self, key: str) -> float:
        return sum(st.sums[key] for st in self.stages.values())

    def tasks(self) -> int:
        return sum(len(st.task_ms) for st in self.stages.values())

    def skew(self) -> float:
        """Skew of the stage with the most executor run time."""
        if not self.stages:
            return 0.0
        heaviest = max(self.stages.values(), key=lambda st: sum(st.task_ms))
        return heaviest.skew()

    def by_stage_name(self) -> dict[str, dict]:
        """Totals grouped by the call site Spark records as stage name."""
        out: dict[str, dict] = {}
        for st in self.stages.values():
            g = out.setdefault(st.name, defaultdict(float))
            g["stages"] += 1
            g["tasks"] += len(st.task_ms)
            g["task_s"] += sum(st.task_ms) / 1e3
            for k, v in st.sums.items():
                g[k] += v
        return {k: dict(v) for k, v in sorted(out.items())}


def log_files(event_log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(event_log_dir, "eventlog_v2_*", "events_*")))


def read(event_log_dir: str) -> dict[str, Description]:
    """Job description -> :class:`Description`. Jobs without a
    description are grouped under ``""``."""
    stage_desc: dict[int, str] = {}
    stage_name: dict[int, str] = {}
    out: dict[str, Description] = defaultdict(Description)
    for path in log_files(event_log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                    out[desc].jobs.append(e["Job ID"])
                    for sid in e["Stage IDs"]:
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_name[info["Stage ID"]] = info.get("Stage Name", "")
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    desc = out[stage_desc.get(sid, "")]
                    st = desc.stages.get(sid)
                    if st is None:
                        st = desc.stages[sid] = StageTotals(stage_name.get(sid, ""))
                    st.add_task(e)
    return dict(out)
