"""Spark event-log reader for the traced run.

Reads the JSON-lines event log Spark writes (plain or zstd-compressed,
single file or the rolling ``eventlog_v2_*/events_*`` layout) and sums task
metrics per job group, so each public call the benchmark wraps in a job
group gets its own jobs, stages, tasks, executor, shuffle, I/O and
Python-worker numbers. The Python-worker figures are SQL metrics: they
arrive as named task accumulables ("time to run Python workers", "data sent
to Python workers", "data returned from Python workers").
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
from dataclasses import dataclass, field

PYWORKER_ACCUMS = {
    "time to run Python workers": "pyworker_run_ms",
    "data sent to Python workers": "pyworker_bytes_sent",
    "data returned from Python workers": "pyworker_bytes_returned",
}

TASK_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "input_bytes",
    "output_bytes", *PYWORKER_ACCUMS.values(),
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: set = field(default_factory=set)


@dataclass
class AppTrace:
    jobs: dict = field(default_factory=dict)          # job_id → Job
    ran_stages: set = field(default_factory=set)      # stages that were submitted
    stage_metrics: dict = field(default_factory=dict)  # stage_id → {field: n}

    def jobs_in(self, groups) -> list[Job]:
        groups = set(groups)
        return [j for j in self.jobs.values() if j.group in groups]

    def totals(self, jobs: list[Job]) -> dict:
        """Summed task metrics, plus job and stage counts, over ``jobs``."""
        out = {k: 0 for k in TASK_FIELDS}
        out["jobs"] = len(jobs)
        stages = set().union(*(j.stages for j in jobs)) if jobs else set()
        ran = stages & self.ran_stages
        out["stages"] = len(ran)
        for s in ran:
            for k, v in self.stage_metrics.get(s, {}).items():
                out[k] += v
        return out

    @staticmethod
    def busy_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
        """Length of the union of the intervals of ``jobs`` clipped to
        [start_ms, end_ms]: the part of that window with a job running."""
        spans = sorted(
            (max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms))
            for j in jobs
        )
        busy = 0.0
        cur_s = cur_e = None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def _lines(path: str):
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout
        yield from out.decode().splitlines()
    else:
        with open(path) as f:
            yield from f


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order; rolling logs number
    their parts ``events_<n>_<app>``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(p), n, base)

    return sorted(files, key=order)


def _add_task(acc: dict, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc["tasks"] = acc.get("tasks", 0) + 1
    for k, v in (
        ("run_ms", m.get("Executor Run Time", 0)),
        ("cpu_ns", m.get("Executor CPU Time", 0)),
        ("gc_ms", m.get("JVM GC Time", 0)),
        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
        ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        ("fetch_wait_ms", sr.get("Fetch Wait Time", 0)),
        ("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
        ("input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        ("output_bytes", (m.get("Output Metrics") or {}).get("Bytes Written", 0)),
    ):
        acc[k] = acc.get(k, 0) + v
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PYWORKER_ACCUMS.get(a.get("Name"))
        if key is not None:
            acc[key] = acc.get(key, 0) + int(a.get("Update") or 0)


def read_trace(log_dir: str) -> AppTrace:
    tr = AppTrace()
    for path in event_files(log_dir):
        for line in _lines(path):
            if not line.strip():
                continue
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                          e["Submission Time"], stages=set(e.get("Stage IDs", [])))
                tr.jobs[job.job_id] = job
            elif kind == "SparkListenerJobEnd":
                job = tr.jobs.get(e["Job ID"])
                if job is not None:
                    job.end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                tr.ran_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                _add_task(tr.stage_metrics.setdefault(e["Stage ID"], {}), e)
    return tr
