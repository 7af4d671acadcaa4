"""Spark event-log reader.

The traced run enables ``spark.eventLog`` for its session; after the
session stops, this module reads the (rolling, usually zstd-compressed)
log and aggregates job and task figures over the time windows of the
traced ops.  Python-worker figures come from the SQL metrics Spark
attaches to each task's accumulables (``time to start Python workers``,
``data sent to Python workers``, ...).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# SQL accumulable name -> metric key (timings are in ms, sizes in bytes)
PY_ACCUMS = {
    "time to start Python workers": "py_worker_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


@dataclass
class Task:
    stage: int
    launch_ms: int
    failed: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    scan_bytes: int = 0
    write_bytes: int = 0
    shuffle_bytes: int = 0
    accums: dict = field(default_factory=dict)


@dataclass
class Job:
    jid: int
    submit_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list
    tasks: list


def _open_text(path: str) -> str:
    import pyarrow as pa

    codec = {".zstd": "zstd", ".lz4": "lz4", ".snappy": "snappy"}.get(
        os.path.splitext(path)[1])
    if codec == "snappy":
        raise ValueError(f"snappy event logs are not supported: {path}")
    with pa.OSFile(path) as raw:
        if codec is None:
            return raw.read().decode()
        with pa.CompressedInputStream(raw, codec) as s:
            return s.read().decode()


def log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in
    rolling order (``events_<n>_<app>``), or single-file logs."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        out += parts
    out += sorted(p for p in glob.glob(os.path.join(log_dir, "local-*"))
                  if not p.endswith(".inprogress"))
    return out


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(log_dir: str) -> EventLog:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for path in log_files(log_dir):
        for line in _open_text(path).splitlines():
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], _int(ev.get("Submission Time")),
                    stages=[s["Stage ID"] for s in ev.get("Stage Infos", [])])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = _int(ev.get("Completion Time"))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
    return EventLog(sorted(jobs.values(), key=lambda j: j.jid), tasks)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    t = Task(
        stage=ev.get("Stage ID", -1),
        launch_ms=_int(info.get("Launch Time")),
        failed=bool(info.get("Failed")) or reason != "Success",
        run_ms=_int(m.get("Executor Run Time")),
        cpu_ns=_int(m.get("Executor CPU Time")),
        gc_ms=_int(m.get("JVM GC Time")),
        scan_bytes=_int((m.get("Input Metrics") or {}).get("Bytes Read")),
        write_bytes=_int((m.get("Output Metrics") or {}).get("Bytes Written")),
        shuffle_bytes=_int((m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written")),
    )
    for a in info.get("Accumulables", []):
        key = PY_ACCUMS.get(a.get("Name"))
        if key:
            t.accums[key] = t.accums.get(key, 0) + _int(a.get("Update"))
    return t


def jobs_in(log: EventLog, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the (start_s, end_s) windows."""
    def inside(ms: int) -> bool:
        return any(s * 1000 <= ms <= e * 1000 for s, e in windows)

    return [j for j in log.jobs if inside(j.submit_ms)]


def aggregate(log: EventLog, jobs: list[Job]) -> dict:
    """Spark-layer totals over ``jobs``: counts, scheduling wait (job
    submission to its first task launch), task times and bytes."""
    stage_job = {s: j.jid for j in jobs for s in j.stages}
    first_launch: dict[int, int] = {}
    out = dict.fromkeys(
        ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "py_worker_start_s", "py_run_s", "to_python_bytes",
         "from_python_bytes", "shuffle_bytes", "scan_bytes", "write_bytes"), 0.0)
    for t in log.tasks:
        jid = stage_job.get(t.stage)
        if jid is None:
            continue
        first_launch[jid] = min(first_launch.get(jid, t.launch_ms), t.launch_ms)
        out["tasks"] += 1
        out["failed_tasks"] += int(t.failed)
        out["executor_run_s"] += t.run_ms / 1e3
        out["executor_cpu_s"] += t.cpu_ns / 1e9
        out["gc_s"] += t.gc_ms / 1e3
        out["scan_bytes"] += t.scan_bytes
        out["write_bytes"] += t.write_bytes
        out["shuffle_bytes"] += t.shuffle_bytes
        out["py_worker_start_s"] += t.accums.get("py_worker_start_ms", 0) / 1e3
        out["py_run_s"] += t.accums.get("py_run_ms", 0) / 1e3
        out["to_python_bytes"] += t.accums.get("to_python_bytes", 0)
        out["from_python_bytes"] += t.accums.get("from_python_bytes", 0)
    out["jobs"] = float(len(jobs))
    out["sched_wait_s"] = sum(
        max(0, first_launch[j.jid] - j.submit_ms) for j in jobs
        if j.jid in first_launch) / 1e3
    return out
