"""Spark event-log decoding and per-phase stage/task metrics.

Spark 4 writes ``<dir>/eventlog_v2_<app>/events_<n>_<app>.zstd`` (rolling)
or a single ``<dir>/<app>.zstd`` file; pyarrow's zstd codec decodes both,
so no extra package is needed.  Each line is one JSON listener event.
"""

from __future__ import annotations

import json
import os
import re
import statistics

from perfbench.trace import union_length

PHASES = ("construct", "execute")
# Job group the benchmark sets around each phase: "<pass>|<query>|<phase>".
GROUP_SEP = "|"


def _open(path: str):
    import pyarrow as pa

    raw = pa.OSFile(path, "rb")
    if path.endswith(".zstd"):
        return pa.CompressedInputStream(raw, "zstd")
    return raw


def _log_files(log_dir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            # events_<index>_<app>: read in index order
            parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            files.extend(os.path.join(path, f) for f in parts)
        elif os.path.isfile(path) and not entry.endswith(".inprogress"):
            files.append(path)
    return files


def read_events(log_dir: str):
    """Yield every event (a dict) of every application logged in ``log_dir``."""
    for path in _log_files(log_dir):
        with _open(path) as fh:
            data = fh.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages.count": 0,
        "tasks.count": 0,
        "executor.run_s": 0.0,
        "executor.cpu_s": 0.0,
        "executor.gc_s": 0.0,
        "tasks.sched_delay_s": 0.0,
        "tasks.skew": 1.0,
        "shuffle.read_bytes": 0,
        "shuffle.write_bytes": 0,
        "spill.disk_bytes": 0,
        "spill.memory_bytes": 0,
        "scan.input_bytes": 0,
        "scan.input_records": 0,
        "tasks.failed": 0,
        "job_busy_s": 0.0,
    }


def phase_metrics(events, label: str, phase_of_time=None) -> dict[str, dict]:
    """Aggregate the task metrics of pass ``label`` per phase.

    A job's phase comes from its job group (``<label>|<query>|<phase>``).
    Jobs that Spark submits under a group of its own (broadcast exchanges)
    fall back to ``phase_of_time(submission_ms)`` when given.  ``tasks.skew`` is
    max/median task duration in the phase's longest stage; ``job_busy_s``
    is the time covered by at least one running job of the phase.
    """
    job_phase: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[tuple[int, int], tuple[float, float]] = {}
    task_times: dict[tuple[int, int], list[float]] = {}
    out = {p: _empty() for p in PHASES}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            parts = group.split(GROUP_SEP)
            if len(parts) == 3:
                phase = parts[2] if parts[0] == label else None
            elif phase_of_time is not None:
                phase = phase_of_time(ev.get("Submission Time", 0))
            else:
                phase = None
            if phase in PHASES:
                job_phase[job] = phase
                job_span[job] = [ev.get("Submission Time", 0) / 1e3, None]
                out[phase]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            phase = job_phase.get(stage_job.get(info["Stage ID"]))
            if phase is None or "Submission Time" not in info:
                continue
            out[phase]["stages.count"] += 1
            stage_span[key] = (info["Submission Time"], info.get("Completion Time", info["Submission Time"]))
        elif kind == "SparkListenerTaskEnd":
            phase = job_phase.get(stage_job.get(ev["Stage ID"]))
            if phase is None:
                continue
            m = out[phase]
            tinfo = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            dur = (tinfo.get("Finish Time", 0) - tinfo.get("Launch Time", 0)) / 1e3
            m["tasks.count"] += 1
            if tinfo.get("Failed") or tinfo.get("Killed"):
                m["tasks.failed"] += 1
            run = tm.get("Executor Run Time", 0) / 1e3
            m["executor.run_s"] += run
            m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            # Scheduler delay as the Spark UI defines it: the part of the
            # task's wall time not spent deserializing, running, serializing
            # or fetching its result.
            fetch_start = tinfo.get("Getting Result Time", 0)
            overhead = (
                tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + (tinfo.get("Finish Time", 0) - fetch_start if fetch_start else 0)
            ) / 1e3
            m["tasks.sched_delay_s"] += max(0.0, dur - run - overhead)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
            im = tm.get("Input Metrics") or {}
            m["scan.input_bytes"] += im.get("Bytes Read", 0)
            m["scan.input_records"] += im.get("Records Read", 0)
            task_times.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), []).append(dur)

    for phase in PHASES:
        spans = [(s, e) for j, (s, e) in job_span.items() if job_phase[j] == phase and e is not None]
        out[phase]["job_busy_s"] = union_length(spans)
        stages = [k for k in stage_span if job_phase.get(stage_job.get(k[0])) == phase]
        if stages:
            longest = max(stages, key=lambda k: stage_span[k][1] - stage_span[k][0])
            times = task_times.get(longest, [])
            med = statistics.median(times) if times else 0.0
            out[phase]["tasks.skew"] = max(times) / med if med > 0 else 1.0
    return out
