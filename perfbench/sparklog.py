"""Readers for the files Spark writes: the file sink's metadata log and
the JSON event log.

Both are public, documented formats, so the benchmark reads them from
outside the program instead of hooking into it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re


def read_sink_log(log_dir: str) -> list[tuple[int, float, list[str]]]:
    """``(batch_id, commit_time, new_paths)`` per committed batch of a
    file sink, in numeric batch order.

    ``log_dir`` is the sink's ``_spark_metadata`` directory: one file
    per batch (``N``) whose first line is a version tag and whose other
    lines are JSON file statuses. Every compaction interval Spark writes
    ``N.compact`` instead, which lists the files of ALL earlier batches
    again, so paths already seen are skipped. The commit time is the
    log file's mtime: the log entry is renamed into place as the last
    step of the batch's sink commit."""
    entries = []
    for name in os.listdir(log_dir):
        m = re.fullmatch(r"(\d+)(\.compact)?", name)
        if m:
            entries.append((int(m.group(1)), name))
    seen: set[str] = set()
    out = []
    for batch_id, name in sorted(entries):
        path = os.path.join(log_dir, name)
        new = []
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if not line.strip():
                    continue
                status = json.loads(line)
                if status.get("action", "add") != "add" or status["path"] in seen:
                    continue
                seen.add(status["path"])
                new.append(status["path"])
        out.append((batch_id, os.stat(path).st_mtime, new))
    return out


def event_files(log_root: str) -> list[str]:
    """The event-log files under ``log_root`` in write order: a rolled
    log is an ``eventlog_v2_*`` directory of ``events_<n>_*`` parts, an
    unrolled one a single file."""
    files = []
    for name in sorted(os.listdir(log_root)):
        path = os.path.join(log_root, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files += [os.path.join(path, p) for p in parts]
        elif not name.startswith("."):
            files.append(path)
    return files


def read_events(log_root: str) -> list[dict]:
    events = []
    for path in event_files(log_root):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def iso_seconds(stamp: str) -> float:
    """Epoch seconds of an ISO-8601 timestamp as Spark writes them."""
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def event_time(e: dict) -> float | None:
    """Wall-clock seconds at which an event's work started, or None for
    events that carry no time."""
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        return e["Submission Time"] / 1000.0
    if kind == "SparkListenerStageCompleted":
        return e["Stage Info"].get("Submission Time", 0) / 1000.0
    if kind == "SparkListenerTaskEnd":
        return e["Task Info"]["Launch Time"] / 1000.0
    if kind.endswith("SQLExecutionStart"):
        return e["time"] / 1000.0
    if kind.endswith("QueryProgressEvent"):
        return iso_seconds(e["progress"]["timestamp"])
    return None


STREAM_DURATIONS = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.add_batch_ms": "addBatch",
    "streaming.trigger_ms": "triggerExecution",
}

LAYER_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_ms",
    "spark.task_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_fetch_wait_ms",
    "spark.spill_bytes",
    "spark.python_bytes_sent",
    "spark.python_bytes_returned",
    "spark.pre_job_ms",
    "streaming.batches",
    "streaming.input_rows",
    *STREAM_DURATIONS,
    "streaming.state_commit_ms",
    "streaming.state_updates_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.watermark_dropped_rows",
)


def layer_totals(events: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Per-layer totals over the events whose work started in
    ``[t0, t1)``: job/stage/task counts and task metrics, Python-worker
    bytes, the gap from each SQL execution's start to its first job
    (optimisation, physical planning and codegen of the noop write),
    and the micro-batch durations and state-store figures of every
    streaming progress event."""
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    first_job: dict[str, float] = {}
    exec_start: dict[str, float] = {}
    state_max: dict[tuple[str, int], tuple[float, float]] = {}
    for e in events:
        t = event_time(e)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                first_job[eid] = min(first_job.get(eid, t), t)
        if t is None or not t0 <= t < t1:
            continue
        if kind == "SparkListenerJobStart":
            out["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            out["spark.stages"] += 1
            for acc in e["Stage Info"].get("Accumulables", []):
                if acc["Name"] == "data sent to Python workers":
                    out["spark.python_bytes_sent"] += float(acc["Value"])
                elif acc["Name"] == "data returned from Python workers":
                    out["spark.python_bytes_returned"] += float(acc["Value"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.task_run_ms"] += m.get("Executor Run Time", 0)
            out["spark.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["spark.gc_ms"] += m.get("JVM GC Time", 0)
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                "Local Bytes Read", 0
            )
            out["spark.shuffle_fetch_wait_ms"] += r.get("Fetch Wait Time", 0)
        elif kind.endswith("SQLExecutionStart"):
            exec_start[str(e["executionId"])] = t
        elif kind.endswith("QueryProgressEvent"):
            p = e["progress"]
            d = p.get("durationMs") or {}
            if "addBatch" not in d:
                continue  # a no-data progress report, not a batch
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += sum(
                src.get("numInputRows", 0) for src in p.get("sources") or []
            )
            for metric, field in STREAM_DURATIONS.items():
                out[metric] += d.get(field, 0)
            for i, op in enumerate(p.get("stateOperators") or []):
                out["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
                out["streaming.state_updates_ms"] += op.get("allUpdatesTimeMs", 0)
                out["streaming.watermark_dropped_rows"] += op.get(
                    "numRowsDroppedByWatermark", 0
                )
                key = (p["runId"], i)
                rows, mem = state_max.get(key, (0, 0))
                state_max[key] = (
                    max(rows, op.get("numRowsTotal", 0)),
                    max(mem, op.get("memoryUsedBytes", 0)),
                )
    for eid, t in exec_start.items():
        if eid in first_job:
            out["spark.pre_job_ms"] += max(0.0, first_job[eid] - t) * 1000.0
    for rows, mem in state_max.values():
        out["streaming.state_rows"] += rows
        out["streaming.state_memory_bytes"] += mem
    return out


def progress_events(events: list[dict]) -> list[dict]:
    """The ``progress`` payloads of all streaming progress events."""
    return [e["progress"] for e in events if e["Event"].endswith("QueryProgressEvent")]
