"""Fold an uncompressed Spark event log into per-job-group stage metrics.

The traced run tags every Spark job a span causes with the span's job
group (``SparkContext.setJobGroup``) and writes the event log with
``spark.eventLog.compress=false`` (the default codec in Spark 4.x is
zstd, which needs a module Python does not ship). This module reads the
JSON-lines log back and sums, per job group, what the completed stages
report: task count, executor run time, JVM GC time, shuffle bytes, spill
bytes, and executor run time of stages that ran Python workers.

Pure Python (no Spark import).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable

GROUP_KEY = "spark.jobGroup.id"
# SQL metrics only Python-evaluating operators (mapInPandas, Arrow and
# batch Python UDFs, grouped-map pandas) attach to their stage
PYTHON_MARKERS = ("time to run Python workers", "data sent to Python workers")

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "python_stages",
    "python_s",
    "job_wall_s",
)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: a plain single-file log or the
    ``eventlog_v2_*/events_<n>_*`` parts of a rolling one, in order."""
    out = []
    for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        base = os.path.basename(p)
        if not os.path.isfile(p) or base.startswith(".") or base.startswith("appstatus"):
            continue
        out.append(p)

    def order(p: str) -> tuple:
        base = os.path.basename(p)
        if base.startswith("events_"):
            return (os.path.dirname(p), int(base.split("_")[1]))
        return (os.path.dirname(p), 0)

    return sorted(out, key=order)


def read_events(paths: Iterable[str]) -> Iterable[dict]:
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        name, value = a.get("Name"), a.get("Value")
        if name is None or value is None:
            continue
        try:
            out[name] = out.get(name, 0.0) + float(value)
        except (TypeError, ValueError):
            continue
    return out


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Total length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """``{job_group: {field: value}}`` for every group that ran a job;
    jobs without a group fold under ``""``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list[tuple[int, int]]] = {}
    out: dict[str, dict[str, float]] = {}

    def row(g: str) -> dict[str, float]:
        return out.setdefault(g, {k: 0.0 for k in FIELDS})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            jid = e["Job ID"]
            job_group[jid] = g
            job_start[jid] = e.get("Submission Time")
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
            row(g)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            g = job_group.get(jid)
            if g is not None and job_start.get(jid) is not None and e.get("Completion Time") is not None:
                intervals.setdefault(g, []).append((job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            g = stage_group.get(si["Stage ID"], "")
            acc = _acc(si)
            r = row(g)
            r["stages"] += 1
            r["tasks"] += si.get("Number of Tasks", 0)
            run_s = acc.get("internal.metrics.executorRunTime", 0.0) / 1000.0
            r["executor_run_s"] += run_s
            r["gc_s"] += acc.get("internal.metrics.jvmGCTime", 0.0) / 1000.0
            read = acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0) + acc.get(
                "internal.metrics.shuffle.read.localBytesRead", 0.0
            )
            write = acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
            r["shuffle_read_bytes"] += read
            r["shuffle_write_bytes"] += write
            r["shuffle_bytes"] += read + write
            r["spill_bytes"] += acc.get("internal.metrics.memoryBytesSpilled", 0.0) + acc.get(
                "internal.metrics.diskBytesSpilled", 0.0
            )
            if any(m in acc for m in PYTHON_MARKERS):
                r["python_stages"] += 1
                r["python_s"] += run_s
    for g, iv in intervals.items():
        row(g)["job_wall_s"] = _union_seconds(iv)
    return out


def fold_dir(log_dir: str) -> dict[str, dict[str, float]]:
    return fold(read_events(event_files(log_dir)))

