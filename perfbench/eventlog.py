"""Parse an uncompressed Spark event log and attribute its jobs to ops.

The traced session writes the log with ``spark.eventLog.compress=false``
(one JSON object per line). Every op the runner times sets a job group
``<op id>/<phase>`` around each call; a job carrying such a group belongs
to that op and phase. A job without one (started from a thread the group
does not reach) is given to the op whose time window contains its
submission. Jobs in the runner's own groups (set-up, checks) are dropped;
anything else is counted as unattributed.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
# job groups the runner sets around its own set-up and checks
HARNESS_GROUPS = ("setup", "check")


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics (all attempts)
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    executed_stages: set[int] = field(default_factory=set)


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "jvm_gc_s": m.get("JVM GC Time", 0) / 1e3,
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "task_failures": 0 if (ev.get("Task End Reason") or {}).get("Reason") == "Success" else 1,
        "scan_s": 0.0,
    }
    # the SQL scan operators publish a "scan time" timing metric (ms)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == "scan time":
            out["scan_s"] += float(acc.get("Update") or 0) / 1e3
    return out


def parse(lines) -> EventLog:
    """Build an EventLog from an iterable of JSON lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get(GROUP_KEY),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            log.executed_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            acc = log.stage_metrics.setdefault(ev["Stage ID"], defaultdict(float))
            for k, v in _task_metrics(ev).items():
                acc[k] += v
    return log


def read(path: str) -> EventLog:
    """Read a log file, or a rolling log directory (``events_<n>_*`` parts)."""
    if not os.path.isdir(path):
        with open(path, encoding="utf-8") as f:
            return parse(f)
    parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                   key=lambda f: int(f.split("_")[1]))

    def lines():
        for p in parts:
            with open(os.path.join(path, p), encoding="utf-8") as f:
                yield from f
    return parse(lines())


@dataclass
class OpWindow:
    """What the runner knows about one timed op."""

    op_id: str
    start_ms: float
    end_ms: float


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(log: EventLog, ops: list[OpWindow]) -> tuple[
    dict[str, dict[str, float]], dict[str, int]
]:
    """Per-op engine metrics, plus totals of how jobs were attributed.

    Returns ``(per_op, totals)``. ``per_op[op_id]`` holds ``jobs``,
    ``jobs.<phase>``, ``stages``, ``stages_skipped``, ``driver_gap_s`` and
    every task-metric sum of ``_task_metrics``, in total and as
    ``<phase>.<field>``. ``totals`` counts jobs by group, by window, in
    the runner's own groups, and unattributed.
    """
    by_id = {o.op_id: o for o in ops}
    per_op: dict[str, dict[str, float]] = {o.op_id: defaultdict(float) for o in ops}
    busy: dict[str, list[tuple[float, float]]] = defaultdict(list)
    totals = {"by_group": 0, "by_window": 0, "harness": 0, "unattributed": 0}
    # a shared stage runs once, in the first job that lists it
    owner: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            if sid in log.executed_stages:
                owner.setdefault(sid, job.job_id)
    for job in log.jobs.values():
        op_id, phase = None, "other"
        if job.group and "/" in job.group and job.group.split("/", 1)[0] in by_id:
            op_id, phase = job.group.split("/", 1)
            totals["by_group"] += 1
        elif job.group and job.group.startswith(HARNESS_GROUPS):
            totals["harness"] += 1
            continue
        else:
            for o in ops:
                if o.start_ms <= job.submit_ms <= o.end_ms:
                    op_id = o.op_id
                    break
            if op_id is None:
                totals["unattributed"] += 1
                continue
            totals["by_window"] += 1
        m = per_op[op_id]
        m["jobs"] += 1
        m[f"jobs.{phase}"] += 1
        for sid in job.stage_ids:
            if owner.get(sid) == job.job_id:
                m["stages"] += 1
                for k, v in log.stage_metrics.get(sid, {}).items():
                    m[k] += v
                    m[f"{phase}.{k}"] += v
            else:
                m["stages_skipped"] += 1
        o = by_id[op_id]
        end = job.end_ms if job.end_ms is not None else o.end_ms
        s, e = max(job.submit_ms, o.start_ms), min(end, o.end_ms)
        if e > s:
            busy[op_id].append((s, e))
    for o in ops:
        wall = o.end_ms - o.start_ms
        per_op[o.op_id]["driver_gap_s"] = max(0.0, wall - _union_ms(busy[o.op_id])) / 1e3
    return {k: dict(v) for k, v in per_op.items()}, totals
