"""Metric definitions and their computation from the runner's records.

End-to-end metrics come from the untraced run. Per-layer metrics come from
the traced run: times and job counts are means per op over the ops that
call the layer (so the phase means of one op kind add up to its latency),
engine totals from Spark's event log are means over all ops, and failure
and attribution figures are whole-run counts.
"""

from __future__ import annotations

import sys
from statistics import fmean, median

from . import eventlog
from .stats import percentile, tail_percentile
from .workloads import ITERATIVE_QUERIES

# name -> unit; every workload reports all of these
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB"}

_PLAN_PHASES = ("ingest", "read_warehouse", "run_etl", "publish")
_SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.scan_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_fetch_wait_s": "s",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes", "spark.jvm_gc_s": "s",
    "spark.spill_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    **{f"plans.{p}_s": "s" for p in _PLAN_PHASES},
    "plans.run_etl_jobs": "count", "plans.publish_jobs": "count",
    "plans.bytes_written": "bytes", "plans.insert_ratio": "ratio",
    "plans.quarantine_rows": "count",
    "catalog.build_s": "s", "catalog.exec_s": "s",
    "catalog.build_jobs": "count", "catalog.exec_jobs": "count",
    **{f"catalog.build_s.{q}": "s" for q in ITERATIVE_QUERIES},
    **{f"catalog.exec_s.{q}": "s" for q in ITERATIVE_QUERIES},
    **{f"spark.jobs.{q}": "count" for q in ITERATIVE_QUERIES},
    **_SPARK,
    "spark.task_failures": "count", "spark.unattributed_jobs": "count",
    "spark.window_jobs": "count", "trace.op_mean_s": "s",
}


def _mean(values: list[float]) -> tuple[float, int]:
    return (fmean(values) if values else 0.0), len(values)


def end_to_end(w, ops, setup_s: float, rss_kb: int) -> dict:
    walls = [o.wall for o in ops]
    failed = sum(1 for o in ops if o.error)
    n = len(ops)
    out = {
        "_attempted": n, "_failed": failed,
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (n / sum(walls), "1/s", n),
        "op_p50_s": (median(walls), "s", n),
        "peak_rss_mb": (rss_kb / 1024.0, "MB", 1),
        "failed_frac": (failed / n, "ratio", n),
    }
    q = tail_percentile(n)
    if q is not None:
        name = f"op_p{q * 100:g}_s".replace(".", "_")
        out[name] = (percentile(walls, q), "s", n)
    if w.name == "star_load":
        rows = sum(o.counts.get("valid_rows", 0) for o in ops)
        out["rows_per_s"] = (rows / sum(walls), "1/s", n)
        out["stored_bytes_per_input_byte"] = (
            median(w.stored_ratio), "ratio", len(w.stored_ratio))
    for o in ops:
        if o.error:
            print(f"FAILED {o.op_id} {o.kind}:\n{o.error}", file=sys.stderr)
    return out


def setup_layers(runner, start_s: float, setup_s: float) -> dict:
    fixture = runner.fixture_s
    return {
        "session.start_s": (start_s, "s", 1),
        "session.warmup_s": (setup_s - start_s - fixture, "s", runner.n_setup),
        "plans.fixture_s": (fixture, "s", 1),
    }


def per_layer(ops, log: eventlog.EventLog) -> dict:
    windows = [eventlog.OpWindow(o.op_id, o.start * 1e3, o.end * 1e3) for o in ops]
    engine, totals = eventlog.attribute(log, windows)
    out: dict = {}

    def put(name: str, values: list[float]) -> None:
        v, n = _mean(values)
        out[name] = (v, PER_LAYER[name], n)

    def eng(o, key: str) -> float:
        return engine[o.op_id].get(key, 0.0)

    for p in _PLAN_PHASES:
        put(f"plans.{p}_s", [o.phases[p] for o in ops if p in o.phases])
    put("plans.run_etl_jobs", [eng(o, "jobs.run_etl") for o in ops if "run_etl" in o.phases])
    put("plans.publish_jobs", [eng(o, "jobs.publish") for o in ops if "publish" in o.phases])
    put("plans.bytes_written",
        [eng(o, "publish.output_bytes") for o in ops if "publish" in o.phases])
    loads = [o for o in ops if "valid_rows" in o.counts]
    valid = sum(o.counts["valid_rows"] for o in loads)
    out["plans.insert_ratio"] = (
        sum(o.counts["inserted"] for o in loads) / valid if valid else 0.0, "ratio", len(loads))
    put("plans.quarantine_rows", [o.counts["quarantined"] for o in loads])

    cat = [o for o in ops if "build" in o.phases]
    for p in ("build", "exec"):
        put(f"catalog.{p}_s", [o.phases[p] for o in cat])
        put(f"catalog.{p}_jobs", [eng(o, f"jobs.{p}") for o in cat])
    for q in ITERATIVE_QUERIES:
        mine = [o for o in ops if o.kind == q]
        put(f"catalog.build_s.{q}", [o.phases["build"] for o in mine])
        put(f"catalog.exec_s.{q}", [o.phases["exec"] for o in mine])
        put(f"spark.jobs.{q}", [eng(o, "jobs") for o in mine])

    for name in _SPARK:
        put(name, [eng(o, name.removeprefix("spark.")) for o in ops])
    n = len(ops)
    out["spark.task_failures"] = (sum(eng(o, "task_failures") for o in ops), "count", n)
    out["spark.unattributed_jobs"] = (totals["unattributed"], "count", n)
    out["spark.window_jobs"] = (totals["by_window"], "count", n)
    put("trace.op_mean_s", [o.wall for o in ops])
    return out


def report(out: dict, trace: bool) -> dict:
    """Print every metric with unit and sample count; return the result line."""
    for name, val in out.items():
        if not name.startswith("_"):
            v, unit, n = val
            print(f"{name:36s} {v:14.6g} {unit:6s} n={n}")
    print(f"{'correct':36s} {out['_failed'] == 0!s:>14s}        "
          f"attempted={out['_attempted']} failed={out['_failed']}")
    wanted = PER_LAYER if trace else END_TO_END
    return {
        "correct": out["_failed"] == 0,
        "attempted": out["_attempted"],
        "failed": out["_failed"],
        "metrics": {k: {"value": out[k][0], "unit": unit} for k, unit in wanted.items()},
    }
