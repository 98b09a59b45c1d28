"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {star_load,dashboard,iterative} \
        --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed, starts a Spark session
through the package's own factory, warms up, then runs whole rounds of the
workload's ops until the ops have taken S seconds. Every op's output is
checked. With ``--trace 0`` the last line of output is the end-to-end
metrics; with ``--trace 1`` the session also writes Spark's event log and
the last line is the per-layer metrics. Lines before it give every metric
with its unit and sample count.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class OpRecord:
    op_id: str
    kind: str
    start: float = 0.0       # epoch seconds
    end: float = 0.0
    wall: float = 0.0        # seconds, monotonic clock
    phases: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    error: str = ""


class Runner:
    """Times ops and their phases; tags every Spark job with its op."""

    def __init__(self, spark, queries) -> None:
        self.spark, self.queries = spark, queries
        self.ops: list[OpRecord] = []
        self.n_setup = 0
        self.fixture_s = 0.0
        self._after_round: list = []

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def phase(self, rec: OpRecord, name: str, fn):
        self.set_group(f"{rec.op_id}/{name}")
        t = time.perf_counter()
        try:
            return fn()
        finally:
            rec.phases[name] = rec.phases.get(name, 0.0) + time.perf_counter() - t

    def _run(self, rec: OpRecord, fn) -> OpRecord:
        rec.start, t = time.time(), time.perf_counter()
        try:
            check = fn(rec)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            check, rec.error = None, traceback.format_exc()
        rec.wall, rec.end = time.perf_counter() - t, time.time()
        self.set_group("check")
        if check is not None:
            try:
                check()
            except Exception:  # noqa: BLE001 — wrong output counts as failed
                rec.error = traceback.format_exc()
        # each op starts from an empty cache and a collected heap, so one op's
        # cached blocks and garbage are not charged to the next
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()
        return rec

    def untimed_op(self, fn, fixture: bool = False) -> None:
        """A set-up op (warm-up or fixture); it must succeed."""
        self.n_setup += 1
        rec = self._run(OpRecord(f"setup{self.n_setup}", "fixture" if fixture else "warmup"), fn)
        if rec.error:
            raise RuntimeError(f"set-up op failed:\n{rec.error}")
        if fixture:
            self.fixture_s += rec.wall

    def timed_op(self, kind: str, fn) -> OpRecord:
        rec = self._run(OpRecord(f"op{len(self.ops)}", kind), fn)
        self.ops.append(rec)
        detail = " ".join([f"{k}={v:.3f}" for k, v in rec.phases.items()]
                          + [f"{k}={v:g}" for k, v in rec.counts.items()])
        print(f"{rec.op_id} {kind} {rec.wall:.3f} s {'FAILED' if rec.error else 'ok'} {detail}",
              file=sys.stderr)
        return rec

    def after_round(self, fn) -> None:
        self._after_round.append(fn)

    def end_round(self) -> None:
        """Run the round's own checks; a failure marks the round's last op."""
        self.set_group("check")
        for fn in self._after_round:
            try:
                fn()
            except Exception:  # noqa: BLE001 — wrong output counts as failed
                self.ops[-1].error = traceback.format_exc()
        self._after_round.clear()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    from perfbench.workloads import WORKLOADS

    # the program itself; importing it first fails fast where it is absent
    import __spark_entry__ as entry
    from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark

    w = WORKLOADS[workload]()
    t0 = time.perf_counter()
    w.prepare(seed, tmp)
    w.twins(entry.oracle_sql(), _cpus())
    print(f"inputs and twins ready in {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", master=f"local[{_cpus()}]",
                      extra_conf=_session_conf(tmp, trace))
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    runner = Runner(spark, entry.queries())
    runner.set_group("setup")
    w.setup(runner)
    setup_s = time.perf_counter() - t0
    print(f"set-up took {setup_s:.1f} s (session {start_s:.1f} s)", file=sys.stderr)

    rng = random.Random(seed)
    op_time, k = 0.0, 0
    while op_time < seconds:
        for kind, fn in w.round(runner, rng, k):
            op_time += runner.timed_op(kind, fn).wall
        runner.end_round()
        k += 1
    print(f"{len(runner.ops)} ops in {op_time:.1f} s", file=sys.stderr)

    rss_kb = _vm_hwm_kb("self")
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        jvm_kb = _vm_hwm_kb(proc.pid)
        print(f"peak RSS: driver {rss_kb / 1024:.0f} MB, JVM {jvm_kb / 1024:.0f} MB",
              file=sys.stderr)
        rss_kb += jvm_kb
    app_id = spark.sparkContext.applicationId
    _stop(spark)

    from perfbench import metrics

    out = metrics.end_to_end(w, runner.ops, setup_s, rss_kb)
    out.update(metrics.setup_layers(runner, start_s, setup_s))
    if trace:
        from perfbench import eventlog

        events = os.path.join(tmp, "events")
        (name,) = [f for f in os.listdir(events) if app_id in f]
        log = eventlog.read(os.path.join(events, name))
        out.update(metrics.per_layer(runner.ops, log))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["star_load", "dashboard", "iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still removes its scratch (the JVM exits with us)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.makedirs(os.path.join(tmp, "tmp"))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: the program's scratch lands here
    try:
        from perfbench import metrics

        out = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
        result = metrics.report(out, args.trace == 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
