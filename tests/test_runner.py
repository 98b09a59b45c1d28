"""The shared query-timing harness (tools/runner.py) that bench.py and the
timing tools call: a real query gets a time, a failing one an error line,
and the failure does not escape."""

from __future__ import annotations

import importlib.util
from pathlib import Path

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _runner():
    spec = importlib.util.spec_from_file_location("runner", TOOLS / "runner.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_queries_times_real_and_records_failure(spark, sf_small):
    import __spark_entry__ as entrymod

    def broken(spark, sf_dir):
        raise ValueError("no such table: nowhere\nsecond line")

    qs = {"q6_filtered_agg": entrymod.queries()["q6_filtered_agg"], "broken": broken}
    times, errors = _runner().time_queries(spark, sf_small, qs, list(qs), 2)

    t = times["q6_filtered_agg"]
    assert t["total_s"] > 0
    assert 0 <= t["build_s"] <= t["total_s"]
    assert "q6_filtered_agg" not in errors
    assert "broken" not in times
    assert errors == {"broken": "no such table: nowhere"}
