"""The event-log parser and job attribution, on a small hand-made log."""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")


@pytest.fixture
def log():
    return eventlog.read(FIXTURE)


def test_parse_jobs_and_groups(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert log.jobs[0].group == "op0/build"
    assert log.jobs[2].group is None
    assert log.jobs[1].stage_ids == [1, 2]
    assert (log.jobs[0].submit_ms, log.jobs[0].end_ms) == (1000, 1400)


def test_task_sums_per_stage(log):
    s0 = log.stage_metrics[0]
    assert s0["executor_run_s"] == pytest.approx(0.3)
    assert s0["executor_cpu_s"] == pytest.approx(0.15)
    assert s0["input_bytes"] == 2000
    assert s0["task_failures"] == 1
    assert log.stage_metrics[2]["shuffle_read_bytes"] == 500
    assert log.stage_metrics[3]["scan_s"] == pytest.approx(0.04)


def test_attribution(log):
    ops = [eventlog.OpWindow("op0", 900, 2000)]
    per_op, totals = eventlog.attribute(log, ops)
    assert totals == {"by_group": 2, "by_window": 1, "harness": 1, "unattributed": 1}
    m = per_op["op0"]
    assert m["jobs"] == 3
    assert m["jobs.build"] == 1 and m["jobs.exec"] == 1 and m["jobs.other"] == 1
    # stage 1 ran in job 0; job 1 lists it again and skips it
    assert m["stages"] == 4 and m["stages_skipped"] == 1
    assert m["executor_run_s"] == pytest.approx(0.4)
    assert m["build.executor_run_s"] == pytest.approx(0.35)
    assert m["shuffle_write_bytes"] == 500 and m["output_bytes"] == 700
    assert m["spill_bytes"] == 64
    assert m["shuffle_fetch_wait_s"] == pytest.approx(0.005)
    # busy [1000,1400] + [1500,1800] (job 2 overlaps job 1): 1100 ms window
    assert m["driver_gap_s"] == pytest.approx(0.4)


def test_rolling_log_directory(tmp_path):
    with open(FIXTURE, encoding="utf-8") as f:
        lines = f.readlines()
    (tmp_path / "events_2_app").write_text("".join(lines[10:]))
    (tmp_path / "events_1_app").write_text("".join(lines[:10]))
    (tmp_path / "appstatus_app").write_text("")
    assert sorted(eventlog.read(str(tmp_path)).jobs) == [0, 1, 2, 3, 4]
