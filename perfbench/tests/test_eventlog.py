"""The event-log parser on a tiny log cut from a real Spark 4.1 run: one
job tagged with span "7" (a decode+extract pass into the no-op sink) and
one tagged "8" (the first job of a scan query)."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_are_charged_to_spans(log):
    assert log.job_span == {2: "7", 3: "8"}
    assert log.span_jobs({"7"}) == [2] and log.span_jobs({"8"}) == [3]
    assert log.span_stages({"7"}) and not set(log.span_stages({"7"})) & set(
        log.span_stages({"8"})
    )


def test_task_totals(log):
    t = log.tasks({"7"})
    assert t.tasks == 4
    assert t.cpu_s == pytest.approx(0.562151403)
    assert t.run_s == pytest.approx(2.952)
    assert t.gc_s == pytest.approx(0.048)
    assert t.shuffle_write_bytes == 0 and t.spill_bytes == 0
    assert log.tasks({"8"}).shuffle_write_bytes == 3694
    assert log.tasks({"nope"}).tasks == 0


def test_python_udf_sql_metrics(log):
    assert log.sql_metric({"7"}, "time to run Python workers") == 2341
    assert log.sql_metric({"7"}, "data sent to Python workers") == 323504
    assert log.sql_metric({"7"}, "data returned from Python workers") == 1147456
    # a metric name on a node that did not run in the span reads 0
    assert log.sql_metric({"8"}, "time to run Python workers") == 0


def test_scan_metrics_include_driver_side_updates(log):
    assert log.sql_metric({"8"}, "number of output rows", "Scan") == 200
    # files read is a driver-side metric (SparkListenerDriverAccumUpdates)
    assert log.sql_metric({"8"}, "number of files read", "Scan") == 8


def test_stage_intervals_are_epoch_seconds(log):
    [(t0, t1)] = log.stage_intervals({"7"})
    assert 1.7e9 < t0 < t1 and t1 - t0 == pytest.approx(0.858)


def test_log_files_accepts_a_rolling_log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_2_local-1", "events_1_local-1", "appstatus_local-1"):
        (d / name).write_text("")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1"
    ]
