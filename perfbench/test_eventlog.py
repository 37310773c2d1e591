"""Unit test of the event-log parser on a tiny captured log.

``testdata/tiny_eventlog.jsonl`` is a real Spark 4.1 event log, trimmed to
the events the parser reads, of two calls: ``call:0`` reads a 5,840-byte
CSV and writes it as Parquet; ``call:1`` runs ``report.save_report`` over an
aggregate of the same CSV (two jobs, one stage skipped).
"""

from __future__ import annotations

import os

import pytest

import eventlog
from eventlog import Call

LOG = os.path.join(os.path.dirname(__file__), "testdata", "tiny_eventlog.jsonl")
CSV_BYTES = 5840
# wall-clock times the capture recorded around the two calls
T0, T1, T2, T3 = 1792209798.3066332, 1792209801.7073495, 1792209801.7082958, 1792209802.8560731


@pytest.fixture(scope="module")
def trace():
    return eventlog.parse_file(LOG)


def _calls():
    return [
        Call("call:0", "run_pipeline", "plans.pipeline", 0, T0, T1, T1, self_acting=True),
        Call("call:1", "save_report", "report", 0, T2, T3, T3, self_acting=True),
    ]


def test_parse_jobs_stages_and_sql(trace):
    assert sorted(trace.jobs) == [0, 1, 2]
    assert trace.jobs[0].group == "call:0" and trace.jobs[0].callsite is None
    assert trace.jobs[1].group == trace.jobs[2].group == "call:1"
    assert trace.jobs[2].stage_ids == [3, 4]
    # stage 3 was skipped: no tasks, no completion event
    assert 3 not in trace.stages
    assert [trace.stages[s].csv_scan for s in (0, 1, 2, 4)] == [True, True, False, False]
    assert trace.stages[0].input_bytes == trace.stages[1].input_bytes == CSV_BYTES
    assert trace.stages[0].output_bytes == 4539
    assert trace.stages[1].shuffle_write_bytes == 227
    assert [q.parquet_write for q in trace.sqls.values()] == [True, False]


def test_callsite_module():
    site = "collect at /checkout/sales_data_etl_pipeline_spark/report.py:338"
    assert eventlog.callsite_module(site) == "report"
    deep = "count at /x/sales_data_etl_pipeline_spark/operators/dedup.py:915"
    assert eventlog.callsite_module(deep) == "operators.dedup"
    assert eventlog.callsite_module("toPandas at /x/perfbench/workloads.py:40") is None
    assert eventlog.callsite_module(None) is None


def test_per_pass_metrics(trace):
    m = eventlog.per_pass_metrics(trace, _calls(), CSV_BYTES)
    assert m["spark.jobs"] == 3
    assert m["spark.stages"] == 4
    assert m["spark.tasks"] == 4
    assert m["spark.executor_run_ms"] == 1048 + 227 + 78 + 8
    # the report re-reads the CSV: two full scans per pass
    assert m["sources.csv.scan_bytes"] == 2 * CSV_BYTES
    assert m["sources.csv.scans_per_run"] == 2.0
    assert m["sources.parquet.output_bytes"] == 4539
    assert m["sources.parquet.write_s"] == pytest.approx(2.313)
    # jobs go to the module of their call site, else to the call's layer
    assert m["report.jobs"] == 2 and m["plans.pipeline.jobs"] == 1
    assert m["report.tasks_per_job"] == 1.5
    # self-acting call: action = time covered by its jobs, render = the rest
    assert m["report.action_s"] == pytest.approx(0.434 + 0.054, abs=1e-6)
    assert m["report.render_s"] == pytest.approx((T3 - T2) - 0.488, abs=1e-6)
    for call in _calls():
        layer = call.layer
        assert m[f"{layer}.build_s"] + m[f"{layer}.action_s"] == pytest.approx(call.wall)
    covered = (1.667 - 0.237) + 0.488
    assert m["spark.driver_uncovered_s"] == pytest.approx((T1 - T0) + (T3 - T2) - covered, abs=2e-3)
    assert m["spark.job_covered_ratio"] == pytest.approx(covered / ((T1 - T0) + (T3 - T2)), abs=1e-3)


def test_lazy_call_split_and_time_window_fallback(trace):
    """A lazy call splits at t1; a job with no matching group is assigned
    by its submission time."""
    lazy = Call("other", "q", "plans.analytics", 0, T2, T2 + 0.5, T3)
    jobs = eventlog.assign_jobs(trace, [lazy])
    assert sorted(j.id for j in jobs["other"]) == [1, 2]
    m = eventlog.per_pass_metrics(trace, [lazy], CSV_BYTES)
    assert m["plans.analytics.build_s"] == pytest.approx(0.5)
    assert m["plans.analytics.action_s"] == pytest.approx(T3 - T2 - 0.5)
    assert m["report.jobs"] == 2  # call site still names the firing module


def test_covered_union():
    assert eventlog._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog._covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert eventlog._covered([], 0, 1) == 0
