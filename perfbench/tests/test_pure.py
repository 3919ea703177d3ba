"""Tests for the benchmark's pure parts (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
import tracing  # noqa: E402

RECORDED = os.path.join(HERE, "data", "eventlog")


# -- tail percentile ------------------------------------------------------

def test_tail_pick_leaves_ten_samples_beyond():
    value, pct, n = stats.tail_pick([float(x) for x in range(100, 0, -1)])
    assert (value, pct, n) == (90.0, 90.0, 100)


def test_tail_pick_small_sample_is_a_low_percentile():
    value, pct, n = stats.tail_pick([float(x) for x in range(1, 21)])
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_pick_refuses_unsupported_tail():
    with pytest.raises(ValueError):
        stats.tail_pick([1.0] * 10)


# -- failed_frac ----------------------------------------------------------

def test_failed_frac_counts_raises_and_mismatches():
    outcomes = {"q1": [True, False, True], "q2": [False], "q3": [True]}
    assert stats.failed_frac(outcomes) == (2, 5, 0.4)


def test_failed_frac_all_green():
    assert stats.failed_frac({"q1": [True, True]}) == (0, 2, 0.0)


# -- recorded rolling event log -------------------------------------------

def test_recorded_rolling_log_reads_parts_in_order():
    events = tracing.read_event_log(RECORDED)
    kinds = [e["Event"] for e in events]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds[-1] == "SparkListenerApplicationEnd"
    jobs = [e["Job ID"] for e in events
            if e["Event"] == "SparkListenerJobStart"]
    assert jobs == sorted(jobs) and len(jobs) >= 2


def test_recorded_log_attributes_jobs_batches_and_scans():
    with open(os.path.join(HERE, "data", "phases.json")) as f:
        phases = [tracing.Phase(**p) for p in json.load(f)]
    tr = tracing.Trace(tracing.read_event_log(RECORDED), phases)
    assert tr.jobs and all(j.phase is not None for j in tr.jobs.values())
    assert tr.batches and all(b.phase is not None for b in tr.batches)
    m = tracing.layer_metrics(tr, cores=4, passes=1)
    assert m["streaming.batches"] == len(tr.batches)
    assert m["catalog.scans"] >= 1
    assert m["exec.tasks"] + m["operators.build_jobs"] > 0
    spans = tr.spans([(1, phases[0].start, phases[-1].end)])
    by_id = {s["id"]: s for s in spans}
    job = next(s for s in spans if s["kind"] == "job")
    assert by_id[job["parent"]]["kind"] in ("build", "exec", "microbatch")


def test_compressed_log_is_refused(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        tracing.read_event_log(str(tmp_path))


# -- time-window attribution ----------------------------------------------

def _job(job_id, t, group=None):
    return [{"Event": "SparkListenerJobStart", "Job ID": job_id,
             "Submission Time": int(t * 1000), "Stage IDs": [],
             "Properties": {"spark.jobGroup.id": group} if group else {}},
            {"Event": "SparkListenerJobEnd", "Job ID": job_id,
             "Completion Time": int((t + 0.2) * 1000),
             "Job Result": {"Result": "JobSucceeded"}}]


def test_microbatch_jobs_attributed_by_time_not_job_group():
    phases = [tracing.Phase("q1", 1, "build", 100.0, 110.0),
              tracing.Phase("q1", 1, "exec", 110.0, 111.0),
              tracing.Phase("q2", 1, "build", 111.0, 112.0)]
    progress = {"Event": tracing._STREAM + "QueryProgressEvent", "progress": {
        "runId": "r1", "name": None, "timestamp": "1970-01-01T00:01:42.000Z",
        "durationMs": {"triggerExecution": 3000, "addBatch": 2000}}}
    events = (_job(0, 102.5, group="stream-own-group") + _job(1, 106.0)
              + _job(2, 110.5, group="q1:1:exec") + _job(3, 111.5)
              + _job(4, 200.0) + [progress])
    tr = tracing.Trace(events, phases)
    assert tr.jobs[0].phase == phases[0] and tr.jobs[0].batch == 0
    assert tr.jobs[1].phase == phases[0] and tr.jobs[1].batch is None
    assert tr.jobs[2].phase == phases[1]
    assert tr.jobs[3].phase.query == "q2"
    assert tr.jobs[4].phase is None
    m = tracing.layer_metrics(tr, cores=4, passes=1)
    assert m["streaming.batches"] == 1
    assert m["streaming.overhead_s"] == pytest.approx(1.0)
    assert m["operators.build_jobs"] == 3
    assert m["exec.jobs"] == 1
    assert m["streaming.batch_job_s"] == pytest.approx(0.2)


def test_unnamed_accumulator_takes_nearest_lower_registered_id():
    phases = [tracing.Phase("q1", 1, "build", 100.0, 101.0),
              tracing.Phase("q2", 1, "build", 101.0, 102.0)]
    plan = {"nodeName": "X", "children": [], "metrics": [
        {"name": "m", "accumulatorId": 50, "metricType": "sum"}]}
    plan2 = {"nodeName": "Y", "children": [], "metrics": [
        {"name": "m", "accumulatorId": 80, "metricType": "sum"}]}
    events = [{"Event": tracing._SQL + "SparkListenerSQLExecutionStart",
               "time": 100500, "sparkPlanInfo": plan},
              {"Event": tracing._SQL + "SparkListenerSQLExecutionStart",
               "time": 101500, "sparkPlanInfo": plan2}]
    tr = tracing.Trace(events, phases)
    assert tr.acc_query(50) == "q1"
    assert tr.acc_query(63) == "q1"
    assert tr.acc_query(81) == "q2"
    assert tr.acc_query(10) is None


def test_stderr_errors_counts_lines_and_accumulator_ids():
    text = ("26/01/01 00:00:00 ERROR DAGScheduler: Failed to update "
            "accumulator 7 (Unknown class) for task 0\n"
            "org.apache.spark.SparkException: attempted to access "
            "non-existent accumulator 7\n\tat x\n"
            "26/01/01 00:00:01 WARN Other: fine\n")
    assert tracing.stderr_errors(text) == (1, [7])


def test_spans_nest_repeated_untimed_passes_separately():
    phases = [tracing.Phase("q1", 0, "build", 10.0, 11.0),
              tracing.Phase("q1", 0, "exec", 11.0, 12.0),
              tracing.Phase("q1", 0, "build", 20.0, 21.0),
              tracing.Phase("q1", 0, "exec", 21.0, 22.0)]
    spans = tracing.Trace([], phases).spans([(0, 10.0, 12.0), (0, 20.0, 22.0)])
    queries = [s for s in spans if s["kind"] == "query"]
    assert [(q["parent"], q["start"], q["end"]) for q in queries] == [
        (0, 10.0, 12.0), (1, 20.0, 22.0)]
    assert all(spans[s["parent"]]["kind"] == "query"
               for s in spans if s["kind"] in ("build", "exec"))
