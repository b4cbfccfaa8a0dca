"""The reducer turns a small recorded event log plus spans into the
expected per-layer counts and self times."""

import json
import os

import pytest

import spans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture
def layers():
    events = spans.read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "spans_small.json")) as f:
        recorded = json.load(f)
    return spans.reduce_layers(events, recorded, input_path="/in/docs", n_ops=1)


def test_jobs_layer(layers):
    assert layers["jobs.spark_jobs"] == 1
    assert layers["jobs.count_actions"] == 1
    assert layers["jobs.sql_executions"] == 1
    # 4.0 s span minus the ensemble (0.4 s) and writer (1.0 s) children;
    # the count() action is the jobs layer's own time
    assert layers["jobs.self_s"] == pytest.approx(2.6)
    # stages cover 0.2 + 0.4 + 0.4 + 0.8 s of the 4.0 s span
    assert layers["jobs.driver_gap_s"] == pytest.approx(2.2)
    assert layers["jobs.input_scans"] == 2
    assert layers["jobs.tasks"] == 4 and layers["jobs.stages"] == 2
    assert layers["jobs.task_run_s"] == pytest.approx(1.0)
    assert layers["jobs.shuffle_read_bytes"] == 1500
    assert layers["jobs.task_skew"] == pytest.approx(4.0)


def test_operator_and_writer_layers(layers):
    assert layers["operators.ensemble.call_s"] == pytest.approx(0.4)
    assert layers["operators.ensemble.spark_jobs"] == 1
    assert layers["operators.dedup.spark_jobs"] == 0
    assert layers["operators.tasks"] == 2
    assert layers["operators.task_cpu_s"] == pytest.approx(0.2)
    assert layers["operators.gc_s"] == pytest.approx(0.01)
    assert layers["operators.shuffle_write_bytes"] == 3000
    assert layers["operators.task_skew"] == pytest.approx(1.5)  # 300 ms over the 200 ms median
    assert layers["sources.writer.call_s"] == pytest.approx(1.0)
    assert layers["sources.writer.spark_jobs"] == 1
    assert layers["sources.writer.spill_bytes"] == 64


def test_queries_layer(layers):
    assert layers["queries.spark_jobs_per_query"] == 2
    assert layers["queries.plan_s"] == pytest.approx(0.3)
    # stages cover 0.5 + 0.1 s of the 1.0 s query; the skipped stage 4
    # listed again by job 4 is counted once
    assert layers["queries.driver_gap_s"] == pytest.approx(0.4)
    assert layers["queries.stages"] == 2 and layers["queries.tasks"] == 2
    # the job outside every span is attributed to no layer
    assert layers["streaming.tasks"] == 0


def test_nested_spans_of_one_layer_count_once():
    outer = {"id": "a", "layer": "operators.splits", "name": "f", "kind": "call", "parent": None,
             "start_ms": 0, "end_ms": 2000}
    inner = {"id": "b", "layer": "operators.splits", "name": "g", "kind": "call", "parent": "a",
             "start_ms": 500, "end_ms": 1500}
    got = spans.reduce_layers([], [outer, inner])
    assert got["operators.splits.call_s"] == pytest.approx(2.0)


def test_span_owns_the_job_groups_it_names():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "run-1"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 100, "Completion Time": 200}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 50}},
    ]
    stream = {"id": "a", "layer": "streaming", "name": "q", "kind": "call", "parent": None,
              "start_ms": 0, "end_ms": 1000, "groups": ["run-1"]}
    got = spans.reduce_layers(events, [stream])
    assert got["streaming.tasks"] == 1 and got["streaming.stages"] == 1
