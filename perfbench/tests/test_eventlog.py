"""The event-log parser on a small canned log, and span arithmetic."""

import json
import os

import pyarrow as pa

from perfbench import eventlog
from perfbench.trace import Span, self_times, union_length


def _acc(name, update):
    return {"Name": name, "Update": str(update), "Value": str(update)}


def _task(stage, reason="Success", run_ms=100, python_run_ms=40, sent=1000):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [
            _acc("scan time", 5),
            _acc("time to run Python workers", python_run_ms),
            _acc("time to start Python workers", 10),
            _acc("time to initialize Python workers", 20),
            _acc("data sent to Python workers", sent),
            _acc("data returned from Python workers", 50),
            _acc("number of output rows", 999),
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": 30_000_000,
            "Executor Deserialize Time": 2, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 4096, "Records Read": 64},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 200},
        },
    }


def _canned():
    props = {"spark.jobGroup.id": "query-1"}
    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000_000, "Stage IDs": [0], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props},
        _task(0), _task(0, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_400},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1_000_500, "Stage IDs": [1, 2], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": props},
        _task(1, python_run_ms=60, sent=3000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_900},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 1_002_000, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
        _task(3),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_002_100},
    ]


def _write(log_dir, events, compressed=True):
    app = os.path.join(log_dir, "eventlog_v2_local-1")
    os.makedirs(app)
    data = "\n".join(json.dumps(e) for e in events).encode() + b"\n"
    # split across two rolling files to check their order is kept
    half = data.index(b"\n", len(data) // 2) + 1
    for n, chunk in ((1, data[:half]), (2, data[half:])):
        path = os.path.join(app, f"events_{n}_local-1")
        if compressed:
            with pa.CompressedOutputStream(path + ".zstd", "zstd") as s:
                s.write(chunk)
        else:
            with open(path, "wb") as f:
                f.write(chunk)


def test_by_group_on_canned_zstd_log(tmp_path):
    _write(str(tmp_path), _canned())
    events = eventlog.read_events(str(tmp_path))
    assert len(events) == len(_canned())
    groups = eventlog.by_group(events)
    g = groups["query-1"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (2, 2, 3, 1)
    assert g.job_intervals == [(1000.0, 1000.4), (1000.5, 1000.9)]
    assert g.job_starts == [1000.0, 1000.5]
    s = g.sums
    assert abs(s["python_run_s"] - 0.14) < 1e-9
    assert abs(s["python_init_s"] - 0.09) < 1e-9
    assert s["python_bytes_in"] == 5000
    assert s["python_bytes_out"] == 150
    assert abs(s["scan_time_s"] - 0.015) < 1e-9
    assert abs(s["executor_run_s"] - 0.3) < 1e-9
    assert abs(s["executor_cpu_s"] - 0.09) < 1e-9
    assert s["input_bytes"] == 3 * 4096 and s["input_records"] == 3 * 64
    assert s["shuffle_write_bytes"] == 900 and s["shuffle_read_bytes"] == 600
    # a job outside any group lands under the empty id
    assert groups[""].jobs == 1 and groups[""].tasks == 1


def test_plain_rolling_files_read_too(tmp_path):
    _write(str(tmp_path), _canned(), compressed=False)
    assert eventlog.by_group(eventlog.read_events(str(tmp_path)))["query-1"].tasks == 3


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [Span("op", 0.0, 10.0, None, "q-1"),
             Span("plan", 1.0, 3.0, 0, "q-1"),
             Span("exec", 2.0, 6.0, 0, "q-1"),
             Span("inner", 4.0, 5.0, 2, "q-1")]
    st = self_times(spans)
    assert st["op"] == 10.0 - 5.0
    assert st["plan"] == 2.0
    assert st["exec"] == 3.0
    assert st["inner"] == 1.0
