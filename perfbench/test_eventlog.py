"""Tests of the event-log folding on a small canned log, and of
BENCHMARK.json against the metric tables in run.py.

    python3 -m pytest perfbench/ -q
"""

import json
import os

import pytest

import run
from eventlog import COUNTERS, fold, read_events, self_intervals, union_length

T0 = 1_700_000_000.0  # epoch seconds of the canned log


def job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def task(stage, launch, finish, run_ms=0, cpu_ns=0, gc_ms=0, py_ms=None,
         shuffle_w=0, scan_bytes=0):
    accs = [] if py_ms is None else [
        {"Name": "time to run Python workers", "Update": str(py_ms)},
        {"Name": "data sent to Python workers", "Update": "100"},
    ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": int((T0 + launch) * 1000),
                      "Finish Time": int((T0 + finish) * 1000),
                      "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w,
                                      "Shuffle Write Time": 2_000_000},
            "Input Metrics": {"Bytes Read": scan_bytes},
        },
    }


def span(name, start, end, parent=None):
    return {"name": name, "start": T0 + start, "end": T0 + end, "parent": parent}


CANNED = [
    job(0, [0, 1], "run_rollup"),
    task(0, 1.0, 3.0, run_ms=2000, cpu_ns=1_500_000_000, shuffle_w=500, scan_bytes=4096),
    task(0, 2.0, 4.0, run_ms=2000, gc_ms=100),
    task(1, 5.0, 6.0, run_ms=1000, py_ms=800),
    # job 1 lists stage 1 again (skipped there) plus its own stage 2
    job(1, [1, 2], "apply_retention"),
    task(2, 8.0, 8.5, run_ms=500),
    # a job outside any span or group (the benchmark's own checks)
    job(2, [3]),
    task(3, 20.0, 21.0, run_ms=1000),
]
SPANS = [
    span("pass", 0.0, 10.0),
    span("run_rollup", 0.5, 7.0, parent=0),
    span("apply_retention", 7.5, 9.0, parent=0),
]


def test_tasks_are_attributed_to_the_job_group_of_their_stage():
    scopes = fold(CANNED, SPANS)
    rr, ar = scopes["run_rollup"], scopes["apply_retention"]
    assert rr["tasks"] == 3 and ar["tasks"] == 1
    assert rr["spark_jobs"] == 1 and ar["spark_jobs"] == 1
    assert rr["task_s"] == pytest.approx(5.0)
    assert rr["cpu_s"] == pytest.approx(1.5)
    assert rr["gc_s"] == pytest.approx(0.1)
    assert rr["py_run_s"] == pytest.approx(0.8)
    assert rr["py_bytes_in"] == 100
    assert rr["shuffle_write_bytes"] == 500
    assert rr["shuffle_write_s"] == pytest.approx(0.006)
    assert rr["scan_bytes"] == 4096
    assert ar["task_s"] == pytest.approx(0.5)
    # the ungrouped job's task lands in no scope
    assert sum(s["tasks"] for s in scopes.values()) == 4
    assert set(scopes["pass"]) == set(COUNTERS)


def test_self_time_excludes_child_spans():
    assert self_intervals(SPANS, 0) == [(T0 + 0.0, T0 + 0.5), (T0 + 7.0, T0 + 7.5), (T0 + 9.0, T0 + 10.0)]
    assert self_intervals(SPANS, 1) == [(T0 + 0.5, T0 + 7.0)]


def test_driver_time_is_self_time_without_running_tasks():
    scopes = fold(CANNED, SPANS)
    # run_rollup: 0.5..7.0, tasks cover 1..4 and 5..6
    assert scopes["run_rollup"]["driver_s"] == pytest.approx(6.5 - 4.0)
    # apply_retention: 7.5..9.0, its task covers 8.0..8.5
    assert scopes["apply_retention"]["driver_s"] == pytest.approx(1.0)
    # the pass span's own group started no tasks: all of its self time
    assert scopes["pass"]["driver_s"] == pytest.approx(2.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_read_events_orders_rolled_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i, ev in ((10, CANNED[1]), (2, CANNED[0])):
        (d / f"events_{i}_local-1").write_text(json.dumps(ev) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in read_events(str(tmp_path))] == [
        "SparkListenerJobStart", "SparkListenerTaskEnd"]


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.LAYER_UNITS
