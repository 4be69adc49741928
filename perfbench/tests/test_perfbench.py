"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _task(stage: int, run_ms: int, cpu_ns: int, shuffle_write: int, accums: list) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [{"ID": i, "Update": v} for i, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


@pytest.fixture
def event_log(tmp_path):
    """Two job groups: ``op#1`` runs one SQL execution with an Arrow UDF
    node (two tasks), ``other`` one plain job; a task outside any group is
    ignored."""
    plan = {
        "nodeName": "Project",
        "children": [
            {
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 11, "metricType": "sum"},
                    {"name": "time to run Python workers", "accumulatorId": 12, "metricType": "timing"},
                    {"name": "data sent to Python workers", "accumulatorId": 13, "metricType": "size"},
                ],
                "children": [],
            }
        ],
    }
    events = [
        {"Event": SQL_START, "executionId": 5, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op#1", "spark.sql.execution.id": "5"}},
        _task(0, 300, 2_000_000_000, 100, [(11, 40), (12, 250), (13, 64)]),
        _task(1, 200, 1_000_000_000, 0, [(11, 2), (12, 50), (99, 1)]),
        {"Event": DRIVER_ACCUMS, "executionId": 5, "accumUpdates": [[11, 3]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "op#1"}},
        _task(2, 100, 0, 0, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2100, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "other"}},
        _task(3, 10, 0, 0, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2200},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 2300, "Stage IDs": [4],
         "Properties": {}},
        _task(4, 999, 0, 0, []),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_event_log_groups_jobs_tasks_and_python_metrics(event_log):
    log = tracing.read_event_log(event_log)
    assert set(log) == {"op#1", "other"}
    op = log["op#1"]
    assert op["spark.jobs"] == 2
    assert op["spark.stages"] == 3
    assert op["spark.tasks"] == 3
    assert op["spark.executor_run_s"] == pytest.approx(0.6)
    assert op["spark.executor_cpu_s"] == pytest.approx(3.0)
    assert op["spark.shuffle_write_bytes"] == 100
    assert op["spark.shuffle_read_bytes"] == 21
    # task updates plus the driver-side update of the same accumulator
    assert op["functions.udf_rows"] == 45
    # "timing" metrics are milliseconds
    assert op["functions.udf_python_s"] == pytest.approx(0.3)
    assert op["functions.udf_bytes_sent"] == 64
    assert op["job_spans"] == [(1.0, 1.5), (1.6, 2.0)]
    assert log["other"]["spark.tasks"] == 1
    assert log["other"]["functions.udf_rows"] == 0


def test_driver_think_time_is_wall_minus_job_union(event_log):
    group = tracing.read_event_log(event_log)["op#1"]
    spans = [
        {"name": "knn.knn_join", "layer": "knn", "op": "op#1", "parent": None, "start": 1.0, "end": 1.8},
        {"name": "spatial_join.candidate_join", "layer": "spatial_join", "op": "op#1", "parent": 0,
         "start": 1.1, "end": 1.3},
        {"name": "knn.knn_brute_force", "layer": "knn", "op": "op#1", "parent": 0, "start": 1.4, "end": 1.5},
    ]
    rec = tracing.op_layer_record(group, spans, 0.9, 2.1)
    # wall 1.2 s, jobs cover 0.5 + 0.4 s
    assert rec["spark.driver_think_s"] == pytest.approx(0.3)
    # the nested knn span is not counted twice
    assert rec["layer_call_s"] == pytest.approx({"knn": 0.8, "spatial_join": 0.2})


def test_union_seconds_merges_and_clips():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6), (9, 12)], 0.5, 10) == pytest.approx(4.5)
    assert tracing.union_seconds([], 0, 1) == 0


def test_layer_metrics_per_pass_and_ratios():
    base = {k: 0.0 for k in tracing.SPARK_KEYS + tracing.FUNCTION_KEYS}
    recs = []
    for _ in range(2):  # two traced passes of the same op
        rec = dict(base, op="pip_cap_join", layer="spatial_join", call_s=0.5, exec_s=1.5, rows_out=30,
                   layer_call_s={"spatial_join": 0.4})
        rec["functions.udf_rows"] = 120.0
        rec["spark.jobs"] = 3.0
        recs.append(rec)
    m = tracing.layer_metrics(recs, 2)
    assert m["spark.jobs"] == 3
    assert m["spatial_join.exec_s"] == pytest.approx(1.5)
    assert m["spatial_join.call_s"] == pytest.approx(0.4)
    assert m["spatial_join.candidate_rows"] == 120
    assert m["spatial_join.match_ratio"] == pytest.approx(0.25)


@pytest.mark.parametrize(
    "n, want_pct, want_index",
    [(11, 0.0, 0), (21, 50.0, 10), (101, 90.0, 90), (1001, 99.0, 990)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want_pct, want_index):
    samples = [float(i) for i in range(n)][::-1]
    pct, value = stats.tail_percentile(samples, 10)
    assert pct == pytest.approx(want_pct)
    assert value == want_index
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * 10, 10)


def test_phase_suspect_flags_slow_host_readings():
    assert stats.phase_suspects([0.20, 0.21, 0.45, 0.19, 0.39]) == [False, False, True, False, True]
    assert stats.phase_suspects([]) == []


def test_another_pass_fits_the_budget():
    assert stats.another_pass(0.0, [], 10)
    assert stats.another_pass(4.0, [4.0], 10)
    assert not stats.another_pass(6.0, [6.0], 10)
    # a traced run always gets its traced pass
    assert stats.another_pass(30.0, [30.0], 10, min_passes=2)


class _FixedOracle:
    def __init__(self, rows, columns):
        from scripts.check_oracles import value_hash

        self.want = {"columns": sorted(columns), "rows": len(rows), "hash": value_hash(rows, columns)}

    def answer(self, sql):
        return self.want


def _op(oracle=True):
    return SimpleNamespace(name="pip_cap_join", oracle=(lambda: "SELECT 1") if oracle else None)


def test_oracle_check_accepts_the_same_rows_in_any_order():
    rows = [("cap0", 1), ("cap0", 2), ("cap1", 2)]
    oracle = _FixedOracle(rows, ["region_id", "point_id"])
    assert run.check_rows(_op(), rows[::-1], ["region_id", "point_id"], oracle, {}) is None


def test_oracle_check_catches_a_corrupted_row():
    rows = [("cap0", 1), ("cap0", 2), ("cap1", 2)]
    oracle = _FixedOracle(rows, ["region_id", "point_id"])
    bad = [("cap0", 1), ("cap0", 3), ("cap1", 2)]
    assert "hash" in run.check_rows(_op(), bad, ["region_id", "point_id"], oracle, {})
    assert "rows" in run.check_rows(_op(), rows[:2], ["region_id", "point_id"], oracle, {})
    assert "columns" in run.check_rows(_op(), rows, ["region", "point_id"], oracle, {})


def test_pinned_check_without_oracle():
    from scripts.check_oracles import value_hash

    rows = [(1, 0, 0), (2, 1, 0)]
    pins = {"pip_cap_join": {"rows": 2, "hash": value_hash(rows, ["a", "b", "c"])}}
    assert run.check_rows(_op(False), rows, ["a", "b", "c"], None, pins) is None
    assert run.check_rows(_op(False), [(1, 0, 0), (2, 1, 1)], ["a", "b", "c"], None, pins)
    assert run.check_rows(_op(False), rows, ["a", "b", "c"], None, {}) == "no oracle and no pin"


def test_pins_cover_every_op_without_an_oracle():
    pytest.importorskip("pyspark")
    import workloads

    with open(os.path.join(BENCH, "pins.json")) as f:
        pins = json.load(f)
    for wl in workloads.WORKLOADS.values():
        for op in wl["ops"] + wl["checks"]:
            assert op.oracle is not None or op.name in pins, op.name


def test_workloads_match_benchmark_json():
    pytest.importorskip("pyspark")
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
