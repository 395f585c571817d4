"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, trace  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_hash_other_seed_other_hash(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    assert not a["cached"] and a["hash"] == b["hash"]
    assert c["hash"] != a["hash"]
    again = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    assert again["cached"] and again["hash"] == a["hash"]
    assert gen.content_hash(a["dir"]) == a["hash"]


def _span(i, start, end, parent=None, layer="queries"):
    return trace.Span(id=f"s{i}", name=f"n{i}", layer=layer, kind="call",
                      start=start, end=end, parent=parent, run="r0")


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, "s0"),
        _span(2, 3.0, 5.0, "s0"),  # overlaps s1: covered time is 1..5
        _span(3, 8.0, 12.0, "s0"),  # runs past its parent: clipped at 10
        _span(4, 1.5, 2.0, "s1"),  # grandchild: only s1 loses it
    ]
    st = trace.self_times(spans)
    assert st["s0"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["s1"] == pytest.approx(3.0 - 0.5)
    assert st["s2"] == pytest.approx(2.0)
    assert st["s4"] == pytest.approx(0.5)


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4), (5, 4)]) == pytest.approx(3.0)


def _task(stage, launch, finish, run_ms, **metrics):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
         "JVM GC Time": 1, "Disk Bytes Spilled": 0}
    m.update(metrics)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False},
            "Task Metrics": m}


def test_event_log_attribution(tmp_path):
    t0 = 1_000_000
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": t0 + 100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": t0 + 100}},
        _task(0, t0 + 110, t0 + 210, 100, **{"Input Metrics": {"Bytes Read": 2048, "Records Read": 7}}),
        _task(0, t0 + 100, t0 + 500, 400, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 4096}}),
        _task(0, t0 + 100, t0 + 200, 100),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": t0 + 100, "Completion Time": t0 + 600}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": t0 + 600},
        # a streaming micro-batch job: no group, attributed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": t0 + 2100,
         "Stage IDs": [2], "Properties": {"sql.streaming.queryId": "q"}},
        _task(2, t0 + 2100, t0 + 2300, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": t0 + 2300},
        # a job of a span outside the measured runs: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": t0 + 3000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "s9"}},
        _task(3, t0 + 3000, t0 + 3100, 100),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = trace.parse_event_log(str(path))
    assert stages[0].tasks.tasks == 3 and stages[0].tasks.busy_s == pytest.approx(0.6)
    assert 1 not in stages  # skipped stage: no events

    offset = t0 / 1e3  # span clock 0 == epoch t0
    spans = [
        _span(0, 0.0, 1.0, layer="queries"),
        _span(1, 0.05, 0.8, "s0", layer="ops"),
        _span(2, 2.0, 2.5, layer="streaming"),
    ]
    layers, runtime = trace.attribute(spans, jobs, stages, offset)
    ops = layers["ops"]
    assert (ops.jobs, ops.stages, ops.tasks.tasks) == (1, 1, 3)
    assert ops.tasks.shuffle_write_b == 4096 and ops.tasks.input_records == 7
    assert ops.exec_s == pytest.approx(0.5)  # job 0.1..0.6 inside span 0.05..0.8
    assert ops.skew == pytest.approx(4.0)  # max 0.4 / median 0.1
    assert ops.io_wall_s == pytest.approx(0.5) and ops.io_busy_s == pytest.approx(0.6)
    assert ops.tasks.sched_wait_s == pytest.approx(0.01)
    assert layers["queries"].jobs == 0
    assert layers["streaming"].jobs == 1 and layers["streaming"].exec_s == pytest.approx(0.2)
    assert runtime.jobs == 2 and runtime.tasks.tasks == 4


def test_benchmark_json_lists_the_per_layer_metrics_run_emits():
    from perfbench import run, workloads

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.UNITS[m["name"]] for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_open_loop_files_are_shifted_copies_with_new_ids(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import workloads

    inputs = gen.ensure_inputs(str(tmp_path / "cache"), "taxi_elt", 3)
    with open(os.path.join(inputs["dir"], "truth.json")) as fh:
        inputs["truth"] = json.load(fh)
    wl = workloads.EventsStream(inputs, str(tmp_path / "work"))
    paths = workloads.stage_open_loop_files(wl, str(tmp_path / "stage"), 8)
    assert len(paths) == 8
    tables = [pq.read_table(p).to_pydict() for p in paths]
    n = gen.EVENTS_FILES
    shift_s = n * gen.EVENTS_FILE_SPAN_S
    for k in range(n, len(tables)):
        a, b = tables[k - n], tables[k]
        assert "_sentinel" not in b["event_type"]
        assert not set(a["event_id"]) & set(b["event_id"])
        assert [(t - s).total_seconds() for s, t in zip(a["ts"], b["ts"])] == [shift_s] * len(a["ts"])
        assert a["event_type"] == b["event_type"] and a["value"] == b["value"]


def test_slope():
    from perfbench import workloads

    assert workloads._slope([0, 1, 2, 3], [1.0, 1.5, 2.0, 2.5]) == pytest.approx(0.5)
    assert workloads._slope([0, 1, 2], [3.0, 1.0, 3.0]) == pytest.approx(0.0)
