"""Per-layer metrics from spans and from Spark's event log, without a
Spark session: a stand-in tracer carries hand-built spans."""

import json
import os

import pytest

import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Tracer:
    def __init__(self, spans, eventlog_dir=""):
        self.spans = spans
        self.eventlog_dir = eventlog_dir
        self.bytes_written = {("catalog", None): 100, ("catalog", 3): 40,
                              ("event_store", 3): 50}
        self.own_s = {None: 1.0, 1: 0.002, 3: 0.004}


def _span(sid, name, op, parent, start, end):
    return {"id": sid, "name": name, "op": op, "parent": parent,
            "start": start, "end": end}


def _run():
    spans = [
        # set-up: CREATE RECOMMENDER (no op id)
        _span(0, "engine.create", None, None, 0.0, 2.0),
        _span(1, "svd.train", None, 0, 0.5, 1.5),
        # op 1: a materialized RECOMMEND
        _span(2, "plans.sql", 1, None, 10.0, 10.5),
        _span(3, "engine.recommend", 1, 2, 10.1, 10.4),
        _span(4, "catalog.load_models", 1, 3, 10.1, 10.2),
        _span(5, "catalog.update_meta", 1, 3, 10.2, 10.25),
        _span(6, "cf.predict", 1, 3, 10.3, 10.35),
        # op 3: an INSERT whose hook retrains
        _span(7, "event_store.append", 3, None, 20.0, 23.0),
        _span(8, "event_store.read", 3, 7, 20.5, 20.6),
        _span(9, "engine.record_insert", 3, 7, 21.0, 23.0),
        _span(10, "engine.train", 3, 9, 21.0, 22.0),
        _span(11, "cf.train", 3, 10, 21.0, 21.5),
        _span(12, "cf.train", 3, 11, 21.1, 21.4),     # nested: counted once
        _span(13, "catalog.put", 3, 9, 22.0, 23.0),
    ]
    ops = [{"id": 1, "type": "recommend", "strategy": "FilterRecommend",
            "latency_s": 0.9, "collect_s": 0.4},
           {"id": 3, "type": "insert", "strategy": None,
            "latency_s": 3.0, "collect_s": 3.0}]
    numbers = {"perfbench:1:recommend:build": {"jobs": 1, "stages": 1, "tasks": 1,
                                                 "executor_run_s": 0.1,
                                                 "shuffle_write_bytes": 0,
                                                 "spill_bytes": 0},
               "perfbench:1:recommend:exec": {"jobs": 2, "stages": 3, "tasks": 6,
                                                "executor_run_s": 0.3,
                                                "shuffle_write_bytes": 900,
                                                "spill_bytes": 0}}
    return tracing.layer_metrics(_Tracer(spans), ops, numbers, live_dirs=4,
                                 recommend_p50=0.9)


def test_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {d["name"]: d["unit"] for d in json.load(f)["per_layer"]}
    got = {k: v["unit"] for k, v in _run().items()}
    assert got == declared


def test_layer_values():
    m = {k: v["value"] for k, v in _run().items()}
    assert m["plans.sql_s"] == pytest.approx(0.5)     # measured ops only
    assert m["plans.self_s"] == pytest.approx(0.2)
    assert m["plans.strategy.filter"] == 1 and m["plans.strategy.generate"] == 0
    assert m["plans.strategy.filter_p50_s"] == pytest.approx(0.9)
    assert m["engine.recommend_calls"] == 1
    assert m["engine.create_s"] == pytest.approx(2.0)
    assert m["engine.retrains"] == 1
    assert m["catalog.load_models_calls"] == 1
    assert m["catalog.update_meta_calls"] == 1
    assert m["catalog.put_s"] == pytest.approx(1.0)
    assert m["catalog.bytes_written"] == 40         # set-up writes excluded
    assert m["event_store.bytes_written"] == 50
    assert m["cf.train_s"] == pytest.approx(0.5)
    assert m["svd.train_s"] == pytest.approx(1.0)
    assert m["mat.calls"] == 0
    assert m["event_store.append_s"] == pytest.approx(3.0 - 0.1 - 2.0)
    assert m["event_store.live_dirs"] == 4
    assert m["exec.recommend.build_jobs_per_op"] == 1
    assert "exec.insert.build_jobs_per_op" not in m
    assert m["exec.recommend.exec_jobs_per_op"] == 2
    assert m["exec.recommend.stages_per_op"] == 4
    assert m["exec.recommend.tasks_per_stage"] == pytest.approx(7 / 4)
    assert m["exec.recommend.shuffle_write_bytes_per_op"] == 900
    assert m["exec.insert.collect_s"] == pytest.approx(3.0)
    assert m["trace.recommend_p50_s"] == pytest.approx(0.9)
    assert m["trace.self_s"] == pytest.approx(0.003)     # set-up excluded


def test_event_log_is_attributed_to_job_groups(tmp_path):
    def ev(**kw):
        return json.dumps(kw) + "\n"
    metrics = {"Executor Run Time": 250, "Memory Bytes Spilled": 0,
               "Disk Bytes Spilled": 7,
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}
    (tmp_path / "local-1").write_text("".join([
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "perfbench:5:recommend:exec"}}),
        ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": metrics}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": metrics}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
           "Properties": {}}),
        ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": metrics}),
    ]))
    t = tracing.Tracer.__new__(tracing.Tracer)
    t.eventlog_dir = str(tmp_path)
    assert t.spark_numbers() == {"perfbench:5:recommend:exec": {
        "jobs": 1, "stages": 1, "tasks": 2, "executor_run_s": 0.5,
        "shuffle_write_bytes": 80, "spill_bytes": 14}}
