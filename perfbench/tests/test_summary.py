import json

import pytest

import summary


def test_tail_needs_ten_beyond():
    assert summary.tail([1.0] * 10) is None
    t = summary.tail([float(i) for i in range(11)])
    assert t == {"value": 0.0, "percentile": 0.0, "n": 11}
    t = summary.tail([float(i) for i in range(101)])
    assert t["value"] == 90.0 and t["percentile"] == 90.0 and t["n"] == 101
    assert sum(1 for x in range(101) if x > t["value"]) == summary.TAIL_BEYOND


def test_tally_counts_an_op_once():
    t = summary.Tally()
    a, b = t.attempt(), t.attempt()
    t.fail(a, "raised")
    t.fail(a, "and also a wrong answer")
    assert (t.attempted, t.failed, t.failed_frac) == (2, 1, 0.5)
    assert b not in t.failed_ops


def _declared():
    return [{"name": "x_s", "unit": "s"}, {"name": "n", "unit": "count"}]


def test_result_line_is_unit_tagged():
    t = summary.Tally()
    t.attempt()
    line = json.loads(summary.result_line(
        t, {"x_s": summary.metric(1.5, "s"), "n": summary.metric(3, "count"),
            "extra": summary.metric(1, "s")}, _declared()))
    assert line == {"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"x_s": {"value": 1.5, "unit": "s"},
                                "n": {"value": 3, "unit": "count"}}}


def test_result_line_marks_failures_incorrect():
    t = summary.Tally()
    t.fail(t.attempt(), "wrong answer")
    metrics = {"x_s": summary.metric(1.0, "s"), "n": summary.metric(1, "count")}
    assert json.loads(summary.result_line(t, metrics, _declared()))["correct"] is False


@pytest.mark.parametrize("metrics", [
    {"x_s": summary.metric(1.0, "s")},                                  # missing
    {"x_s": summary.metric(1.0, "ms"), "n": summary.metric(1, "count")},  # unit
    {"x_s": summary.metric(None, "s"), "n": summary.metric(1, "count")},  # not measured
    {"x_s": summary.metric(float("nan"), "s"), "n": summary.metric(1, "count")},
])
def test_result_line_rejects_bad_metrics(metrics):
    t = summary.Tally()
    t.attempt()
    with pytest.raises((KeyError, ValueError)):
        summary.result_line(t, metrics, _declared())
