import json
import os

from perfbench import run
from perfbench.query import QUERY_SETS

with open(run.SPEC) as f:
    SPEC = json.load(f)


def _line(trace, values):
    out = run.result_line(SPEC, trace, values, {"ok": True}, 3, 0)
    # the line must survive a JSON round trip unchanged
    assert json.loads(json.dumps(out)) == out
    return out


def test_untraced_line_carries_every_end_to_end_metric():
    values = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    out = _line(0, values)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["attempted"] == 3 and out["failed"] == 0
    assert out["metrics"] == {
        m["name"]: {"value": 1.5, "unit": m["unit"]}
        for m in SPEC["end_to_end"]
    }


def test_traced_line_carries_every_per_layer_metric():
    out = _line(1, {"session.start_s": 2.0})
    assert list(out["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    assert out["metrics"]["session.start_s"]["value"] == 2.0


def test_failed_check_marks_line_incorrect():
    out = run.result_line(SPEC, 0, {}, {"a": True, "b": False}, 1, 1)
    assert out["correct"] is False


def test_every_workload_is_runnable():
    names = {w["name"] for w in SPEC["workloads"]}
    assert names <= set(run.LAND) | set(QUERY_SETS)


def test_every_benchmarked_query_has_a_per_layer_wall_metric():
    declared = {m["name"] for m in SPEC["per_layer"]}
    for w in SPEC["workloads"]:
        for q in QUERY_SETS.get(w["name"], ()):
            assert f"query.{q}.wall_s" in declared


def test_spec_stays_within_its_contract():
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert any(
        m["name"] == "setup_s" and m["bound"] == max(
            x["bound"] for x in SPEC["end_to_end"]
        )
        for m in SPEC["end_to_end"]
    )
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert os.path.getsize(run.SPEC) <= 64 * 1024
