"""The plan gate (scripts/plan_gate.py) on the test session: its
final-plan parser, one pass of both rule sets over three operators,
its guard against executions the status store has evicted, and its
exit status when a checked query fails to run."""

from __future__ import annotations

import functools
import re

import pytest
from pyspark.sql import functions as F

from flume_hive_batched_sink_spark import operators as ops
from flume_hive_batched_sink_spark.session import executed_plans
from scripts import plan_gate as gate
from scripts.plan_gate import (
    ALLOWED,
    GateError,
    Plan,
    mask,
    plan_checks,
    run_operator,
    sweep_verdict,
)

from .conftest import SF_SMALL, last_execution_id


def test_final_plan_counts_each_node_once(spark):
    """The store's FORMATTED text prints the tree and the details of
    both the final and the initial adaptive plan: join_cross's one
    nested loop is named 4 times there, once in the parsed plan."""
    mark = last_execution_id(spark)
    run, _ = run_operator(spark, "join_cross", SF_SMALL, mark)
    [(_i, _root, _desc, raw)] = executed_plans(spark, mark)
    [(_i, _desc, plan)] = run.executions
    assert raw.count("BroadcastNestedLoopJoin") == 4, raw
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan.text
    assert "== Initial Plan ==" not in plan.text
    assert "== Final Plan ==" in plan.text


def test_final_plan_keeps_the_join_side_after_a_nested_cache(spark):
    """Spark prints the plan markers of an adaptive plan inside a
    cached relation left of the plan, so the join side printed after
    such a plan's initial subtree can sit deeper than that subtree's
    root. A cache that self-joins another cache: the final plan keeps
    the outer cache's scan and both sides' scans of the inner one."""
    inner = spark.range(1000).groupBy((F.col("id") % 50).alias("k")).count().cache()
    outer = inner.alias("a").join(inner.alias("b"), "k").cache()
    try:
        mark = last_execution_id(spark)
        outer.groupBy().count().write.format("noop").mode("overwrite").save()
        raw = executed_plans(spark, mark)[-1][3]
        plan = Plan(raw)
        assert plan.count("InMemoryTableScan") == 3, plan.tree
        assert "== Initial Plan ==" not in plan.tree
    finally:
        outer.unpersist()
        inner.unpersist()

def test_gate_pass_over_three_operators(spark):
    """An allowlisted operator, a clean one and a stream operator get
    the right verdicts, and two runs of one operator give the same
    masked plan text."""
    mark = last_execution_id(spark)
    runs = {}
    for name in ("join_cross", "scan_pruned", "stream_tumbling_5min", "join_cross"):
        run, mark = run_operator(spark, name, SF_SMALL, mark)
        runs.setdefault(name, []).append(run)

    cross = [sweep_verdict(r) for r in runs["join_cross"]]
    assert cross[0] == cross[1] == {
        "bnlj": 1, "cartesian": 0, "allowed": True,
        "reason": ALLOWED["join_cross"],
    }
    [clean] = runs["scan_pruned"]
    assert sweep_verdict(clean) == {
        "bnlj": 0, "cartesian": 0, "allowed": False, "reason": "",
    }
    checks = plan_checks(clean)
    assert len(checks) == 2 and all(c["pass"] for c in checks), checks

    [stream] = runs["stream_tumbling_5min"]
    batches = [d for _i, d, _p in stream.executions if "batch = " in d]
    assert batches, [d for _i, d, _p in stream.executions]
    assert sweep_verdict(stream)["bnlj"] == 0

    first, second = (mask(r.plan.text) for r in runs["join_cross"])
    assert first == second
    assert not re.search(r"#\d|plan_id=\d", first), first


def test_gate_fails_an_operator_with_evicted_executions(spark):
    """When the first execution after the mark is missing from the
    store (it keeps only spark.sql.ui.retainedExecutions), the gate
    fails the operator rather than check a truncated set: no store
    ever holds an execution -1."""
    with pytest.raises(GateError, match="evicted"):
        run_operator(spark, "scan_pruned", SF_SMALL, -2)


def test_gate_fails_a_checked_query_that_does_not_run(spark, monkeypatch, capsys):
    """A PLANS.md query that raises at the check scale fails the gate
    even when no plan check is keyed to it; the same query running
    cleanly passes."""
    assert "agg_multi" in gate.PLAN_QUERIES and "agg_multi" not in gate.CHECKS
    calls = []

    def agg_multi(spark, sf_dir, fail):
        calls.append(sf_dir)
        if fail and sf_dir == gate.CHECK_SF:
            raise RuntimeError("agg_multi failed at the check scale")
        return spark.range(3)

    monkeypatch.setattr(gate, "get_spark", lambda **_kw: spark)
    monkeypatch.setattr(gate, "SWEEP_SF", SF_SMALL)
    monkeypatch.setitem(ops.QUERIES, "agg_multi", functools.partial(agg_multi, fail=True))
    assert gate.main(["agg_multi"]) == 1
    assert calls == [SF_SMALL, gate.CHECK_SF]
    assert "run_errors=['agg_multi']" in capsys.readouterr().out

    monkeypatch.setitem(ops.QUERIES, "agg_multi", functools.partial(agg_multi, fail=False))
    assert gate.main(["agg_multi"]) == 0
    assert "run_errors=[]" in capsys.readouterr().out
