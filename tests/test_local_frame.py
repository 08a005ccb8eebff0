"""`registry.local_frame`: the package's one way to build a frame from
driver-side rows. It must give the rows and types
`createDataFrame(<list>)` gives, on every schema shape the package
builds, while planning a LocalRelation (no `Scan ExistingRDD`, so no
Python worker starts when it executes)."""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "flume_hive_batched_sink_spark",
)

SHAPES = {
    "array<double>": (
        [(0, [0.5, -1.25, 3.0]), (1, []), (2, None)],
        "pos int, p array<double>",
    ),
    "array<array<double>>": (
        [(7, 3, [[1.0, 2.0], [], [0.125]]), (8, 4, [])],
        "probe_id long, cell_id long, tabs array<array<double>>",
    ),
    "boolean": (
        [("click", 3, True), ("view", 4, False), ("buy", 5, None)],
        "event_type string, true_count bigint, cms_ok boolean",
    ),
    "nulls": (
        [(1, None, 0.5), (None, 2, None), (3, 4, -0.0)],
        "dim bigint, n bigint, weight double",
    ),
    "zero rows": (
        [],
        "l_returnflag string, p25 double, p50 double",
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_frame_matches_create_dataframe(spark, shape):
    from flume_hive_batched_sink_spark.operators.registry import local_frame

    rows, ddl = SHAPES[shape]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    analyzed = got._jdf.queryExecution().analyzed().toString()
    assert analyzed.startswith("LocalRelation"), analyzed
    executed = got._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in executed, executed


def _create_dataframe_calls() -> list[tuple[str, str | None, int]]:
    """(file, innermost enclosing function, line) of every
    `.createDataFrame(` call in the package."""
    out = []

    def visit(node: ast.AST, rel: str, fn: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append((rel, fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                tree = ast.parse(open(path, encoding="utf-8").read())
                visit(tree, os.path.relpath(path, PKG), None)
    return out


def test_only_local_frame_calls_create_dataframe():
    """Every driver-built frame in the package goes through
    local_frame: no other function calls `.createDataFrame(`."""
    calls = _create_dataframe_calls()
    assert {(rel, fn) for rel, fn, _ln in calls} == {
        ("operators/registry.py", "local_frame")
    }, calls
