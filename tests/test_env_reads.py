"""Guard against tuning knobs growing back as environment variables.

The package may read only deployment settings from the environment
(where scratch space and test data live, how many cores and how much
driver memory to use). Execution strategy is not a deployment
setting: it is picked in code from a measured regime, so a second
strategy behind an env flag is rejected here.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "flume_hive_batched_sink_spark",
)

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SCRATCH",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEMORY",
}


def _env_key(node: ast.AST, parent: dict) -> ast.AST | None:
    """The key expression of one environment access, or None when the
    access shape is not recognised (which the test reports too)."""
    up = parent.get(node)
    if isinstance(node, ast.Attribute) and node.attr == "getenv":
        return up.args[0] if isinstance(up, ast.Call) and up.args else None
    if isinstance(up, ast.Subscript):
        return up.slice
    if isinstance(up, ast.Compare):
        return up.left
    call = parent.get(up)
    if (
        isinstance(up, ast.Attribute)
        and up.attr in ("get", "pop", "setdefault")
        and isinstance(call, ast.Call)
        and call.args
    ):
        return call.args[0]
    return None


def _env_reads() -> list[tuple[str, int, str | None]]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path, encoding="utf-8").read())
            parent = {
                c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)
            }
            for node in ast.walk(tree):
                hit = (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                ) or (isinstance(node, ast.Name) and node.id == "environ")
                if not hit:
                    continue
                key = _env_key(node, parent)
                name = (
                    key.value
                    if isinstance(key, ast.Constant)
                    and isinstance(key.value, str)
                    else None
                )
                out.append((os.path.relpath(path, PKG), node.lineno, name))
    return out


def test_env_reads_are_deployment_settings_only():
    reads = _env_reads()
    assert reads, "scanner found no environment reads at all"
    bad = [r for r in reads if r[2] not in ALLOWED]
    assert not bad, f"environment reads outside {sorted(ALLOWED)}: {bad}"
