"""Guard: `operators/registry.py` is the only module that turns hex
into an integer, on either engine.

Every hashed integer the package derives (MinHash, Bloom positions,
samples, shards) is an md5 hex prefix read as a BIGINT, and the two
engines agree only because both read it through one twin pair,
`hex_int` (Spark's `conv`) and `sql_hex_int` (DuckDB's `'0x' ||`
cast). A second spelling — an inline `conv`, a `'0x' ||` cast or a
`strpos`/`instr('0123456789abcdef', …)` digit lookup — is rejected
here.
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "flume_hive_batched_sink_spark",
)
TWIN = os.path.join("operators", "registry.py")
SQL = re.compile(r"'0x'\s*\|\||(strpos|instr)\(\s*'0123456789abcdef'", re.I)


def _hex_sites() -> list[tuple[str, int, str]]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path, encoding="utf-8").read())
            for node in ast.walk(tree):
                fn = node.func if isinstance(node, ast.Call) else None
                if (isinstance(fn, ast.Attribute) and fn.attr == "conv") or (
                    isinstance(fn, ast.Name) and fn.id == "conv"
                ):
                    out.append((rel, node.lineno, "conv"))
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and SQL.search(node.value)
                ):
                    out.append((rel, node.lineno, SQL.search(node.value)[0]))
    return out


def test_only_the_registry_turns_hex_into_integers():
    sites = _hex_sites()
    assert {s[0] for s in sites} >= {TWIN}, "scanner missed the twin pair"
    bad = [s for s in sites if s[0] != TWIN]
    assert not bad, f"hex-to-integer outside {TWIN}: {bad}"
