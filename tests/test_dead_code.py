"""Unreachable-code guard: every top-level function and class in the package
must be referenced by name somewhere — the package itself, the tests, the
driver contract (``__spark_entry__.py``) or the benchmark (``perfbench/``).
A definition nothing names is deleted, not kept as documentation."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "p5_rdf_rdb2rdf_spark"


def _sources() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").rglob("*.py")),
    ]


def _names(tree: ast.AST) -> Counter:
    """Identifiers used in code: bare names and attribute accesses."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
    return out


def test_no_unreferenced_top_level_definitions():
    refs: Counter = Counter()
    defs = []
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        refs += _names(tree)
        if PKG in path.parents:
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            ]
    # a name used only inside its own body (recursion) is still unreferenced
    dead = sorted(
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path, node in defs
        if refs[node.name] - _names(node)[node.name] <= 0
    )
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
