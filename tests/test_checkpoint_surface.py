"""Every lineage cut makes one decision: a reliable checkpoint when the
session has a checkpoint dir, a local checkpoint otherwise. That
decision lives in ``operators/dedup.py::lineage_cut``; a second copy
fails here. No Spark session: this walks the package source."""

from __future__ import annotations

import ast
import glob
import os

import utility_service_areas_spark


def _checkpoint_dir_calls(tree: ast.AST) -> list[str]:
    """Names of the functions that call ``getCheckpointDir`` (one entry
    per call; ``<module>`` for a call outside any function)."""
    found: list[str] = []

    def visit(node: ast.AST, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getCheckpointDir"
        ):
            found.append(scope)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "<module>")
    return found


def test_checkpoint_dir_is_read_only_by_lineage_cut():
    pkg = os.path.dirname(utility_service_areas_spark.__file__)
    sites: list[tuple[str, str]] = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        sites += [(rel, fn) for fn in _checkpoint_dir_calls(tree)]
    assert sites == [("operators/dedup.py", "lineage_cut")], sites
