"""The package's settable surface is its pipeline definition plus two
deployment settings. A new environment switch fails here, so a tuning
knob has to justify itself in review instead of lingering as a second
code path. No Spark session: this walks the package source."""

from __future__ import annotations

import ast
import glob
import os

import utility_service_areas_spark

ALLOWED = {"PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal>"


def _env_vars_read(tree: ast.AST) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(
            node.func, (ast.Attribute, ast.Name)
        ):
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else func.id
            environ_method = isinstance(func, ast.Attribute) and _is_environ(
                func.value
            )
            if name == "getenv" or environ_method:
                names.add(_key(node.args[0] if node.args else None))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            names.add(_key(node.left))
    return names


def test_package_reads_only_deployment_env_vars():
    pkg = os.path.dirname(utility_service_areas_spark.__file__)
    found: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for name in _env_vars_read(tree):
            found.setdefault(name, []).append(os.path.relpath(path, pkg))
    assert set(found) == ALLOWED, found
