"""Every script under ``tools/`` imports only engine names that exist.

No test runs most of the tools, so renaming or deleting an engine name
would break them silently.  This parses each script and resolves every
``from pg_telemetry_spark... import name`` against the package, without
running the script.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _engine_imports(src: str) -> list[tuple[int, str, str]]:
    """(line, module, name) of each ``from pg_telemetry_spark... import name``."""
    return [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "pg_telemetry_spark"
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    """``name`` is an attribute or a submodule of ``module``."""
    try:
        if hasattr(importlib.import_module(module), name):
            return True
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_resolver_rejects_a_missing_name():
    src = "from pg_telemetry_spark.session import no_such_name\n"
    assert _engine_imports(src) == [(1, "pg_telemetry_spark.session", "no_such_name")]
    assert not _resolves("pg_telemetry_spark.session", "no_such_name")
    assert not _resolves("pg_telemetry_spark.no_such_module", "x")
    assert _resolves("pg_telemetry_spark.session", "loop_sizing")
    assert _resolves("pg_telemetry_spark.queries", "streaming_ops")


def test_tool_imports_resolve():
    scripts = sorted(TOOLS.glob("*.py"))
    assert scripts, f"no scripts under {TOOLS}"
    unresolved = [
        f"{p.name}:{line}: from {module} import {name}"
        for p in scripts
        for line, module, name in _engine_imports(p.read_text())
        if not _resolves(module, name)
    ]
    assert not unresolved, f"tool imports that no longer resolve: {unresolved}"
