"""Every script under ``tools/`` imports only engine names that exist.

No test runs most of the tools, so renaming or deleting an engine name
would break them silently.  This parses each script and resolves every
``from pg_telemetry_spark... import name`` against the package, without
running the script.  It also checks that no tool names an absolute
checkout path.
"""

from __future__ import annotations

import ast
import importlib
import re
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


def _checkout_paths(src: str) -> list[str]:
    """Absolute paths in ``src`` that lie inside an engine checkout: a
    directory holding ``pg_telemetry_spark/session.py`` is the path or
    one of its parents.  Fixture paths outside any checkout pass."""
    found = []
    for token in re.findall(r"(?<![\w.)\]])/[\w.-]+(?:/[\w.-]+)*", src):
        path = Path(token)
        if any(
            (p / "pg_telemetry_spark" / "session.py").is_file()
            for p in (path, *path.parents)
        ):
            found.append(token)
    return found


def test_checkout_path_detector():
    repo = TOOLS.parent
    src = f'sys.path.insert(0, "{repo}")\nOUT = "{repo}/X.json"\nx = n/16\n'
    assert _checkout_paths(src) == [str(repo), f"{repo}/X.json"]
    assert _checkout_paths('SF = "/no/such/fixtures/sf0.01"\n') == []


def test_tools_name_no_checkout_path():
    """A tool that hard-codes a checkout path imports and grades that
    checkout's engine when run from any other one; tools derive the
    root from ``__file__``."""
    offenders = [
        f"{p.name}: {path}"
        for p in sorted(TOOLS.iterdir())
        if p.suffix in (".py", ".sh")
        for path in _checkout_paths(p.read_text())
    ]
    assert not offenders, f"tools naming an absolute checkout path: {offenders}"
