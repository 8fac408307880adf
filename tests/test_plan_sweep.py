"""Global plan-shape sweep: scale red-flags must be absent from EVERY
registered query, not just the bench headline (SURVEY.md §4).

For each registered query we build the plan (no execution) and assert:

- no ``CartesianProduct`` anywhere — the one join shape with no scale
  story (BroadcastNestedLoopJoin appears only as documented deliberate
  tiny-broadcasts and is audited per-query in PLANS.md);
- no ``BatchEvalPython`` (row-at-a-time Python) outside the single
  SURVEY-mandated anti-pattern exhibit.

Queries that EXECUTE during construction (streaming micro-batch
drivers, iterative loops, sources that land files) are skipped here:
their plan properties are pinned by their own unit tests, and building
them would execute real jobs.
"""

from __future__ import annotations

import ast
import contextlib
import io
import os
from pathlib import Path

import pytest

from pg_telemetry_spark.cache import release_pinned
from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import clear_session_state

_ALL = all_queries()

#: execute-on-construction queries (streaming harness runs, iterative
#: loops with actions, file-landing sources) — excluded from the
#: explain-only sweep
_EXECUTES = {
    name for name, q in _ALL.items() if q.group == "streaming"
} | {
    "sql_recursive_hierarchy",  # frontier loop runs per-level jobs
    "llm_dedup_incr",  # materializes the base index eagerly
    "llm_bpe_train",  # merge-round driver loop collects per round
    "llm_bpe_apply",  # trains the merge table first (same loop)
    "src_binaryfile",  # lands files via foreachPartition
    "snk_parquet_part",  # writes a partitioned directory
    "src_jdbc_pg",  # JDBC seam
    "src_kafka_roundtrip",  # Kafka seam
}

#: the documented row-at-a-time exhibits (SURVEY §2.11): the scalar
#: anti-pattern demo, and the Python UDTF (UDTF evaluation is a
#: Python-eval node by construction — it exists to cover the API)
_ROW_PY_OK = {"udf_scalar_py", "udf_python_udtf"}

_SWEEP = sorted(n for n in _ALL if n not in _EXECUTES)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module", autouse=True)
def _cold_caches(spark):
    """Run the sweep against an EMPTY CacheManager: disable the
    session table cache (plans become the audited cold pushdown
    plans) and drop whatever earlier test files cached, so the
    per-query no-leaked-cache assertion below is exact."""
    old = os.environ.get("PG_TELEMETRY_SPARK_NO_TABLE_CACHE")
    os.environ["PG_TELEMETRY_SPARK_NO_TABLE_CACHE"] = "1"
    clear_session_state()
    release_pinned()
    spark.catalog.clearCache()
    yield
    if old is None:
        os.environ.pop("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", None)
    else:
        os.environ["PG_TELEMETRY_SPARK_NO_TABLE_CACHE"] = old


@pytest.mark.parametrize("name", _SWEEP)
def test_no_scale_red_flags_in_plan(name, spark, sf_dir):
    plan = _plan(_ALL[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in _ROW_PY_OK:
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in plan"
        )
    # No-leaked-cache contract (round 13): after releasing the pin
    # registry and the deliberate session memos, the SQL
    # CacheManager must be EMPTY — DataFrame.persist registers there
    # at call time (no action needed), so a bare un-released persist
    # anywhere in this query's build path fails here by name.
    release_pinned()
    clear_session_state()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name}: build left a cached DataFrame behind "
        "(use pg_telemetry_spark.cache.pin or a cleared session cache)"
    )


def _persists_outside_memo(src: str) -> list[int]:
    """Lines of ``.persist()`` calls not made inside a ``memo(...)``
    call's arguments."""
    tree = ast.parse(src)
    in_memo = {
        id(inner)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "memo"
        for inner in ast.walk(node)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "persist"
        and id(node) not in in_memo
    ]


def test_no_bare_persist_in_query_sources():
    """Static leg of the cache contract: query modules must route
    every persist through ``cache.pin`` (released by the registry
    hook) or the session memo (``session.memo``, cleared by
    ``clear_session_state``) — a persist is lawful only inside a
    ``memo(...)`` call.  No file is exempt."""
    qdir = Path(__file__).resolve().parent.parent / "pg_telemetry_spark" / "queries"
    offenders = []
    for p in sorted(qdir.glob("*.py")):
        src = p.read_text()
        offenders += [f"{p.name}:{i}" for i in _persists_outside_memo(src)]
        # .cache() is persist() by another name: any file using it
        # must also unpersist (the corrupt-record reader releases in
        # a finally; the runtime isEmpty sweep checks the pairing
        # actually executes)
        if any(
            ".cache()" in line.split("#", 1)[0] for line in src.splitlines()
        ) and ".unpersist()" not in src:
            offenders.append(f"{p.name}: .cache() without unpersist")
    assert not offenders, f"bare .persist()/.cache() outside pin(): {offenders}"


def _conf_changes(src: str) -> list[int]:
    """Lines of ``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]


def test_conf_changes_only_in_session_module():
    """Static leg of the conf contract: session.py owns every session
    conf change — prepare_session applies the engine confs once per
    session, and scoped_confs sets and restores temporary ones.  A
    ``.conf.set(``/``.conf.unset(`` anywhere else in the package is a
    second save/restore copy that can leak a conf past its block."""
    pkg = Path(__file__).resolve().parent.parent / "pg_telemetry_spark"
    offenders = [
        f"{p.relative_to(pkg)}:{line}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "session.py"
        for line in _conf_changes(p.read_text())
    ]
    assert not offenders, f"conf set/unset outside session.py: {offenders}"


def _tempfile_uses(src: str) -> list[int]:
    """Lines that import or name the ``tempfile`` module."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if (
            isinstance(node, ast.Import)
            and any(alias.name == "tempfile" for alias in node.names)
        )
        or (isinstance(node, ast.ImportFrom) and node.module == "tempfile")
        or (isinstance(node, ast.Name) and node.id == "tempfile")
    ]


def test_tempfile_only_in_session_module():
    """``session.scratch_dir`` makes every directory the engine writes
    into, under the one process root that is removed at exit.  A
    ``tempfile`` use anywhere else in the package is a dir that lives
    outside that root and outlives the run."""
    pkg = Path(__file__).resolve().parent.parent / "pg_telemetry_spark"
    offenders = [
        f"{p.relative_to(pkg)}:{line}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "session.py"
        for line in _tempfile_uses(p.read_text())
    ]
    assert not offenders, f"tempfile outside session.py: {offenders}"


def _stream_starts(src: str) -> list[int]:
    """Lines of ``.writeStream`` attributes and ``.trigger(...)`` calls."""
    return [
        node.end_lineno
        for node in ast.walk(ast.parse(src))
        if (isinstance(node, ast.Attribute) and node.attr == "writeStream")
        or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "trigger"
        )
    ]


def test_streams_start_only_in_the_runner():
    """``streaming.run_available_now`` is the one place a streaming
    query starts, so every query runs with its checkpoint's file
    manager and scoped confs.  A ``.writeStream`` or ``.trigger(``
    anywhere else in the package is a second start/await copy."""
    pkg = Path(__file__).resolve().parent.parent / "pg_telemetry_spark"
    runner = pkg / "streaming" / "__init__.py"
    offenders = [
        f"{p.relative_to(pkg)}:{line}"
        for p in sorted(pkg.rglob("*.py"))
        if p != runner
        for line in sorted(_stream_starts(p.read_text()))
    ]
    assert not offenders, f"stream started outside the runner: {offenders}"


def _counted_repartitions(src: str) -> list[int]:
    """Lines of ``.repartition(...)`` calls whose first argument is not
    a column (a string literal or a Column-building call) — a fixed
    count, a count variable, or no argument at all."""

    def by_column(call: ast.Call) -> bool:
        first = call.args[0] if call.args else None
        return not call.keywords and (
            isinstance(first, ast.Call)
            or (isinstance(first, ast.Constant) and isinstance(first.value, str))
        )

    # func.end_lineno is the ``.repartition`` line inside a chain
    return [
        node.func.end_lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "repartition"
        and not by_column(node)
    ]


def test_warehouse_writes_repartition_by_column_only():
    """The collector's warehouse writes hash-cluster by series and let
    AQE size the shuffle: a ``REPARTITION_BY_COL`` exchange is
    coalesced to the advisory size, while a counted repartition is a
    ``REPARTITION_BY_NUM`` exchange AQE never coalesces — a fixed file
    count per tick, however small the batch."""
    pkg = Path(__file__).resolve().parent.parent / "pg_telemetry_spark"
    files = [
        *sorted((pkg / "sinks").rglob("*.py")),
        *sorted((pkg / "warehouse").rglob("*.py")),
        pkg / "collector.py",
    ]
    offenders = [
        f"{p.relative_to(pkg)}:{line}"
        for p in files
        for line in _counted_repartitions(p.read_text())
    ]
    assert not offenders, f"repartition by count in a warehouse write: {offenders}"
