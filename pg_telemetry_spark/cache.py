"""Pinned-intermediate registry: persist() with a release contract.

A query function that persists a multi-consumer intermediate (a shared
hourly spine, an edge list read by three self-join branches, a shingle
table feeding both signature build and verify) cannot unpersist it
before returning — the returned DataFrame is lazy, and the pin must
survive until the CALLER materializes the result.  Before round 13
those sites called ``.persist()`` bare, and in any multi-query session
(the 317-op correctness sweep, the pytest suite, a notebook) the
cached partitions accumulated until memory-pressure eviction.

``pin`` is the lawful replacement: it persists AND registers the frame
here, and :func:`release_pinned` unpersists everything registered.
The ``@query`` decorator calls ``release_pinned()`` at the top of every
registered-query build, so in every consumer (driver correctness sweep,
bench, tests) at most ONE query's pins are alive at a time — the
previous query's result has been materialized by the time the next
build starts, and unpersisting a pin never affects correctness anyway
(a released parent recomputes; only the scan-once economy is lost).

``tests/test_plan_sweep.py`` asserts the contract suite-wide: after
building each registered query and releasing the session caches, the
SQL CacheManager must be empty — a bare ``.persist()`` anywhere in a
query's build path fails the sweep by name.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Pins are PER-THREAD: the @query decorator releases pins at the top of
# every registered-query build, so a shared list would let concurrent
# builds in one process unpersist each other's pins mid-build
# (recompute-only, but it defeats the scan-once economy).  Thread-local
# storage gives each concurrently-building thread its own pin ledger;
# single-threaded consumers (driver sweep, bench, pytest) see the exact
# old behavior.
_TLS = threading.local()


def _pins() -> list[DataFrame]:
    pins = getattr(_TLS, "pinned", None)
    if pins is None:
        pins = _TLS.pinned = []
    return pins


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_pinned`."""
    df.persist()
    _pins().append(df)
    return df


def release_pinned() -> None:
    """Unpersist this thread's pinned intermediates (idempotent, never
    raises)."""
    pins = _pins()
    for df in pins:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    pins.clear()
