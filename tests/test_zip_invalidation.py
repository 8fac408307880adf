"""Lazy zip-directory invalidation in Spark Python workers.

Before each task a Spark Python worker calls
``importlib.invalidate_caches()``, which on Python 3.10-3.12 makes
every ``zipimporter`` re-read its archive's central directory.  The
package patches that, inside workers only, to re-read an archive only
when its stat changed (``pg_telemetry_spark._lazy_zip_invalidation``).
The unit tests install the patch through the same function the
package calls, without the worker gate, and restore the stdlib method
afterwards; the Spark tests check the worker and the driver.
"""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd
import pytest

import pg_telemetry_spark
from pg_telemetry_spark.operators import ann

eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter re-reads zip directories lazily",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture()
def reads(monkeypatch):
    """Install the patch for this test only; count directory reads."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    counted = [0]
    stdlib_read = zipimport._read_directory

    def counting(archive):
        counted[0] += 1
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    pg_telemetry_spark._lazy_zip_invalidation()
    return counted


@eager
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    before = reads[0]
    importer.invalidate_caches()
    assert reads[0] == before
    assert importer.find_spec("a") is not None


@eager
def test_rewritten_archive_is_read_once(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert importer.find_spec("b") is None
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    before = reads[0]
    importer.invalidate_caches()
    assert reads[0] == before + 1
    spec = importer.find_spec("b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2


@eager
def test_install_wraps_once(reads):
    patched = zipimport.zipimporter.invalidate_caches
    assert hasattr(patched, "__wrapped__")
    pg_telemetry_spark._lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert not hasattr(patched.__wrapped__, "__wrapped__")


def test_lazy_interpreter_is_left_alone(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    pg_telemetry_spark._lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_driver_keeps_stdlib_invalidation():
    method = zipimport.zipimporter.invalidate_caches
    assert not hasattr(method, "__wrapped__")
    assert method.__qualname__ == "zipimporter.invalidate_caches"


@eager
def test_worker_tasks_reread_nothing(spark):
    """One-task jobs until a worker process serves a second one (idle
    workers are reused in turn): by then the worker has imported the
    engine and read every archive, so neither the task's own setup nor
    the kernel's ``invalidate_caches`` reads a directory again.  At
    the stdlib method every task reads once per zip importer."""

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        ann.assign_nearest_cell  # unpickling this closure imports the engine
        counted = [0]
        stdlib_read = zipimport._read_directory

        def counting(archive):
            counted[0] += 1
            return stdlib_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()], "reads": [counted[0]], "importers": [importers]}
            )

    job = spark.range(1).repartition(1).mapInPandas(
        count_reads, "pid long, reads long, importers long"
    )
    seen: set[int] = set()
    repeat = None
    for _ in range(2 * spark.sparkContext.defaultParallelism + 2):
        row = job.collect()[0]
        if row["pid"] in seen:
            repeat = row
            break
        seen.add(row["pid"])
    assert repeat is not None, "no Python worker served two tasks"
    assert repeat["importers"] > 0
    assert repeat["reads"] == 0
