"""pg_telemetry_spark — a PySpark-native telemetry/analytics engine.

A brand-new engine with the query and data-processing capabilities of
the ``FRiMN/pg_telemetry`` class of systems (Postgres -> ClickHouse
telemetry pipelines): Structured Streaming ingestion, a partitioned
columnar warehouse layout, the full time-series query surface
(counter deltas/rates, time buckets, sessions, last-point, gap-fill),
a complete relational operator set, and LLM-data-pipeline extensions
(dedup, similarity search, multimodal columns, text analysis).

Everything is idiomatic Spark DataFrame/SQL — declarative plans that
Catalyst/Tungsten optimize — designed for 100 TB scale even though the
test harness runs on local fixtures. See SURVEY.md for the blueprint.

Importing the package inside a Spark Python worker (every Arrow kernel
does, when its closure is unpickled) installs one patch there:
:func:`_lazy_zip_invalidation`.  Before each task the worker calls
``importlib.invalidate_caches()``, and on Python 3.10-3.12 that makes
every ``zipimporter`` re-read its archive's whole central directory:
one importer per package imported from ``pyspark.zip``, plus py4j and
the spark-core jar, about 27,000 entries and 0.1-0.3 s a task.  The
patch re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since its last read, so a newly shipped or rewritten zip
still imports fresh.  The driver and interpreters that re-read lazily
(3.13 and later: ``zipimporter._get_files``) are left untouched.  See
SCALE.md, "Python worker tasks".
"""

__version__ = "0.1.0"

import os
import zipimport

from pyspark import TaskContext


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stat changed since the archive's last read; otherwise the
    importer re-binds to the shared ``_zip_directory_cache`` entry.
    Installs once; a no-op where the interpreter already re-reads
    lazily."""
    cls = zipimport.zipimporter
    stdlib = cls.invalidate_caches
    if hasattr(cls, "_get_files") or hasattr(stdlib, "__wrapped__"):
        return
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        stdlib(self)
        if stamp is not None:
            read_at[self.archive] = stamp

    invalidate_caches.__wrapped__ = stdlib
    cls.invalidate_caches = invalidate_caches


if TaskContext.get() is not None:
    _lazy_zip_invalidation()

from pg_telemetry_spark.session import get_session, prepare_session
from pg_telemetry_spark.tables import load_tables, TABLE_NAMES

__all__ = ["get_session", "prepare_session", "load_tables", "TABLE_NAMES"]
