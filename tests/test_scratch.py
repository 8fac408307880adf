"""The process scratch root (``session.scratch_dir``): every directory
the engine writes files into lives under it, and it is gone once the
interpreter exits."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path
from urllib.parse import urlparse

from pg_telemetry_spark.queries import llm_ext
from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import _scratch_root

REPO = Path(__file__).resolve().parent.parent

#: The queries that write files, with the prefix of the dir each makes.
SCRATCH_QUERIES = {
    "src_csv_json": "pgts_fmt_",
    "snk_parquet_part": "pgts_wh_",
    "src_orc": "pgts_orc_",
    "src_schema_evolution": "pgts_evo_",
    "snk_dynamic_overwrite": "pgts_dyn_",
    "src_csv_corrupt": "pgts_csv_",
    "snk_manifest_snapshot": "pgts_snap_",
    "layout_compaction": "pgts_compact_",
    "src_binaryfile": "pgts_binfiles_",
    "snk_foreachbatch": "pgts_sink_",
}


def _run(spark, sf: str) -> list[str]:
    """Collect every scratch-writing query and ``llm_dedup_incr``;
    return the files their results read."""
    registry = all_queries()
    files = []
    for name in (*SCRATCH_QUERIES, "llm_dedup_incr"):
        df = registry[name].fn(spark, sf)
        df.collect()
        files += df.inputFiles()
    return files


def test_query_files_stay_under_the_scratch_root(spark, sf_dir):
    """Each scratch-writing query makes its dir under the scratch root,
    the files their results read back are there too, and so is the
    incremental index.  The temp dir gets no new ``pgts_*`` entry on
    the first run, and no new entry at all on the second (the first may
    unpack the JVM's native libraries there)."""
    sf = str(Path(sf_dir).with_name("sf0.001"))
    root = _scratch_root()
    tmp = tempfile.gettempdir()
    tmp_before = set(os.listdir(tmp))
    root_before = set(os.listdir(root))

    files = _run(spark, sf)
    made = set(os.listdir(root)) - root_before
    for name, prefix in SCRATCH_QUERIES.items():
        assert any(d.startswith(prefix) for d in made), f"{name}: no {prefix}* dir"
    outside = [f for f in files if not urlparse(f).path.startswith(f"{root}/")]
    assert files and not outside, outside
    assert llm_ext._DISK_INDEXES["incr", sf][0].startswith(f"{root}/")
    assert not {e for e in set(os.listdir(tmp)) - tmp_before if e.startswith("pgts_")}

    tmp_before = set(os.listdir(tmp))
    _run(spark, sf)
    assert set(os.listdir(tmp)) - tmp_before == set()


_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from pg_telemetry_spark.session import scratch_dir
print(scratch_dir("x"))
"""


def test_scratch_root_is_removed_at_exit(tmp_path):
    """A process that made a scratch dir leaves nothing in the temp dir
    (``TMPDIR``) once it exits.  No JVM: the root is plain Python."""
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=str(REPO))],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    made = Path(out.stdout.strip())
    assert made.name.startswith("x") and made.parent.parent == tmp_path
    assert made.parent.name.startswith("pgts_")
    assert not made.parent.exists()
    assert list(tmp_path.iterdir()) == []
