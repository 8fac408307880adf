"""prepare_session conf discipline.

prepare_session applies the engine confs the first time it sees a
session object and never again, so a conf the caller changes after
first use survives every later load_table.  Within that first call,
required confs are always applied and SIZING confs are defaults-only,
so a deliberate site config is never overridden.  scoped_confs is the
one save/set/restore helper for temporary conf changes.  get_session
applies the static confs, among them a generated-class cache sized to
the engine's working set.
"""

from __future__ import annotations

import pytest

from pg_telemetry_spark import session
from pg_telemetry_spark.session import (
    FILESYSTEM_CHECKPOINT_MANAGER,
    SIZING_CONFS,
    STATIC_CONFS,
    checkpoint_confs,
    prepare_session,
    scoped_confs,
    sized_shuffle,
)
from pg_telemetry_spark.tables import load_table

_SHUF = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_TZ = "spark.sql.session.timeZone"


@pytest.fixture()
def unprepared(monkeypatch):
    """Make the next prepare_session see the test session as new; the
    real session state (and its memoized frames) comes back after."""
    monkeypatch.setattr(session, "_STATE", None)


def test_caller_conf_survives_load_table(spark, sf_dir):
    saved = {key: spark.conf.get(key) for key in (_AQE, _TZ)}
    try:
        spark.conf.set(_AQE, "false")
        spark.conf.set(_TZ, "America/New_York")
        load_table(spark, sf_dir, "nation")
        assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_TZ) == "America/New_York"
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def test_sizing_conf_applied_over_spark_default(spark, unprepared):
    old = spark.conf.get(_SHUF)
    try:
        spark.conf.set(_SHUF, SIZING_CONFS[_SHUF][0])  # the Spark default
        prepare_session(spark)
        assert spark.conf.get(_SHUF) == SIZING_CONFS[_SHUF][1]
    finally:
        spark.conf.set(_SHUF, old)


def test_sizing_conf_respects_non_default_value(spark, unprepared):
    old = spark.conf.get(_SHUF)
    try:
        spark.conf.set(_SHUF, "17")  # deliberate site/operator value
        prepare_session(spark)
        assert spark.conf.get(_SHUF) == "17"
    finally:
        spark.conf.set(_SHUF, old)


def test_sized_shuffle_cap_survives_prepare_session(spark):
    with sized_shuffle(spark, 4):
        prepare_session(spark)  # load_table inside an operator loop
        assert spark.conf.get(_SHUF) == "4"
    assert spark.conf.get(_SHUF) != "4"


def test_scoped_confs_restores_set_and_unsets_absent_keys(spark):
    absent = "spark.pg_telemetry_spark.test.absent"
    old = spark.conf.get(_SHUF)
    assert spark.conf.get(absent, None) is None
    with scoped_confs(spark, {_SHUF: "3", absent: "x"}):
        assert spark.conf.get(_SHUF) == "3"
        assert spark.conf.get(absent) == "x"
    assert spark.conf.get(_SHUF) == old
    assert spark.conf.get(absent, None) is None


def test_scoped_confs_restores_when_the_block_raises(spark):
    old = spark.conf.get(_AQE)
    with pytest.raises(RuntimeError):
        with scoped_confs(spark, {_AQE: "false"}):
            raise RuntimeError("block failed")
    assert spark.conf.get(_AQE) == old


def test_reliable_checkpoint_dir_engages(spark, tmp_path):
    """With PG_TELEMETRY_SPARK_CHECKPOINT_DIR set, iterative operators
    switch from localCheckpoint (executor-local, unreplicated) to
    reliable checkpoint() into the directory — the conf a real
    cluster sets so lineage-truncated rounds survive executor loss.
    Result must be identical on both paths and the directory must
    actually receive checkpoint data."""
    import os

    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()
    sf = "/root/testdata/sf0.001"
    base = {
        (r.part, r.rank) for r in reg["wl_pagerank"].fn(spark, sf).collect()
    }
    ckpt = tmp_path / "ckpt"
    os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(ckpt)
    try:
        got = {
            (r.part, r.rank) for r in reg["wl_pagerank"].fn(spark, sf).collect()
        }
    finally:
        del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
    assert got == base
    files = [p for p in ckpt.rglob("*") if p.is_file()]
    assert files, "no reliable-checkpoint files written"


def test_changed_checkpoint_dir_reapplied_within_one_app(spark, tmp_path):
    """The session state's ``ckpt_dir`` tracks the last-APPLIED dir:
    changing PG_TELEMETRY_SPARK_CHECKPOINT_DIR mid-app must route new
    checkpoints into the NEW directory instead of being silently
    ignored, including on an A->B->A REVISIT — the case a set of
    (app, dir) pairs gets wrong, because (app, A) is already a member
    the second time A comes around."""
    import os

    from pg_telemetry_spark.session import iter_checkpoint

    df = spark.range(100).withColumnRenamed("id", "v")
    d1, d2 = tmp_path / "ckpt_a", tmp_path / "ckpt_b"
    counts: dict = {}
    for d in (d1, d2, d1):  # third leg REVISITS d1
        os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(d)
        try:
            assert iter_checkpoint(df).count() == 100
        finally:
            del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
        files = [p for p in d.rglob("*") if p.is_file()]
        assert files, f"no checkpoint files written under {d}"
        prev = counts.get(str(d))
        if prev is not None:
            assert len(files) > prev, (
                f"revisited dir {d} received no NEW checkpoint data — "
                "the checkpoint was misrouted to the previous dir"
            )
        counts[str(d)] = len(files)


def test_eager_reliable_checkpoint_releases_its_persist(spark, tmp_path):
    """iter_checkpoint persists around the eager reliable checkpoint
    (the write is a second job) and must release that cache before
    returning — the cache contract forbids open-ended pins."""
    import os

    from pg_telemetry_spark.session import iter_checkpoint

    df = spark.range(50).withColumnRenamed("id", "v")
    os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(tmp_path / "ck")
    try:
        out = iter_checkpoint(df)
        assert out.count() == 50
    finally:
        del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
    lvl = df._jdf.storageLevel()
    assert not (lvl.useMemory() or lvl.useDisk()), (
        "eager reliable checkpoint leaked its persist on the input frame"
    )


def _uses_storage(df) -> bool:
    lvl = df._jdf.storageLevel()
    return lvl.useMemory() or lvl.useDisk()


def test_table_cache_repersists_after_clear_cache(spark, monkeypatch):
    """spark.catalog.clearCache() unpersists the cached tables behind
    the session memo's back.  clear_session_state() must make the next
    load_table persist the table again, not hand back the unpersisted
    frame (which would leave the table cache silently off)."""
    from pg_telemetry_spark.session import clear_session_state
    from pg_telemetry_spark.tables import load_table

    monkeypatch.delenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", raising=False)
    sf = "/root/testdata/sf0.001"
    before = load_table(spark, sf, "nation")
    assert load_table(spark, sf, "nation") is before
    spark.catalog.clearCache()
    clear_session_state()
    after = load_table(spark, sf, "nation")
    assert after is not before
    assert _uses_storage(after)


_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from pg_telemetry_spark.session import get_session, session_state
from pg_telemetry_spark.tables import load_table

def uses_storage(df):
    lvl = df._jdf.storageLevel()
    return lvl.useMemory() or lvl.useDisk()

first_spark = get_session("session-state-child-a")
first = load_table(first_spark, {sf!r}, "nation")
n_first = first.count()
first_spark.stop()
spark = get_session("session-state-child-b")
second = load_table(spark, {sf!r}, "nation")
print(
    "RESULT",
    spark is not first_spark,
    second is not first,
    session_state(spark).spark is spark,
    uses_storage(second),
    second.count() == n_first,
)
spark.stop()
"""


def test_new_session_gets_fresh_state():
    """A process that stops its session and builds a new one (bench's
    per-leg restart) gets a fresh session state: the table cache is
    persisted again on the live session, not handed back from the
    dead one.  Child process, because the test session must stay up."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env.pop("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", None)
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _CHILD.format(repo=str(repo), sf="/root/testdata/sf0.001"),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    assert lines == ["RESULT True True True True True"], out.stdout[-2000:]


_PLAIN_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pg_telemetry_spark.session import RUNTIME_CONFS, SIZING_CONFS
from pg_telemetry_spark.tables import load_table

spark = (
    SparkSession.builder.master("local[2]")
    .appName("plain-session-child")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "America/New_York")
    .getOrCreate()
)
want = dict(RUNTIME_CONFS)
want.update((key, value) for key, (_default, value) in SIZING_CONFS.items())
load_table(spark, {sf!r}, "nation")
print("RESULT", sorted(k for k, v in want.items() if spark.conf.get(k) != v))
spark.stop()
"""


def test_plain_session_gets_engine_confs_on_first_load_table():
    """A host's plain session (no engine confs, a non-UTC zone) reads
    every RUNTIME_CONFS value and the SIZING_CONFS engine values after
    its first load_table — the first use prepares it.  Child process,
    because the test session must stay up."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _PLAIN_CHILD.format(repo=str(repo), sf="/root/testdata/sf0.001"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    assert lines == ["RESULT []"], out.stdout[-2000:]


def test_checkpoint_confs_decide_by_scheme(spark, tmp_path):
    """Local checkpoints get the FileSystem checkpoint manager; remote
    schemes keep Spark's default; a scheme-less path follows
    ``fs.defaultFS``.  Decided from strings: nothing is contacted."""
    local = {
        "spark.sql.streaming.checkpointFileManagerClass": FILESYSTEM_CHECKPOINT_MANAGER
    }
    assert checkpoint_confs(spark, str(tmp_path / "ckpt")) == local
    assert checkpoint_confs(spark, (tmp_path / "ckpt").as_uri()) == local
    assert checkpoint_confs(spark, "hdfs://nn:8020/ckpt") == {}
    assert checkpoint_confs(spark, "s3a://b/ckpt") == {}
    with scoped_confs(spark, {"fs.defaultFS": "hdfs://nn:8020"}):
        assert checkpoint_confs(spark, "/ckpt") == {}
        assert checkpoint_confs(spark, "file:///ckpt") == local
    with scoped_confs(spark, {"fs.defaultFS": "file:///"}):
        assert checkpoint_confs(spark, "ckpt") == local


def test_get_session_sets_every_static_conf(spark):
    assert {key: spark.conf.get(key, None) for key in STATIC_CONFS} == STATIC_CONFS


#: Deterministic reader queries whose generated classes together
#: outnumber Spark's default 100-entry cache: at that size every
#: second round recompiled about 110 of them.  Left out: queries that
#: compile a few new classes in some rounds whatever the cache size
#: (``join_multiway``, the curation queries).
_REPEATED_MIX = (
    "pgw_stmt_top_delta",
    "ts_session",
    "flagship_hourly_top20",
    "win_lag_delta",
    "agg_group_hash",
    "dq_constraints",
)


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_query_mix_reuses_generated_classes(spark, sf_dir):
    """A second round of the same queries finds its generated classes
    in Spark's cache instead of compiling them again: an LRU smaller
    than the working set misses on every cyclic pass."""
    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()

    def one_round():
        for name in _REPEATED_MIX:
            reg[name].fn(spark, sf_dir).collect()

    one_round()
    before = _codegen_compiles(spark)
    one_round()
    compiles = _codegen_compiles(spark) - before
    assert compiles <= 5, f"{compiles} classes recompiled on the second round"
