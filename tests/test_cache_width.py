"""Cached-table rebalance: width derivation + hash-parity guard; and
the file-stat gate of the query-local respread that shares its stat.

ADVICE r16 flagged two gaps around the documents/embeddings cache
rebalance (tables.py):

1. the plan-budget audit is cold-path by protocol, so the cache-path
   repartition exchange was never plan-audited — pinned here directly
   on the cached relation (width + round-robin partitioning);
2. the float-order hash-parity safety of rebalancing those two tables
   rested on a hand audit — pinned here by running representative
   documents/embeddings consumers with the cache ON and OFF and
   asserting bit-identical collected rows.
"""

from __future__ import annotations

import pytest

from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import clear_session_state
from pg_telemetry_spark.tables import (
    SCHEMAS,
    _cache_rebalance_width,
    load_table,
    respread_if_narrow,
)

_ALL = all_queries()


@pytest.fixture()
def _cache_on(monkeypatch):
    monkeypatch.delenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", raising=False)
    clear_session_state()
    yield
    clear_session_state()


def test_cache_width_is_size_derived(spark, sf_dir, _cache_on):
    """The rebalance width is floor-8 at fixture scale (sub-MB files)
    and grows with on-disk bytes up to defaultParallelism — never the
    r16 constant ``min(defaultParallelism, 8)`` that squeezed a
    warehouse-scale table into 8 cached partitions (ADVICE r16 #2)."""
    w = _cache_rebalance_width(spark, f"{sf_dir}/documents.parquet")
    dp = spark.sparkContext.defaultParallelism
    assert w == min(dp, 8)  # fixture file is far below 8 x 64 MB
    # a synthetic big table derives a wider cache
    import unittest.mock as mock

    with mock.patch("os.path.getsize", return_value=100 * 1024**3), mock.patch(
        "os.path.isdir", return_value=False
    ):
        big = _cache_rebalance_width(spark, "/nonexistent/big.parquet")
    assert big == min(dp, 1600)


def test_cached_documents_rebalance_visible(spark, sf_dir, _cache_on):
    """The cache-path repartition (invisible to the cold-plan budget
    audit) lands: the cached relation has the derived width and its
    materialization plan carries a round-robin exchange."""
    df = load_table(spark, sf_dir, "documents")
    df.count()  # materialize the cache
    assert df.rdd.getNumPartitions() == _cache_rebalance_width(
        spark, f"{sf_dir}/documents.parquet"
    )
    plan = df._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan


@pytest.mark.parametrize(
    "name", ["llm_tfidf", "llm_zipf_heaps", "llm_dedup_embed", "llm_embed_outlier"]
)
def test_cache_on_off_parity(name, spark, sf_dir, monkeypatch):
    """documents/embeddings consumers must be bit-identical with the
    cache (and its rebalance) on vs off — the guard ADVICE r16 asked
    for, so a future query over these tables that introduces an
    order-dependent double sum fails HERE, not at the driver gate."""
    if name not in _ALL:
        pytest.skip(f"{name} not registered")
    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    clear_session_state()
    cold = sorted(map(tuple, _ALL[name].fn(spark, sf_dir).collect()))
    monkeypatch.delenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE")
    clear_session_state()
    try:
        warm = sorted(map(tuple, _ALL[name].fn(spark, sf_dir).collect()))
    finally:
        clear_session_state()
    assert cold == warm


def test_respread_decision_from_file_stat(spark, sf_dir, tmp_path):
    """respread_if_narrow decides from the data files' sizes on the
    driver, firing no Spark job: a one-file table (one loaded split) is
    respread to the session parallelism; a directory of at least that
    many files is left alone."""
    import pyarrow.parquet as pq

    dp = spark.sparkContext.defaultParallelism
    one = f"{sf_dir}/events.parquet"
    many = tmp_path / "events_dir"
    many.mkdir()
    table = pq.read_table(one).slice(0, 10)
    for i in range(dp):
        pq.write_table(table, many / f"part-{i:05d}.parquet")
    (many / "_SUCCESS").write_text("")

    sc = spark.sparkContext
    group = "respread-decision"
    sc.setJobGroup(group, group)
    try:
        one_df = spark.read.schema(SCHEMAS["events"]).parquet(one)
        many_df = spark.read.schema(SCHEMAS["events"]).parquet(str(many))
        spread = respread_if_narrow(one_df, one)
        kept = respread_if_narrow(many_df, str(many))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    if dp > 1:
        assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    assert kept is many_df
