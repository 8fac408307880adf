"""Driver-side result frames built from Arrow (``session.local_frame``).

A frame built from a Python list plans as ``Scan ExistingRDD``, so
every collect of it runs one Python task per core.  ``local_frame``
builds it from an Arrow table instead: it plans as a
``LocalTableScan``, collecting it starts no job, and its rows equal the
list path's.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from pathlib import Path

import pytest

from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import local_frame

_SCHEMA = (
    "s string, i int, n bigint, x double, b boolean, ts timestamp, "
    "ntz timestamp_ntz, d date, m decimal(18,6)"
)
_ROWS = [
    ("a", 1, 2**40, 0.5, True, dt.datetime(2024, 1, 3, 4, 5, 6, 789),
     dt.datetime(2024, 1, 3, 4, 5, 6), dt.date(2024, 1, 3), Decimal("1.250000")),
    (None, None, None, None, None, None, None, None, None),
]


def _jobs_of_collect(spark, df) -> list:
    sc = spark.sparkContext
    group = "local-frame-collect"
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_local_frame_rows_equal_the_list_path(spark):
    assert local_frame(spark, _ROWS, _SCHEMA).collect() == (
        spark.createDataFrame(_ROWS, _SCHEMA).collect()
    )
    assert local_frame(spark, [], _SCHEMA).collect() == []


def test_local_frame_collect_starts_no_job(spark):
    df = local_frame(spark, _ROWS, _SCHEMA)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert _jobs_of_collect(spark, df) == []


@pytest.mark.parametrize(
    "name",
    [
        "src_jdbc_pg",
        "src_csv_corrupt",
        "snk_manifest_snapshot",
        "llm_ann_route",
        "llm_mmr_diversify",
        "llm_bpe_train",
    ],
)
def test_driver_row_results_collect_without_a_job(spark, sf_dir, name):
    """Queries that compute their rows on the driver return a local
    table: jobs may run while they build, none when the result is
    read."""
    sf = str(Path(sf_dir).with_name("sf0.001"))
    df = all_queries()[name].fn(spark, sf)
    assert _jobs_of_collect(spark, df) == []
