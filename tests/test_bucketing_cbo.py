"""Bucketed co-located joins + CBO statistics (SURVEY §4).

The 100 TB claim behind `.bucketBy`: two fact tables bucketed on the
join key join WITHOUT any Exchange — the shuffle happened once at
write time and is amortized over every subsequent join.  ANALYZE
TABLE feeds row/size statistics to the cost-based optimizer.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from pg_telemetry_spark.tables import load_table


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    """orders + lineitem saved as tables bucketed by the join key."""
    tmp = tmp_path_factory.mktemp("buck")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buck LOCATION '{tmp}'")
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("buck.orders_b")
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("buck.lineitem_b")
    )
    yield "buck"
    spark.sql("DROP DATABASE buck CASCADE")


def _executed_plan(df) -> str:
    import contextlib
    import io

    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    # the merge hint stops AQE broadcasting the (locally tiny) orders
    # side — at real scale both sides are big and SMJ is the plan; the
    # point under test is that bucketing removes the Exchange under it
    joined = (
        spark.table("buck.lineitem_b")
        .join(
            spark.table("buck.orders_b").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    plan = _executed_plan(joined)
    join_section = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # the join inputs must come straight from bucketed scans - the only
    # allowed Exchange is AFTER the join (for the groupBy)
    assert "Exchange" not in join_section, (
        f"bucketed join still shuffles:\n{join_section[:800]}"
    )
    # 8 buckets selected on both sides
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_bucketed_join_matches_unbucketed(spark, sf_dir, warehouse):
    bucketed = (
        spark.table("buck.lineitem_b")
        .join(spark.table("buck.orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 6).alias("qty"))
    )
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 6).alias("qty"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))


def test_analyze_table_feeds_cbo_stats(spark, warehouse):
    spark.sql("ANALYZE TABLE buck.orders_b COMPUTE STATISTICS")
    stats = spark.sql("DESCRIBE EXTENDED buck.orders_b").filter(
        F.col("col_name") == "Statistics"
    ).collect()
    assert stats, "no statistics row after ANALYZE"
    assert "rows" in stats[0].data_type, stats
