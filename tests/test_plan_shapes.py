"""Physical-plan shape tests (SURVEY.md §4): the properties that decide
whether a query that works at sf0.1 still works at 100 TB.

Each assertion pins a plan feature: filters reaching the Parquet scan,
column pruning, broadcast joins where a dim is small, top-k compiling
to TakeOrderedAndProject, partition pruning on the warehouse layout,
and — critically — the ABSENCE of BroadcastNestedLoopJoin in the
non-equi time joins (the banded rewrites exist precisely to avoid it).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.tables import load_table
from pg_telemetry_spark.warehouse.layout import write_events_warehouse

_Q = all_queries()


def _formatted(df, execute: bool = False) -> str:
    """Capture explain('formatted'); with execute=True, run the query
    first so AQE finalizes the adaptive plan (codegen markers and
    runtime join selections only appear in the final plan)."""
    import contextlib
    import io

    if execute:
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_plan = _formatted


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    # Same cold-path discipline as test_column_pruning_in_read_schema:
    # a cached events table from an earlier test would be substituted
    # for the scan by the CacheManager, hiding PushedFilters.
    from pg_telemetry_spark.session import clear_session_state

    clear_session_state()
    df = _Q["filt_ts_range"].fn(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # the ts bounds must actually reach the scan, not sit in a Filter only
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("ts" in l and ("GreaterThanOrEqual" in l or "LessThan" in l) for l in pushed), pushed


def test_column_pruning_in_read_schema(spark, sf_dir, monkeypatch):
    # PG_TELEMETRY_SPARK_NO_TABLE_CACHE=1 alone is not enough: Spark's
    # CacheManager substitutes ANY logical plan matching a cached one,
    # so a lineitem persisted by an earlier test would replace this
    # scan with InMemoryRelation.  Drop the session table cache too to
    # audit the true cold path.
    from pg_telemetry_spark.session import clear_session_state

    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    clear_session_state()
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "l_orderkey" in rs[0] and "l_quantity" in rs[0]
    assert "l_extendedprice" not in rs[0], f"scan reads unprojected columns: {rs[0]}"


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("join_broadcast", "join_multiway"):
        plan = _plan(_Q[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(_Q["topk_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-k compiled to a full sort"


def test_no_nested_loop_in_banded_time_joins(spark, sf_dir):
    for name in ("join_theta_range", "join_interval", "join_asof"):
        plan = _plan(_Q[name].fn(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: planner fell back to nested-loop — banded rewrite broken"
        )
        assert "CartesianProduct" not in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # '*' prefix marks operators inside a WholeStageCodegen span
    plan = _formatted(_Q["agg_group_hash"].fn(spark, sf_dir), execute=True)
    assert "* HashAggregate" in plan, "aggregate not inside whole-stage codegen"


def test_partition_pruning_on_warehouse_layout(spark, sf_dir, tmp_path):
    tmp = str(tmp_path)
    events = load_table(spark, sf_dir, "events")
    write_events_warehouse(events, f"{tmp}/events")
    back = spark.read.parquet(f"{tmp}/events")
    sliced = back.filter(F.col("event_date") == "2024-01-05")
    plan = _formatted(sliced)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_date" in pf[0], f"no partition filter at scan: {plan[:500]}"
    # pruned scan must touch exactly one of 30 day-partitions
    assert sliced.select(F.countDistinct("event_date")).head()[0] == 1


def test_dynamic_partition_pruning_on_date_dim_join(spark, sf_dir, tmp_path, monkeypatch):
    """DPP end-to-end (SURVEY §4.1's "biggest tsdb win"): when the
    partition filter is only knowable at RUNTIME — a join against a
    date dimension filtered on an attribute, not on the date — the
    fact scan must still prune directories, via a dynamic-pruning
    subquery fed by the dim's broadcast, not by scanning all 30 days
    and filtering post-join.  At 100 TB this is the difference
    between reading 8 weekend partitions and reading everything."""
    import datetime as dt

    tmp = str(tmp_path)
    from pg_telemetry_spark.session import clear_session_state

    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    clear_session_state()
    events = load_table(spark, sf_dir, "events")
    write_events_warehouse(events, f"{tmp}/events")
    fact = spark.read.parquet(f"{tmp}/events")
    # Calendar dim: the filter lands on day-of-week, so static pruning
    # CANNOT see which event_date values survive — only DPP can.  Two
    # traps this setup dodges (both found the hard way): the dim must
    # be FILE-backed (a createDataFrame LogicalRDD has unknown stats,
    # so the planner broadcasts the FACT side and DPP has no dim
    # broadcast to reuse), and the dim predicate must survive
    # optimization as a comparison — `is_weekend = true` is
    # boolean-simplified to a bare attribute, which fails the rule's
    # isLikelySelective test, so PartitionPruning silently declines.
    dim_rows = [
        (dt.date(2024, 1, d), dt.date(2024, 1, d).weekday()) for d in range(1, 31)
    ]
    spark.createDataFrame(dim_rows, "d date, dow int").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/dim")
    dim = spark.read.parquet(f"{tmp}/dim")
    joined = fact.join(dim.filter(F.col("dow") >= 5), fact.event_date == dim.d)
    plan = _formatted(joined)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("dynamicpruning" in l for l in pf), (
        f"no dynamic-pruning subquery at the fact scan: {pf}"
    )
    # and the pruning is real: exactly the 8 January weekend days
    got = sorted(
        r.event_date for r in joined.select("event_date").distinct().collect()
    )
    weekends = sorted(d for d, w in dim_rows if w >= 5)
    assert got == weekends, f"expected {weekends}, scanned {got}"


def test_exchange_reuse_no_double_scan_of_fact(spark, sf_dir):
    """The flagship query scans events exactly once (count distinct
    scan node ids — formatted output repeats each node in tree +
    detail sections)."""
    import re

    plan = _formatted(_Q["flagship_hourly_top20"].fn(spark, sf_dir))
    node_ids = set(re.findall(r"^\((\d+)\) Scan parquet", plan, re.MULTILINE))
    assert len(node_ids) == 1, f"fact table scanned {len(node_ids)} times"


def test_orc_scan_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """ORC scans get the same pushdown/pruning treatment as Parquet."""
    from pg_telemetry_spark.tables import SCHEMAS, load_table

    path = str(tmp_path / "supplier_orc")
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    df = (
        spark.read.schema(SCHEMAS["supplier"]).orc(path)
        .filter(F.col("s_nationkey") == 3)
        .select("s_suppkey", "s_acctbal")
    )
    plan = _formatted(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("s_nationkey" in l for l in pushed), pushed
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "s_name" not in rs[0], rs
