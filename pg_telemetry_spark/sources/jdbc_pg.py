"""Postgres stat-view snapshot source — the collector's read side.

A ``pg_telemetry``-class collector SELECTs from PostgreSQL's
cumulative statistics views each tick and ships the rows downstream.
In this engine that read side is a JDBC source; no Postgres exists in
the test environment, so the module exposes the fully-configured
reader (exercised up to ``load()``) plus a descriptor of the
partitioned-read plan that the rows-only check records.

Scale notes: snapshot reads are partitioned on a numeric column
(``partitionColumn/lowerBound/upperBound/numPartitions``) so a large
stat table (pg_stat_statements on a busy fleet) fans out across
executors instead of serializing through one JDBC cursor; pushdown of
the tick predicate happens via the ``dbtable`` subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pg_telemetry_spark.session import local_frame

#: The stat views a collector snapshots each tick, with the numeric
#: column used for partitioned JDBC reads where one exists.
STAT_VIEWS: dict[str, str | None] = {
    "pg_stat_database": "datid",
    "pg_stat_user_tables": "relid",
    "pg_stat_user_indexes": "indexrelid",
    "pg_stat_activity": "pid",
    "pg_stat_statements": "queryid",
    "pg_locks": None,
    "pg_stat_bgwriter": None,
    "pg_stat_replication": "pid",
}


def stat_view_reader(
    spark: SparkSession,
    url: str,
    view: str,
    num_partitions: int = 8,
    fetch_size: int = 10_000,
):
    """Configured JDBC reader for one stat view (call ``.load()`` when a
    live Postgres is reachable)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", view)
        .option("fetchsize", fetch_size)
    )
    part_col = STAT_VIEWS.get(view)
    if part_col:
        reader = (
            reader.option("partitionColumn", part_col)
            .option("numPartitions", num_partitions)
            .option("lowerBound", 0)
            .option("upperBound", 2_147_483_647)
        )
    return reader


def source_descriptor(spark: SparkSession) -> DataFrame:
    """One row per stat view describing the configured read plan (the
    rows-only artifact recorded for this non-exercisable source)."""
    rows = [
        (view, part_col, part_col is not None, 8 if part_col else 1)
        for view, part_col in sorted(STAT_VIEWS.items())
    ]
    return local_frame(
        spark, rows, "view string, partition_column string, partitioned boolean, num_partitions int"
    )
