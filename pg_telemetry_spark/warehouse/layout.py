"""Partitioned, sorted warehouse writer + retention.

MergeTree ``ORDER BY (series, ts)`` + TTL ≈ this module:

- partition by ``event_date`` (directory-level pruning: a time-slice
  query touches one day's files, not 100 TB),
- ``repartition(user_id)`` + a ``(user_id, ts)`` sort inside each
  file (run-length + min-max friendly pages, so per-series scans skip
  row groups); the repartition names no count, so AQE coalesces it to
  its advisory size: one file per day for a small batch, ~64 MB files
  at scale, ``spark.sql.shuffle.partitions`` files when AQE is off,
- retention = partition drop by age (a metadata operation — no
  rewrite of surviving data).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_events_warehouse(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write events day-partitioned; a user's rows of a day share one
    file, sorted by ``ts``."""
    (
        events.withColumn("event_date", F.col("ts").cast("date"))
        .repartition("user_id")
        # led by event_date: the planned write sorts each task by the
        # partition column and would replace a sort not led by it
        .sortWithinPartitions("event_date", "user_id", "ts")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events_warehouse(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def drop_partitions_older_than(spark: SparkSession, path: str, cutoff_date: str) -> int:
    """Retention: drop whole day-partitions older than ``cutoff_date``.

    Partition-level deletes are metadata-cheap; surviving data is
    never rewritten.  Returns the number of partitions dropped."""
    import shutil
    from pathlib import Path

    dropped = 0
    for part in sorted(Path(path).glob("event_date=*")):
        if part.name.split("=", 1)[1] < cutoff_date:
            shutil.rmtree(part)
            dropped += 1
    return dropped
