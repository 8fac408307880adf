"""The collector pipeline — the reference's job, Spark-native.

A ``pg_telemetry``-class system is a loop: snapshot Postgres stat
views, timestamp the rows, ship them to a columnar warehouse, let the
warehouse serve time-series queries.  Here that loop is a Structured
Streaming job plus a warehouse layout:

    stat snapshots / event files land in ``landing_dir``
      -> readStream (explicit schema, incremental file discovery)
      -> normalize (types, UTC, derived event_date)
      -> writeStream.foreachBatch(sink.write_batch)   # exactly-once
           + incremental hourly rollup                 # MV analog
      -> warehouse serves SURVEY §2's query surface
         (partition-pruned slices, deltas/rates, last-point, ...)

Each tick is one ``Trigger.AvailableNow`` run through
:func:`streaming.run_available_now`.  A local checkpoint runs on
Spark's ``FileSystem`` checkpoint manager, whose renames fork no
process; a remote one (HDFS, S3, ABFS) keeps Spark's default.

Retention and downsampling are warehouse-side partition operations
(warehouse/layout.py).  The sink is an interface (sinks/) — Parquet
locally, JDBC/ClickHouse in production — so no warehouse driver is a
hard dependency.

Scale: ingestion parallelism = landing-file count × executor cores;
the warehouse write is hash-clustered by series, sorted within files
and sized by AQE; rollups re-aggregate sums/counts only (composable).
A 100 TB backfill is the same code fed a bigger directory.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pg_telemetry_spark.session import prepare_session
from pg_telemetry_spark.sinks import ParquetWarehouseSink
from pg_telemetry_spark.streaming import run_available_now

#: Wire schema of collected telemetry rows (stat snapshots or events).
COLLECT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@dataclass
class TelemetryCollector:
    spark: SparkSession
    landing_dir: str
    warehouse_dir: str
    checkpoint_dir: str
    _sink: ParquetWarehouseSink = field(init=False)

    def __post_init__(self) -> None:
        prepare_session(self.spark)
        self._sink = ParquetWarehouseSink(f"{self.warehouse_dir}/raw")

    def _ship(self, batch_df: DataFrame, batch_id: int) -> None:
        """The per-micro-batch sink: raw write + incremental rollup,
        both keyed by batch_id (idempotent under replays)."""
        batch_df.persist()
        try:
            self._sink.write_batch(batch_df, batch_id)
            (
                batch_df.groupBy(
                    F.date_trunc("hour", "ts").alias("bucket"),
                    "user_id",
                    "event_type",
                )
                .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
                .withColumn("event_date", F.col("bucket").cast("date"))
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(f"{self.warehouse_dir}/rollup_1h/batch_id={batch_id}")
            )
        finally:
            batch_df.unpersist()

    def run_available(self) -> None:
        """Process everything currently landed, then stop (the cron-tick
        analog; a production deployment uses a processingTime trigger
        instead — same code)."""
        stream = self.spark.readStream.schema(COLLECT_SCHEMA).parquet(self.landing_dir)
        run_available_now(stream, self._ship, self.checkpoint_dir)

    # -- query surface over the warehouse --------------------------------

    def raw(self) -> DataFrame:
        return self._sink.read(self.spark)

    def rollup_1h(self) -> DataFrame:
        return self.spark.read.option("basePath", f"{self.warehouse_dir}/rollup_1h").parquet(
            f"{self.warehouse_dir}/rollup_1h/batch_id=*"
        )

    def hourly_series(self) -> DataFrame:
        """Serve hourly charts from the rollup (never the raw table):
        re-aggregate composable sums/counts across batches."""
        return (
            self.rollup_1h()
            .groupBy("bucket", "event_type")
            .agg(
                F.sum("n").alias("n_events"),
                F.round(F.sum("sum_value"), 6).alias("sum_value"),
            )
        )


# ---------------------------------------------------------------------
# Typed stat-view collection (§0.1's remaining views)
# ---------------------------------------------------------------------

#: Cumulative-counter layout per view: (series key columns, counter
#: columns).  Gauge views (pg_locks, pg_stat_replication) land raw
#: only — their analytics need no cross-tick state.
CUMULATIVE_VIEWS: dict[str, tuple[list[str], list[str]]] = {
    "pg_stat_statements": (["queryid"], ["calls", "total_exec_time", "rows"]),
    "pg_stat_bgwriter": ([], ["checkpoints_timed", "buffers_checkpoint", "buffers_clean"]),
    "pg_stat_database": (["datname"], ["xact_commit", "blks_read", "blks_hit"]),
    # per-relation views (round 11): counters only — the live/dead
    # tuple columns are gauges and stay out of the increase() rollup
    "pg_stat_user_tables": (
        ["relname"],
        ["seq_scan", "idx_scan", "n_tup_ins", "n_tup_upd", "n_tup_del", "autovacuum_count"],
    ),
    "pg_stat_user_indexes": (["relname", "indexrelname"], ["idx_scan"]),
    # I/O + WAL surface (this round): wal_bytes WRAPS by construction,
    # so its increase() exercises the reset branch end-to-end
    "pg_stat_io": (
        ["backend_type", "io_context"],
        ["reads", "writes", "extends"],
    ),
    "pg_stat_wal": ([], ["wal_records", "wal_bytes", "wal_buffers_full"]),
    "pg_stat_archiver": ([], ["archived_count", "failed_count"]),
    "pg_statio_user_tables": (
        ["relname"],
        ["heap_blks_read", "heap_blks_hit", "idx_blks_read", "idx_blks_hit"],
    ),
}


def counter_increases(
    snaps: DataFrame, keys: list[str], counters: list[str]
) -> DataFrame:
    """Per-tick increase() of cumulative counters with the §0.1 reset
    rule: a negative delta means the server restarted — contribute
    the post-reset LEVEL, not the negative difference.  One window
    per series key; first tick of each series yields no row (no
    previous sample).  Shared by the batch rollup below and by any
    ad-hoc analysis over landed snapshots."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys).orderBy("snap_ts")
        if keys
        else Window.partitionBy(F.lit(1)).orderBy("snap_ts")
    )
    cols = [F.col(c) for c in ("snap_ts", *keys)]
    for c in counters:
        delta = F.col(c) - F.lag(c).over(w)
        cols.append(
            F.when(delta < 0, F.col(c)).otherwise(delta).alias(f"{c}_inc")
        )
    # window results must land in a projection before they can be
    # filtered on; the first tick of each series has no previous
    # sample, so its (null) increases are dropped
    return (
        snaps.select(*cols, F.lag(counters[0]).over(w).alias("_prev"))
        .filter(F.col("_prev").isNotNull())
        .drop("_prev")
    )


@dataclass
class StatViewCollector:
    """Collector for ONE typed stat view (§0.1): landed snapshot
    files -> typed readStream -> raw warehouse table (+ incremental
    increase() rollup for cumulative views, maintained across batches
    via a per-series last-sample state table).

    The state table holds exactly one row per series (the latest
    sample seen), so batch N+1's first delta is computed against
    batch N's last sample — increases are NEVER lost or double-
    counted at batch boundaries, and a restart inside the gap still
    triggers the reset rule.

    Exactly-once under replays: every output is VERSIONED BY BATCH —
    raw and increase_1h overwrite ``batch_id=N`` dirs, and the state
    table writes ``last_sample/batch_id=N`` derived from batch N-1's
    state plus batch N's rows.  A micro-batch redelivered after a
    crash (foreachBatch ran, checkpoint never committed) therefore
    re-seeds from batch N-1's state and reproduces byte-identical
    rollup output and state; nothing is advanced in place, so no
    replay can compute deltas against its own first delivery.  Only
    the two newest state versions are retained (availableNow
    redelivers at most the last uncommitted batch).
    """

    spark: SparkSession
    view: str
    landing_dir: str
    warehouse_dir: str
    checkpoint_dir: str

    def __post_init__(self) -> None:
        from pg_telemetry_spark.statviews import SCHEMAS

        if self.view not in SCHEMAS:
            raise ValueError(f"unknown stat view: {self.view}")
        prepare_session(self.spark)
        self.schema = SCHEMAS[self.view]
        self._raw_dir = f"{self.warehouse_dir}/{self.view}/raw"
        self._rollup_dir = f"{self.warehouse_dir}/{self.view}/increase_1h"
        self._state_dir = f"{self.warehouse_dir}/{self.view}/last_sample"

    def _ship(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.withColumn("snap_date", F.col("snap_ts").cast("date"))
                .write.mode("overwrite")
                .partitionBy("snap_date")
                .parquet(f"{self._raw_dir}/batch_id={batch_id}")
            )
            if self.view in CUMULATIVE_VIEWS:
                self._rollup(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _state_batch_ids(self) -> list[int]:
        """Batch ids with a written state version, via the Hadoop FS
        API so the listing works on any warehouse filesystem (local,
        HDFS, S3A), not just local paths."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._state_dir)
        fs = path.getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        if not fs.exists(path):
            return []
        ids = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("batch_id="):
                try:
                    ids.append(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(ids)

    def _rollup(self, batch_df: DataFrame, batch_id: int) -> None:
        keys, counters = CUMULATIVE_VIEWS[self.view]
        cols = ["snap_ts", *keys, *counters]
        snaps = batch_df.select(*cols)
        # seed from the newest state version STRICTLY OLDER than this
        # batch: a redelivered batch N must ignore the state its first
        # delivery wrote (batch_id=N) and re-derive from N-1, or the
        # replay would drop each series' first tick and emit a
        # spurious zero-delta against its own rows
        prior = [b for b in self._state_batch_ids() if b < batch_id]
        if prior:
            # state files hold snaps' columns: no schema-inference job
            prev = self.spark.read.schema(snaps.schema).parquet(
                f"{self._state_dir}/batch_id={prior[-1]}"
            )
            combined = prev.unionByName(snaps)
        else:  # first batch: no previous sample exists
            combined = snaps
        inc = counter_increases(combined, keys, counters)
        # only emit increases for ticks in THIS batch (the state rows
        # exist purely to seed the first delta of each series); a
        # scalar subquery, so no driver round trip
        lo = snaps.agg(F.min("snap_ts")).scalar()
        inc.filter(F.col("snap_ts") >= lo).write.mode("overwrite").parquet(
            f"{self._rollup_dir}/batch_id={batch_id}"
        )
        # write THIS batch's state version: latest sample per series
        # across seed+new.  Never overwrites an older version, so the
        # old state stays readable mid-write at real scale and a
        # replay of batch N rewrites batch_id=N byte-identically.
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*keys)
            if keys
            else Window.partitionBy(F.lit(1))
        ).orderBy(F.col("snap_ts").desc())
        latest = (
            combined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        latest.write.mode("overwrite").parquet(
            f"{self._state_dir}/batch_id={batch_id}"
        )
        # retain only {N-1, N}: availableNow redelivers at most the
        # last uncommitted batch, so anything older is unreachable
        jvm = self.spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(self._state_dir).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        for stale in [b for b in prior[:-1]]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{self._state_dir}/batch_id={stale}"
                ),
                True,
            )

    def run_available(self) -> None:
        stream = self.spark.readStream.schema(self.schema).parquet(
            self.landing_dir
        )
        run_available_now(stream, self._ship, self.checkpoint_dir)

    # -- query surface ------------------------------------------------

    def raw(self) -> DataFrame:
        return self.spark.read.option("basePath", self._raw_dir).parquet(
            f"{self._raw_dir}/batch_id=*"
        )

    def increases(self) -> DataFrame:
        return self.spark.read.parquet(f"{self._rollup_dir}/batch_id=*")
