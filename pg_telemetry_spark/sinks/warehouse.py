"""Concrete warehouse sinks behind one interface.

``ParquetWarehouseSink`` is the locally-testable warehouse (the
MergeTree-analog layout from warehouse/layout.py, one directory per
micro-batch).  ``JdbcWarehouseSink`` is the production seam: the same
``write_batch`` contract over ``df.write.format("jdbc")`` — pointing
it at a ClickHouse JDBC URL (or swapping the format string for a
native ClickHouse Spark connector where available) is a configuration
change, not a code change.  No ClickHouse driver is hard-imported
anywhere; the engine never depends on it to run.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pg_telemetry_spark.warehouse.layout import write_events_warehouse


@dataclass
class ParquetWarehouseSink:
    """Day-partitioned Parquet warehouse, one subdir per micro-batch
    (overwrite-by-batchId = idempotent under replays), each written by
    :func:`write_events_warehouse` in AQE-sized files."""

    path: str

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        write_events_warehouse(df, f"{self.path}/batch_id={batch_id}")

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.path).parquet(f"{self.path}/batch_id=*")


@dataclass
class JdbcWarehouseSink:
    """JDBC batch insert (ClickHouse/Postgres/any warehouse with a
    JDBC driver).  Idempotence strategy: a ``batch_id`` column +
    ReplacingMergeTree (ClickHouse) or an ON CONFLICT target —
    warehouse-side dedup keyed by (batch_id, event_id)."""

    url: str
    table: str
    mode: str = "append"
    batch_size: int = 100_000

    def writer_config(self) -> dict:
        """The exact (format, mode, options) handed to the DataFrame
        writer — split out so the production seam is contract-testable
        offline (tests/test_sinks.py pins it against a golden) without
        a live warehouse to connect to."""
        return {
            "format": "jdbc",
            "mode": self.mode,
            "options": {
                "url": self.url,
                "dbtable": self.table,
                "batchsize": str(self.batch_size),
                # one retry-safe txn per executor batch; isolation NONE
                # because idempotence is warehouse-side (ReplacingMergeTree
                # / ON CONFLICT keyed on batch_id), not txn-side
                "isolationLevel": "NONE",
            },
        }

    def prepare_batch(self, df: DataFrame, batch_id: int) -> DataFrame:
        """Stamp the idempotence key; shared by write_batch and the
        contract test so the tested shape IS the shipped shape.  The
        cast pins the wire type: F.lit alone yields IntegerType for
        small ids but LongType past 2^31, so a long-running stream
        would otherwise drift its emitted schema away from the DDL's
        fixed Int64 version column."""
        return df.withColumn("batch_id", F.lit(batch_id).cast("long"))

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        cfg = self.writer_config()
        (
            self.prepare_batch(df, batch_id)
            .write.format(cfg["format"])
            .options(**cfg["options"])
            .mode(cfg["mode"])
            .save()
        )


#: Spark -> ClickHouse type map for the DDL emitter (public CH docs).
_CLICKHOUSE_TYPES = {
    "long": "Int64",
    "bigint": "Int64",
    "int": "Int32",
    "integer": "Int32",
    "double": "Float64",
    "float": "Float32",
    "string": "String",
    "boolean": "UInt8",
    "date": "Date32",
    "timestamp": "DateTime64(6)",
    "timestamp_ntz": "DateTime64(6)",
}


def clickhouse_ddl(
    schema, table: str, order_by: tuple[str, ...], version_col: str = "batch_id"
) -> str:
    """CREATE TABLE DDL for the warehouse side of the JDBC seam: a
    ReplacingMergeTree keyed on ``order_by`` and versioned by the
    batch id, so replayed micro-batches collapse to one row per key —
    the warehouse-side half of the exactly-once contract
    (collector-side half: overwrite-by-batch_id).  Emitted from the
    Spark StructType so schema drift between the stream and the DDL
    is impossible; goldens in tests/test_sinks.py pin the rendering.

    Two hard requirements on ``order_by``:

    - **Uniqueness.** ReplacingMergeTree keeps ONE row per sorting
      key at merge time — if ``order_by`` does not uniquely identify
      a logical row, distinct legitimate rows sharing the key silently
      collapse (max version wins).  Callers must include a unique row
      key (``event_id``; or the full series key like
      ``(queryid, snap_ts)``) — replay dedup is only safe on top of
      that.
    - **Non-nullability.** ClickHouse rejects Nullable columns in the
      sorting key by default (``allow_nullable_keys = 0``), so key
      columns are emitted non-Nullable regardless of the Spark-side
      nullable flag: a key value must be present for the row to be
      addressable at all, which is the same contract the stream
      upholds by construction.
    """
    key_set = set(order_by)
    missing = key_set - {f.name for f in schema.fields} - {version_col}
    if missing:
        raise ValueError(
            f"order_by columns not in schema: {sorted(missing)}"
        )
    cols = []
    for f in schema.fields:
        ch = _CLICKHOUSE_TYPES.get(f.dataType.simpleString())
        if ch is None:
            raise ValueError(
                f"no ClickHouse mapping for column {f.name}: "
                f"{f.dataType.simpleString()}"
            )
        nullable = f.nullable and f.name not in key_set
        cols.append(f"    `{f.name}` {'Nullable(' + ch + ')' if nullable else ch}")
    cols.append(f"    `{version_col}` Int64")
    body = ",\n".join(cols)
    keys = ", ".join(f"`{c}`" for c in order_by)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n{body}\n)\n"
        f"ENGINE = ReplacingMergeTree(`{version_col}`)\n"
        f"ORDER BY ({keys})"
    )
