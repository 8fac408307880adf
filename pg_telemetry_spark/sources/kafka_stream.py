"""Kafka streaming-ingest seam — the collector's queue-fed variant.

Telemetry collectors commonly ship snapshots through a message queue
rather than writing storage directly; in Spark that ingest is the
built-in ``kafka`` streaming source.  No broker (and no kafka
connector jar) exists here, so the module holds the payload-decoding
transform: it is pure DataFrame logic, so it IS exercised, against
fixture rows shaped like Kafka records (key/value binary, topic,
partition, offset, timestamp).  The reader is Spark's own
``readStream.format("kafka")`` with ``subscribe``,
``startingOffsets`` and ``maxOffsetsPerTrigger`` set.

Scale notes: Spark parallelizes a Kafka scan by topic-partition —
provision at least as many partitions as target executor cores.
``maxOffsetsPerTrigger`` bounds micro-batch size (backpressure);
``startingOffsets=earliest`` + checkpointing gives exactly-once into
idempotent sinks (sinks/foreachBatch).  The decode path (binary JSON
value -> typed columns) is the same from_json transform regardless of
transport, which is why it is factored apart from the reader.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Typed event payload carried in the Kafka record value (JSON).
EVENT_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_micros", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def decode_events(records: DataFrame) -> DataFrame:
    """Kafka record frame (key/value binary + transport metadata) ->
    typed event rows.  Works identically on the streaming source and
    on any batch frame with the same shape (how the tests drive it)."""
    payload = F.from_json(F.col("value").cast("string"), EVENT_PAYLOAD_SCHEMA)
    return records.select(
        F.col("key").cast("string").alias("partition_key"),
        "topic",
        "partition",
        "offset",
        payload.alias("p"),
    ).select(
        "partition_key",
        "topic",
        "partition",
        "offset",
        F.col("p.event_id").alias("event_id"),
        F.timestamp_micros(F.col("p.ts_micros")).alias("ts"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_type").alias("event_type"),
        F.col("p.value").alias("value"),
    )


def fixture_as_kafka_records(events: DataFrame, topic: str = "events") -> DataFrame:
    """Shape fixture events like Kafka records (the encode side of the
    round-trip the decode test pins): value = JSON payload bytes,
    key = user_id (the partition key a collector would choose so one
    user's events stay ordered within a partition)."""
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_micros"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        )
    )
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.col("user_id"), F.lit(32)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )
