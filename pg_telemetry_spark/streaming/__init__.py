"""Structured Streaming ingestion — the reference's actual job shape:
file-stream sources, watermarked windowed aggregation, streaming
dedup, arbitrary stateful processing, stream-static enrichment, and
idempotent foreachBatch warehouse sinks with checkpointing.

:func:`run_available_now` is the one place a streaming query starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from pg_telemetry_spark.session import checkpoint_confs, scoped_confs


def run_available_now(
    df: DataFrame,
    batch_fn,
    checkpoint: str,
    output_mode: str = "append",
    confs: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run the streaming ``df`` through ``batch_fn`` (``foreachBatch``)
    with ``Trigger.AvailableNow`` against ``checkpoint`` — everything
    landed since the last committed offset, then stop — and return the
    finished query.

    The checkpoint's file manager (:func:`session.checkpoint_confs`) and
    the caller's ``confs`` hold for the run and are restored after it."""
    spark = df.sparkSession
    with scoped_confs(spark, {**checkpoint_confs(spark, checkpoint), **(confs or {})}):
        q = (
            df.writeStream.foreachBatch(batch_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q
