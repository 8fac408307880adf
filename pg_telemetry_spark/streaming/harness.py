"""Micro-batch test harness for Structured Streaming operators.

Drives a file-stream source the way the reference's collector drives
its ingest loop: Parquet files land in a directory one batch at a
time; each ``run_available`` call starts the stream with
``Trigger.AvailableNow`` against the SAME checkpoint, so only
newly-landed files are processed — exactly the restart-and-catch-up
semantics of a production collector, compressed into a test.

The harness is a context manager: entering it makes ``base_dir``
(a :func:`session.scratch_dir`), which holds its landing files and
checkpoints, and leaving it deletes that directory.  A harness that is
never entered touches no disk.

Output is captured through ``foreachBatch`` (driver-side in local
mode), which is also the engine's warehouse-sink seam: in production
the capture function is replaced by ``batch_df.write.format("jdbc")``
(or a ClickHouse connector) keyed by ``batchId`` for idempotence.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pg_telemetry_spark.session import scratch_dir
from pg_telemetry_spark.streaming import run_available_now


#: Confs for every harness run; :func:`streaming.run_available_now`
#: sets them, with the checkpoint file manager, for the run only and
#: restores the host session's values afterwards.
#:
#: Width 4: stateful streaming creates one state store PER shuffle
#: partition per operator; on a host session left at the 200-partition
#: default, store init/commit dominates a local micro-batch run by ~6×
#: (measured 35 s -> 6 s per query).  The partitioning is recorded in
#: the checkpoint at first run, so every run of one harness uses it.
#: At cluster scale state partitioning follows the cluster's shuffle
#: sizing instead — this is local-harness ergonomics, not a scale
#: setting.  Optimization r17's interleaved 8/4/2 sweep at sf0.01
#: (``tools/sweep_stream_width.py`` at 53d81e8) measured 4 dominant —
#: per-op mins w8→w4: str_stream_stream_join 7.8→5.0 s, str_watermark
#: 4.4→3.2, str_topk_windowed 3.6→2.8, suite totals 41.9→35.2 s —
#: while 2 was mixed (only the stream-stream join kept improving) and
#: halves state parallelism for no suite-level gain.
#:
#: RocksDB (bundled rocksdbjni) is the scale story for stateful
#: streaming — the default HDFS-backed provider holds every key in
#: executor heap, so 100 TB of keyed state OOMs, while RocksDB spills
#: state to local SSD with bounded memory (SURVEY §3 EP3).
#:
#: Results are independent of both (the batch equivalence tests pin
#: them).
STREAM_CONFS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


@dataclass
class FileStreamHarness:
    spark: SparkSession
    schema: T.StructType

    def __enter__(self) -> FileStreamHarness:
        self.base_dir = scratch_dir("pgts_stream_")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.base_dir, ignore_errors=True)

    @property
    def landing(self) -> str:
        return f"{self.base_dir}/landing"

    def checkpoint(self, name: str) -> str:
        return f"{self.base_dir}/ckpt_{name}"

    def add_batch(self, df: DataFrame) -> None:
        """Land one micro-batch as a Parquet file."""
        Path(self.landing).mkdir(parents=True, exist_ok=True)
        df.coalesce(1).write.mode("append").parquet(self.landing)

    def stream(self) -> DataFrame:
        return self.spark.readStream.schema(self.schema).parquet(self.landing)

    def run_available(
        self,
        transformed: DataFrame,
        name: str,
        output_mode: str = "update",
    ) -> list[list]:
        """Run the stream to exhaustion (AvailableNow) against the
        checkpoint ``name``, with :data:`STREAM_CONFS` and the
        checkpoint's file manager (:func:`streaming.run_available_now`);
        return the rows captured from each micro-batch as lists of Row."""
        captured: list[list] = []

        def capture(batch_df: DataFrame, batch_id: int) -> None:
            captured.append(batch_df.collect())

        run_available_now(
            transformed, capture, self.checkpoint(name), output_mode, STREAM_CONFS
        )
        return captured
