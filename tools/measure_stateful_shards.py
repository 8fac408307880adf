"""Measure the shard-salted GroupState sizing rule (VERDICT r14 #3).

The r14 recipe fixed N_SHARDS=64; per-shard state holds ALL its
users' (id, n, sum) arrays and is rewritten whole per batch, so
state-row size grows linearly with total keys.  r15's
``sized_shard_count`` raises the shard count past 64 x 50k = 3.2M
keys to keep every state row <= ~1.2 MB.  This tool runs the SAME
shipped kernel (streaming_ops.sharded_running_agg) over synthetic
two-batch streams at two key cardinalities — one below the knee
(the 64-shard floor) and one above (the rule engages) — and records
the state store's own accounting (rows / bytes from the streaming
progress) plus wall time, at BOTH the floor and the sized count for
the large leg, so the rule's effect is on the record.

Usage: python tools/measure_stateful_shards.py [small_keys large_keys]
Writes STATEFUL_SHARDS.json; paste the table into BASELINE.md/SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from pg_telemetry_spark.queries.streaming_ops import (  # noqa: E402
    STREAM_SCHEMA,
    SHARD_FLOOR,
    sharded_running_agg,
    sized_shard_count,
)
from pg_telemetry_spark.session import get_session  # noqa: E402
from pg_telemetry_spark.streaming.harness import FileStreamHarness  # noqa: E402

OUT = "/root/repo/STATEFUL_SHARDS.json"


def _synth_events(spark, n_keys: int, events_per_key: int = 2):
    """events_per_key x n_keys deterministic events (every key seen in
    both batches), in the stream schema."""
    n = n_keys * events_per_key
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (
                F.lit("2024-01-01").cast("timestamp")
                + (F.col("id") % 86400).cast("string").cast("interval second")
            ).alias("ts"),
            (F.col("id") % n_keys).alias("user_id"),
            F.lit("view").alias("event_type"),
            (F.col("id") % 1000).cast("double").alias("value"),
        )
    )


def _run_leg(spark, n_keys: int, n_shards: int) -> dict:
    events = _synth_events(spark, n_keys)
    half = n_keys  # rows per batch (events_per_key=2)
    b1 = events.filter(F.col("event_id") < half)
    b2 = events.filter(F.col("event_id") >= half)
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        mark = len(FileStreamHarness.progress_log)
        t0 = time.perf_counter()
        emitted = 0
        for b in (b1, b2):
            h.add_batch(b)
            for captured in h.run_available(
                sharded_running_agg(h.stream(), n_shards), "shards", output_mode="update"
            ):
                emitted += len(captured)
        wall = time.perf_counter() - t0
        state_rows = 0
        for entry in FileStreamHarness.progress_log[mark:]:
            for batch in entry["batches"]:
                state_rows = max(state_rows, batch["state_rows"] or 0)
        # the DURABLE state footprint: sum of the checkpoint's state files
        # (RocksDB's memoryUsedBytes only reports the un-flushed memtable,
        # which reads ~0 after a flush — useless as a size metric here)
        state_dir = Path(h.checkpoint("shards")) / "state"
        state_bytes = sum(p.stat().st_size for p in state_dir.rglob("*") if p.is_file())
        return {
            "n_keys": n_keys,
            "n_shards": n_shards,
            "keys_per_shard": -(-n_keys // n_shards),
            "state_rows": state_rows,
            "state_ckpt_bytes": state_bytes,
            "bytes_per_shard_row": round(state_bytes / max(1, state_rows)),
            "emitted_rows": emitted,
            "wall_sec": round(wall, 2),
        }


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    large = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = get_session("measure-shards")
    out = {"metric": "stateful_shard_sizing", "target_keys_per_shard": 50_000, "legs": []}
    # small leg: the rule resolves to the 64-shard floor (r14 shape)
    out["legs"].append(_run_leg(spark, small, sized_shard_count(small)))
    # large leg at the FLOOR: what r14's constant would have done
    out["legs"].append(_run_leg(spark, large, SHARD_FLOOR))
    # large leg SIZED: the r15 rule
    out["legs"].append(_run_leg(spark, large, sized_shard_count(large)))
    print(json.dumps(out))
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
