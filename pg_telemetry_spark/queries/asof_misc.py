"""As-of join + physical-layout operators (SURVEY.md §2.3 join_asof,
§2.6 sort_partitions)."""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pg_telemetry_spark.operators.asof import asof_join
from pg_telemetry_spark.queries.relational import EVENTS_V
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.session import local_frame, scratch_dir
from pg_telemetry_spark.tables import load_table


@query(
    "join_asof",
    group="joins",
    tier="B",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM {EVENTS_V} e WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, value FROM {EVENTS_V} e WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       round(c.value, 6) AS asof_value,
       c.ts AS asof_ts
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase enriched with the user's latest click
    value at-or-before it (window-union pattern, oracle: native DuckDB
    ASOF JOIN)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value", "click_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("asof_value", 6).alias("asof_value"),
        F.col("asof_click_ts").alias("asof_ts"),
    )


@query("sort_partitions", group="layout", tier="C")
def sort_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortWithinPartitions write-layout primitive, made observable:
    after repartition(user_id) + sortWithinPartitions(user_id, ts),
    every partition must verify as sorted (checked partition-locally
    via mapInPandas — no data movement)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    laid_out = e.repartition(8, "user_id").sortWithinPartitions("user_id", "ts")

    def check(batches):
        pid_rows = 0
        ok = True
        prev = None
        for pdf in batches:
            for u, t in zip(pdf["user_id"], pdf["ts"]):
                if prev is not None and (u, t) < prev:
                    ok = False
                prev = (u, t)
            pid_rows += len(pdf)
        yield pd.DataFrame({"n_rows": [pid_rows], "is_sorted": [ok]})

    per_part = laid_out.mapInPandas(check, "n_rows bigint, is_sorted boolean")
    return per_part.groupBy("is_sorted").agg(
        F.count("*").alias("n_partitions"), F.sum("n_rows").alias("n_rows")
    )


_Z_TERMS = " + ".join(
    f"(((a >> {k}) & 1) << {2 * k}) + (((b >> {k}) & 1) << {2 * k + 1})"
    for k in range(8)
)


@query(
    "layout_zorder",
    group="layout",
    oracle=f"""
WITH dims AS (
  SELECT user_id % 256 AS a,
         ((datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 256) + 256) % 256 AS b
  FROM {EVENTS_V} e
), z AS (
  SELECT a, b, ({_Z_TERMS}) AS zval FROM dims
)
SELECT zval >> 10 AS z_bucket,
       count(*) AS n_events,
       min(a) AS min_user_bits, max(a) AS max_user_bits,
       min(b) AS min_day, max(b) AS max_day
FROM z GROUP BY z_bucket
""",
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering stats: interleave the low 8 bits of
    two query dimensions (user bucket, day index) into a 16-bit
    z-value, then report per-1024-z-range row counts and BOTH dims'
    min/max — exactly the footer statistics a parquet reader prunes
    on after the table is rewritten in z order.

    Each z-range fixes the top 3 bits of BOTH dims, so every bucket
    confines user-bucket AND day to a <=32-wide span — the property
    that makes predicates on EITHER dimension prune ~31/32 of the
    file ranges, where a single-dim sort leaves the second dimension
    spanning its whole domain in every file.

    Scale shape: the z-value is a narrow bit-arithmetic map (pure
    codegen, no UDF); the report is one hash-agg on the 64 z-ranges.
    At 100 TB the layout action is `repartitionByRange(zval) +
    sortWithinPartitions(zval)` at write time — this operator is the
    audit that the resulting clustering is tight, and doubles as the
    z-value kernel that write path reuses."""
    e = load_table(spark, sf_dir, "events")
    # pmod, not %: datediff is negative for pre-epoch events, and a
    # negative b corrupts the bit interleave (shiftright/AND on a
    # negative day index) — the fixtures happen to start at the epoch
    # date, but the kernel must not depend on that.
    dims = e.select(
        (F.col("user_id") % 256).alias("a"),
        F.pmod(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")), F.lit(256)
        ).alias("b"),
    )
    zval = None
    for k in range(8):
        term = F.shiftleft(
            F.shiftright(F.col("a"), k).bitwiseAND(F.lit(1)), 2 * k
        ) + F.shiftleft(F.shiftright(F.col("b"), k).bitwiseAND(F.lit(1)), 2 * k + 1)
        zval = term if zval is None else zval + term
    return (
        dims.withColumn("zval", zval)
        .groupBy(F.shiftright("zval", 10).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("a").alias("min_user_bits"),
            F.max("a").alias("max_user_bits"),
            F.min("b").alias("min_day"),
            F.max("b").alias("max_day"),
        )
    )


@query("layout_compaction", group="layout", tier="C")
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the table-maintenance job every
    100 TB lakehouse runs nightly: land events partitioned by day with
    a deliberately fragmented layout (8 writer tasks per day), scan
    the resulting FILE MANIFEST (metadata, never data), and plan
    compaction bins per partition with first-fit-decreasing at a
    4 MiB target.  Returns the per-partition plan summary a
    maintenance scheduler consumes: file count, bin count, and the
    bytes histogram before/after.

    Scale shape: the only data-sized job is the initial landing
    (reused as a fixture); planning reads the manifest — thousands of
    (path, size) rows per partition, metadata-sized by definition —
    and bin-packs PER PARTITION inside applyInPandas, so a million-
    partition table plans in parallel with no driver loop.  FFD is
    sequential per partition by nature; its input is bounded by
    files-per-partition, not rows.  Tier C: structural golden
    (tests/test_units_sources.py) pins bin invariants — every bin
    <= target unless it is a single oversize file, bin count matches
    the local FFD replay, no file lost or duplicated."""
    import os

    import pandas as pd

    target = 4 * 1024 * 1024
    e = load_table(spark, sf_dir, "events")
    out = scratch_dir("pgts_compact_")
    (
        e.withColumn("day", F.to_date("ts"))
        .repartition(8, "event_id")  # deliberate fragmentation
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    manifest = []
    for root, _dirs, files in os.walk(out):
        for fn in files:
            if fn.endswith(".parquet"):
                part = os.path.basename(root)
                manifest.append(
                    (part, fn, os.path.getsize(os.path.join(root, fn)))
                )
    mdf = local_frame(
        spark, manifest, "partition string, file string, bytes bigint"
    )

    def plan(key, pdf):
        pdf = pdf.sort_values(
            ["bytes", "file"], ascending=[False, True]
        )  # FFD: largest first, name-stable ties
        bins: list[int] = []
        for b in pdf["bytes"]:
            placed = False
            for j in range(len(bins)):
                if bins[j] + b <= target:
                    bins[j] += b
                    placed = True
                    break
            if not placed:
                bins.append(int(b))
        return pd.DataFrame(
            {
                "partition": [key[0]],
                "n_files": [len(pdf)],
                "total_bytes": [int(pdf["bytes"].sum())],
                "n_bins": [len(bins)],
                "max_bin_bytes": [max(bins)],
            }
        )

    schema = (
        "partition string, n_files bigint, total_bytes bigint, "
        "n_bins bigint, max_bin_bytes bigint"
    )
    return (
        mdf.groupBy("partition").applyInPandas(plan, schema=schema).orderBy("partition")
    )
