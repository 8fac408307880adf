"""Sources & sinks — SURVEY.md §2.1 (batch half).

Scans with explicit schemas (column pruning + pushdown reach the
Parquet reader), secondary-format round-trips, the JDBC stat-view
seam, and the partitioned warehouse writer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pg_telemetry_spark.registry import query
from pg_telemetry_spark.session import local_frame, scratch_dir
from pg_telemetry_spark.sources.jdbc_pg import source_descriptor
from pg_telemetry_spark.tables import SCHEMAS, load_table
from pg_telemetry_spark.warehouse.layout import (
    read_events_warehouse,
    write_events_warehouse,
)


@query(
    "src_parquet_scan",
    group="sources",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan with explicit schema and stable column order."""
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@query(
    "src_events_nanos",
    group="sources",
    oracle="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events
""",
)
def src_events_nanos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TIMESTAMP(NANOS) workaround end-to-end: nanosAsLong read +
    microsecond conversion must reproduce DuckDB's native ns read."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query(
    "src_csv_json",
    group="sources",
    oracle="""
SELECT n.n_name, r.r_name, count(*) AS n_rows
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""",
)
def src_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-format ingest parity: fixtures round-trip through CSV
    (nation) and JSON lines (region) with explicit schemas, then join
    — the result must be indistinguishable from the Parquet path."""
    tmp = scratch_dir("pgts_fmt_")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nation.write.mode("overwrite").option("header", True).csv(f"{tmp}/nation_csv")
    region.write.mode("overwrite").json(f"{tmp}/region_json")
    n2 = spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(f"{tmp}/nation_csv")
    r2 = spark.read.schema(SCHEMAS["region"]).json(f"{tmp}/region_json")
    return (
        n2.join(F.broadcast(r2), n2.n_regionkey == r2.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_rows"))
    )


@query("src_jdbc_pg", group="sources", tier="C")
def src_jdbc_pg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres stat-view JDBC source seam (no live DB here): records
    the configured partitioned-read plan per stat view."""
    return source_descriptor(spark)


@query("snk_parquet_part", group="sources", tier="C")
def snk_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse layout round-trip: day-partitioned, series-sorted
    write, read back -> per-day row counts (must equal source).  The
    partition column enables static + dynamic pruning (asserted by the
    plan-shape tests)."""
    tmp = scratch_dir("pgts_wh_")
    events = load_table(spark, sf_dir, "events")
    write_events_warehouse(events, f"{tmp}/events")
    back = read_events_warehouse(spark, f"{tmp}/events")
    return (
        back.groupBy("event_date")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_date")
    )


@query(
    "src_orc",
    group="sources",
    oracle="""
SELECT s_nationkey, count(*) AS n_suppliers, round(sum(s_acctbal), 6) AS sum_acctbal
FROM supplier GROUP BY s_nationkey
""",
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip parity: supplier written to ORC (zlib,
    dictionary-encoded — Spark's second columnar warehouse format),
    read back with explicit schema, aggregated.  Must be
    indistinguishable from the Parquet path; predicate/column pushdown
    works on ORC scans the same way (plan-shape test)."""
    tmp = scratch_dir("pgts_orc_")
    supplier = load_table(spark, sf_dir, "supplier")
    supplier.write.mode("overwrite").orc(f"{tmp}/supplier_orc")
    s2 = spark.read.schema(SCHEMAS["supplier"]).orc(f"{tmp}/supplier_orc")
    return s2.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 6).alias("sum_acctbal"),
    )


@query(
    "src_kafka_roundtrip",
    group="sources",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT user_id % 32) AS n_partitions
FROM (SELECT * FROM events) e
GROUP BY event_type
""",
)
def src_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka ingest seam, exercised without a broker: fixture events
    are encoded as Kafka-shaped records (binary JSON value, user_id
    partition key) and pushed through the real decode transform
    (from_json -> typed columns) — the exact DataFrame logic the
    streaming reader feeds.  The aggregate must match the raw events,
    proving the encode/decode round-trip is lossless; the reader
    builder itself (sources/kafka_stream.py) awaits a broker + jar."""
    from pg_telemetry_spark.sources.kafka_stream import (
        decode_events,
        fixture_as_kafka_records,
    )

    e = load_table(spark, sf_dir, "events")
    decoded = decode_events(fixture_as_kafka_records(e))
    return decoded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.countDistinct("partition").alias("n_partitions"),
    )


@query(
    "src_schema_evolution",
    group="sources",
    oracle="""
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(n_comment_len) AS BIGINT) AS n_with_new_col
FROM (
  SELECT n_regionkey, NULL AS n_comment_len FROM nation WHERE n_nationkey < 10
  UNION ALL
  SELECT n_regionkey, length(n_name) AS n_comment_len
  FROM nation WHERE n_nationkey >= 10
) evolved
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an old batch written
    without a column and a new batch WITH it land in one dataset;
    `mergeSchema` reconciles the footers and the old rows surface the
    added column as NULL — the additive-evolution contract every
    long-lived lakehouse table depends on (at 100 TB you never
    rewrite history to add a column; you merge schemas at read and
    prune per-file).  The oracle models the same union-with-missing-
    column semantics."""
    tmp = scratch_dir("pgts_evo_")
    n = load_table(spark, sf_dir, "nation")
    old = n.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_regionkey")
    new = n.filter(F.col("n_nationkey") >= 10).select(
        "n_nationkey", "n_regionkey", F.length("n_name").cast("int").alias("n_comment_len")
    )
    old.write.mode("overwrite").parquet(f"{tmp}/batch=0")
    new.write.mode("overwrite").parquet(f"{tmp}/batch=1")
    evolved = spark.read.option("mergeSchema", "true").parquet(
        f"{tmp}/batch=0", f"{tmp}/batch=1"
    )
    return (
        evolved.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("n_comment_len").alias("n_with_new_col"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "snk_dynamic_overwrite",
    group="sources",
    oracle="""
SELECT r_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(CASE WHEN src = 'v2' THEN 1 ELSE 0 END) AS BIGINT) AS n_v2
FROM (
  SELECT n_nationkey, n_regionkey AS r_regionkey, 'v1' AS src
  FROM nation WHERE n_regionkey <> 2
  UNION ALL
  SELECT n_nationkey, n_regionkey, 'v2'
  FROM nation WHERE n_regionkey = 2
) final
GROUP BY r_regionkey
ORDER BY r_regionkey
""",
)
def snk_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill
    primitive: rewriting ONE partition's data replaces only the
    partitions present in the incoming frame and leaves every other
    partition untouched (static overwrite mode would truncate the
    whole table).  The op writes all regions as v1, overwrites only
    region 2 with v2 under `partitionOverwriteMode=dynamic`, and
    reads the table back; exactly region 2 must carry v2 rows.  At
    100 TB this is how every late-arriving day is repaired without
    touching its neighbors."""
    tmp = scratch_dir("pgts_dyn_")
    path = f"{tmp}/nations"
    n = load_table(spark, sf_dir, "nation")
    v1 = n.select("n_nationkey", "n_regionkey", F.lit("v1").alias("src"))
    v1.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)
    v2 = (
        n.filter(F.col("n_regionkey") == 2)
        .select("n_nationkey", "n_regionkey", F.lit("v2").alias("src"))
    )
    (
        v2.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("n_regionkey")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("n_regionkey").cast("int").alias("r_regionkey"))
        .agg(
            F.count("*").alias("n_nations"),
            F.sum((F.col("src") == "v2").cast("bigint")).alias("n_v2"),
        )
        .orderBy("r_regionkey")
    )


@query("src_csv_corrupt", group="sources", tier="C")
def src_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling, the ingestion reality check: a CSV
    batch with rows that don't parse (wrong arity, bad types) read in
    PERMISSIVE mode with a `_corrupt_record` column — good rows parse,
    bad rows land intact in the quarantine column for a dead-letter
    sink instead of failing the job (FAILFAST) or vanishing
    (DROPMALFORMED).  Returns per-disposition counts plus the parsed
    sum so the good-row path is value-checked; tier C because the
    corrupt-row capture itself has no SQL-oracle equivalent."""
    tmp = scratch_dir("pgts_csv_")
    path = f"{tmp}/raw.csv"
    with open(path, "w") as f:
        f.write("id,name,score\n")
        for i in range(50):
            f.write(f"{i},row{i},{i * 2}\n")
        f.write("51,missing_score\n")          # wrong arity
        f.write("52,bad_type,notanumber\n")    # unparseable int
        f.write("53,ok,106\n")
    schema = "id INT, name STRING, score INT, _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # SPARK-21610: corrupt-record queries need the full row materialized
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    try:
        rows = [
            ("good", good.count(), int(good.agg(F.sum("score")).collect()[0][0])),
            ("quarantined", bad.count(), 0),
        ]
    finally:
        df.unpersist()  # counts above materialized everything we need
    return local_frame(
        spark, rows, "disposition string, n_rows bigint, score_sum bigint"
    )


@query("snk_manifest_snapshot", group="sources", tier="C")
def snk_manifest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshot isolation over plain Parquet — the
    table-format primitive (Iceberg/Delta's core idea) built from
    parts available offline: a snapshot is an immutable JSON manifest
    listing exactly the data files it covers; a commit writes NEW
    files plus a NEW manifest (never mutating old files), so readers
    pinned to manifest v1 see v1 forever (time travel) and a reader
    picking up v2 sees the rewrite atomically — the manifest swap is
    the only commit point.

    Here: v1 = events in two hash-split files; v2 rewrites split 0
    (values doubled — an UPDATE via copy-on-write) and reuses split
    1's file untouched.  Returns per-version row counts and decimal
    value sums read back STRICTLY through the manifests; the v1 row
    must be byte-identical to a pre-commit read (pinned by
    tests/test_units_sources.py).

    At 100 TB this is exactly how partition-overwrite stays atomic
    without a table format dependency: the manifest is one small file
    on object storage, committed last; concurrent readers resolve
    file lists from whichever manifest version they opened."""
    import json as _json

    tmp = scratch_dir("pgts_snap_")
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    split0 = events.filter(F.pmod("event_id", F.lit(2)) == 0)
    split1 = events.filter(F.pmod("event_id", F.lit(2)) == 1)
    split0.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f0_v1")
    split1.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f1_v1")
    _json.dump(
        {"version": 1, "files": [f"{tmp}/f0_v1", f"{tmp}/f1_v1"]},
        open(f"{tmp}/manifest-v1.json", "w"),
    )
    # copy-on-write commit: rewrite split 0 with doubled values; the
    # new manifest reuses split 1's file without touching it
    split0.withColumn("value", F.col("value") * 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/f0_v2")
    _json.dump(
        {"version": 2, "files": [f"{tmp}/f0_v2", f"{tmp}/f1_v1"]},
        open(f"{tmp}/manifest-v2.json", "w"),
    )

    out = []
    for v in (1, 2):
        m = _json.load(open(f"{tmp}/manifest-v{v}.json"))
        snap = spark.read.parquet(*m["files"])
        row = snap.agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        ).collect()[0]
        out.append((m["version"], row["n"], float(round(row["s"], 6))))
    return local_frame(
        spark, out, "version int, n_rows long, sum_value double"
    )
