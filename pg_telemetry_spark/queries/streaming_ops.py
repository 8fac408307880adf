"""Streaming operators — SURVEY.md §2.9 (streaming half) + §2.1 sinks.

Each query drives a real Structured Streaming job through the
micro-batch harness (file source, AvailableNow triggers against a
persistent checkpoint — the restart-and-catch-up loop of a production
collector) and returns the materialized outcome as a batch DataFrame
for the rows-only check.  The semantics-bearing assertions (late-row
drops, dedup across batches, state evolution, idempotent re-runs)
live in tests/test_units_streaming.py.

All tier C by design: streaming outcomes depend on micro-batch
boundaries, which no single oracle SQL statement models.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pg_telemetry_spark.registry import query
from pg_telemetry_spark.session import local_frame
from pg_telemetry_spark.streaming import run_available_now
from pg_telemetry_spark.streaming.harness import STREAM_CONFS, FileStreamHarness
from pg_telemetry_spark.tables import load_table

#: Streaming event schema: TimestampType (not ntz) — watermarks track
#: event time on the UTC session clock.
STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_COLS = [f.name for f in STREAM_SCHEMA.fields]


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04").cast("timestamp_ntz")
    )
    return e.select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _day_batches(events: DataFrame, days: list[str]) -> list[DataFrame]:
    out = []
    for day in days:
        lo = F.lit(day).cast("timestamp")
        hi = F.lit(day).cast("timestamp") + F.expr("INTERVAL 1 DAY")
        out.append(events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)))
    return out


@query("src_stream_file", group="streaming", tier="C")
def src_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source: three daily batches land and are processed
    incrementally (checkpointed offsets — each run sees only new
    files); returns per-batch row counts."""
    events = _stream_events(spark, sf_dir)
    rows = []
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        days = ["2024-01-01", "2024-01-02", "2024-01-03"]
        for i, b in enumerate(_day_batches(events, days)):
            h.add_batch(b)
            captured = h.run_available(h.stream(), "src", output_mode="append")
            rows.append((i, sum(len(c) for c in captured)))
    return local_frame(spark, rows, "batch int, n_rows bigint")


@query("str_watermark", group="streaming", tier="C")
def str_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation: after day-1 and day-2
    batches advance the watermark, a third batch replaying day-1 rows
    (now far behind the 10-minute watermark) is dropped; returns the
    final per-hour counts."""
    events = _stream_events(spark, sf_dir)
    batches = _day_batches(events, ["2024-01-01", "2024-01-02"])
    late_replay = batches[0].limit(50)  # day-1 rows arriving after day-2

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("window.start").alias("bucket"), "n_events")
        )

    state: dict = {}
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in [*batches, late_replay]:
            h.add_batch(b)
            for captured in h.run_available(agg(h.stream()), "wm", output_mode="update"):
                for r in captured:
                    state[r.bucket] = r.n_events
    return local_frame(spark, sorted(state.items()), "bucket timestamp, n_events bigint")


@query("str_dedup", group="streaming", tier="C")
def str_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id across micro-batches: batch 2
    replays half of batch 1; each unique event is emitted exactly
    once.  Returns per-type counts of the deduped stream."""
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    emitted: list = []
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in [day1, day1.limit(100).unionByName(day2)]:
            h.add_batch(b)
            for captured in h.run_available(
                h.stream().dropDuplicates(["event_id"]), "dedup", output_mode="append"
            ):
                emitted.extend(captured)
    out = local_frame(spark, emitted, STREAM_SCHEMA)
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.countDistinct("event_id").alias("n_unique")
    )


#: Target per-shard key width for the shard-salted GroupState recipe
#: (VERDICT r14 #3): each shard's state row holds ALL its users'
#: (id, n, sum) triples (~24 B/user) and is rewritten whole per batch,
#: so state-row size and per-batch serde grow linearly with keys per
#: shard.  50k keys -> ~1.2 MB per state row, comfortably inside the
#: state store's per-row path; the floor of 64 shards keeps the
#: Python-task parallelism of the r14 recipe at every fixture scale
#: (the rule only raises the count past 64 x 50k = 3.2M keys).
SHARD_TARGET_KEYS = 50_000
SHARD_FLOOR = 64


def sized_shard_count(n_keys: int) -> int:
    """Shards for a corpus with ``n_keys`` distinct state keys:
    max(SHARD_FLOOR, ceil(n_keys / SHARD_TARGET_KEYS)).  Measured
    (tools/measure_stateful_shards.py at 53d81e8, STATEFUL_SHARDS.json):
    at the 64 floor a 5M-key stream holds 78k keys/shard = 643 KB per
    durable state row; the rule sizes it to 100 shards / <=50k keys
    = 450 KB rows at flat wall time (71.1 vs 69.8 s).  The linear
    growth is the point: at 1B keys the floor would build ~125 MB
    state rows, past the state store's per-row path, while the rule
    holds every row at the measured ~0.5 MB."""
    import math

    return max(SHARD_FLOOR, math.ceil(max(n_keys, 1) / SHARD_TARGET_KEYS))


def _sharded_running_update(key, pdfs, state):
    """Per-SHARD GroupState update: users' running (n, sum) pairs as
    parallel arrays, one vectorized pandas groupby per batch."""
    import pandas as pd

    if state.exists:
        users, ns, ss = state.get
        held = {int(u): (int(n), float(s)) for u, n, s in zip(users, ns, ss)}
    else:
        held = {}
    touched: dict = {}
    for pdf in pdfs:
        # "size" counts EVERY row (matching the pre-shard len(pdf)
        # per-user semantics) where "count" silently excludes rows
        # with a null value (ADVICE r14); pandas sum skips nulls,
        # same as the pre-shard accumulate.
        g = pdf.groupby("user_id").agg(n=("value", "size"), s=("value", "sum"))
        for u, cnt, sm in zip(
            g.index.to_numpy(), g["n"].to_numpy(), g["s"].to_numpy()
        ):
            n0, s0 = held.get(int(u), (0, 0.0))
            cur = (n0 + int(cnt), s0 + float(sm))
            held[int(u)] = cur
            touched[int(u)] = cur
    keys = sorted(held)
    state.update(
        (
            keys,
            [held[u][0] for u in keys],
            [float(held[u][1]) for u in keys],
        )
    )
    tu = sorted(touched)
    yield pd.DataFrame(
        {
            "user_id": tu,
            "n_events": [touched[u][0] for u in tu],
            "sum_value": [round(touched[u][1], 6) for u in tu],
        }
    )


_STATEFUL_OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
_STATEFUL_STATE_SCHEMA = "users array<bigint>, ns array<bigint>, ss array<double>"


def sharded_running_agg(stream: DataFrame, n_shards: int) -> DataFrame:
    """The shard-salted running (count, sum) per user over a stream —
    the reusable form of str_stateful's transform."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withColumn("shard", F.col("user_id") % n_shards)
        .groupBy("shard")
        .applyInPandasWithState(
            _sharded_running_update,
            _STATEFUL_OUT_SCHEMA,
            _STATEFUL_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


@query("str_stateful", group="streaming", tier="C")
def str_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing: per-user running event counter
    and running value sum maintained in GroupState across micro-
    batches (applyInPandasWithState), with the state SHARD-SALTED
    (user_id % n_shards) so the per-group Python tax is paid once per
    shard per batch instead of once per user.  The shard count is
    SIZED from the observed key cardinality (r15, VERDICT r14 #3):
    max(64, ceil(keys / 50k)) keeps every shard's state row bounded at
    ~1.2 MB no matter how many users the stream accumulates — with a
    fixed 64 the per-shard arrays grow linearly with total keys (1B
    keys -> ~375 MB rows, past the state store's row path).  In this
    batch-replay harness the cardinality is one approx_count_distinct
    over the replayed days; a production stream sizes it from the
    previous period's observed keys (re-sharding = one state rebuild,
    since shard membership is user_id % n).  Returns the final
    per-user state after two batches.

    Spark 4's successor API (transformWithStateInPandas +
    StatefulProcessor) was probed and is unusable in this container:
    its state-server protocol requires google.protobuf, absent here
    (no package installs allowed).  The GroupState formulation is
    semantically equivalent for this operator and is what the
    cross-check test pins.  The successor path stays probed by
    tests/test_units_streaming.py::test_transform_with_state_successor_api,
    which runs the real API end-to-end and skips with the exact
    blocker — the day the container gains protobuf it lights up
    automatically."""
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    n_keys = (
        day1.unionByName(day2)
        .agg(F.approx_count_distinct("user_id").alias("k"))
        .head()["k"]
    )
    n_shards = sized_shard_count(n_keys)

    final: dict = {}
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in (day1, day2):
            h.add_batch(b)
            transformed = sharded_running_agg(h.stream(), n_shards)
            for captured in h.run_available(transformed, "stateful", output_mode="update"):
                for r in captured:
                    final[r.user_id] = (r.n_events, r.sum_value)
    return local_frame(
        spark, [(u, n, s) for u, (n, s) in sorted(final.items())], _STATEFUL_OUT_SCHEMA
    )


@query("str_stream_static", group="streaming", tier="C")
def str_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    cohort dimension (broadcast every micro-batch); returns per-cohort
    counts."""
    events = _stream_events(spark, sf_dir)
    (day1,) = _day_batches(events, ["2024-01-01"])
    cohorts = spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("cohort_"), (F.col("id") % 5).cast("string")).alias("cohort"),
    )
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        h.add_batch(day1)
        enriched = h.stream().join(F.broadcast(cohorts), "user_id")
        captured = h.run_available(enriched, "static", output_mode="append")
    rows = [r for c in captured for r in c]
    out = local_frame(
        spark, [(r.cohort, r.event_id) for r in rows], "cohort string, event_id bigint"
    )
    return out.groupBy("cohort").agg(F.count("*").alias("n_events"))


@query("str_output_modes", group="streaming", tier="C")
def str_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append vs update vs complete over the same watermarked windowed
    count: append emits only watermark-finalized windows, update emits
    changed windows per batch, complete re-emits the full result.
    Returns (mode, batches, rows_emitted, distinct_windows)."""
    events = _stream_events(spark, sf_dir)
    batches = _day_batches(events, ["2024-01-01", "2024-01-02"])
    rows = []
    for mode in ("append", "update", "complete"):
        emitted = 0
        windows: set = set()
        n_runs = 0
        with FileStreamHarness(spark, STREAM_SCHEMA) as h:
            for b in batches:
                h.add_batch(b)
                agg = (
                    h.stream()
                    .withWatermark("ts", "10 minutes")
                    .groupBy(F.window("ts", "1 hour"))
                    .agg(F.count("*").alias("n_events"))
                    .select(F.col("window.start").alias("bucket"), "n_events")
                )
                for captured in h.run_available(agg, f"mode_{mode}", output_mode=mode):
                    n_runs += 1
                    emitted += len(captured)
                    windows.update(r.bucket for r in captured)
        rows.append((mode, n_runs, emitted, len(windows)))
    return local_frame(
        spark,
        rows,
        "mode string, batches int, rows_emitted bigint, distinct_windows bigint",
    )


@query("snk_foreachbatch", group="streaming", tier="C")
def snk_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent foreachBatch warehouse sink — the 'DataFrame writes
    to ClickHouse' seam: each micro-batch overwrites its own
    batch-keyed output directory, so replaying a batch cannot
    duplicate rows.  Local tests write Parquet; production swaps the
    writer body for batch_df.write.format('jdbc'/'clickhouse').
    Returns per-type counts read back from the sink."""
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    sink_dir = tempfile.mkdtemp(prefix="pgts_sink_")

    def write_warehouse(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite-by-batchId = exactly-once under replays
        batch_df.write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")

    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in (day1, day2):
            h.add_batch(b)
            run_available_now(
                h.stream(), write_warehouse, h.checkpoint("sink"), confs=STREAM_CONFS
            )
    back = spark.read.schema(STREAM_SCHEMA).parquet(f"{sink_dir}/batch_id=*")
    return back.groupBy("event_type").agg(F.count("*").alias("n_events"))


@query("str_stream_stream_join", group="streaming", tier="C")
def str_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: a click stream
    joins a purchase stream on user_id where the purchase lands within
    1 hour AFTER the click.  Both sides carry watermarks, and the
    time-range condition lets Spark expire join state (without it,
    stream-stream state grows forever — THE failure mode of unbounded
    stream joins).  Two file sources, two micro-batches each; returns
    per-user match counts."""
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    matched: list = []
    with (
        FileStreamHarness(spark, STREAM_SCHEMA) as clicks_h,
        FileStreamHarness(spark, STREAM_SCHEMA) as buys_h,
    ):
        for b in (day1, day2):
            clicks_h.add_batch(b.filter(F.col("event_type") == "click"))
            buys_h.add_batch(b.filter(F.col("event_type") == "purchase"))
            clicks = (
                clicks_h.stream()
                .withWatermark("ts", "30 minutes")
                .select(
                    F.col("user_id"),
                    F.col("ts").alias("click_ts"),
                    F.col("event_id").alias("click_id"),
                )
            )
            buys = (
                buys_h.stream()
                .withWatermark("ts", "30 minutes")
                .select(
                    F.col("user_id"),
                    F.col("ts").alias("buy_ts"),
                    F.col("event_id").alias("buy_id"),
                )
            )
            joined = clicks.join(
                buys,
                (clicks.user_id == buys.user_id)
                & (F.col("buy_ts") >= F.col("click_ts"))
                & (F.col("buy_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            ).select(clicks.user_id, "click_id", "buy_id")
            # the capture sink needs a checkpoint shared across runs; reuse
            # the click harness's checkpoint namespace
            for captured in clicks_h.run_available(joined, "ssjoin", output_mode="append"):
                matched.extend(captured)
    out = local_frame(
        spark,
        [(r.user_id, r.click_id, r.buy_id) for r in matched],
        "user_id bigint, click_id bigint, buy_id bigint",
    )
    return (
        out.dropDuplicates(["click_id", "buy_id"])
        .groupBy("user_id")
        .agg(F.count("*").alias("n_matches"))
    )


@query("str_session_window", group="streaming", tier="C")
def str_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-minute inactivity gap) —
    the streaming twin of the batch gaps-and-islands ts_session.
    Append mode emits a session only once its window is finalized past
    the watermark, so sessions merge/extend safely across micro-
    batches; the day-3 batch advances the watermark to flush day-2
    sessions, and day-3's own (unflushable) sessions are excluded from
    the result.  The unit test pins these sessions to the batch
    formulation on the same slice."""
    events = _stream_events(spark, sf_dir)
    day1, day2, day3 = _day_batches(
        events, ["2024-01-01", "2024-01-02", "2024-01-03"]
    )

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )

    emitted: list = []
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in (day1, day2, day3):
            h.add_batch(b)
            for captured in h.run_available(agg(h.stream()), "sess", output_mode="append"):
                emitted.extend(captured)
    out = local_frame(
        spark,
        emitted,
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, sum_value double",
    )
    return out.filter(F.col("session_start") < F.lit("2024-01-03").cast("timestamp"))


@query("str_sliding_window", group="streaming", tier="C")
def str_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (2-hour window, 1-hour
    slide): every event contributes to two overlapping windows, so
    update-mode re-emissions revise both as batches land — the state
    store carries window-count × key state, which is why the slide
    ratio (window/slide = state amplification factor) is the scale
    knob to watch at 100 TB.  Returns the final per-window counts
    and value sums for day 1-2."""
    events = _stream_events(spark, sf_dir)
    batches = _day_batches(events, ["2024-01-01", "2024-01-02"])

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "2 hours", "1 hour"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                F.col("window.start").alias("bucket"), "n_events", "sum_value"
            )
        )

    state: dict = {}
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in batches:
            h.add_batch(b)
            for captured in h.run_available(agg(h.stream()), "slide", output_mode="update"):
                for r in captured:
                    state[r.bucket] = (r.n_events, r.sum_value)
    return local_frame(
        spark,
        [(k, *v) for k, v in sorted(state.items())],
        "bucket timestamp, n_events bigint, sum_value double",
    )


@query("str_topk_windowed", group="streaming", tier="C")
def str_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k maintained across micro-batches: hourly
    (window, event_type) counts in update mode over two daily
    batches; the driver-side state map absorbs each update and the
    final top-3 types per hour is computed from the materialized
    state — the leaderboard pattern (update-mode agg + small final
    rank) a dashboard keeps live.

    The streaming agg state is (hours x types)-sized — bounded by the
    key domain, not the input; watermark expiry would bound it in a
    long-running job."""
    events = _stream_events(spark, sf_dir)
    batches = _day_batches(events, ["2024-01-01", "2024-01-02"])

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("bucket"), "event_type", "n")
        )

    state: dict = {}
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in batches:
            h.add_batch(b)
            for captured in h.run_available(agg(h.stream()), "topk", output_mode="update"):
                for r in captured:
                    state[(r.bucket, r.event_type)] = r.n
    final = local_frame(
        spark,
        [(k[0], k[1], v) for k, v in sorted(state.items())],
        "bucket timestamp, event_type string, n bigint",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("bucket").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("bucket", "rnk")
    )


@query("str_anomaly_baseline", group="streaming", tier="C")
def str_anomaly_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-baseline anomaly alerting: a static per-(event_type,
    hour-of-day) mean hourly count baseline — built from the HISTORY
    partition of the table (days >= Jan 4, disjoint from the streamed
    days) — broadcast-joins each micro-batch's hourly counts; rows
    where the live count exceeds 1.5x baseline emit as alerts.  The
    static side is computed once and reused across batches (the
    stream-static contract), which is exactly how a production
    detector pins its reference week.

    Returns the alert census per event_type: n_alerts, max ratio."""
    ev = load_table(spark, sf_dir, "events")
    hist = ev.filter(F.col("ts") >= F.lit("2024-01-04").cast("timestamp_ntz"))
    baseline = (
        hist.groupBy(
            "event_type",
            F.hour("ts").alias("hod"),
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(F.count("*").alias("n"))
        .groupBy("event_type", "hod")
        .agg(
            F.round(
                F.sum(F.col("n").cast("decimal(18,6)")).cast("double") / F.count("*"),
                6,
            ).alias("base")
        )
    )
    events = _stream_events(spark, sf_dir)
    batches = _day_batches(events, ["2024-01-01", "2024-01-02"])

    def agg(stream: DataFrame) -> DataFrame:
        hourly = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").alias("bucket"),
                "event_type",
                F.hour(F.col("window.start")).alias("hod"),
                "n",
            )
        )
        return hourly.join(F.broadcast(baseline), ["event_type", "hod"]).filter(
            F.col("n") > 1.5 * F.col("base")
        )

    alerts: dict = {}
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        for b in batches:
            h.add_batch(b)
            for captured in h.run_available(
                agg(h.stream()), "anom", output_mode="update"
            ):
                for r in captured:
                    alerts[(r.bucket, r.event_type)] = round(r.n / r.base, 6)
    rows = [
        (et, b, ratio) for (b, et), ratio in sorted(alerts.items(), key=lambda kv: (kv[0][1], kv[0][0]))
    ]
    out = local_frame(
        spark,
        rows or [("__none__", None, 0.0)],
        "event_type string, bucket timestamp, ratio double",
    )
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_alerts"), F.round(F.max("ratio"), 6).alias("max_ratio")
    ).orderBy("event_type")
