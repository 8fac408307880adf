"""Streaming semantics assertions (SURVEY.md §5): late-row drops,
cross-batch dedup, state evolution, idempotent sink replays."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from pg_telemetry_spark.queries.streaming_ops import (
    STREAM_SCHEMA,
    _day_batches,
    _stream_events,
)
from pg_telemetry_spark.streaming.harness import STREAM_CONFS, FileStreamHarness


def _mk_events(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, t, v)
        for i, m, u, t, v in rows
    ]
    return spark.createDataFrame(data, STREAM_SCHEMA)


def test_watermark_drops_late_rows(spark):
    """A row older than watermark - delay must not update its window."""
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:

        def agg(stream):
            return (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count("*").alias("n"))
                .select(F.col("window.start").alias("bucket"), "n")
            )

        # batch 1: two rows in hour 0, watermark -> 12:00-ish
        h.add_batch(_mk_events(spark, [(1, 0, 1, "click", 1.0), (2, 50, 1, "click", 1.0)]))
        h.run_available(agg(h.stream()), "late", output_mode="update")
        # batch 2: advance event time to hour 12 => watermark ~ 11:50
        h.add_batch(_mk_events(spark, [(3, 720, 1, "click", 1.0)]))
        h.run_available(agg(h.stream()), "late", output_mode="update")
        # batch 3: a late hour-0 row, far behind the watermark -> dropped
        h.add_batch(_mk_events(spark, [(4, 30, 1, "click", 1.0)]))
        captured = h.run_available(agg(h.stream()), "late", output_mode="update")
        hour0 = dt.datetime(2024, 1, 1, 0, 0)
        updates = [r for c in captured for r in c if r.bucket == hour0]
        assert updates == [], f"late row updated a closed window: {updates}"


def test_streaming_dedup_emits_each_id_once(spark, sf_dir):
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        emitted = []
        for b in [day1, day1.limit(100).unionByName(day2)]:
            h.add_batch(b)
            for captured in h.run_available(
                h.stream().dropDuplicates(["event_id"]), "d", output_mode="append"
            ):
                emitted.extend(captured)
        ids = [r.event_id for r in emitted]
        assert len(ids) == len(set(ids)), "dedup emitted an event_id twice"
        assert len(ids) == day1.unionByName(day2).select("event_id").distinct().count()


def test_stateful_counts_match_batch_groupby(spark, sf_dir):
    """Final GroupState per user == plain batch groupBy over all batches."""
    from pg_telemetry_spark.queries.streaming_ops import str_stateful

    final = {r.user_id: r.n_events for r in str_stateful(spark, sf_dir).collect()}
    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    expected = {
        r.user_id: r.n
        for r in day1.unionByName(day2)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == expected


def test_foreachbatch_sink_idempotent_on_replay(spark, sf_dir, tmp_path):
    """Re-running an already-committed batch (same checkpoint) must not
    duplicate sink rows — the exactly-once contract of the
    batchId-keyed writer."""
    events = _stream_events(spark, sf_dir)
    (day1,) = _day_batches(events, ["2024-01-01"])
    sink = str(tmp_path)
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        h.add_batch(day1)

        def writer(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

        for _ in range(2):  # second run: no new files, replays nothing new
            q = (
                h.stream()
                .writeStream.foreachBatch(writer)
                .option("checkpointLocation", h.checkpoint("idem"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        back = spark.read.schema(STREAM_SCHEMA).parquet(f"{sink}/batch_id=*")
        assert back.count() == day1.count()


def test_streaming_sessions_match_batch_gaps_and_islands(spark, sf_dir):
    """Native session_window sessions (finalized via watermark across
    micro-batches) == the batch gaps-and-islands formulation on the
    same slice.  session_window's end is last-event + gap, so ends are
    checked at a fixed 1800 s offset from the batch ends."""
    from pg_telemetry_spark.queries.streaming_ops import str_session_window
    from pg_telemetry_spark.queries.timeseries import sessionize
    from pg_telemetry_spark.tables import load_table

    streamed = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value, r.session_end)
        for r in str_session_window(spark, sf_dir)
        .filter(F.col("session_start") < F.lit("2024-01-02").cast("timestamp"))
        .collect()
    }
    batch_events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp_ntz")
    )
    expected = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value, r.session_end)
        for r in sessionize(batch_events)
        .select(
            "user_id",
            F.col("session_start").cast("timestamp"),
            F.col("session_end").cast("timestamp"),
            "n_events",
            "sum_value",
        )
        .filter(F.col("session_start") < F.lit("2024-01-02").cast("timestamp"))
        .collect()
    }
    assert set(streamed) == set(expected)
    import datetime as _dt

    gap = _dt.timedelta(seconds=1800)
    for key, (n, s, end) in streamed.items():
        en, es, eend = expected[key]
        assert (n, round(s, 6)) == (en, round(es, 6)), key
        assert end == eend + gap, (key, end, eend)


def test_stream_stream_join_matches_batch_join(spark, sf_dir):
    """The watermarked stream-stream join must find exactly the pairs
    a batch time-range join finds on the same two days of data (both
    sides fully replayed, so no matches are lost to the watermark)."""
    from pg_telemetry_spark.queries.streaming_ops import (
        _day_batches,
        _stream_events,
    )
    from pg_telemetry_spark.registry import all_queries

    streamed = {
        (r.user_id, r.n_matches)
        for r in all_queries()["str_stream_stream_join"]
        .fn(spark, sf_dir)
        .collect()
    }

    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    both = day1.unionByName(day2)
    clicks = both.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    buys = both.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    batch = (
        clicks.join(
            buys,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_matches"))
    )
    expected = {(r.user_id, r.n_matches) for r in batch.collect()}
    assert streamed == expected


def test_file_stream_batches_match_static_day_counts(spark, sf_dir):
    """src_stream_file's checkpointed incremental runs must bill each
    landed file exactly once: per-batch counts == static day counts."""
    from pg_telemetry_spark.registry import all_queries

    got = {
        r.batch: r.n_rows
        for r in all_queries()["src_stream_file"].fn(spark, sf_dir).collect()
    }
    events = _stream_events(spark, sf_dir)
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    want = {i: b.count() for i, b in enumerate(_day_batches(events, days))}
    assert got == want and sum(want.values()) > 0


def test_stream_static_join_matches_batch_join(spark, sf_dir):
    """Stream-static enrichment must equal the same join done batch."""
    from pg_telemetry_spark.registry import all_queries

    got = {
        r.cohort: r.n_events
        for r in all_queries()["str_stream_static"].fn(spark, sf_dir).collect()
    }
    events = _stream_events(spark, sf_dir)
    (day1,) = _day_batches(events, ["2024-01-01"])
    cohorts = spark.range(0, 2000).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("cohort_"), (F.col("id") % 5).cast("string")).alias("cohort"),
    )
    want = {
        r.cohort: r.n
        for r in day1.join(cohorts, "user_id")
        .groupBy("cohort")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and sum(want.values()) > 0


def test_output_modes_ordering_and_window_parity(spark, sf_dir):
    """append emits only finalized windows, update only changed ones,
    complete re-emits everything: emission volumes must order
    append <= update <= complete, and update/complete must both have
    touched every hourly window present in the batch data."""
    from pg_telemetry_spark.registry import all_queries

    rows = {r.mode: r for r in all_queries()["str_output_modes"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"append", "update", "complete"}
    assert (
        rows["append"].rows_emitted
        <= rows["update"].rows_emitted
        <= rows["complete"].rows_emitted
    )
    events = _stream_events(spark, sf_dir)
    two_days = events.filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    n_windows = two_days.select(F.date_trunc("hour", "ts")).distinct().count()
    assert rows["update"].distinct_windows == n_windows
    assert rows["complete"].distinct_windows == n_windows
    # append lags by the unfinalized tail but must have emitted most
    assert 0 < rows["append"].distinct_windows <= n_windows


def test_sliding_window_final_state_matches_batch(spark, sf_dir):
    """The update-mode final state of the 2h/1h sliding agg must equal
    the same window computed in one batch pass over the same days."""
    from pg_telemetry_spark.registry import all_queries

    got = {
        r.bucket: (r.n_events, r.sum_value)
        for r in all_queries()["str_sliding_window"].fn(spark, sf_dir).collect()
    }
    events = _stream_events(spark, sf_dir)
    two_days = events.filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    want = {
        r.bucket: (r.n_events, r.sum_value)
        for r in two_days.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("window.start").alias("bucket"), "n_events", "sum_value")
        .collect()
    }
    assert got == want and len(want) > 0


def test_rocksdb_state_store_engages(spark):
    """The harness must run stateful ops on the RocksDB provider (the
    100-TB state story — heap-backed state OOMs at scale), and the
    checkpoint must carry RocksDB artifacts, not just the conf."""
    from pathlib import Path

    provider = STREAM_CONFS["spark.sql.streaming.stateStore.providerClass"]
    assert "RocksDBStateStoreProvider" in provider
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        def agg(stream):
            return stream.groupBy("user_id").agg(F.count("*").alias("n"))

        h.add_batch(_mk_events(spark, [(1, 0, 1, "click", 1.0), (2, 5, 2, "view", 1.0)]))
        h.run_available(agg(h.stream()), "rocks", output_mode="update")
        # RocksDB checkpoints write per-partition zip/changelog files under
        # state/<op>/<part>/ — the default HDFS provider writes .delta files
        state = Path(h.checkpoint("rocks")) / "state"
        files = [p.name for p in state.rglob("*") if p.is_file()]
        assert files, f"no state files under {state}"
        assert any(f.endswith(".zip") or "rocksdb" in f.lower() for f in files), (
            f"no RocksDB artifacts in state dir: {sorted(set(files))[:10]}"
        )
        assert not any(f.endswith(".delta") for f in files), (
            "HDFS-provider .delta files present — RocksDB conf did not engage"
        )


def test_topk_windowed_final_state_matches_batch_topk(spark, sf_dir):
    """str_topk_windowed's update-mode state, after both batches, must
    equal the batch top-3 per hour over the same two days."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from pg_telemetry_spark.queries.streaming_ops import (
        _stream_events,
        str_topk_windowed,
    )

    got = [
        (r["bucket"], r["event_type"], r["n"], r["rnk"])
        for r in str_topk_windowed(spark, sf_dir).collect()
    ]
    ev = _stream_events(spark, sf_dir).filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("bucket").orderBy(F.desc("n"), F.asc("event_type"))
    expect = [
        (r["bucket"], r["event_type"], r["n"], r["rnk"])
        for r in hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("bucket", "rnk")
        .collect()
    ]
    assert got == expect


def test_anomaly_baseline_matches_batch_rule(spark, sf_dir):
    """str_anomaly_baseline's alert census must equal the batch
    evaluation of the same 1.5x-over-baseline rule on the same days."""
    import pyspark.sql.functions as F

    from pg_telemetry_spark.queries.streaming_ops import (
        _stream_events,
        str_anomaly_baseline,
    )
    from pg_telemetry_spark.tables import load_table

    got = {
        r["event_type"]: (r["n_alerts"], r["max_ratio"])
        for r in str_anomaly_baseline(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    hist = ev.filter(F.col("ts") >= F.lit("2024-01-04").cast("timestamp_ntz"))
    baseline = (
        hist.groupBy(
            "event_type", F.hour("ts").alias("hod"), F.date_trunc("day", "ts").alias("d")
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
    live = _stream_events(spark, sf_dir).filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    hourly = live.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    alerts = (
        hourly.withColumn("hod", F.hour("bucket"))
        .join(baseline, ["event_type", "hod"])
        .filter(F.col("n") > 1.5 * F.col("base"))
        .select("event_type", F.round(F.col("n") / F.col("base"), 6).alias("ratio"))
    )
    expect = {
        r["event_type"]: (r["n_alerts"], r["max_ratio"])
        for r in alerts.groupBy("event_type")
        .agg(F.count("*").alias("n_alerts"), F.round(F.max("ratio"), 6).alias("max_ratio"))
        .collect()
    }
    assert got == expect


def test_transform_with_state_successor_api(spark, sf_dir):
    """Probe Spark 4's transformWithStateInPandas successor API
    (VERDICT r12 #7).  str_stateful ships on applyInPandasWithState
    because the successor's state-server protocol needs
    google.protobuf, broken in this container (documented at
    queries/streaming_ops.py).  This test ATTEMPTS the real path
    end-to-end: the day the container gains a working protobuf it
    lights up automatically and pins successor-API parity with the
    batch groupBy; until then it skips with the exact blocker.  Any
    OTHER failure (API misuse, provider conf) fails loudly — only
    the documented environmental blocker may skip."""
    import pandas as pd
    import pytest

    # The documented blocker, probed DIRECTLY: the state-server wire
    # format (pyspark.sql.streaming.proto) needs google.protobuf at
    # use time — the pyspark modules import lazily, so the failure
    # otherwise surfaces only as an opaque "driver worker exited
    # unexpectedly (crashed)" from the micro-batch run.
    try:
        import google.protobuf.descriptor  # noqa: F401
    except Exception as ex:
        pytest.skip(
            f"transformWithStateInPandas blocked in this container: "
            f"{ex!r} (state-server wire format) — successor API probed, "
            "applyInPandasWithState remains the shipped path"
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [StructField("n", LongType()), StructField("s", DoubleType())]
            )
            self._st = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s = (0, 0.0)
            if self._st.exists():
                n, s = self._st.get()
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._st.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(s, 6)],
                }
            )

        def close(self) -> None:
            pass

    events = _stream_events(spark, sf_dir)
    day1, day2 = _day_batches(events, ["2024-01-01", "2024-01-02"])
    with FileStreamHarness(spark, STREAM_SCHEMA) as h:
        out_schema = "user_id bigint, n_events bigint, sum_value double"
        final: dict = {}
        for b in (day1, day2):
            h.add_batch(b)
            t = (
                h.stream()
                .groupBy("user_id")
                .transformWithStateInPandas(
                    statefulProcessor=RunningAgg(),
                    outputStructType=out_schema,
                    outputMode="Update",
                    timeMode="None",
                )
            )
            for captured in h.run_available(t, "tws", output_mode="update"):
                for r in captured:
                    final[r.user_id] = r.n_events
        expected = {
            r.user_id: r.n
            for r in day1.unionByName(day2)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert final == expected


def test_stateful_counts_null_value_rows(spark, tmp_path):
    """An event row whose `value` is NULL still counts toward
    n_events (ADVICE r14: the shard-salted pandas groupby used
    "count", which silently excludes null values — the pre-shard code
    counted every row with len(pdf)).  Sums skip the null, as before.
    End-to-end through str_stateful against a tiny synthetic sf_dir."""
    import datetime as dtm

    from pg_telemetry_spark.queries.streaming_ops import str_stateful

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, dtm.datetime(2024, 1, 1, 10), 7, "view", 2.0, None),
        (2, dtm.datetime(2024, 1, 1, 11), 7, "view", None, None),
        (3, dtm.datetime(2024, 1, 2, 9), 7, "view", 3.0, None),
        (4, dtm.datetime(2024, 1, 1, 12), 8, "view", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    sf = str(tmp_path / "null_sf")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in str_stateful(spark, sf).collect()
    }
    # user 7: 3 events across both batches (one null value), sum 5.0;
    # user 8: 1 event whose only value is null -> count 1, sum 0.0
    assert got == {7: (3, 5.0), 8: (1, 0.0)}


def test_sized_shard_count_rule():
    """The r15 shard-sizing rule: 64-shard floor through 3.2M keys
    (every fixture scale resolves to the r14 constant, keeping
    archives bit-identical), then ceil(keys/50k) so per-shard state
    stays bounded (VERDICT r14 #3)."""
    from pg_telemetry_spark.queries.streaming_ops import sized_shard_count

    assert sized_shard_count(0) == 64
    assert sized_shard_count(2_000) == 64       # sf0.01-scale keys
    assert sized_shard_count(148_000) == 64     # sf10-scale keys
    assert sized_shard_count(3_200_000) == 64   # the knee
    assert sized_shard_count(3_200_001) == 65
    assert sized_shard_count(5_000_000) == 100
    assert sized_shard_count(1_000_000_000) == 20_000


def test_harness_makes_its_dir_on_enter(spark):
    """Building a harness touches no disk; entering it makes its
    ``pgts_stream_*`` dir under the scratch root and leaving it removes
    that dir."""
    import glob
    import os

    from pg_telemetry_spark.session import _scratch_root

    pattern = os.path.join(_scratch_root(), "pgts_stream_*")
    before = set(glob.glob(pattern))
    h = FileStreamHarness(spark, STREAM_SCHEMA)
    assert set(glob.glob(pattern)) == before
    with h:
        assert os.path.isdir(h.base_dir)
        assert set(glob.glob(pattern)) - before == {h.base_dir}
    assert not os.path.exists(h.base_dir)
    assert set(glob.glob(pattern)) - before == set()


def test_streaming_ops_remove_their_harness_dirs(spark, sf_dir):
    """Each streaming op's harness deletes its landing files and
    checkpoints when the op returns: no ``pgts_stream_*`` directory
    outlives the run, and the results (built from captured rows) are
    still readable afterwards."""
    import glob
    import os
    from pathlib import Path

    from pg_telemetry_spark.queries.streaming_ops import (
        src_stream_file,
        str_watermark,
    )
    from pg_telemetry_spark.session import _scratch_root

    pattern = os.path.join(_scratch_root(), "pgts_stream_*")
    before = set(glob.glob(pattern))
    sf = str(Path(sf_dir).with_name("sf0.001"))
    assert str_watermark(spark, sf).count() > 0
    assert src_stream_file(spark, sf).count() == 3
    assert set(glob.glob(pattern)) - before == set()
