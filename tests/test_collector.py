"""End-to-end collector pipeline test: land files -> stream ->
warehouse -> query surface, with replay idempotence and retention."""

from __future__ import annotations

import pyspark.sql.functions as F

from pg_telemetry_spark.collector import COLLECT_SCHEMA, TelemetryCollector
from pg_telemetry_spark.queries.streaming_ops import _day_batches, _stream_events
from pg_telemetry_spark.warehouse.layout import drop_partitions_older_than


def test_collector_end_to_end(spark, sf_dir, tmp_path):
    base = str(tmp_path)
    events = _stream_events(spark, sf_dir)
    day1, day2, day3 = _day_batches(
        events, ["2024-01-01", "2024-01-02", "2024-01-03"]
    )
    c = TelemetryCollector(
        spark,
        landing_dir=f"{base}/landing",
        warehouse_dir=f"{base}/warehouse",
        checkpoint_dir=f"{base}/ckpt",
    )

    # tick 1: two days land
    import pathlib

    pathlib.Path(f"{base}/landing").mkdir(parents=True)
    day1.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    day2.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    c.run_available()
    # tick 2: nothing new — replay must not duplicate
    c.run_available()
    # tick 3: day 3 lands
    day3.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    c.run_available()

    expected_total = day1.count() + day2.count() + day3.count()
    assert c.raw().count() == expected_total

    # the rollup-served hourly series equals a direct aggregation of raw
    direct = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value)
        for r in c.raw()
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .collect()
    }
    served = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value)
        for r in c.hourly_series().collect()
    }
    assert served == direct

    # time-sliced warehouse read prunes to one partition and matches
    one_day = c.raw().filter(F.col("event_date") == "2024-01-02")
    assert one_day.count() == day2.count()

    # retention: drop day 1 from every batch dir
    import pathlib as pl

    dropped = 0
    for bdir in pl.Path(f"{base}/warehouse/raw").glob("batch_id=*"):
        dropped += drop_partitions_older_than(spark, str(bdir), "2024-01-02")
    assert dropped >= 1
    assert c.raw().count() == expected_total - day1.count()


def _round6(v):
    return round(v, 6) if isinstance(v, float) else v


def _view_cases():
    from pg_telemetry_spark.collector import CUMULATIVE_VIEWS
    from pg_telemetry_spark import statviews

    return [
        (view, statviews.DERIVATIONS[view], keys, counters)
        for view, (keys, counters) in sorted(CUMULATIVE_VIEWS.items())
    ]


import pytest


@pytest.mark.parametrize(
    "view,derive,keys,counters",
    _view_cases(),
    ids=[c[0] for c in _view_cases()],
)
def test_stat_view_collector_end_to_end(
    spark, sf_dir, tmp_path, view, derive, keys, counters
):
    """Typed stat-view landing -> raw + cross-batch increase()
    rollup, parameterized over EVERY cumulative view (VERDICT r10 #6:
    pg_stat_bgwriter's empty-key global series and pg_stat_database's
    multi-series path ride the same code as pg_stat_statements but
    were untested across batch boundaries).  Checks: batch boundaries
    neither lose nor double-count increases, a no-new-data replay is a
    no-op, counter resets contribute the post-reset level, and a
    REDELIVERED micro-batch (foreachBatch ran, checkpoint never
    committed — the crash window) reproduces byte-identical rollup
    output instead of advancing state twice."""
    import pathlib

    from pg_telemetry_spark.collector import StatViewCollector, counter_increases
    from pg_telemetry_spark.tables import load_table

    base = str(tmp_path)
    snaps = derive(load_table(spark, sf_dir, "events")).persist()
    days = sorted(
        r[0].isoformat()
        for r in snaps.select(F.col("snap_ts").cast("date")).distinct().collect()
    )
    assert len(days) >= 2, "fixture must span >= 2 days"
    cut = days[len(days) // 2]

    c = StatViewCollector(
        spark,
        view=view,
        landing_dir=f"{base}/landing",
        warehouse_dir=f"{base}/warehouse",
        checkpoint_dir=f"{base}/ckpt",
    )
    pathlib.Path(f"{base}/landing").mkdir(parents=True)

    first = snaps.filter(F.col("snap_ts").cast("date") < cut)
    second = snaps.filter(F.col("snap_ts").cast("date") >= cut)
    first.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    c.run_available()
    c.run_available()  # replay: nothing new, must not duplicate
    second.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    c.run_available()

    assert c.raw().count() == snaps.count()

    # the batched rollup equals one direct pass over ALL snapshots —
    # cross-batch continuity + reset rule in one equality
    inc_cols = [f"{cname}_inc" for cname in counters]

    def as_dict(df):
        return {
            tuple(r[k] for k in ("snap_ts", *keys)): tuple(
                _round6(r[ic]) for ic in inc_cols
            )
            for r in df.collect()
        }

    direct = as_dict(counter_increases(snaps, keys, counters))
    assert as_dict(c.increases()) == direct
    # the wrap/derivation guarantees monotone series with at least one
    # reset for statements at sf0.01+; increases are never negative
    assert all(v[0] >= 0 for v in direct.values() if v[0] is not None)

    # crash-window redelivery: re-run _ship with the LAST batch's id
    # and rows (exactly what foreachBatch does when the checkpoint
    # didn't commit).  The versioned state must make this reproduce
    # identical increases — before the fix, state had already advanced
    # and the replay dropped first ticks / emitted zero-delta rows.
    last_bid = max(
        int(p.name.split("=", 1)[1])
        for p in pathlib.Path(f"{base}/warehouse/{view}/increase_1h").glob(
            "batch_id=*"
        )
    )
    redelivered = (
        spark.read.schema(c.schema)
        .parquet(f"{base}/landing")
        .filter(F.col("snap_ts").cast("date") >= cut)
    )
    c._ship(redelivered, last_bid)
    assert as_dict(c.increases()) == direct
    assert c.raw().count() == snaps.count()
    snaps.unpersist()


@pytest.mark.parametrize(
    "view",
    ["pg_stat_statements", "pg_stat_bgwriter", "pg_stat_wal"],
)
def test_crash_between_sink_and_checkpoint_commit(spark, sf_dir, tmp_path, view):
    """REAL crash-window replay through the streaming engine (VERDICT
    r11 #7): the synthetic redelivery test above re-invokes _ship by
    hand; this one kills the QUERY in the window between foreachBatch
    success (all side effects durable: raw files, rollup, state
    version) and checkpoint commit, then restarts via run_available()
    and lets availableNow redeliver the uncommitted batch itself.
    The restarted collector must reproduce exactly the same raw +
    increase_1h contents as an uncrashed run — on the pre-99829c5
    code (state advanced in place, not versioned by batch) the
    redelivery computed deltas against its own first delivery and
    this equality fails with dropped first ticks / spurious
    zero-delta rows.

    Three views cover the three series-key shapes: multi-series
    (statements), global empty-key (bgwriter), and the wrapping
    counter (wal — the reset rule inside a replayed batch)."""
    import pathlib

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from pg_telemetry_spark import statviews
    from pg_telemetry_spark.collector import (
        CUMULATIVE_VIEWS,
        StatViewCollector,
        counter_increases,
    )
    from pg_telemetry_spark.tables import load_table

    keys, counters = CUMULATIVE_VIEWS[view]
    derive = statviews.DERIVATIONS[view]
    base = str(tmp_path)
    snaps = derive(load_table(spark, sf_dir, "events")).persist()
    days = sorted(
        r[0].isoformat()
        for r in snaps.select(F.col("snap_ts").cast("date")).distinct().collect()
    )
    cut = days[len(days) // 2]

    c = StatViewCollector(
        spark,
        view=view,
        landing_dir=f"{base}/landing",
        warehouse_dir=f"{base}/warehouse",
        checkpoint_dir=f"{base}/ckpt",
    )
    pathlib.Path(f"{base}/landing").mkdir(parents=True)

    snaps.filter(F.col("snap_ts").cast("date") < cut).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/landing")
    c.run_available()  # batch 0 commits cleanly

    # batch 1: all of _ship's side effects land, THEN the sink dies —
    # foreachBatch raises, the query fails, the checkpoint offset for
    # this epoch is never committed.  This is the exact crash window
    # the versioned state exists for.
    snaps.filter(F.col("snap_ts").cast("date") >= cut).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/landing")
    real_ship = c._ship

    def flaky_ship(batch_df, batch_id):
        real_ship(batch_df, batch_id)
        raise RuntimeError("injected: crashed after sink, before commit")

    c._ship = flaky_ship
    with pytest.raises(StreamingQueryException):
        c.run_available()

    inc_cols = [f"{cname}_inc" for cname in counters]

    def as_dict(df):
        return {
            tuple(r[k] for k in ("snap_ts", *keys)): tuple(
                _round6(r[ic]) for ic in inc_cols
            )
            for r in df.collect()
        }

    first_delivery = as_dict(c.increases())

    # restart: availableNow redelivers the uncommitted batch through
    # the real engine (same batch_id, same rows)
    c._ship = real_ship
    c.run_available()

    direct = as_dict(counter_increases(snaps, keys, counters))
    after_restart = as_dict(c.increases())
    assert after_restart == first_delivery, (
        "replayed batch changed the rollup output"
    )
    assert after_restart == direct, (
        "restarted collector diverges from the single-pass reference"
    )
    # as_dict collapses duplicate (snap_ts, *keys) rows, so pin the
    # physical layout too: the redelivery must OVERWRITE batch_id=1,
    # never allocate a new batch dir, and row counts must match the
    # single-pass reference exactly (no double-counted epochs)
    bdirs = sorted(
        int(p.name.split("=", 1)[1])
        for p in pathlib.Path(
            f"{base}/warehouse/{view}/increase_1h"
        ).glob("batch_id=*")
    )
    assert bdirs == [0, 1], f"unexpected rollup batch dirs: {bdirs}"
    assert c.increases().count() == len(direct)
    assert c.raw().count() == snaps.count()
    snaps.unpersist()


# ---------------------------------------------------------------------
# Warehouse write sizing and layout (one events tick at sf0.001)
# ---------------------------------------------------------------------


def _land_events_tick(spark, sf, base):
    """Land the first two days of the events at ``sf`` and run one
    collector tick; returns the collector."""
    import pathlib

    events = _stream_events(spark, sf)
    c = TelemetryCollector(
        spark,
        landing_dir=f"{base}/landing",
        warehouse_dir=f"{base}/warehouse",
        checkpoint_dir=f"{base}/ckpt",
    )
    pathlib.Path(f"{base}/landing").mkdir(parents=True)
    for day in _day_batches(events, ["2024-01-01", "2024-01-02"]):
        day.coalesce(1).write.mode("append").parquet(f"{base}/landing")
    c.run_available()
    return c


def _day_files(raw_dir):
    """``{(batch dir, day dir): [data files]}`` of a raw warehouse."""
    import pathlib

    return {
        (d.parent.name, d.name): sorted(d.glob("part-*.parquet"))
        for d in pathlib.Path(raw_dir).glob("batch_id=*/event_date=*")
    }


@pytest.fixture(scope="module")
def sf_small(sf_dir):
    from pathlib import Path

    return str(Path(sf_dir).with_name("sf0.001"))


@pytest.fixture(scope="module")
def events_tick(spark, sf_small, tmp_path_factory):
    base = tmp_path_factory.mktemp("sizing")
    _land_events_tick(spark, sf_small, base)
    files = _day_files(f"{base}/warehouse/raw")
    assert len(files) == 2, f"expected two day dirs: {sorted(files)}"
    return files


def test_tick_writes_at_most_one_file_per_day(events_tick):
    """The sink's repartition names no count, so AQE coalesces a small
    tick's shuffle and each (batch, day) directory holds one file; a
    fixed 32-way repartition wrote one file per non-empty bucket."""
    counts = {k: len(v) for k, v in events_tick.items()}
    assert all(n <= 1 for n in counts.values()), counts


def test_tick_files_keep_the_series_layout(events_tick):
    """MergeTree-like layout contract: each data file is sorted by
    (user_id, ts), and no user's rows of a day span two files."""
    import pyarrow.parquet as pq

    for (batch, day), files in events_tick.items():
        owner = {}
        for f in files:
            t = pq.read_table(f, columns=["user_id", "ts"])
            rows = list(zip(t["user_id"].to_pylist(), t["ts"].to_pylist()))
            assert rows == sorted(rows), f"{batch}/{day}/{f.name} not sorted"
            for user in {u for u, _ in rows}:
                assert owner.setdefault(user, f.name) == f.name, (
                    f"user {user} in two files of {batch}/{day}"
                )


def test_collector_results_independent_of_aqe(spark, sf_small, tmp_path):
    """The same landing through two fresh collectors, AQE off and the
    session default, serves identical raw rows, hourly series and
    stat-view increases; with AQE off the write falls back to the
    shuffle width, so only the file count may differ."""
    from pg_telemetry_spark import statviews
    from pg_telemetry_spark.collector import StatViewCollector
    from pg_telemetry_spark.session import scoped_confs
    from pg_telemetry_spark.tables import load_table

    def sorted_rows(df):
        return sorted(tuple(r) for r in df.collect())

    def served(base):
        import pathlib

        c = _land_events_tick(spark, sf_small, base)
        snaps = statviews.DERIVATIONS["pg_stat_statements"](
            load_table(spark, sf_small, "events")
        )
        cut = snaps.agg(F.min(F.col("snap_ts").cast("date"))).head()[0]
        s = StatViewCollector(
            spark,
            view="pg_stat_statements",
            landing_dir=f"{base}/snaps",
            warehouse_dir=f"{base}/warehouse",
            checkpoint_dir=f"{base}/snaps_ckpt",
        )
        pathlib.Path(f"{base}/snaps").mkdir(parents=True)
        day = F.col("snap_ts").cast("date")
        for part in (snaps.filter(day <= cut), snaps.filter(day > cut)):
            part.coalesce(1).write.mode("append").parquet(f"{base}/snaps")
            s.run_available()
        files = _day_files(f"{base}/warehouse/raw")
        return (
            sorted_rows(c.raw()),
            sorted_rows(c.hourly_series()),
            sorted_rows(s.increases()),
        ), max(len(v) for v in files.values())

    with scoped_confs(spark, {"spark.sql.adaptive.enabled": "false"}):
        off, off_files = served(tmp_path / "aqe_off")
    on, on_files = served(tmp_path / "aqe_on")
    assert off[0] and off[1] and off[2]
    assert off == on
    # the AQE-off leg really ran without coalescing
    assert off_files > 1 and on_files == 1, (off_files, on_files)


def test_tick_runs_on_the_filesystem_checkpoint_manager(
    spark, sf_small, tmp_path, monkeypatch
):
    """A tick against a local checkpoint runs its micro-batches on
    Spark's FileSystem checkpoint manager (no ``readlink`` fork per
    rename), and the session's own value is back after the tick."""
    from pg_telemetry_spark.session import FILESYSTEM_CHECKPOINT_MANAGER

    key = "spark.sql.streaming.checkpointFileManagerClass"
    prior = spark.conf.get(key, None)
    seen = []
    ship = TelemetryCollector._ship

    def recording_ship(self, batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(key, None))
        ship(self, batch_df, batch_id)

    monkeypatch.setattr(TelemetryCollector, "_ship", recording_ship)
    c = _land_events_tick(spark, sf_small, tmp_path)
    assert seen and set(seen) == {FILESYSTEM_CHECKPOINT_MANAGER}, seen
    assert spark.conf.get(key, None) == prior
    assert c.raw().count() > 0
