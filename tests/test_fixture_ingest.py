"""Pins the events.ts unit-aware ingest seam (cited by tables.py).

Round-4 postmortem: the fixture generator switched ``events.parquet``
from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) while the loader kept a
hard-coded nanos ÷ 1000, collapsing 30 days of events into 43 minutes
of 1970 — every downstream timestamp query was silently wrong while
still "running green" on shape.  These tests make that class of skew
impossible to reintroduce:

- for EVERY on-disk fixture dir (``/root/testdata/sf*``) AND for
  synthetically written ns/us/ms variants of the same logical data,
  the Spark-side load must agree with DuckDB's native read of the very
  same file on min/max/count/active-days;
- ``load_events_sliced`` must return the exact slice in BOTH unit
  domains and its bounds must reach the Parquet scan as PushedFilters
  (raw int64 comparisons in the nanos domain, timestamp comparisons in
  the native domain) — the difference between reading one hour and
  scanning everything at 100 TB;
- the footer probe (`events_ts_unit`) fails loudly, not silently, on
  malformed inputs (no data file, no ts column), and re-reads a file
  rewritten in place.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import io
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from pg_telemetry_spark.session import clear_session_state
from pg_telemetry_spark.tables import (
    events_ts_unit,
    load_events_sliced,
    load_table,
)

FIXTURE_DIRS = sorted(glob.glob("/root/testdata/sf*"))


def _spark_profile(df):
    """(min_ts, max_ts, rows, active_days) of an events DataFrame."""
    row = df.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.count("*").alias("n"),
        F.count_distinct(F.to_date("ts")).alias("days"),
    ).head()
    return row["lo"], row["hi"], row["n"], row["days"]


def _duckdb_profile(path: str):
    """Same profile via DuckDB's native read of the same file.

    ``CAST(.. AS TIMESTAMP)`` truncates TIMESTAMP_NS to microseconds,
    matching the loader's ``ts div 1000`` floor (all fixture epochs are
    post-1970, so floor == truncate in both engines).
    """
    con = duckdb.connect()
    try:
        lo, hi, n, days = con.execute(
            "SELECT CAST(min(ts) AS TIMESTAMP), CAST(max(ts) AS TIMESTAMP), "
            "count(*), count(DISTINCT CAST(ts AS DATE)) "
            f"FROM read_parquet('{path}')"
        ).fetchone()
    finally:
        con.close()
    return lo, hi, n, days


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("sf", FIXTURE_DIRS, ids=[os.path.basename(d) for d in FIXTURE_DIRS])
def test_ondisk_fixture_matches_duckdb(spark, sf, monkeypatch):
    """Whatever unit the generator shipped, Spark == DuckDB on the file."""
    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    clear_session_state()
    got = _spark_profile(load_table(spark, sf, "events"))
    want = _duckdb_profile(f"{sf}/events.parquet")
    assert got == want, f"{sf}: spark {got} != duckdb {want}"
    # sanity on the domain itself: a unit bug lands everything in 1970
    assert got[0].year >= 2000, f"{sf}: min(ts)={got[0]} — unit skew"


def _write_synthetic_events(tmp_path, unit: str) -> str:
    """Write an events.parquet with ts physically stored at ``unit``.

    ``unit='int96'`` writes the legacy Hive/Impala INT96 encoding
    (``use_deprecated_int96_timestamps``) — physically nanoseconds,
    but Spark decodes it natively, so the probe reports 'us'.

    90 rows across 4 calendar days with non-zero sub-second parts (ms
    for every unit; extra us for us/ns) so a wrong-unit read cannot
    accidentally produce the right answer.
    """
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows_ts = []
    for i in range(90):
        t = base + dt.timedelta(hours=i, milliseconds=i * 7)
        if unit in ("us", "ns", "int96"):
            t += dt.timedelta(microseconds=i * 11)
        rows_ts.append(t)
    arrow_unit = "ns" if unit == "int96" else unit
    table = pa.table(
        {
            "event_id": pa.array(range(90), pa.int64()),
            "ts": pa.array(rows_ts, pa.timestamp(arrow_unit)),
            "user_id": pa.array([i % 7 for i in range(90)], pa.int64()),
            "event_type": pa.array([["click", "view", "scroll"][i % 3] for i in range(90)]),
            "value": pa.array([i * 0.5 for i in range(90)], pa.float64()),
            "props": pa.array(["{}"] * 90),
        }
    )
    sf_dir = tmp_path / f"synth_{unit}"
    sf_dir.mkdir()
    pq.write_table(
        table,
        sf_dir / "events.parquet",
        use_deprecated_int96_timestamps=(unit == "int96"),
    )
    return str(sf_dir)


@pytest.mark.parametrize("unit", ["ns", "us", "ms", "int96"])
def test_synthetic_unit_roundtrip_matches_duckdb(spark, tmp_path, unit, monkeypatch):
    """The loader branches correctly for every unit a writer can ship."""
    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    sf = _write_synthetic_events(tmp_path, unit)
    probed = events_ts_unit(f"{sf}/events.parquet")
    assert probed == ("us" if unit == "int96" else unit)
    got = _spark_profile(load_table(spark, sf, "events"))
    want = _duckdb_profile(f"{sf}/events.parquet")
    assert got == want, f"unit={unit}: spark {got} != duckdb {want}"
    assert got[2] == 90 and got[3] == 4  # 90 hourly rows span 4 calendar days


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_sliced_loader_prunes_and_slices_both_domains(spark, tmp_path, unit):
    """Bounds select the exact half-open slice AND reach the scan."""
    sf = _write_synthetic_events(tmp_path, unit)
    df = load_events_sliced(spark, sf, "2024-03-02", "2024-03-03")
    # oracle for the same slice on the same file
    con = duckdb.connect()
    try:
        (want,) = con.execute(
            f"SELECT count(*) FROM read_parquet('{sf}/events.parquet') "
            "WHERE ts >= TIMESTAMP '2024-03-02' AND ts < TIMESTAMP '2024-03-03'"
        ).fetchone()
    finally:
        con.close()
    assert want > 0  # the test must exercise a non-empty slice
    assert df.count() == want
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(
        "ts" in l and "GreaterThanOrEqual" in l and "LessThan" in l for l in pushed
    ), f"unit={unit}: ts bounds did not reach the scan: {pushed}"


def test_sliced_loader_bounds_are_tz_independent(spark, tmp_path):
    """Native-unit bounds are wall-clock string casts, not driver-tz
    datetime literals: the pushed bound must be exactly midnight UTC."""
    sf = _write_synthetic_events(tmp_path, "us")
    df = load_events_sliced(spark, sf, "2024-03-02", "2024-03-03")
    lo = df.agg(F.min("ts")).head()[0]
    assert lo >= dt.datetime(2024, 3, 2, 0, 0, 0)
    assert lo < dt.datetime(2024, 3, 2, 1, 0, 0)  # first in-slice hour


def test_unit_probe_errors_are_loud(tmp_path):
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no .parquet data file"):
        events_ts_unit(str(empty))

    no_ts = tmp_path / "no_ts.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), no_ts)
    with pytest.raises(ValueError, match="no 'ts' column"):
        events_ts_unit(str(no_ts))


def test_unit_probe_rereads_rewritten_file(tmp_path):
    """A fixture regenerated in-process with a different unit is
    re-probed on the next call: the probe keeps no cache that could
    go stale."""
    sf = tmp_path / "regen"
    sf.mkdir()
    path = str(sf / "events.parquet")
    ts = [dt.datetime(2024, 3, 1, i) for i in range(3)]
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), path)
    assert events_ts_unit(path) == "ns"
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), path)
    assert events_ts_unit(path) == "us"
