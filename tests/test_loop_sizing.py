"""Derived loop-width pins (optimization r17, VERDICT r16 #1).

The iterative loops' shuffle width is clamp(ceil(n/250k), 8,
default_parallelism) — the floor is the measured local optimum, the
ceiling the cluster width.  These pins keep the derivation honest: a
future edit that reintroduces a constant cap (or breaks the clamps)
fails here by name, and the large-graph regime must leave the session
conf untouched (AQE skew handling intact on the sort-merge fallback).
"""

from __future__ import annotations

import contextlib

from pg_telemetry_spark.session import (
    default_parallelism,
    loop_shuffle_width,
    loop_sizing,
)


def test_width_floor_at_fixture_scale(spark):
    assert loop_shuffle_width(spark, 1) == 8
    assert loop_shuffle_width(spark, 200_000) == 8


def test_width_grows_with_state(spark):
    dp = default_parallelism(spark)
    assert loop_shuffle_width(spark, 10_000_000) == min(40, max(dp, 8))
    # ceiling: never past the cluster width
    assert loop_shuffle_width(spark, 10**12) == max(dp, 8)


def test_small_regime_caps_and_disables_aqe(spark):
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with loop_sizing(spark, 1000):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old_parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_large_regime_leaves_session_conf_alone(spark):
    ctx = loop_sizing(spark, 10_000_000)
    assert isinstance(ctx, contextlib.nullcontext)
    with ctx:
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
