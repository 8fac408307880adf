"""Derived loop-width pins (optimization r17, VERDICT r16 #1) and the
``iterate`` round helper.

The iterative loops' shuffle width is clamp(ceil(n/250k), 8,
defaultParallelism) — the floor is the measured local optimum, the
ceiling the cluster width.  These pins keep the derivation honest: a
future edit that reintroduces a constant cap (or breaks the clamps)
fails here by name, and the large-graph regime must leave the session
conf untouched (AQE skew handling intact on the sort-merge fallback).
"""

from __future__ import annotations

import contextlib
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from pg_telemetry_spark.session import (
    iterate,
    loop_shuffle_width,
    loop_sizing,
)
from pg_telemetry_spark.registry import all_queries


def test_width_floor_at_fixture_scale(spark):
    assert loop_shuffle_width(spark, 1) == 8
    assert loop_shuffle_width(spark, 200_000) == 8


def test_width_grows_with_state(spark):
    dp = spark.sparkContext.defaultParallelism
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


def _counter(spark, cap: int):
    """A one-row ``x`` frame and a step that adds 1 to ``x`` up to
    ``cap``, recording each round index it is called with."""
    calls: list[int] = []

    def step(df, i):
        calls.append(i)
        return df.select(F.least(F.col("x") + 1, F.lit(cap)).alias("x"))

    return spark.range(1).select(F.col("id").alias("x")), step, calls


def test_iterate_without_witness_runs_every_round(spark):
    state, step, calls = _counter(spark, 100)
    out, settled = iterate(state, step, 1, 4)
    assert calls == [0, 1, 2, 3]
    assert out.first()["x"] == 4
    assert not settled


def test_iterate_stops_at_first_repeated_witness(spark):
    state, step, calls = _counter(spark, 3)
    out, settled = iterate(state, step, 1, 10, witness=[F.max("x")])
    # witnesses 1, 2, 3, 3: the fourth round repeats the third
    assert calls == [0, 1, 2, 3]
    assert settled and out.first()["x"] == 3


def test_iterate_start_lets_the_first_round_settle(spark):
    state, step, calls = _counter(spark, 0)
    out, settled = iterate(state, step, 1, 10, witness=[F.max("x")], start=(0,))
    assert calls == [0]
    assert settled and out.first()["x"] == 0
    # without a start witness the first round has nothing to repeat
    state, step, calls = _counter(spark, 0)
    iterate(state, step, 1, 10, witness=[F.max("x")])
    assert calls == [0, 1]


def test_iterate_unsettled_when_witness_never_repeats(spark):
    state, step, calls = _counter(spark, 100)
    out, settled = iterate(state, step, 1, 3, witness=[F.max("x")])
    assert calls == [0, 1, 2]
    assert not settled and out.first()["x"] == 3


def test_iterate_restores_width_and_aqe(spark):
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def step(df, _):
        seen.append(
            (
                spark.conf.get("spark.sql.shuffle.partitions"),
                spark.conf.get("spark.sql.adaptive.enabled"),
            )
        )
        return df

    iterate(spark.range(1), step, 1000, 2, witness=[F.count("*")])
    assert seen == [("8", "false")] * 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.mark.parametrize(
    "name, ceiling",
    [
        # one broadcast job and one witness job per hop
        ("wl_bfs_hops", 15),
        # one lazily checkpointed level per emptiness count
        ("sql_recursive_hierarchy", 19),
    ],
)
def test_loop_build_jobs_ceiling(spark, sf_dir, name, ceiling):
    """Jobs fired while building a loop query at sf0.001, counted
    through a job group on the second build (tables warm).  An eager
    checkpoint, a separate convergence count or a second broadcast per
    round raises the count past the ceiling."""
    sf = str(Path(sf_dir).with_name("sf0.001"))
    sc = spark.sparkContext
    fn = all_queries()[name].fn
    fn(spark, sf)
    group = f"build-jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= ceiling
