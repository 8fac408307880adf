"""BENCHMARK.json names exactly the metrics and workloads the code emits."""

from __future__ import annotations

import json
from pathlib import Path

import tracing
import workloads

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match():
    import run

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END_UNITS
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_per_layer_metrics_match():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == tracing.layer_units(
        workloads.GROUPS
    )


def test_groups_are_the_mixes_registry_groups():
    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()
    frozen = workloads.DASHBOARD + workloads.CURATION + workloads.STREAM_OPS
    assert {reg[n].group for n in frozen} == set(workloads.GROUPS)
