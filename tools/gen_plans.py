"""Generate PLANS.md — a physical-plan audit of the bench headline
queries.

For each headline query we record the things that matter at 100 TB:
which join strategies the planner picked, how many exchanges
(shuffles) the plan carries, whether filters/columns reached the
scans, and whether any plan degenerated into a nested-loop join or a
row-at-a-time Python eval in a hot path.  Re-run after optimizer work
to diff plan shapes the same way bench.py diffs wall-clock.

Usage: python tools/gen_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from collections import Counter
from pathlib import Path

# Audit the COLD pushdown plans: the session-lifetime fixture-table
# cache would replace every parquet scan with InMemoryTableScan and
# hide the PushedFilters/ReadSchema evidence this report exists for.
os.environ["PG_TELEMETRY_SPARK_NO_TABLE_CACHE"] = "1"

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402
from pg_telemetry_spark.registry import all_queries  # noqa: E402
from pg_telemetry_spark.session import clear_session_state, get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

#: physical nodes worth counting, mapped to the label shown in the table
NODES = {
    "BroadcastHashJoin": "bhj",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastNestedLoopJoin": "bnlj!",
    "CartesianProduct": "cartesian!",
    "Exchange": "exchange",
    "HashAggregate": "hashagg",
    "ObjectHashAggregate": "objhashagg",
    "SortAggregate": "sortagg",
    "Window": "window",
    "ArrowEvalPython": "arrow_py",
    "BatchEvalPython": "row_py!",
    "MapInPandas": "map_pandas",
    "FlatMapGroupsInPandas": "grouped_pandas",
    "TakeOrderedAndProject": "topk",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict:
    counts: Counter = Counter()
    for line in plan.splitlines():
        m = re.match(r"^\(\d+\) ([A-Za-z]+)", line.strip())
        if not m:
            continue
        node = m.group(1)
        for key, label in NODES.items():
            if node == key:
                counts[label] += 1
    pushed = sum(
        1 for l in plan.splitlines() if "PushedFilters: [" in l and "PushedFilters: []" not in l
    )
    return {"counts": counts, "pushed_scans": pushed}


def codegen_spans(df) -> int:
    """Distinct whole-stage-codegen stages in the physical plan (the
    ``*(N)`` markers) — wider/fewer spans = more fused JVM loops.
    Executes the query: under AQE, codegen is decided per query stage
    at runtime, so the pre-execution plan carries no markers."""
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", text)))


def main() -> None:
    spark = get_session("pg_telemetry_spark-plans")
    registry = all_queries()
    lines = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        "Auto-generated by `tools/gen_plans.py` at sf0.01.  `!`-suffixed",
        "columns are red flags (nested-loop / cartesian / row-at-a-time",
        "Python) — the audit exists so they stay at 0 except where the",
        "nested loop's broadcast side is O(1) rows, which makes the",
        "'loop' a constant-cost scalar attach, not a join strategy:",
        "the probe-set crossJoin in llm_cosine_topk (scan corpus once",
        "vs broadcast probes), the dense bucket×type axis grid in",
        "ts_gapfill / ts_gapfill_interp, 1-row corpus-stat scalars in",
        "llm_tfidf / llm_bm25 / llm_bigram_lm / llm_kn_bigram /",
        "llm_oversample_rare (N, avgdl, vocab size, bigram total,",
        "max source count),",
        "the 1-row bloom-filter scalar in join_bloom_prune, the 1-row",
        "calendar-bounds scalar in wl_dau_wau_mau, and the B-row packed",
        "block grid in llm_sim_join / llm_dedup_embed (the distributed",
        "block-matmul's upper-triangular grid join — B rows,",
        "broadcast).  All other headline queries must stay",
        "nested-loop-free, and no acceptable case may grow with the",
        "data: each broadcast side is constant-size by construction.",
        "",
        "| query | joins | exchanges | aggs | window | python | topk | pushed scans | codegen spans |",
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    audited = 0
    for name in HEADLINE:
        if name not in registry:
            continue
        # canonical COLD plans (same protocol as tests/test_plan_budget):
        # persisted subtrees from earlier audits would otherwise be
        # substituted into later identical subtrees and shift counts
        clear_session_state()
        spark.catalog.clearCache()
        df = registry[name].fn(spark, SF_DIR)
        a = audit(plan_text(df))
        a["codegen_spans"] = codegen_spans(df)
        c = a["counts"]
        joins = ", ".join(
            f"{c[k]}×{k}" for k in ("bhj", "smj", "shj", "bnlj!", "cartesian!") if c[k]
        ) or "—"
        aggs = ", ".join(
            f"{c[k]}×{k}" for k in ("hashagg", "objhashagg", "sortagg") if c[k]
        ) or "—"
        python = ", ".join(
            f"{c[k]}×{k}" for k in ("arrow_py", "row_py!", "map_pandas", "grouped_pandas") if c[k]
        ) or "—"
        lines.append(
            f"| {name} | {joins} | {c['exchange']} | {aggs} | {c['window']} "
            f"| {python} | {c['topk']} | {a['pushed_scans']} | {a['codegen_spans']} |"
        )
        audited += 1
    out = REPO / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}: {audited} queries audited")
    spark.stop()


if __name__ == "__main__":
    main()
