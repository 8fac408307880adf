"""Executor-loss fault tolerance probe (round 13).

A 1000-executor cluster loses executors routinely; Spark's contract
is task retry + shuffle/broadcast re-fetch with no caller-visible
effect.  local[*] can never exercise that path — this tool runs a
shuffle-heavy registry query under local-cluster, SIGKILLs one
executor process mid-flight, and verifies the query still returns
the CORRECT result (hash-compared against an undisturbed run).

Two rounds by default: one undisturbed (reference hash), one with a
kill at ~40% of expected runtime.  Prints one JSON line per round
plus a summary; exits 1 on any mismatch or failure.

Usage: python tools/measure_fault_tolerance.py [query] [sf_dir]
"""
from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERY = sys.argv[1] if len(sys.argv) > 1 else "wl_q9_product_profit"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def executor_pids() -> list[int]:
    """CoarseGrainedExecutorBackend JVMs of the local-cluster app."""
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    ).stdout.split()
    return [int(p) for p in out]


def run_round(spark, reg, kill_after: float | None) -> dict:
    # cold start every round: the dedup family's session-shared
    # intermediates (and the fixture table cache) would otherwise
    # make the disturbed round trivial and the kill land after
    # completion
    from pg_telemetry_spark.cache import release_pinned
    from pg_telemetry_spark.session import clear_session_state

    release_pinned()
    clear_session_state()
    spark.catalog.clearCache()

    killed = {"pid": None}

    def assassin():
        time.sleep(kill_after)
        pids = executor_pids()
        if pids:
            killed["pid"] = pids[0]
            os.kill(pids[0], signal.SIGKILL)

    t = None
    if kill_after is not None:
        t = threading.Thread(target=assassin, daemon=True)
        t.start()
    t0 = time.perf_counter()
    df = reg[QUERY].fn(spark, SF)
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    wall = round(time.perf_counter() - t0, 2)
    if t:
        t.join(timeout=1)
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return {
        "query": QUERY,
        "sf_dir": SF,
        "kill_after_sec": kill_after,
        "killed_pid": killed["pid"],
        "wall_sec": wall,
        "n_rows": len(rows),
        "hash": h,
    }


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,4,4096]")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.memory", "3g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()
    cold = run_round(spark, reg, None)
    print(json.dumps(cold), flush=True)
    # second undisturbed round: steady-state wall (the cold round
    # carries plan-compile/JIT one-time costs, so timing the kill off
    # it lands after the warm run already finished)
    ref = run_round(spark, reg, None)
    print(json.dumps(ref), flush=True)
    # kill ~40% into the WARM runtime so the executor dies with live
    # tasks and shuffle state
    disturbed = run_round(spark, reg, max(0.3, ref["wall_sec"] * 0.4))
    print(json.dumps(disturbed), flush=True)
    ok = (
        disturbed["hash"] == ref["hash"]
        and disturbed["n_rows"] == ref["n_rows"]
        and disturbed["killed_pid"] is not None
        # the kill must land while the query is still running —
        # otherwise the round proved nothing
        and disturbed["wall_sec"] > disturbed["kill_after_sec"]
    )
    print(
        json.dumps(
            {
                "metric": "executor_kill_fault_tolerance",
                "query": QUERY,
                "result_identical": disturbed["hash"] == ref["hash"],
                "executor_killed": disturbed["killed_pid"] is not None,
                "wall_ref_sec": ref["wall_sec"],
                "wall_disturbed_sec": disturbed["wall_sec"],
                "ok": ok,
            }
        ),
        flush=True,
    )
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
