"""Solo per-query profiler for the optimization rounds (guide §1).

Times one or more registered queries in a bench-shaped session
(same confs as session.get_session, but with the UI enabled so the
REST API can attribute wall time to stages), in three readings each:

- ``cold``  — first in-session run: what a bench row pays (plan
  compilation + execution).
- ``warm``  — repeat runs: pure execution, plans/codegen cached.
- stage table — per-stage task-time/shuffle bytes from the UI REST
  API for the LAST warm run, so the expensive exchange is named.

Usage:
  python tools/profile_query.py q1 q2 ...            # sf0.1, collect
  SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_BENCH_MODE=noop python tools/profile_query.py q1
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

from pg_telemetry_spark.session import STATIC_CONFS, prepare_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MODE = os.environ.get("SPARK_GRAFT_BENCH_MODE", "collect")
REPEATS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPEATS", "2"))


def build_session() -> SparkSession:
    """get_session's session (static confs at build, engine confs from
    prepare_session) with the UI on for the REST API."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pg_telemetry_spark-profile")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .config(map=STATIC_CONFS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return prepare_session(spark)


def rest(spark: SparkSession, path: str):
    app = spark.sparkContext.applicationId
    url = f"http://localhost:4050/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def run(df, mode: str) -> None:
    if mode == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.collect()


def main() -> None:
    names = sys.argv[1:]
    spark = build_session()
    from bench import _prebuild_incr_index, _warm_fixtures
    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()
    _warm_fixtures(spark, SF_DIR)
    _prebuild_incr_index(spark, [n for n in names if n.endswith("_incr")], SF_DIR)

    out = {}
    for name in names:
        if name not in reg:
            print(f"SKIP unknown query {name}")
            continue
        sc = spark.sparkContext
        sc.setJobDescription(f"profile:{name}:cold")
        t0 = time.perf_counter()
        run(reg[name].fn(spark, SF_DIR), MODE)
        cold = time.perf_counter() - t0
        warms = []
        jobs_before = {j["jobId"] for j in rest(spark, "jobs")}
        stages_before = {s["stageId"] for s in rest(spark, "stages")}
        for i in range(REPEATS):
            sc.setJobDescription(f"profile:{name}:warm{i}")
            t0 = time.perf_counter()
            run(reg[name].fn(spark, SF_DIR), MODE)
            warms.append(time.perf_counter() - t0)
        # stage attribution for the warm repeats
        jobs = [j for j in rest(spark, "jobs") if j["jobId"] not in jobs_before]
        stages = [
            s
            for s in rest(spark, "stages")
            if s["stageId"] not in stages_before and s["status"] != "SKIPPED"
        ]
        n_tasks = sum(s.get("numCompleteTasks", 0) for s in stages)
        top = sorted(
            stages, key=lambda s: -(s.get("executorRunTime", 0) or 0)
        )[:8]
        out[name] = {
            "cold_s": round(cold, 3),
            "warm_s": [round(w, 3) for w in warms],
            "jobs_per_run": round(len(jobs) / max(REPEATS, 1), 1),
            "stages_per_run": round(len(stages) / max(REPEATS, 1), 1),
            "tasks_per_run": round(n_tasks / max(REPEATS, 1), 1),
            "top_stages": [
                {
                    "id": s["stageId"],
                    "name": s.get("name", "")[:70],
                    "runtime_ms": s.get("executorRunTime", 0),
                    "tasks": s.get("numCompleteTasks", 0),
                    "shuf_r_mb": round(
                        (s.get("shuffleReadBytes", 0) or 0) / 1e6, 1
                    ),
                    "shuf_w_mb": round(
                        (s.get("shuffleWriteBytes", 0) or 0) / 1e6, 1
                    ),
                    "input_mb": round((s.get("inputBytes", 0) or 0) / 1e6, 1),
                }
                for s in top
            ],
        }
        print(
            f"{name}: cold {cold:.2f}s warm {['%.2f' % w for w in warms]} "
            f"jobs/run {out[name]['jobs_per_run']} "
            f"stages/run {out[name]['stages_per_run']} "
            f"tasks/run {out[name]['tasks_per_run']}"
        )
        sys.stdout.flush()
    path = REPO / "PROFILE_LAST.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
