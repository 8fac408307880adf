"""Benchmark of pg_telemetry_spark: one workload per process.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Workloads: dashboard, stream (see workloads.py).  The run
writes only below ``.perfbench_work/`` at the repository root and
removes it at exit.

Set-up (fixture generation from the seed, session start, registry
import, fixture warm-up and one untimed pass) is reported as
``setup_s``.  Then ``--seconds`` worth of whole passes run, counted at
the workload's nominal pass time, and outputs are checked afterwards.  With ``--trace 1`` the timed passes
run in blocks of untraced, traced, traced, untraced, and the per-layer
metrics of the traced passes are printed instead, with the tracing
overhead (traced over untraced pass wall).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import fixtures  # noqa: E402
import metrics as M  # noqa: E402
import tracing as T  # noqa: E402
from rss import PeakRss  # noqa: E402
from workloads import GROUPS, WORKLOADS  # noqa: E402

#: Driver heap of the benchmark's session, fixed and touched up front
#: (-Xms = -Xmx, AlwaysPreTouch).  Under the engine's default (16g
#: max, small initial heap) G1 grows the heap on timing-dependent
#: decisions: over three seeds dashboard ``wall_s`` read 10.7-18.4 s and
#: ``peak_rss_mb`` 2810-4081 MB, against 11.1-12.0 s and 3552-3566 MB
#: with the heap fixed.  The fixtures are 2 MB.
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "peak_rss_mb": "MB"}


@dataclass
class Bench:
    """What the workloads share: session, registry, fixtures, tracing."""

    spark: object
    registry: dict
    sf_dir: str
    seed: int
    work: Path
    tracer: T.Tracer
    probe: T.SparkProbe | None


def _isolate(work: Path, root: Path) -> None:
    """Keep every file the run writes (Python temp files, Spark local
    dirs, JVM temp files) below ``work``; give Spark's Python workers
    the engine on their path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, spark-submit's launcher too: temp files below work, and
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell'
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", None)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc  # set by pyspark's launch_gateway
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _drain(spark) -> None:
    """Wait until Spark's listeners have seen every finished job and
    trigger, so the status store and progress reports are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _per_op(ops) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.name, []).append(o.latency)
    return {k: statistics.median(v) for k, v in by.items()}


def run(args, work: Path) -> dict:
    wl_cls = WORKLOADS[args.workload]
    sf_dir = work / f"sf{wl_cls.sf:g}"
    fixture_bytes = fixtures.generate(str(sf_dir), wl_cls.sf, args.seed)

    t = time.perf_counter()
    from pg_telemetry_spark.session import get_session

    spark = get_session(f"perfbench-{args.workload}")
    setup = {"session.start_s": time.perf_counter() - t}
    try:
        out = _measure(args, spark, work, wl_cls, setup)
    finally:
        _stop(spark)
    out["fixture_mb"] = sum(fixture_bytes.values()) / 2**20
    return out


def n_passes(seconds: float, pass_s: float, traced: bool) -> int:
    """Timed passes of a run: ``seconds`` of nominal passes, at least
    one; a traced run rounds up to whole blocks of four."""
    n = max(1, round(seconds / pass_s))
    return -(-n // 4) * 4 if traced else n


def _measure(args, spark, work: Path, wl_cls, setup: dict) -> dict:
    t = time.perf_counter()
    from pg_telemetry_spark.registry import all_queries

    registry = all_queries()
    setup["registry.import_s"] = time.perf_counter() - t

    tracer = T.Tracer()
    probe = T.SparkProbe(spark) if args.trace else None
    sf_dir = work / f"sf{wl_cls.sf:g}"
    wl = wl_cls(Bench(spark, registry, str(sf_dir), args.seed, work, tracer, probe))
    t = time.perf_counter()
    wl.prepare()
    setup["tables.warm_s"] = time.perf_counter() - t
    if args.trace:
        T.install_shims(tracer)
    # trigger reports feed the stream latency and the streaming layers
    progress = T.StreamProgress(spark)
    progress.attach()

    t = time.perf_counter()
    warm = wl.run_pass(-1)
    setup["warmup_pass_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START

    _drain(spark)
    progress.take()
    passes: list[list] = []
    triggers: list[T.Progress] = []
    walls = {False: [], True: []}
    pass_walls: list[float] = []
    layers: list[dict] = []
    for pass_no in range(n_passes(args.seconds, wl.pass_s, bool(args.trace))):
        # untraced, traced, traced, untraced: the order cancels the
        # drift of a still-warming JVM out of the tracing overhead
        traced = bool(args.trace) and pass_no % 4 in (1, 2)
        if traced:
            last_job = probe.last_job_id()
            tracer.enabled = True
        p0 = time.perf_counter()
        with tracer.span("pass"):
            ops = wl.run_pass(pass_no)
        wall = time.perf_counter() - p0
        tracer.enabled = False
        _drain(spark)
        reports = progress.take()
        triggers += reports
        if traced:
            jobs = probe.jobs_since(last_job)
            stages = probe.stage_totals({s for j in jobs for s in j.stage_ids})
            layers.append({
                **T.pass_layers(ops, tracer.take(), jobs, stages, reports, GROUPS),
                **wl.layers(pass_no, ops),
            })
        walls[traced].append(wall)
        pass_walls.append(wall)
        passes.append(ops)
    progress.detach()

    wl.check(warm, passes)
    ops_all = [o for ops in passes for o in ops]
    failed = [o for o in ops_all if not o.ok]
    for o in failed[:10]:
        print(f"FAILED {o.name}: {o.error}", file=sys.stderr)
    samples = wl.samples(ops_all, triggers)
    out = {
        "attempted": len(ops_all),
        "failed": len(failed),
        "latencies": [x for v in samples.values() for x in v],
        "latency_p50_s": M.geomean_of_medians(samples),
        "passes": len(passes),
        "extra": wl.extra(passes),
        "setup": setup,
        "setup_s": setup_s,
        "wall_s": statistics.median(walls[False]),
        "pass_walls": pass_walls,
        "per_op": _per_op(ops_all),
        "warm_per_op": _per_op(warm),
    }
    if args.trace:
        avg = {k: statistics.fmean(d[k] for d in layers) for k in layers[0]}
        avg.update(setup)
        del avg["warmup_pass_s"]
        avg["trace.overhead_pct"] = 100.0 * (
            statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0
        )
        out["layers"] = avg
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = HERE.parent
    if not (root / "pg_telemetry_spark").is_dir():
        print(f"perfbench: no pg_telemetry_spark/ in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work, root)
    try:
        with PeakRss() as rss:
            res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    lat = res["latencies"]
    rate = M.error_rate(res["failed"], res["attempted"])
    summary = {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "latency_p50_s": res["latency_p50_s"],
        "peak_rss_mb": rss.peak_mb,
    }
    print(f"workload={args.workload} seed={args.seed} passes={res['passes']} "
          f"ops={res['attempted']} latency_samples={len(lat)} "
          f"fixtures={res['fixture_mb']:.1f}MB")
    for name, value in summary.items():
        print(f"  {name:<16} {value:12.4f} {END_TO_END_UNITS[name]}")
    q = M.tail_percentile(len(lat))
    if q is not None:
        print(f"  latency_p{q:g}_s {M.percentile(lat, q):12.4f} s")
    for name, value in res["extra"].items():
        print(f"  {name:<16} {value:12.4f}")
    print(f"  error_rate       {rate:12.4f} ratio ({res['failed']}/{res['attempted']})")
    print("  set-up: " + " ".join(f"{k}={v:.2f}" for k, v in res["setup"].items()))
    print("  pass walls s: " + " ".join(f"{w:.3f}" for w in res["pass_walls"]))
    print("  per-op median s: " + " ".join(f"{k}={v:.3f}" for k, v in res["per_op"].items()))
    print("  warm-up pass s: " + " ".join(f"{k}={v:.3f}" for k, v in res["warm_per_op"].items()))
    if args.trace:
        metrics = {
            k: {"value": res["layers"].get(k, 0.0), "unit": u}
            for k, u in T.layer_units(GROUPS).items()
        }
        for k, v in metrics.items():
            print(f"  {k:<32} {v['value']:14.4f} {v['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in summary.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
