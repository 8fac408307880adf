"""Simulate the driver's verify: plain SparkSession, entry smoke, t2 loop.

Writes a CORRECTNESS-shaped JSON artifact (same per-query keys as the
driver's CORRECTNESS_r{N}.json) covering EVERY registered query — the
driver itself samples only 50, so this archive is the auditable record
for the unsampled rest (VERDICT r6 #6).  Output path: argv[1] or
CORRECTNESS_LOCAL.json in the repo root.
"""
import sys, hashlib, json, time, traceback, datetime as dt
from decimal import Decimal
from pathlib import Path
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
import duckdb
from pyspark.sql import SparkSession

OUT = sys.argv[1] if len(sys.argv) > 1 else str(REPO / "CORRECTNESS_LOCAL.json")

# plain session, as the driver would build it (no engine confs!).
# SPARK_GRAFT_SIM_DRIVER_MEM exists ONLY for the decade-up sweeps
# (sf0.1 / sf1): the sim itself collect()s full result sets, and a
# default-sized driver dies on harness volume (TaskResultLost /
# broadcast OOM) before correctness is even tested — at the sf0.01
# gate scale the knob is unset and the session stays stock.
import os as _os0
# SPARK_GRAFT_SIM_MASTER: run the same sweep under a different
# execution mode — round 13 archives a local-cluster[2,4,4096] run
# (real multi-process executors: catches broadcast-size mistakes,
# task-serialization and Python-worker pickling bugs that local[8]'s
# shared JVM can never surface).
_MASTER = _os0.environ.get("SPARK_GRAFT_SIM_MASTER", "local[8]")
_builder = (SparkSession.builder.master(_MASTER)
            .config("spark.ui.enabled","false"))
if _MASTER != "local[8]":
    # cluster-mode sizing: local-cluster[2,4,4096] gives each worker
    # 4 GiB but spark.executor.memory defaults to 1g — the Arrow
    # kernels need more headroom per executor (the conf a real
    # deployment always sets; see BASELINE.md round-13 notes)
    _builder = _builder.config(
        "spark.executor.memory",
        _os0.environ.get("SPARK_GRAFT_SIM_EXEC_MEM", "3g"),
    )
if _os0.environ.get("SPARK_GRAFT_SIM_DRIVER_MEM"):
    _builder = _builder.config(
        "spark.driver.memory", _os0.environ["SPARK_GRAFT_SIM_DRIVER_MEM"]
    ).config("spark.driver.maxResultSize", "4g")
spark = _builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# t1 smoke
rows = e.entry(spark).collect()
print("T1 SMOKE rows:", len(rows))
assert len(rows) > 0

# t2: every query vs oracle at sf0.01 (the driver's gate scale);
# override with SPARK_GRAFT_SIM_SF to sweep a decade up — round 8
# runs the full 228-query sweep at sf0.1 too (correctness at scale,
# not just at the gate)
import os as _os

SF = _os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if isinstance(v, Decimal): return float(v)
    if isinstance(v, float): return round(v, 9)
    if isinstance(v, dt.datetime): return v.replace(tzinfo=None).isoformat()
    return v

def vhash(cols, rows):
    h = hashlib.md5()
    for r in sorted(repr(tuple(norm(x) for x in r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()

qs, osql = e.queries(), e.oracle_sql()
ok = bad = 0
t_start = time.perf_counter()
timings = {}
results = {}
for name, fn in sorted(qs.items()):
    t0 = time.perf_counter()
    try:
        df = fn(spark, SF)
        scols = sorted(df.columns)
        srows = [tuple(r[c] for c in scols) for r in df.collect()]
    except Exception:
        timings[name] = time.perf_counter() - t0
        results[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None, "err": traceback.format_exc(limit=3)}
        print(f"  {name}: SPARK ERROR"); bad += 1; continue
    if name not in osql:
        timings[name] = time.perf_counter() - t0
        results[name] = {"rows_match": None, "schema_match": None,
                         "hash_match": None, "spark_rows": len(srows),
                         "oracle_rows": None, "err": "no_oracle"}
        print(f"  {name}: rows-only, {len(srows)} rows [{timings[name]:.2f}s]"); ok += 1; continue
    cur = con.execute(osql[name])
    dnames = [d[0] for d in cur.description]
    order = sorted(range(len(dnames)), key=lambda i: dnames[i])
    dcols = [dnames[i] for i in order]
    drows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    hmatch = vhash(scols, srows) == vhash(dcols, drows)
    match = scols == dcols and len(srows) == len(drows) and hmatch
    timings[name] = time.perf_counter() - t0
    results[name] = {"rows_match": len(srows) == len(drows),
                     "schema_match": scols == dcols, "hash_match": hmatch,
                     "spark_rows": len(srows), "oracle_rows": len(drows),
                     "err": None}
    print(f"  {name}: cols={scols==dcols} rows={len(srows)}/{len(drows)} hash={'MATCH' if match else 'MISMATCH'} [{timings[name]:.2f}s]")
    ok += match; bad += (not match)
slow = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
print("slowest:", ", ".join(f"{n}={t:.1f}s" for n, t in slow))
print(f"T2: {ok} ok, {bad} mismatched, total {time.perf_counter() - t_start:.1f}s")
with open(OUT, "w") as f:
    json.dump(results, f, indent=2)
print("wrote", OUT)

# Per-op sweep-timing sidecar (VERDICT r10 #7): the driver's 50-op
# sample never rotates, so the other ~250 ops need a drift tripwire
# that travels in a driver-facing artifact.  Full default-scale sweeps
# persist their per-op timings; each write compares against the
# previously committed sidecar (normally last round's) and records any
# op >3x slower AND >=1s now — bench.py lifts `regressions` into its
# compact driver line.  Decade sweeps don't overwrite the gate-scale
# record.
if "SPARK_GRAFT_SIM_SF" not in _os.environ and _MASTER == "local[8]":
    import os.path as _osp

    side = str(REPO / "SWEEP_TIMINGS.json")
    prev, prev_steady = {}, {}
    if _osp.exists(side):
        try:
            _side_doc = json.load(open(side))
            prev = _side_doc.get("timings", {})
            prev_steady = _side_doc.get("steady", {})
        except Exception:
            prev, prev_steady = {}, {}
    cur = {n: round(t, 3) for n, t in timings.items()}
    raw_flags = sorted(
        n
        for n, t in cur.items()
        if n in prev and prev[n] > 0 and t >= 1.0 and t / prev[n] > 3.0
    )
    # In-tool triplet adjudication (round 13): every full sweep's
    # 1-2 raw flags have, for 12 rounds, been first-execution JIT /
    # plan-compile noise at whole-second granularity (BASELINE.md
    # "Sweep-time tripwire adjudication") — the manual protocol was
    # two same-session re-timings and keep the flag only if steady
    # state still regresses.  Automated here so the driver-facing
    # `regressions` list reports STEADY-state regressions; the raw
    # flags and re-timings stay in the sidecar for audit.
    steady_retimes = {}
    regressions = []
    # Steady (warm, same-session) times carry forward in the sidecar so
    # a flagged op's retime is compared against a WARM baseline where
    # one exists — retiming warm but judging against the prior sweep's
    # cold first-execution time could auto-dismiss a genuine cold-path
    # regression (ADVICE r13).  Cold baselines remain the fallback for
    # ops never flagged before; raw_flags stay surfaced either way.
    new_steady = dict(prev_steady)
    for n in raw_flags:
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                _df = qs[n](spark, SF)
                _df.collect()
                ts.append(round(time.perf_counter() - t0, 3))
            except Exception:
                ts.append(None)
        steady_retimes[n] = ts
        good = [t for t in ts if t is not None]
        steady = min(good) if good else cur[n]
        base = prev_steady.get(n) or prev[n]
        new_steady[n] = steady
        if steady >= 1.0 and steady / base > 3.0:
            regressions.append(n)
    with open(side, "w") as f:
        json.dump(
            {
                "sf_dir": SF,
                "timings": cur,
                "steady": new_steady,
                "regressions": regressions,
                "raw_flags": raw_flags,
                "steady_retimes": steady_retimes,
            },
            f,
            indent=1,
        )
    if raw_flags:
        print(
            "SWEEP raw flags (>3x vs previous sweep):", raw_flags,
            "-> steady-state regressions after triplet:", regressions,
        )
    print("wrote", side)
sys.exit(1 if bad else 0)
