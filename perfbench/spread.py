"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10 --seconds 16

Runs ``perfbench/run.py`` once per seed (one process after another),
then prints, per metric, the median over the runs and the distance
between the first and third quartile as a share of that median
(``statistics.quantiles(values, n=4)``).  Every run's result line, with
its printed summary, is appended to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res.update(workload=args.workload, seed=seed, run_s=time.perf_counter() - t0,
                   summary=lines[:-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {res['run_s']:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else 0.0
        print(f"{name:<16} median {statistics.median(vals):12.4f}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
