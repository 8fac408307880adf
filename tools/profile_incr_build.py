"""Profile llm_dedup_incr's driver-side frame BUILD vs execution.

The r16 round measured ~3 s of pure driver-side py4j/analyzer work
constructing the probe DataFrame (5,317 py4j round-trips, eager
analysis of 10 joins) before a single task runs.  This tool isolates
that cost on a bench-shaped session so a build-side optimization can
be measured without the execution noise:

  python tools/profile_incr_build.py [sf_dir] [reps]

Prints per-rep build seconds (plan construction only — no action),
then one execution rep (noop sink), then a cProfile top-30 of the
build, split by py4j vs local time.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pg_telemetry_spark.session import get_session
    from pg_telemetry_spark.queries import llm_ext
    from pg_telemetry_spark.operators.minhash import incremental_near_duplicates

    spark = get_session("profile_incr_build")

    # untimed: land the index tables on disk (the bench does the same)
    llm_ext._incr_base_index(spark, SF_DIR)

    def build():
        sh_idx, sg_idx, bk_idx, st_idx, delta = llm_ext._incr_base_index(
            spark, SF_DIR
        )
        pairs, *_ = incremental_near_duplicates(
            sh_idx, sg_idx, bk_idx, st_idx, delta, threshold=0.5
        )
        return pairs

    for i in range(REPS):
        t0 = time.monotonic()
        pairs = build()
        t1 = time.monotonic()
        print(f"build rep {i}: {t1 - t0:.3f}s")

    t0 = time.monotonic()
    pairs.write.format("noop").mode("overwrite").save()
    print(f"execute (noop): {time.monotonic() - t0:.3f}s")

    prof = cProfile.Profile()
    prof.enable()
    build()
    prof.disable()
    buf = io.StringIO()
    st = pstats.Stats(prof, stream=buf)
    st.sort_stats("cumulative").print_stats(30)
    print(buf.getvalue())
    buf2 = io.StringIO()
    st2 = pstats.Stats(prof, stream=buf2)
    st2.sort_stats("tottime").print_stats(20)
    print(buf2.getvalue())


if __name__ == "__main__":
    main()
