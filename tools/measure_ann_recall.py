"""ANN recall vs exact brute force across the scale ladder (VERDICT
r11 #6): the llm_ann_* recall floors are golden-tested at fixture
scale only, but bucket occupancy shifts with corpus size — IVF cells
hold n/16 vectors each, LSH buckets n/256 — so recall must be
MEASURED at sf1/sf10, not extrapolated.

Brute force comes free: it is llm_sim_join's formulation restricted
to the probe set (operators/similarity.brute_force_topk), the same
exact reference the sf0.01 golden tests pin.

Writes ANN_RECALL.json {sf_dir: {op: {recall, k, n_probes}}} and
prints one line per (scale, op).  Recall@k = |ANN top-k ∩ exact
top-k| / k averaged over probes (for PQ, the single lowest-id query,
k=10, L2 == cosine rank on unit-norm vectors).
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from pg_telemetry_spark.operators.similarity import brute_force_topk  # noqa: E402
from pg_telemetry_spark.registry import all_queries  # noqa: E402
from pg_telemetry_spark.session import get_session  # noqa: E402
from pg_telemetry_spark.tables import load_table  # noqa: E402

OUT = str(REPO / "ANN_RECALL.json")

DEFAULT_SCALES = [
    "/root/testdata/sf0.1",
    str(REPO / "scaledata" / "sf1"),
    str(REPO / "scaledata" / "sf10"),
]


def pairs_of(df, pid="probe_id", nid="neighbor_id"):
    return {(r[pid], r[nid]) for r in df.collect()}


def main() -> None:
    scales = sys.argv[1:] or DEFAULT_SCALES
    spark = get_session("ann-recall")
    reg = all_queries()
    results: dict[str, dict] = {}
    for sf in scales:
        emb = load_table(spark, sf, "embeddings")
        probes = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        exact5 = pairs_of(brute_force_topk(emb, probes, k=5))
        exact10_single = pairs_of(
            brute_force_topk(
                emb, probes.filter(F.col("probe_id") == 0), k=10
            )
        )
        per_sf: dict[str, dict] = {}
        for op, exact, k, n_probes in [
            ("llm_ann_ivf", exact5, 5, 10),
            ("llm_ann_ivf_kmeans", exact5, 5, 10),
            ("llm_ann_lsh", exact5, 5, 10),
            ("llm_ann_pq", exact10_single, 10, 1),
        ]:
            got = reg[op].fn(spark, sf)
            if op == "llm_ann_pq":
                # (rank, vec_id, adc_dist) for the single lowest-id
                # query — map onto (probe_id=0, neighbor_id)
                hits = {(0, r["vec_id"]) for r in got.collect()}
            else:
                hits = pairs_of(got)
            recall = len(hits & exact) / max(1, len(exact))
            per_sf[op] = {
                "recall": round(recall, 4),
                "k": k,
                "n_probes": n_probes,
                "n_ann": len(hits),
                "n_exact": len(exact),
            }
            print(f"{sf} {op} recall@{k} = {recall:.3f}", flush=True)
        # planted-neighbor recall: the scaledata fixtures' last 1% are
        # 1e-3 near-copies of the first 1% (sim ≈ 1.0; the driver's
        # /root/testdata fixtures have NO planted copies — verified
        # max "planted" sim 0.38 there, so this metric is meaningful
        # only on scaledata/sf1+) — the DEDUP-relevant
        # recall ("does the index still surface true near-dups when
        # buckets are 100x fuller"), vs the uniform-random top-5 above
        # which measures the bucketing family's worst case (no
        # structure to find).  Probe with 50 planted copies; hit =
        # the planted original appears in the ANN top-k.
        n = emb.count()
        n_dup = n // 100
        planted = (
            emb.filter(F.col("vec_id") >= n - n_dup)
            .orderBy("vec_id")
            .limit(50)
            .select(F.col("vec_id").alias("probe_id"), "embedding")
        )
        want = {
            (r["probe_id"], r["probe_id"] - (n - n_dup))
            for r in planted.select("probe_id").collect()
        }
        from pg_telemetry_spark.operators.ann import (
            build_ivf_index,
            ivf_topk,
            multitable_lsh_ann_topk,
        )

        for op, fn in [
            (
                "llm_ann_ivf",
                lambda: ivf_topk(
                    *build_ivf_index(emb, stride=32), planted, k=5, nprobe=4
                ),
            ),
            (
                "llm_ann_ivf_kmeans",
                lambda: ivf_topk(
                    *build_ivf_index(emb, method="kmeans", k=16, iters=3),
                    planted,
                    k=5,
                    nprobe=4,
                ),
            ),
            ("llm_ann_lsh", lambda: multitable_lsh_ann_topk(emb, planted, k=5)),
        ]:
            hits = pairs_of(fn())
            planted_recall = len(hits & want) / max(1, len(want))
            per_sf[op]["planted_recall@5"] = round(planted_recall, 4)
            print(
                f"{sf} {op} planted_recall@5 = {planted_recall:.3f}",
                flush=True,
            )
        results[sf] = per_sf
    # MERGE-update: a run over one geometry (e.g. the clustered
    # variants) must not clobber the other geometry's measured rows.
    merged: dict[str, dict] = {}
    try:
        with open(OUT) as f:
            merged = json.load(f)
    except Exception:
        pass
    merged.update(results)
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=1)
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
