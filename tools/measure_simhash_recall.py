"""Measured recall floor for simhash_chunk_candidates' hot-bucket
bound (VERDICT r8 next-round #4).

Round 8 raised the star-degrade bound 256 -> 1024 as recall insurance
(r7 advisor) and paid 201 s at sf10 vs r7's 10-16 s — but no recall
number existed at EITHER bound, so the default was chosen blind.
This tool plants a corpus with KNOWN near-dup structure, including a
hot cluster wide enough to trip the star path at every bound, and
measures, per bound:

- ``recall_direct``: fraction of planted (parent, copy) pairs with
  true Hamming <= 3 that appear as a direct candidate pair.  This is
  what a radius-join consumer sees.
- ``recall_conn``: fraction of those pairs whose endpoints land in
  the same connected component of the (hamming <= 3) candidate graph
  — what the downstream CC/dedup pass consumes (star pairing
  preserves connectivity through the representative by design).
- wall seconds and candidate count (the cost side).

Corpus (seeded, deterministic): 300 40-token templates over a
5000-word vocab; templates 0..249 get 20 copies each with 1-2 token
substitutions (normal near-dup mass, buckets narrow); templates
250..259 get 600 copies each — widths INSIDE the contested (256,
1024] band, where bound=1024 pairs quadratically and bound=256
star-degrades, i.e. exactly the buckets the knob decides; template
260 gets ``hot`` copies, half exact / half 1-sub (a low-entropy
cluster wider than BOTH bounds — the shape that blew the r7 sf10 leg
to 883 s quadratic).

Two ground-truth pair sets, measured separately:
- parent-copy: every (template, copy) pair with true Hamming <= 3 —
  always recoverable through the star representative (the template
  is its cluster's min id), so recall here pins the connectivity
  guarantee;
- copy-copy: sampled within-cluster copy pairs with true Hamming
  <= 3 — BOTH endpoints are non-representatives, so in a
  star-degraded bucket the direct pair survives only via another
  (narrower) chunk.  This is the set the bound actually trades.

Usage: python tools/measure_simhash_recall.py [hot_copies]
Prints one JSON line per bound plus a summary.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from pg_telemetry_spark.operators.components import connected_components  # noqa: E402
from pg_telemetry_spark.operators.simhash import (  # noqa: E402
    hamming,
    simhash,
    simhash_chunk_candidates,
)
from pg_telemetry_spark.session import get_session  # noqa: E402


def build_corpus(hot: int = 5000, seed: int = 9):
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(5000)])
    docs = []  # (doc_id, parent_id, text)
    pairs = []  # (parent_doc_id, copy_doc_id)
    cluster_members: dict[int, list[int]] = {}
    did = 0
    templates = []
    for t in range(300):
        toks = vocab[rng.integers(0, len(vocab), 40)]
        templates.append((did, toks))
        docs.append((did, -1, " ".join(toks)))
        did += 1

    def emit_cluster(t: int, n_copies: int, exact_half: bool = False) -> None:
        nonlocal did
        pid, toks = templates[t]
        members = cluster_members.setdefault(pid, [])
        for j in range(n_copies):
            cp = toks.copy()
            if exact_half and j % 2 == 0:
                pass  # exact copy
            else:
                for pos in rng.choice(40, rng.integers(1, 3), replace=False):
                    cp[pos] = vocab[rng.integers(0, len(vocab))]
            docs.append((did, pid, " ".join(cp)))
            pairs.append((pid, did))
            members.append(did)
            did += 1

    for t in range(250):
        emit_cluster(t, 20)
    for t in range(250, 260):  # the contested (256, 1024] width band
        emit_cluster(t, 600)
    emit_cluster(260, hot, exact_half=True)

    # sampled within-cluster copy-copy pairs (both ends non-min)
    cc_pairs = []
    for pid, members in cluster_members.items():
        m = np.array(members)
        if len(m) < 2:
            continue
        k = min(2000, len(m) * (len(m) - 1) // 2)
        a = m[rng.integers(0, len(m), k)]
        b = m[rng.integers(0, len(m), k)]
        keep = a != b
        for x, y in zip(a[keep], b[keep]):
            cc_pairs.append((int(min(x, y)), int(max(x, y))))
    cc_pairs = sorted(set(cc_pairs))
    return docs, pairs, cc_pairs


def main() -> None:
    hot = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    spark = get_session()
    docs, pairs, cc_pairs = build_corpus(hot)
    d = spark.createDataFrame(
        [(i, t) for i, _, t in docs], "doc_id long, text string"
    ).repartition(16)
    fp = simhash(d).persist()
    fp.count()

    def truth(pair_list):
        gt = spark.createDataFrame(pair_list, "pid long, cid long")
        f1 = fp.select(F.col("doc_id").alias("pid"), F.col("simhash").alias("s1"))
        f2 = fp.select(F.col("doc_id").alias("cid"), F.col("simhash").alias("s2"))
        return (
            gt.join(f1, "pid")
            .join(f2, "cid")
            .select("pid", "cid", hamming(F.col("s1"), F.col("s2")).alias("h"))
            .filter(F.col("h") <= 3)
            .persist()
        )

    gt_pc = truth(pairs)
    gt_cc = truth(cc_pairs)
    n_pc, n_cc = gt_pc.count(), gt_cc.count()
    out = {
        "hot": hot,
        "n_docs": len(docs),
        "n_gt_parent_copy_h3": n_pc,
        "n_gt_copy_copy_h3": n_cc,
        "bounds": {},
    }
    for bound in (256, 1024, None):
        t0 = time.time()
        cand = (
            simhash_chunk_candidates(fp, max_bucket_size=bound)
            .filter(F.col("hamming") <= 3)
            .persist()
        )
        n_cand = cand.count()
        wall = time.time() - t0
        norm = cand.select(
            F.least("id1", "id2").alias("a"), F.greatest("id1", "id2").alias("b")
        ).distinct()
        comp = connected_components(cand)
        c1 = comp.select(F.col("id").alias("pid"), F.col("comp").alias("cp"))
        c2 = comp.select(F.col("id").alias("cid"), F.col("comp").alias("cc"))

        def recalls(gt_h, n_gt):
            if not n_gt:
                return None, None
            direct = (
                gt_h.select(
                    F.least("pid", "cid").alias("a"),
                    F.greatest("pid", "cid").alias("b"),
                )
                .join(norm, ["a", "b"], "left_semi")
                .count()
            )
            conn = (
                gt_h.join(c1, "pid")
                .join(c2, "cid")
                .filter(F.col("cp") == F.col("cc"))
                .count()
            )
            return round(direct / n_gt, 4), round(conn / n_gt, 4)

        pc_d, pc_c = recalls(gt_pc, n_pc)
        cc_d, cc_c = recalls(gt_cc, n_cc)
        row = {
            "wall_s": round(wall, 2),
            "n_candidates": n_cand,
            "parent_copy": {"recall_direct": pc_d, "recall_conn": pc_c},
            "copy_copy": {"recall_direct": cc_d, "recall_conn": cc_c},
        }
        out["bounds"][str(bound)] = row
        print(json.dumps({"bound": bound, **row}), flush=True)
        cand.unpersist()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
