"""Shuffle-count budgets for flagship plan shapes.

Every Exchange is a full shuffle of its input; at 100 TB an extra one
is the difference between a plan that holds and one that doesn't.
PLANS.md records the audited counts descriptively — this test makes
the headline subset PRESCRIPTIVE: each query gets a budget equal to
its audited round-6 shuffle count, so a refactor that sneaks in an
extra repartition/groupBy/non-broadcast join fails the suite instead
of silently doubling shuffle volume at scale.

Budgets are exact-count ceilings on the COLD plan (table cache
disabled via the distinct logical plans — see test_plan_shapes.py for
why the CacheManager must be kept out of plan audits).  If an
optimizer change legitimately REMOVES a shuffle, lower the budget.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import clear_session_state

_ALL = all_queries()


@pytest.fixture(autouse=True)
def _cold_table_reads(monkeypatch):
    """Audit the true cold pushdown plans (optimization r16): since
    the cached-table path round-robin-rebalances documents/embeddings
    before persist (tables.py), letting load_table repopulate the
    cache mid-audit would count that one-per-session cache-build
    exchange against every consumer's budget.  The env toggle gives
    the raw scan plans this file's budgets were always calibrated
    against (same switch tools/gen_plans.py uses)."""
    monkeypatch.setenv("PG_TELEMETRY_SPARK_NO_TABLE_CACHE", "1")
    clear_session_state()
    yield
    clear_session_state()

#: query -> max distinct Exchange nodes allowed in the physical plan.
#: Values are the audited round-6 cold-plan counts (this file's own
#: protocol: both caches cleared), not aspirations.  The full bench
#: headline list is pinned plus two shuffle-free scan shapes.
BUDGETS = {
    # shuffle-free scan shapes
    "topk_limit": 0,  # TakeOrderedAndProject
    "filt_ts_range": 0,  # pushed-down slice
    "join_theta_range": 0,  # banded broadcast join, no shuffle
    "llm_chunk_docs": 0,
    "llm_repetition": 0,  # pure narrow map: every feature is an array fold
    "llm_dedup_cc": 0,  # plan roots at the materialized label table
    # single-shuffle backbone
    "flagship_hourly_top20": 1,
    "agg_group_hash": 1,
    "agg_percentile": 1,
    "join_multiway": 1,  # dims broadcast; one fact shuffle for the agg
    "join_broadcast": 1,
    "join_asof": 1,
    "ts_session": 1,
    "ts_time_weighted_avg": 1,
    "ts_resample_ohlc": 1,
    "win_lag_delta": 1,
    "wl_q3_shipping_priority": 1,
    "wl_q5_local_supplier": 1,
    "wl_q6_revenue_delta": 1,
    "wl_scd2_history": 1,
    "wl_session_paths": 1,
    # 2 = salted two-phase top-k: the fat rank runs at corpus-scan
    # parallelism over (probe, salt); the second exchange re-ranks
    # only S×k survivor rows per probe (round-7 sf10 finding: one
    # window over probe_id alone = n_probes-task sort bottleneck)
    "llm_cosine_topk": 2,
    "llm_bm25": 1,
    "llm_pack_sequences": 1,
    "layout_zorder": 1,  # narrow bit-interleave map + one z-range agg
    # multi-stage pipelines at their audited counts
    "ts_gapfill": 2,
    "ts_gapfill_interp": 2,
    "ts_counter_reset": 2,
    "ts_slo_burn": 2,  # hourly pre-agg, then re-key to service for the frame
    "wl_rate_hourly": 2,
    "wl_q18_large_orders": 2,
    "wl_upsert_scd1": 2,
    "wl_funnel": 2,
    "wl_rollup_cascade": 2,
    "wl_q1_pricing_summary": 2,
    "wl_q9_product_profit": 2,
    "dq_constraints": 2,
    "llm_sim_join": 2,
    "llm_ann_lsh": 2,  # candidate distinct + top-k window (no hot
    # buckets at sf0.01, so the r15 refinement split contributes no
    # exchange; the hot list itself is an eager localCheckpoint)
    "llm_ann_incr": 2,  # same two — the index/vector Parquet scans
    # stream through BroadcastHashJoins (tests/test_ann_index_plan.py)
    "llm_ngram_novelty": 2,  # gram-key window min + doc_id re-agg
    "llm_chunk_dedup": 2,  # chunk-key ownership window + doc_id re-agg
    "llm_cdc_chunk": 2,  # hashed-digest ownership window + source re-agg
    # 3 = corpus counts agg + two tiny exchanges over the k-row counts
    # table (whole-frame window + final source agg)
    "llm_domain_mix": 3,
    # r8: explode to 2-char keys, ONE shuffle (map-side partial agg
    # collapses each task to <= alphabet^2 rows); top-20 is TakeOrdered
    "llm_bpe_pairs": 1,
    # r8: one shuffle on the hashed cluster key (unsorted struct-max
    # ownership) + one source re-agg
    "llm_keep_best": 2,
    # r8: BLAS assignment (mapInPandas vs the capped centroid matrix)
    # + vec_id reattach join collapse into Arrow/stream stages; the
    # ONE exchange is the shuffle on cell_id feeding the per-cell
    # gram-matrix report
    "llm_semdedup": 1,
    # PPJoin family (r7): plans root at the memoized df-ranked docs
    # relation (same materialized-table shape as llm_dedup_cc); the
    # 3 = prefix self-join sides + candidate distinct
    "llm_containment": 3,
    "llm_containment_full": 3,
    "llm_jaccard_full": 3,
    "wl_retention": 3,
    "wl_q13_cust_order_dist": 3,
    "wl_cdc_apply": 3,
    "ts_minmax_decimate": 3,
    "join_bloom_prune": 3,
    # 6 = r7 star-degrade: the hot-bucket width window partitions on
    # the SAME (chunk_idx, chunk) key the candidate join shuffles on,
    # and the quad-join branches are identical subtrees — the static
    # plan counts them separately, the runtime collapses them to
    # ReusedExchange.  Bought: sf10 on the low-entropy corpus went
    # 883 s -> 11 s (quadratic hot buckets -> O(k) stars).
    "llm_simhash": 6,
    "llm_dedup_embed": 3,
    "llm_inverted_index": 3,
    "llm_jaccard_pairs": 3,
    "llm_decontaminate": 3,
    "wl_dau_wau_mau": 4,
    "llm_dedup_near": 6,  # +1 vs r6: star-degrade width window (see llm_simhash)
    "llm_tfidf": 5,
    "llm_langid": 5,
    "llm_bigram_lm": 5,
    "wl_q21_waiting_supplier": 6,
    "agg_cms_freq": 7,
    # r8: the O(delta) probe rewrite RAISED the exchange count (delta
    # stats groupBy, touched-stats merge, pair-id distinct, and the
    # small SMJs over semi-pruned signature/shingle rows each add
    # exchanges) but LOWERED what any exchange may carry: every one of
    # them moves O(delta + collisions) rows, and the index tables are
    # touched only on the streamed side of broadcast joins —
    # tests/test_incr_index_plan.py pins that no exchange sits over an
    # index scan.  Count is the wrong metric for this plan; the volume
    # invariant is the budget.
    # r9 fused verify: the raw (unpersisted) plan re-derives the
    # pruned (id, mh, shingles) table once per pair side, so its
    # 2-exchange id-join is counted twice here (18 -> 22) — while the
    # EXECUTED path persists that table once and runs TWO pair joins
    # instead of four (measured 6.4 s -> 4.7 s at sf0.1).  Every
    # added exchange still moves only O(collisions) pruned rows.
    "llm_dedup_incr": 22,
    # r9: single-pass winnowing — ONE evaluation of the Arrow
    # selection kernel feeding exactly two exchanges (groupBy fp with
    # the <=64 stop-fingerprint guard in the same aggregate, then the
    # pair re-agg).  The r8 self-join shape re-ran the selection fold
    # three times (305 s at sf1); this budget keeps it dead.
    "llm_winnowing": 2,
}


def _exchanges(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # count distinct plan node ids — formatted output repeats each
    # node in the tree and detail sections
    return len(set(re.findall(r"^\((\d+)\) Exchange", buf.getvalue(), re.M)))


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(name, spark, sf_dir):
    # audit the canonical COLD plan: persisted subtrees substitute
    # InMemoryRelations that change the exchange count (a cached
    # subtree loses the reused exchange the cold plan shares between
    # its consumers).  Clearing the engine's session state is not
    # enough — operators like near_duplicates persist internal
    # intermediates that outlive their call in the session
    # CacheManager and get substituted into LATER identical subtrees —
    # so nuke the CacheManager itself.
    clear_session_state()
    spark.catalog.clearCache()
    n = _exchanges(_ALL[name].fn(spark, sf_dir))
    assert n <= BUDGETS[name], (
        f"{name}: {n} exchanges in plan, budget is {BUDGETS[name]} — "
        "a new shuffle appeared; check for a lost broadcast or a "
        "redundant repartition/groupBy"
    )
