"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

Prints the FULL payload (headline + streaming + scale curve) as one
JSON line first, writes the same payload to ``BENCH_FULL.json``, and
then — after ``spark.stop()`` so no JVM/console-progress noise can
trail it — prints a COMPACT headline-only JSON line LAST:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "mode": ..., "full": "BENCH_FULL.json"}

The driver's artifact capture keeps only the final ~2 KB of combined
output and parses the JSON line it finds there (round 7's single
6 KB line came back ``parsed: null``); the compact last line is sized
(~1.6 KB at 60 queries, 2-decimal timings, compact separators) to fit
that window, and the sidecar file carries the curve detail.

Execution is forced with a full collect (mirrors the driver's verify,
which collects results for hashing).  Each query is timed individually
after a shared-session warm-up query so JVM/codegen startup is not
billed to the first headline query.

``SPARK_GRAFT_BENCH_MODE=noop`` switches execution to a noop sink
(``df.write.format("noop")``): full computation, zero driver-side row
materialization.  The default ``collect`` mode stays the ladder's
comparable number (driver parity), but for large outputs it bills the
Python row codec, not the engine — at sf1 a 1.7M-row result spends
0.4 s computing and 9 s collecting — so the SCALE CURVE in BASELINE.md
is measured in noop mode, the number that actually answers "does the
plan hold at 10x".
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pg_telemetry_spark.registry import all_queries  # noqa: E402
from pg_telemetry_spark.session import get_session  # noqa: E402

#: "<sf_dir>:<query>" -> error string for any query that failed
#: mid-suite (fault isolation, round 9); emitted in the artifact so
#: BASELINE.md must adjudicate every entry.
_FAILURES: dict[str, str] = {}


def _alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _revive(spark):
    """Return a live session, rebuilding the JVM context if the last
    one died mid-leg.  Observed (r9 run A): one executor OOM during
    llm_dedup_incr's sf10 index build stopped the local
    SparkContext, and the remaining 43 queries of the leg zombied
    with "Cannot call methods on a stopped SparkContext" — on a real
    cluster an executor OOM costs an executor, not the application,
    so the local harness must model that by reviving.

    Run B's lesson on top: under heap pressure the LIVENESS PROBE
    itself can fail while the JVM context is fine, and stop() can
    fail leaving the JVM context up — naively rebuilding then dies
    with SPARK-2243 "Only one SparkContext per JVM" and takes the
    whole artifact with it.  So: probe; if the JVM context turns out
    to still be running, adopt it; retry the stop/rebuild cycle
    before giving up."""
    if _alive(spark):
        return spark
    print("BENCH: SparkContext unreachable — reviving", file=sys.stderr)
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    for attempt in range(3):
        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                if not sc._jsc.sc().isStopped():
                    # false alarm (transient probe failure): the JVM
                    # context is alive — adopt it instead of rebuilding
                    return SparkSession.builder.getOrCreate()
            except Exception:
                pass
            try:
                sc.stop()
            except Exception:
                pass
        try:
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
        except Exception:
            pass
        try:
            return get_session("pg_telemetry_spark-bench-revived")
        except Exception:
            time.sleep(2.0)
    # out of retries: return the original handle; per-query fault
    # isolation will record subsequent failures without losing the run
    print("BENCH: revive failed; continuing with old handle", file=sys.stderr)
    return spark


def _fresh(spark):
    """Stop and rebuild the session at a leg boundary.  Heap in a
    single local JVM accumulates across hundred-query legs (broadcast
    and shuffle bookkeeping is cleaned lazily); r9 run A reached the
    sf10 leg with three legs of residue and OOMed ~90 queries in even
    at 16g, while every query passes solo.  A fresh JVM per leg
    bounds the residue to one leg — startup is untimed, so leg
    numbers stay honest."""
    try:
        spark.stop()
    except Exception:
        pass
    try:
        from pyspark.sql import SparkSession

        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    except Exception:
        pass
    return get_session("pg_telemetry_spark-bench-leg")

#: Headline queries (grown as operators land); anything missing from
#: the registry is skipped so bench never breaks mid-build.
HEADLINE = [
    "flagship_hourly_top20",
    "join_multiway",
    "agg_group_hash",
    "agg_percentile",
    "win_lag_delta",
    "ts_session",
    "ts_gapfill",
    "join_asof",
    "join_theta_range",
    "llm_cosine_topk",
    "llm_sim_join",
    "llm_dedup_near",
    "llm_simhash",
    "llm_tfidf",
    "llm_langid",
    "wl_q3_shipping_priority",
    "wl_q5_local_supplier",
    "wl_rate_hourly",
    "wl_q6_revenue_delta",
    "wl_q18_large_orders",
    "llm_dedup_incr",
    "llm_dedup_embed",
    "llm_ann_lsh",
    "llm_ann_incr",
    "llm_dedup_cc",
    "wl_upsert_scd1",
    "ts_time_weighted_avg",
    "ts_gapfill_interp",
    # round-2 extensions
    "wl_funnel",
    "wl_retention",
    "llm_chunk_docs",
    "llm_pack_sequences",
    "ts_resample_ohlc",
    "wl_dau_wau_mau",
    "llm_bigram_lm",
    "wl_session_paths",
    "wl_rollup_cascade",
    # TPC-H completion + data-eng + ts-depth families
    "wl_q1_pricing_summary",
    "wl_q9_product_profit",
    "wl_q13_cust_order_dist",
    "wl_q21_waiting_supplier",
    "join_bloom_prune",
    "wl_scd2_history",
    "wl_cdc_apply",
    "agg_cms_freq",
    "dq_constraints",
    "ts_counter_reset",
    "ts_minmax_decimate",
    "llm_bm25",
    "llm_inverted_index",
    # round-6: inverted-index set-similarity (crossJoin replaced by
    # posting equi-joins — in the headline list so PLANS.md audits them)
    "llm_jaccard_pairs",
    "llm_containment",
    "llm_decontaminate",
    "ts_slo_burn",
    # round-7: UNBOUNDED full-corpus set-similarity (the r6 weak
    # grade: the bounded pair's id<80 window pushes to the scans, so
    # only these exercise the PPJoin blocking join at corpus scale)
    "llm_jaccard_full",
    "llm_containment_full",
    # round-7: corpus-curation family (post-dedup pipeline filters)
    "llm_repetition",
    "llm_ngram_novelty",
    "llm_domain_mix",
    "llm_chunk_dedup",
    "layout_zorder",
    # round-8: curation completions (weighted sampling, templated-
    # prefix dedup, split-leakage audit)
    "llm_quality_sample",
    "llm_prefix_dedup",
    "llm_cross_split_leak",
    # round-8: semantic dedup, retention policy, BPE tokenizer training,
    # content-defined chunk dedup (llm_bpe_apply stays registry-only:
    # its cost is bpe_train + a broadcast join, both already audited)
    "llm_semdedup",
    "llm_keep_best",
    "llm_bpe_pairs",
    "llm_bpe_train",
    "llm_cdc_chunk",
    # round-8 late: paper-grounded curation/monitoring depth
    "llm_dup_substrings",
    "llm_lm_filter",
    "llm_winnowing",
    "llm_embed_outlier",
    "ts_cusum_change",
    # round-8 batch 2: quality rules, soft dedup, diagnostics
    "llm_gopher_rules",
    "llm_soft_dedup",
    "ts_acf",
    "dq_benford",
    "wl_markov_transition",
    # round-9: graph analytics, training-mixture construction,
    # mergeable quantile sketch, seasonal decomposition, IQR fences
    "wl_copurchase_triangles",
    "wl_copurchase_degree",
    "wl_pagerank",
    "llm_curriculum_order",
    "llm_oversample_rare",
    "llm_kn_bigram",
    "ts_seasonal_decompose",
    "dq_outlier_iqr",
    "agg_tdigest",
    # round-9 batch 2: cohort LTV, drift monitoring, feature hashing,
    # Holt forecasting, manifest snapshots
    "wl_cohort_ltv",
    "dq_psi_drift",
    "llm_hash_features",
    "ts_holt_forecast",
    "snk_manifest_snapshot",
    # round-9 batch 3: community detection, growth analytics,
    # residual anomalies, URL canonicalization
    "wl_label_propagation",
    "wl_new_vs_returning",
    "ts_stl_anomaly",
    "fn_url_normalize",
    # round-9 batch 4: corpus laws, retail stats, robust estimators
    "llm_zipf_heaps",
    "wl_rfm_segments",
    "wl_market_basket",
    "wl_gini_revenue",
    "agg_weighted_median",
    "dq_iqr_outliers",
    "wl_data_freshness",
    "ts_theilsen",
    "ts_dtw_pairs",
    # round-9 batch 5: telemetry enrichment & matching
    "fn_ip_cidr",
    "fn_useragent",
    "join_geo_grid",
    "wl_entity_match",
    "ts_concurrency",
    "dq_schema_drift",
    # round-9 batch 6: data selection, graph cores, Kalman
    "llm_dsir_resample",
    "llm_fasttext_score",
    "wl_kcore",
    "wl_bfs_hops",
    "ts_kalman_smooth",
    # round-9 batch 7: privacy census, recommendations, MMR, streaming
    "dq_k_anonymity",
    "wl_recommend_item_cf",
    "llm_mmr_diversify",
    # round-9 batch 8: range lookup, table maintenance
    "join_range_ip_lookup",
    "layout_compaction",
    # round-9 batch 9: interval algebra, funnel windows, tokenizer fit,
    # LSH planning, PQ
    "ts_interval_union",
    "wl_window_funnel",
    "llm_oov_rate",
    "llm_band_tuning",
    "llm_ann_pq",
    # round-9 batch 10: M4, SAX, churn, temperature mix
    "ts_downsample_m4",
    "ts_sax_symbolic",
    "wl_churn_rate",
    "llm_temperature_mix",
    # round-10: typed stat-view rollups + LSH verify promotion
    "pgw_stmt_top_delta",
    "pgw_locks_contention",
    "pgw_bgwriter_rate",
    "pgw_replication_health",
    "llm_lsh_verify",
    "pgw_cache_hit_ratio",
    "pgw_activity_waits",
    # round-11: per-relation stat views (§0.1 completion)
    "pgw_table_bloat",
    "pgw_seq_idx_mix",
    "pgw_unused_indexes",
    "pgw_relation_growth",
    # round-11b: I/O + WAL stat views
    "pgw_io_by_backend",
    "pgw_wal_rate",
    "pgw_archiver_health",
    "pgw_statio_hit_by_table",
    # round-12: runs rules, lead-lag, Mann-Kendall, fertility, link pred
    "ts_spc_rules",
    "ts_cross_corr",
    "ts_mk_trend",
    "llm_fertility",
    "wl_link_prediction",
    "fn_struct",
    "ts_rolling_median",
    # round-16: ANN hot-set compaction + index-selection crossover
    "llm_ann_compact",
    "llm_ann_route",
]


def _dominance_flags(timings: dict[str, float], share: float = 0.15) -> list[dict]:
    """Absolute-dominance check (VERDICT r8 #6): the 12x scale-RATIO
    bar missed llm_winnowing because its ratio was only x7.6 while it
    was 34-62% of the leg's WALL.  Flag any query whose share of its
    leg exceeds ``share`` so a single absolutely-dominant query is
    surfaced automatically; BASELINE.md adjudicates every hit."""
    total = sum(timings.values())
    if total <= 0:
        return []
    return [
        {"query": n, "sec": v, "share": round(v / total, 3)}
        for n, v in sorted(timings.items(), key=lambda kv: -kv[1])
        if v / total > share
    ]


def _run_df(df, mode: str) -> None:
    if mode == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.collect()


def _prebuild_incr_index(spark, names, sf_dir: str) -> None:
    # llm_dedup_incr is benched PROBE-ONLY: the base-corpus LSH index
    # is a materialized table in any real deployment (built once at
    # ingest), so the O(corpus) build is pre-paid here and the timed
    # query measures the per-delta probe cost — the number that
    # matters for continuous ingest.  Equivalence of probe results to
    # a full rebuild is pinned by tests/test_units_llm.py.
    #
    # Round 10 (VERDICT r9 weak #1): the index is now PARQUET ON DISK
    # (queries/llm_ext.py:_incr_base_index), so a mid-leg SparkContext
    # revival can no longer silently fold the O(corpus) build back
    # into the timed probe — r9's 17.8 s driver-facing read against a
    # 4.7 s measured probe was exactly that.  One untimed probe run
    # here additionally pre-pays the per-session plan compilation
    # (whole-stage codegen of the two-phase verify stages, ~3-4 s once):
    # continuous ingest runs the SAME probe plan every batch, so the
    # steady-state per-delta cost is the honest recurring number; the
    # cold-first-probe cost is recorded in BASELINE.md alongside it.
    if "llm_dedup_incr" in names:
        from pg_telemetry_spark.queries.llm_ext import _incr_base_index
        from pg_telemetry_spark.registry import all_queries

        _incr_base_index(spark, sf_dir)
        all_queries()["llm_dedup_incr"].fn(spark, sf_dir).collect()
    if "llm_ann_incr" in names:
        # same contract for the ANN index (VERDICT r14 #2): the
        # (tbl, bucket, sub, id) table is built once at ingest; the
        # timed query is the per-delta probe, with one untimed probe
        # pre-paying plan compilation.
        from pg_telemetry_spark.queries.llm_ext import _ann_base_index
        from pg_telemetry_spark.registry import all_queries

        _ann_base_index(spark, sf_dir)
        all_queries()["llm_ann_incr"].fn(spark, sf_dir).collect()


def _warm_fixtures(spark, sf_dir: str) -> None:
    """Untimed per-leg fixture warm-up: touch every fixture table once
    so directory listing, parquet footer reads, and FileSourceScan
    setup are paid BEFORE the first timed row.  Generic fix for the
    one-time-cost-in-timed-row bug class that has bitten three rounds
    (r9 llm_dedup_incr revival billing, r9 streaming first-op
    machinery, r10 driver sf1 leg: join_multiway read 63x because the
    leg's first queries billed the one-time sf1 fixture load — quiet
    re-measurement showed the true engine ratio was ~1.2x)."""
    from pg_telemetry_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        try:
            # count() touches every file's footer/row-group metadata
            # without materializing rows driver-side
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass


def _run_suite(
    spark, registry, names, sf_dir: str, mode: str, gc_between: bool = False
):
    """Returns (spark, timings) — the session may have been revived
    mid-leg, so callers must adopt the returned handle."""
    _warm_fixtures(spark, sf_dir)
    try:
        _prebuild_incr_index(spark, names, sf_dir)
    except Exception as pex:
        # same fault isolation as the mid-leg revival prebuild: an
        # untimed warm-up dying (r15: a driver broadcast OOM in the
        # sf10 dedup probe on a FRESH 16g JVM — a GC-timing knife
        # edge) must cost a recorded failure + cold first rows, never
        # the whole leg/artifact.
        # key includes the leg's first query so the two halves of a
        # split sf10 leg (same sf_dir, disjoint name lists) record
        # their prebuild failures under DISTINCT keys (ADVICE r15)
        leg_tag = names[0] if names else "empty"
        _FAILURES[f"{sf_dir}:_initial_prebuild:{leg_tag}"] = (
            f"{type(pex).__name__}: {str(pex)[:160]}"
        )
        print(
            f"BENCH initial prebuild failed [{sf_dir}]: "
            f"{type(pex).__name__} — continuing cold",
            file=sys.stderr,
        )
        spark = _revive(spark)
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            _run_df(registry[name].fn(spark, sf_dir), mode)
        except Exception as ex:  # fault isolation (round 9): one
            # query dying mid-leg (e.g. a heap spike at the 100x
            # decade) must cost ITS row, not the whole artifact — the
            # r9 run-1 sf10 leg died at query ~120/135 and produced
            # nothing.  Failures surface as a "failures" map the
            # baseline discipline must adjudicate.
            timings[name] = round(time.perf_counter() - t0, 3)
            _FAILURES[f"{sf_dir}:{name}"] = (
                f"{type(ex).__name__}: {str(ex)[:160]}"
            )
            print(
                f"BENCH QUERY FAILED [{sf_dir}] {name}: {type(ex).__name__}",
                file=sys.stderr,
            )
            spark = _revive(spark)
            # the revived session lost the prebuilt warmth (disk index
            # survives; plan codegen does not) — re-pay it UNTIMED for
            # any prebuilt query still pending, so a revival can never
            # bill prep into a later timed row (VERDICT r9 weak #1).
            # Guarded: the prebuild itself can throw on a freshly
            # revived session (plausible right after an executor/heap
            # failure), and an escape here would kill the whole leg —
            # record it and continue with cold timings instead.
            pending = [n for n in names if n not in timings]
            try:
                _warm_fixtures(spark, sf_dir)
                _prebuild_incr_index(spark, pending, sf_dir)
            except Exception as pex:
                _FAILURES[f"{sf_dir}:_revival_prebuild"] = (
                    f"{type(pex).__name__}: {str(pex)[:160]}"
                )
                print(
                    f"BENCH revival prebuild failed [{sf_dir}]: "
                    f"{type(pex).__name__} — continuing cold",
                    file=sys.stderr,
                )
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        if gc_between:
            # Long single-session legs accumulate shuffle files on
            # local disk until the ContextCleaner notices the Python
            # references died; at the sf10 leg the backlog from the
            # big queries fills the disk mid-leg (measured round 7:
            # SPILL_OUT_OF_MEMORY "No space left on device").  A GC
            # nudge per query lets the cleaner drop them promptly —
            # cleanup, not caching, so timings stay honest.
            import gc as _gc

            _gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
    return spark, timings


def _checkpoint(tag: str, payload) -> None:
    """Persist partial results as legs complete (run B died at query
    ~98 of the sf10 leg and lost EVERYTHING because the artifact was
    written only at the very end)."""
    try:
        path = REPO / "BENCH_PARTIAL.json"
        cur = {}
        if path.exists():
            cur = json.loads(path.read_text())
        cur[tag] = payload
        path.write_text(json.dumps(cur, indent=1) + "\n")
    except Exception:
        pass


def _scale_curve(spark, registry, names) -> dict | None:
    """Two-point scale curve (VERDICT r6 #1): the full headline list in
    noop mode (engine time, not the Python row codec) at sf0.1 and at
    the synthetic 10x sf1 ladder, with per-query sf1/sf0.1 ratios.
    The sf1 fixtures are deterministic and regenerate in ~15 s when
    absent (``tools/gen_scale.py``), so the curve survives a fresh
    checkout.  Disable with SPARK_GRAFT_NO_SCALE_CURVE=1."""
    sf1_dir = str(REPO / "scaledata" / "sf1")
    if not os.path.isdir(sf1_dir):
        import subprocess

        r = subprocess.run(
            [sys.executable, str(REPO / "tools" / "gen_scale.py")],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0 or not os.path.isdir(sf1_dir):
            return {"error": "sf1 generation failed", "stderr": r.stderr[-500:]}

    def cold() -> None:
        # Both legs measured COLD: the headline collect pass above has
        # already warmed sf0.1's memoized subtrees and persisted
        # materializations, which would deflate the sf0.1 leg and
        # fake a super-linear ratio (observed: llm_dedup_near 0.11 s
        # warm vs ~4 s cold).  Same discipline as PLANS.md's audit.
        # Forgetting the session memos first also makes the next
        # load_table re-persist its table, as on a fresh session.
        from pg_telemetry_spark.session import clear_session_state

        clear_session_state()
        spark.catalog.clearCache()

    cold()
    spark, lo = _run_suite(spark, registry, names, "/root/testdata/sf0.1", "noop")
    _checkpoint("curve_sf0.1", lo)
    spark = _fresh(spark)
    cold()
    spark, hi = _run_suite(spark, registry, names, sf1_dir, "noop")
    _checkpoint("curve_sf1", hi)
    ratios = {
        n: round(hi[n] / lo[n], 2) if lo[n] > 0 else None for n in names
    }
    out = {
        "metric": "scale_curve_noop",
        "unit": "sec",
        "sf0.1": {
            "value": round(sum(lo.values()), 3),
            "queries": lo,
            "dominance_flags": _dominance_flags(lo),
        },
        "sf1": {
            "value": round(sum(hi.values()), 3),
            "queries": hi,
            "dominance_flags": _dominance_flags(hi),
        },
        "ratio_sf1_over_sf0.1": ratios,
        "data_ratio": 10.0,
    }
    # Optional third decade (sf10 = 100x the driver's sf0.1): opt-in
    # because the leg adds ~20 min — generate scaledata/sf10 with
    # `python tools/gen_scale.py --sf 10` first.  Ratios over sf1
    # close the curve to TWO measured decades.
    sf10_dir = str(REPO / "scaledata" / "sf10")
    if os.environ.get("SPARK_GRAFT_SCALE3", "") == "1" and os.path.isdir(sf10_dir):
        cold()
        spark = _fresh(spark)
        # SPLIT-SESSION sf10 leg (r15, the BASELINE.md escalation rule
        # fired twice: llm_semdedup read 63.0 s in-suite r14 and
        # 34.7 s r15 vs a 10.0-13.3 s solo steady band — heap churn
        # accumulating over a 150+-query single-JVM leg, GCLocker
        # retries clustering in the back half).  A fresh JVM for the
        # back half bounds the churn to ~75 queries; startup is
        # untimed, so rows stay honest.
        half = len(names) // 2
        spark, hi10 = _run_suite(
            spark, registry, names[:half], sf10_dir, "noop", gc_between=True
        )
        cold()
        spark = _fresh(spark)
        spark, hi10b = _run_suite(
            spark, registry, names[half:], sf10_dir, "noop", gc_between=True
        )
        hi10.update(hi10b)
        _checkpoint("curve_sf10", hi10)
        _checkpoint("failures", _FAILURES)
        out["sf10"] = {
            "value": round(sum(hi10.values()), 3),
            "queries": hi10,
            "dominance_flags": _dominance_flags(hi10),
        }
        out["ratio_sf10_over_sf1"] = {
            n: round(hi10[n] / hi[n], 2) if hi[n] > 0 else None for n in names
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = os.environ.get("SPARK_GRAFT_BENCH_MODE", "collect")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    def run(df) -> None:
        _run_df(df, mode)

    spark = get_session("pg_telemetry_spark-bench")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]

    # warm-up: JVM, codegen, parquet footer caches
    if names:
        run(registry[names[0]].fn(spark, sf_dir))

    spark, timings = _run_suite(spark, registry, names, sf_dir, mode)
    total = round(sum(timings.values()), 3)

    # Streaming suite: every group="streaming" query through the
    # micro-batch harness, timed at sf0.01 to stay comparable with
    # BASELINE.md's streaming figure (state-store partitioning is
    # sized for local runs; the batch headline above is the scale
    # number).  Kept inside the SAME single JSON line — extra keys,
    # not a second line, so the driver's one-line parse contract
    # holds.  Disable with SPARK_GRAFT_NO_STREAMING_BENCH=1.
    streaming = None
    if os.environ.get("SPARK_GRAFT_NO_STREAMING_BENCH", "") != "1":
        stream_sf_dir = os.environ.get(
            "SPARK_GRAFT_STREAM_SF_DIR", "/root/testdata/sf0.01"
        )
        sm = re.search(r"sf([0-9.]+)", stream_sf_dir)
        stream_names = sorted(
            n for n, q in registry.items() if q.group == "streaming"
        )
        # warm-up, same discipline as the batch headline above: one
        # untimed streaming run pays the one-time machinery costs
        # (streaming engine + state-store provider class loading,
        # foreachBatch python-proxy spin-up, sink codegen) that
        # otherwise land on whichever op happens to run first.
        # Measured r10: first-ever streaming op in a session costs
        # 3-9 s MORE than its steady-state repeat; r9's apparent
        # streaming "doubling" decomposed into exactly this + 2 new
        # ops + machine drift (BASELINE.md "Round 11" section carries
        # the decomposition).
        if stream_names:
            run(registry["snk_foreachbatch"].fn(spark, stream_sf_dir))
        stream_timings: dict[str, float] = {}
        for name in stream_names:
            t0 = time.perf_counter()
            run(registry[name].fn(spark, stream_sf_dir))
            stream_timings[name] = round(time.perf_counter() - t0, 3)
        streaming = {
            "metric": "streaming_suite_wall_clock",
            "value": round(sum(stream_timings.values()), 3),
            "unit": "sec",
            "queries": stream_timings,
            "sf": float(sm.group(1).rstrip(".")) if sm else None,
            # raw dir so the config stays recoverable from the JSON
            # even when the env-provided path has no 'sf<N>' segment
            "sf_dir": stream_sf_dir,
        }

    _checkpoint("headline", timings)
    if streaming is not None:
        _checkpoint("streaming", streaming)
    curve = None
    if os.environ.get("SPARK_GRAFT_NO_SCALE_CURVE", "") != "1":
        curve = _scale_curve(spark, registry, names)

    out = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "dominance_flags": _dominance_flags(timings),
        "failures": _FAILURES,
        "sf": sf,
        "sf_dir": sf_dir,
        "mode": mode,
    }
    if streaming is not None:
        out["streaming"] = streaming
    if curve is not None:
        out["scale_curve"] = curve
    # Full payload: sidecar file + first (human/audit) line.
    payload = json.dumps(out, indent=1) + "\n"
    (REPO / "BENCH_FULL.json").write_text(payload)
    # Round-stamped immutable copy (VERDICT r11 #2): BENCH_FULL.json
    # is a mutable latest-pointer that a later two-leg run can (and
    # r11 did) clobber — the r10 three-decade sf10 record survived
    # only in git history.  Every run now also lands a stamped file
    # that is NEVER overwritten: SPARK_GRAFT_BENCH_TAG names it
    # (e.g. "r12_sf10"); otherwise a numeric suffix is allocated.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "")
    stamped = REPO / (f"BENCH_FULL_{tag}.json" if tag else "BENCH_FULL_001.json")
    seq = 1
    while stamped.exists():
        seq += 1
        base = tag if tag else ""
        suffix = f"{base}_{seq}" if base else f"{seq:03d}"
        stamped = REPO / f"BENCH_FULL_{suffix}.json"
    stamped.write_text(payload)
    out["stamped"] = stamped.name
    print(json.dumps(out))
    sys.stdout.flush()
    try:  # the session may have been revived (and the old one
        # stopped) inside a leg; stopping a dead handle is a no-op
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        (active or spark).stop()
    except Exception:
        spark.stop()
    # Compact headline line LAST — after spark.stop() so shutdown logs
    # and console-progress stderr cannot land after it in the driver's
    # combined-output tail capture.
    # Sweep-drift tripwire (VERDICT r10 #7): surface any op whose
    # sf0.01 full-sweep time regressed >3x vs the previously committed
    # sweep (tools/driver_sim.py writes the sidecar) — per-op coverage
    # for the ~250 ops the driver's static 50-sample never gates.
    regressions: list[str] = []
    try:
        regressions = json.loads(
            (REPO / "SWEEP_TIMINGS.json").read_text()
        ).get("regressions", [])
    except Exception:
        pass

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "regressions": regressions,
        # INTEGER-second per-query values: at 73 names even 1-decimal
        # overflows the driver's ~2 KB tail window at worst-case
        # widths (measured 1987 chars vs 1841 integer); 3-decimal
        # timings live in BENCH_FULL.json and the full first line
        "queries": {n: int(v) for n, v in timings.items()},
        "sf": sf,
        "mode": mode,
        "full": "BENCH_FULL.json",
    }
    if streaming is not None:
        compact["streaming_total_sec"] = streaming["value"]
    line = json.dumps(compact, separators=(",", ":"))
    # Never regress past the ~2 KB capture window: shed the FASTEST
    # queries first (their integer seconds are ~0 — all signal lives
    # in the slow ones), keeping per-query visibility for everything
    # that matters; full 3-decimal detail is in BENCH_FULL.json.
    if len(line) > 1900:
        by_speed = sorted(timings, key=lambda n: (timings[n], n), reverse=True)
        while len(line) > 1900 and by_speed:
            by_speed.pop()
            compact["queries"] = {n: int(timings[n]) for n in by_speed}
            compact["queries_omitted"] = len(timings) - len(by_speed)
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
