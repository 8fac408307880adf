"""Cross-scale-factor parity sweep (the ``44aaadf`` regression class).

The gate runs at one scale factor; a selective predicate that matches
zero rows at a SMALLER sf turns a scalar ``sum()`` into NULL, which
the two engines then render differently (None vs NaN) — a bug class
invisible at the gate's sf.  This sweep re-runs a curated subset of
the oracle queries at BOTH sf0.001 and sf0.01: the subset is chosen
for empty-filter / scalar-agg / NULL-semantics shapes (every query
that was bitten in round 3 is here, plus every global-agg and
selective-filter query in the registry).

Kept intentionally small (~30 queries x 2 sfs) so the sweep stays
under two minutes and can run every round.
"""

from __future__ import annotations

import duckdb
import pytest

from pg_telemetry_spark.registry import all_queries
from pg_telemetry_spark.session import clear_session_state
from pg_telemetry_spark.tables import TABLE_NAMES
from tests.oracle import assert_oracle_match

_ALL = all_queries()

#: Empty-filter / scalar-agg / NULL-sensitive shapes.
SWEEP = [
    # bitten in round 3 (commit 44aaadf): empty filter -> NULL sum
    "wl_q17_small_qty_revenue",
    "wl_q19_disjunctive_revenue",
    "join_bloom_prune",
    # global / scalar aggregates (one-row results go NULL when empty)
    "agg_global",
    "agg_corr_regr",
    "agg_stats",
    "agg_skew_kurt",
    "wl_q6_revenue_delta",
    "wl_ab_test_stats",
    # selective filters whose match set shrinks with sf
    "filt_pred",
    "filt_ts_range",
    "topk_limit",
    "wl_q2_min_price",
    "wl_q14_promo_revenue",
    "wl_q16_supplier_cnt",
    "wl_q20_part_promotion",
    "wl_q21_waiting_supplier",
    "wl_q22_dormant_customers",
    "wl_funnel",
    "wl_retention",
    "wl_mad_anomaly",
    "wl_pattern_regex",
    # NULL semantics proper
    "null_agg_semantics",
    "null_ordering",
    "null_safe_eq_join",
    # grouped aggs with filtered/conditional branches
    "agg_filtered",
    "agg_bool",
    "agg_minmax_by",
    "agg_histogram",
    "dq_constraints",
    "dq_referential",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module", params=SF_DIRS, ids=["sf0.001", "sf0.01"])
def sweep_sf(request):
    # the session table cache is keyed by sf_dir, but clear anyway so
    # each sf runs the cold table-load path too
    clear_session_state()
    return request.param


@pytest.fixture(scope="module")
def sweep_con(sweep_sf):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sweep_sf}/{name}.parquet')"
        )
    yield con
    con.close()


def test_sweep_list_is_valid():
    missing = [n for n in SWEEP if n not in _ALL or _ALL[n].oracle is None]
    assert not missing, f"sweep names without oracle: {missing}"


@pytest.mark.parametrize("name", SWEEP)
def test_sf_sweep_parity(name, spark, sweep_sf, sweep_con):
    q = _ALL[name]
    assert_oracle_match(q.fn(spark, sweep_sf), sweep_con, q.oracle, name=f"{name}@{sweep_sf}")
