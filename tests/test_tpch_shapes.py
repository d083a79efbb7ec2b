"""Plan-shape pins for the round-6 TPC-H optimizer-pattern batch
(plans/tpch_shapes.py). Values are oracle-checked by the driver; these
tests pin the PHYSICAL properties that make each shape survive 100 TB —
semi/anti strategies, extracted equi keys, top-N pushdown, scalar
broadcasts — so a plan regression fails CI even while results stay
correct."""

from __future__ import annotations

from stacktrend_spark.plans.registry import all_queries
from tools.plan_shape import formatted_plan


def _q(name, spark, sf_dir):
    return all_queries()[name].fn(spark, sf_dir)


def test_q4_exists_is_left_semi_join(spark, sf_dir):
    """The correlated EXISTS must plan as a LEFT SEMI hash join (key
    equality extracted, the shipdate inequality left as the join's
    residual condition) — never a nested loop over lineitem."""
    p = formatted_plan(_q("q4_late_ship_priority", spark, sf_dir))
    assert "LeftSemi" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_q16_not_in_is_anti_join(spark, sf_dir):
    """The NOT-IN supplier exclusion must be an anti join against the
    (tiny, broadcast) excluded-suppkey set."""
    p = formatted_plan(_q("q16_supplier_variety", spark, sf_dir))
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_q19_disjunction_keeps_equi_key(spark, sf_dir):
    """Catalyst must extract the partkey equality from the OR-of-ANDs
    condition: a hash join with residual filter, not a nested loop."""
    p = formatted_plan(_q("q19_disjunctive_filter", spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q21_has_semi_and_anti(spark, sf_dir):
    """EXISTS + NOT EXISTS double correlation = one semi join and one
    anti join over the late-line set."""
    p = formatted_plan(_q("q21_waiting_suppliers", spark, sf_dir))
    assert "LeftSemi" in p
    assert "LeftAnti" in p


def test_q10_topn_is_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT 20 must plan as TakeOrderedAndProject (per-
    partition heaps + driver merge), never a global Sort of all
    customers."""
    p = formatted_plan(_q("q10_returned_items", spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_q11_global_scalar_is_broadcast(spark, sf_dir):
    """The HAVING-vs-total comparison joins a 1-row aggregate — it must
    arrive broadcast; the per-part aggregate must not be re-shuffled to
    a single partition."""
    p = formatted_plan(_q("q11_important_parts", spark, sf_dir))
    assert "Broadcast" in p
    assert "CartesianProduct" not in p


def test_q2_min_join_back_has_no_window(spark, sf_dir):
    """The correlated-min is decorrelated as groupBy-min + join-back:
    no Window operator (a global window would single-partition the
    part spine at scale)."""
    p = formatted_plan(_q("q2_min_cost_supplier", spark, sf_dir))
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_q5_dates_push_to_orders_scan(spark, sf_dir):
    """The order-date range must reach the orders parquet scan."""
    p = formatted_plan(_q("q5_local_supplier_volume", spark, sf_dir))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "o_orderdate" in l]
    assert pushed, "o_orderdate range not pushed to the orders scan"


def test_q22_anti_probe_is_date_filtered(spark, sf_dir):
    """The dormancy anti join probes only RECENT orders: the cutoff
    must be pushed to the orders scan, keeping the probe side a
    fraction of the fact table."""
    p = formatted_plan(_q("q22_dormant_customers", spark, sf_dir))
    assert "LeftAnti" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "o_orderdate" in l]
    assert pushed, "o_orderdate cutoff not pushed to the orders scan"


def test_band_join_is_bucketed_equi_join(spark, sf_dir):
    """The ±1.00 band self-join must run as a hash join on
    (brand, cell) with the exact band as residual — never a
    nested-loop O(N²) comparison."""
    p = formatted_plan(_q("band_join_price_pairs", spark, sf_dir))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "Generate" in p  # the 3-cell replication explode


def test_attribution_single_window_pass(spark, sf_dir):
    """first_k and last_k share one window spec — the plan must contain
    exactly one Window operator (two frames would double the per-user
    sort)."""
    p = formatted_plan(_q("attribution_first_last_touch", spark, sf_dir))
    # formatted output shows each operator once in the tree as
    # "Window (n)" — count tree occurrences only
    assert p.count("Window (") == 1


def test_hll_register_build_is_two_level_agg(spark, sf_dir):
    """Register build = hash-agg on (group, j) then per-group rollup;
    no window, no join other than the exact-count companion."""
    p = formatted_plan(_q("hll_register_sketch", spark, sf_dir))
    assert "Window" not in p


def test_phrase_join_filters_terms_before_shuffle(spark, sf_dir):
    """Only the two phrase terms' postings may reach the adjacency
    join: the term filter must sit under the exchange (filter before
    shuffle), and the explode is map-side Generate."""
    p = formatted_plan(_q("phrase_match_positions", spark, sf_dir))
    assert "Generate" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_partition_skew_audit_single_fact_pass(spark, sf_dir):
    """The audit reads orders ONCE: one scan, one aggregate over the
    32-bucket table; the ranking window runs on ≤32 rows by
    construction."""
    p = formatted_plan(_q("partition_skew_audit", spark, sf_dir))
    # one scan appears twice in formatted output (tree + detail section)
    assert p.count("Scan parquet") == 2
