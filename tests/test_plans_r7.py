"""Plan-shape tests for the round-7 layers (resampling, governance,
embedding audits, IR, trending).

These pin the 100 TB-relevant PHYSICAL properties the docstrings
claim — broadcasts where the fact side must not shuffle, distributed
top-k instead of global windows, argmax as an aggregate — which the
value oracle cannot see.
"""

from __future__ import annotations

import pytest

from stacktrend_spark.plans.registry import all_queries
from tools.plan_shape import formatted_plan

# heavy tier: excluded from the core gate (see pytest.ini)
pytestmark = pytest.mark.slow


def test_dsir_broadcasts_and_distributed_topk(spark, sf_dir):
    """The 256-bucket weight table and the 1-row totals must broadcast
    (the token stream never shuffles for them), and the top-25 must be
    TakeOrderedAndProject — per-partition heaps, not a global sort or
    an unbounded single-partition window."""
    p = formatted_plan(all_queries()["dsir_importance_resampling"].fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_surprisal_vocab_broadcasts(spark, sf_dir):
    p = formatted_plan(all_queries()["unigram_surprisal_filter"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_conformal_scalars_broadcast(spark, sf_dir):
    """Segment means, the target bucket, the offsets and q-hat are all
    tiny frames: every join in the selection spine must broadcast."""
    p = formatted_plan(all_queries()["conformal_calibration_quantile"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p


def test_matryoshka_argmax_is_aggregate_not_window(spark, sf_dir):
    """Top-1 per (k, qid) must be a partial-aggregable struct max over
    the scored stream — a Window here would serialize each (k, qid)
    group through sort machinery for no reason."""
    p = formatted_plan(all_queries()["matryoshka_truncation_agreement"].fn(spark, sf_dir))
    assert "Window" not in p
    # the query panel broadcasts; candidates never shuffle to meet it
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ql_query_terms_broadcast_and_topk_distributed(spark, sf_dir):
    p = formatted_plan(all_queries()["query_likelihood_dirichlet"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_snippet_argmax_is_aggregate_not_window(spark, sf_dir):
    p = formatted_plan(all_queries()["snippet_best_window"].fn(spark, sf_dir))
    assert "Window" not in p


def test_decayed_trending_anchor_broadcasts(spark, sf_dir):
    p = formatted_plan(all_queries()["decayed_halflife_trending"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_srm_is_map_side_hash_plus_one_aggregate(spark, sf_dir):
    """Arm assignment must be a map-side hash: no join anywhere, one
    segment aggregate."""
    p = formatted_plan(all_queries()["srm_allocation_check"].fn(spark, sf_dir))
    assert "Join" not in p
    n_exchanges = len(
        [l for l in p.splitlines() if l.startswith("(") and "Exchange" in l]
    )
    assert n_exchanges <= 2  # segment agg + the AQE final coalesce at most


def test_dynamic_partition_pruning_injected(spark, sf_dir):
    """The day-partitioned fact scan must carry a
    DynamicPruningExpression fed by the calendar-dim broadcast —
    runtime pruning, not a static PartitionFilter. (Learned: the dim
    filter must be classified 'likely selective' — an attr-vs-literal
    predicate; a bare boolean attribute filter does NOT qualify, and
    the dim join key must match the hive-inferred INT partition type
    or the cast lands on the partition attribute and kills the rule.)"""
    from stacktrend_spark.plans.layout import _dpp_frame

    p = formatted_plan(_dpp_frame(spark, sf_dir)).lower()
    assert "dynamicpruning" in p


def test_point_in_polygon_share_matches_area_fraction(spark, sf_dir):
    """Hash coordinates are uniform, so the inside share must
    concentrate near the polygon's area fraction: the L-shape covers
    (120e6 x 120e6 - 60e6 x 60e6) / (360e6 x 180e6) = 1/6 of the
    coordinate space."""
    from stacktrend_spark.plans.geo import geo_point_in_polygon

    rows = geo_point_in_polygon(spark, sf_dir).collect()
    n = sum(r["n_customers"] for r in rows)
    inside = sum(r["n_inside"] for r in rows)
    assert 0 < inside < n
    assert 0.10 <= inside / n <= 0.25
    for r in rows:
        assert 0 <= r["n_inside"] <= r["n_customers"]
        assert r["inside_ppm"] == r["n_inside"] * 1000000 // r["n_customers"]


def test_parameterized_sql_pushes_bound_literals_to_scan(spark, sf_dir):
    """Parser-level binding must leave pushdown intact: the bound
    segment/balance predicates reach the parquet scan as
    PushedFilters, exactly as hand-inlined literals would."""
    from stacktrend_spark.plans.sql_surface import parameterized_sql_binding

    p = formatted_plan(parameterized_sql_binding(spark, sf_dir))
    assert "PushedFilters" in p
    assert "BUILDING" in p  # the bound literal itself reached the scan
