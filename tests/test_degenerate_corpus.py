"""Degenerate-corpus robustness gate (r13).

Contract: registered queries DEGRADE, never DIE, on pathological
corpora. Spark 4's default ANSI mode turns any exact-zero divisor
into a query-killing DIVIDE_BY_ZERO — and on a 1000-executor 100 TB
run, ONE degenerate group (a single-order nation, an event type whose
gaps are all zero, a source that is the whole corpus, a one-word
document) kills the entire job. The DuckDB oracles all yield NULL on
the same corners (DuckDB defines x/0 as NULL for every numeric type),
so before r13 the two sides silently DISAGREED on degenerate input:
oracle NULL vs Spark crash — invisible to the driver gate, found by
the r13 1-row-corpus sweep.

This test runs EVERY registered query against a 1-row corpus (single
customer/order/lineitem/event/document/embedding, zero-ish values,
one group everywhere) and asserts none raises. For the 20 queries the
r13 sweep found crashing, it additionally pins exact Spark↔oracle
parity on this corpus so the NULL-degradation contract can't drift.

Slow tier (~7 min: every registered query runs, including the
streaming mirrors' availableNow executions).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stacktrend_spark.plans.registry import all_queries
from tools.verify_local import run

pytestmark = pytest.mark.slow

_US = 788_918_400_000_000  # 1995-01-01 UTC
_EV_US = 1_704_067_200_000_000  # 2024-01-01 UTC

#: the r13 sweep's crash list — these now pin exact degenerate parity
FIXED_R13 = (
    "gold_trend_daily",
    "langdist_shares",
    "ks_drift_by_source",
    "histogram_value_buckets",
    "corr_matrix_lineitem",
    "outlier_mahalanobis_2d",
    "ols_two_feature_cramer",
    "spearman_rank_corr",
    "ols_slope_by_nation",
    "anova_oneway_f",
    "cuped_variance_reduction",
    "funnel_signup_conversion",
    "sample_domain_mix",
    "ann_nprobe_recall_sweep",
    "pagerank_copurchase",
    "model_eval_auc",
    "pca_power_iteration",
    "model_calibration_ece",
    "brier_score_decomposition",
    "fairness_demographic_parity",
)


#: the pathological corpus, one row per table: (column, type, value)
_CORPUS = {
    "region": [("r_regionkey", pa.int32(), 0), ("r_name", pa.string(), "AFRICA")],
    "nation": [
        ("n_nationkey", pa.int32(), 0),
        ("n_name", pa.string(), "ALGERIA"),
        ("n_regionkey", pa.int32(), 0),
    ],
    "customer": [
        ("c_custkey", pa.int64(), 1),
        ("c_name", pa.string(), "c1"),
        ("c_nationkey", pa.int32(), 0),
        ("c_acctbal", pa.float64(), 0.0),
        ("c_mktsegment", pa.string(), "BUILDING"),
    ],
    "supplier": [
        ("s_suppkey", pa.int64(), 1),
        ("s_name", pa.string(), "s1"),
        ("s_nationkey", pa.int32(), 0),
        ("s_acctbal", pa.float64(), 0.0),
    ],
    "part": [
        ("p_partkey", pa.int64(), 1),
        ("p_name", pa.string(), "p"),
        ("p_brand", pa.string(), "B"),
        ("p_type", pa.string(), "T"),
        ("p_size", pa.int32(), 1),
        ("p_retailprice", pa.float64(), 1.0),
    ],
    "orders": [
        ("o_orderkey", pa.int64(), 1),
        ("o_custkey", pa.int64(), 1),
        ("o_orderstatus", pa.string(), "F"),
        ("o_totalprice", pa.float64(), 1.0),
        ("o_orderdate", pa.timestamp("us"), _US),
        ("o_orderpriority", pa.string(), "1-URGENT"),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64(), 1),
        ("l_partkey", pa.int64(), 1),
        ("l_suppkey", pa.int64(), 1),
        ("l_linenumber", pa.int32(), 1),
        ("l_quantity", pa.float64(), 1.0),
        ("l_extendedprice", pa.float64(), 1.0),
        ("l_discount", pa.float64(), 0.0),
        ("l_tax", pa.float64(), 0.0),
        ("l_returnflag", pa.string(), "A"),
        ("l_linestatus", pa.string(), "O"),
        ("l_shipdate", pa.timestamp("us"), _US),
    ],
    "events": [
        ("event_id", pa.int64(), 1),
        ("ts", pa.timestamp("us"), _EV_US),
        ("user_id", pa.int64(), 1),
        ("event_type", pa.string(), "purchase"),
        ("value", pa.float64(), 0.0),
        ("props", pa.string(), "{}"),
    ],
    "documents": [
        ("doc_id", pa.int64(), 1),
        ("text", pa.string(), "a"),
        ("lang", pa.string(), "en"),
        ("source", pa.string(), "web"),
        ("n_chars", pa.int64(), 1),
    ],
    "embeddings": [
        ("vec_id", pa.int64(), 1),
        ("embedding", pa.list_(pa.float32()), [0.1] * 64),
        ("label", pa.int32(), 0),
    ],
}


def _build_corpus(n: int) -> str:
    """Write the pathological corpus with n rows per table (n in
    {0, 1})."""
    d = tempfile.mkdtemp(prefix="degen_corpus_")
    for table, cols in _CORPUS.items():
        schema = pa.schema([(c, t) for c, t, _ in cols])
        data = {c: [v][:n] for c, _, v in cols}
        pq.write_table(
            pa.table(data, schema=schema), os.path.join(d, f"{table}.parquet")
        )
    return d


@pytest.fixture(scope="module")
def degen_dir():
    d = _build_corpus(1)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def empty_dir():
    d = _build_corpus(0)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _deaths(spark, data_dir: str) -> list[str]:
    failures = []
    for name, spec in all_queries().items():
        try:
            spec.fn(spark, data_dir).collect()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
    return failures


def test_no_query_crashes_on_degenerate_corpus(spark, degen_dir):
    failures = _deaths(spark, degen_dir)
    assert not failures, (
        "queries DIED (instead of degrading) on the 1-row corpus:\n"
        + "\n".join(failures)
    )


def test_fixed_queries_match_oracle_on_degenerate_corpus(spark, degen_dir):
    assert run(spark, degen_dir, FIXED_R13) == 0, "degenerate-parity drift"


#: rows the r13 EMPTY-corpus audit found dying (driver-side collects
#: of None, fileless-dir schema inference, empty-glob loads, zero
#: global totals, empty centroid lists) — all now degrade
FIXED_R13_EMPTY = (
    "gold_market_pulse",
    "bloom_prejoin_pruning",
    "pareto_revenue_deciles",
    "corpus_datasheet",
    "observed_metrics_noop_sink",
    "source_binary_files",
    "source_partition_pruning",
    "source_dynamic_partition_pruning",
    "stream_upsert_user_totals",
    "stream_outer_attribution",
    "kmeans_assign_cells",
)


def test_no_query_crashes_on_empty_corpus(spark, empty_dir):
    failures = _deaths(spark, empty_dir)
    assert not failures, (
        "queries DIED (instead of degrading) on the EMPTY corpus:\n"
        + "\n".join(failures)
    )


def test_fixed_queries_match_oracle_on_empty_corpus(spark, empty_dir):
    assert run(spark, empty_dir, FIXED_R13_EMPTY) == 0, "empty-corpus parity drift"
