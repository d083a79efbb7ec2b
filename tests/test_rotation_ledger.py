"""Machine-checked driver-window rotation arithmetic (r10 verdict
task 4).

The staleness ledger in COVERAGE.md is prose; this test derives the
same facts from the committed CORRECTNESS_r*.json artifacts — the
ground truth of what each driver round actually proved — and pins the
rotation invariants so a mis-counted window can't silently drop a row:

- every registered query is driver-proven (never-driven stays 0), OR
  is a new-this-round row sitting in the NEXT window's head;
- the newest proof of every query is green (zero standing failures);
- cohort sizes (rows grouped by newest proof round) partition the
  registry exactly — the "lists sum to 387" check, generalized to
  whatever the registry size is;
- the pinned NEXT window (registry positions 51-100) holds only the
  stalest cohorts it claims to rotate, plus never-driven rows at its
  head.

Pure artifact arithmetic — no SparkSession, runs in the fast tier.
On each rotation, update the two pinned constants below to match the
registry comment.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections import Counter

from stacktrend_spark.plans.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: cohorts (newest proof round) the pinned positions 51-100 window is
#: allowed to contain — r14 takes the r5 remainder + the r6 head.
NEXT_WINDOW_COHORTS = {5, 6}
#: named changed-code re-proves allowed in the next window regardless
#: of cohort (each must say why in its registry comment)
RE_PROVE_EXCEPTIONS: set[str] = {
    # r13 statistics/behavioral property campaign + degenerate-corpus
    # audit (tests/test_degenerate_corpus.py): ANSI Spark crashed
    # (DIVIDE_BY_ZERO / out-of-bounds / driver-side zero division) on
    # degenerate slices every DuckDB oracle survives with NULL, plus
    # one both-sides CAST crash (sample_domain_mix) and one empty-seed
    # schema-inference crash (stream_upsert_user_totals). All now
    # degrade per the oracle's natural semantics, strict bare-session
    # re-proven at both SFs, need driver stamps.
    "cohens_kappa_raters",
    "moments_skew_kurtosis",
    "interevent_burstiness",
    "capture_recapture_estimate",
    "histogram_value_buckets",
    "corr_matrix_lineitem",
    "outlier_mahalanobis_2d",
    "ols_two_feature_cramer",
    "spearman_rank_corr",
    "ols_slope_by_nation",
    "anova_oneway_f",
    "cuped_variance_reduction",
    "langdist_shares",
    "funnel_signup_conversion",
    "sample_domain_mix",
    "ann_nprobe_recall_sweep",
    "pagerank_copurchase",
    "model_eval_auc",
    "pca_power_iteration",
    "model_calibration_ece",
    "brier_score_decomposition",
    "fairness_demographic_parity",
    "stream_upsert_user_totals",
    # r13 EMPTY-corpus audit batch (same contract, 0-row tables):
    # fileless-dir schema inference, empty-glob loads, driver-side
    # None collects, zero global totals, empty centroid lists
    "bloom_prejoin_pruning",
    "pareto_revenue_deciles",
    "corpus_datasheet",
    "observed_metrics_noop_sink",
    "source_binary_files",
    "source_partition_pruning",
    "source_dynamic_partition_pruning",
    "stream_full_outer_attribution",
    "dedup_semdedup_pairs",
    "semdedup_recall_eval",
}
#: cap on rows registered after the newest artifact (r10 verdict:
#: keep additions small so the pinned window composition holds)
MAX_NEW_ROWS = 5


@functools.lru_cache(maxsize=1)
def _artifacts() -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        with open(path) as f:
            out[int(m.group(1))] = json.load(f)
    return out


def _is_green(name: str, row: dict) -> bool:
    """hash-green, or rows-green for the (currently zero) queries the
    registry registers WITHOUT a value oracle — a clean-running value
    MISMATCH (hash_match false, err null) is NEVER green."""
    if row.get("hash_match"):
        return True
    spec = all_queries().get(name)
    rows_only = spec is not None and spec.oracle is None
    return rows_only and bool(row.get("rows_match")) and row.get("err") is None


def _newest_proof() -> dict[str, int]:
    """name -> newest driver round whose artifact proves it green."""
    newest: dict[str, int] = {}
    arts = _artifacts()
    for rnd in sorted(arts):
        for name, row in arts[rnd].items():
            if _is_green(name, row):
                newest[name] = rnd
    return newest


def test_artifacts_exist_and_parse():
    arts = _artifacts()
    assert len(arts) >= 10, "expected one artifact per completed round"
    assert all(isinstance(a, dict) and a for a in arts.values())


def test_no_standing_failures():
    """The LATEST artifact containing each query must be green."""
    latest: dict[str, tuple[int, dict]] = {}
    for rnd, art in _artifacts().items():
        for name, row in art.items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, row)
    bad = {
        n: (r, row) for n, (r, row) in latest.items() if not _is_green(n, row)
    }
    assert not bad, f"standing driver failures: {bad}"


def test_cohorts_partition_the_registry():
    names = list(all_queries())
    newest = _newest_proof()
    proven = set(newest) & set(names)
    never = [n for n in names if n not in newest]
    cohorts = Counter(newest[n] for n in proven)
    # the partition identity: cohort sizes + never-driven == registry
    assert sum(cohorts.values()) + len(never) == len(names)
    # r10 verdict headline preserved: never-driven only ever holds
    # rows added AFTER the newest committed artifact, and few of them
    assert len(never) <= MAX_NEW_ROWS, f"too many unproven rows: {never}"


def test_new_rows_lead_the_next_window():
    """Never-driven rows must be provable within two driver runs:
    either inside the CURRENT window (positions 1-50 — the state right
    after a rotation promotes last round's additions) or at the HEAD
    of the pinned NEXT window (positions 51-100 — the state right
    after a mid-round registration)."""
    names = list(all_queries())
    newest = _newest_proof()
    never = [n for n in names if n not in newest]
    current_window = names[:50]
    next_window = names[50:100]
    in_next = [n for n in never if n not in current_window]
    for n in in_next:
        assert n in next_window, (
            f"{n} is never driver-proven but sits outside positions "
            "1-100 — it would not be proven within two rounds"
        )
        # never-driven rows go at the window HEAD (before stale rows)
        assert next_window.index(n) < len(in_next)


def test_next_window_rotates_the_stalest_cohorts():
    names = list(all_queries())
    newest = _newest_proof()
    offenders = {
        n: newest[n]
        for n in names[50:100]
        if n in newest
        and newest[n] not in NEXT_WINDOW_COHORTS
        and n not in RE_PROVE_EXCEPTIONS
    }
    assert not offenders, (
        f"pinned next-window rows outside cohorts {NEXT_WINDOW_COHORTS}: "
        f"{offenders} — rotation comment and registry disagree"
    )


def test_current_window_has_50_distinct_registered_rows():
    names = list(all_queries())
    assert len(set(names[:50])) == 50


def test_bench_subsets_pinned_and_disjoint():
    """BENCH_ISO subset integrity: SCALE_OPS is registered, pinned at 8
    rows, and disjoint from COMPARABLE (it exists because the comparable
    set is blind to the ranking-operator family)."""
    import sys

    sys.path.insert(0, REPO)
    from bench import COMPARABLE
    from tools.bench_isolated import SCALE_OPS

    registered = set(all_queries())
    assert set(SCALE_OPS) <= registered
    assert not set(SCALE_OPS) & set(COMPARABLE)
    assert len(SCALE_OPS) == len(set(SCALE_OPS)) == 8
