"""Silver → Gold analytics (the reference's s2g notebook as pure
functions — SURVEY §2.11 trend tables 1-7).

Formula parity with silver_to_gold_analytics.py, with two deliberate
upgrades (documented where they occur): every global ranking carries a
deterministic tiebreaker, and the stubbed history comparisons
(momentum_change/rank_change = lit(0), s2g:423-424) are implemented
with real lag() when history is present.

These functions are the only definition of the trend tables: the
registered gold_* queries (plans/gold_mirrors.py) call them on the
testdata, so the DuckDB oracle gate proves the formulas production
runs. Every value is therefore exact across engines (PARITY.md), which
departs from the s2g arithmetic in these places:

- averages are µ-unit BIGINTs: each value is rounded once to µ-units
  (``iscale``), the integers are summed and the sum divided by the
  count with round-half-up integer division; the user-facing DOUBLE is
  that integer / 10⁶ (s2g: ``avg`` over doubles, whose low bits follow
  the summation order);
- ``log10`` is ``xlog10``, the decade-interpolated log10 of
  functions/rounding.py, in integer µ-units (at most 0.27 below log10);
- the momentum, repo-momentum and sustainability scores are sums of
  µ-unit integers (``*_micro`` columns, the DOUBLE score is / 10⁶);
  the 0.3 and 0.4 weights truncate toward zero in integer division;
- ``stddev`` is ``dstd`` (exact integer moments, rounded to 4 places);
- ratio thresholds compare integers by cross-multiplication
  (``active / n >= 0.7`` is ``active * 10 >= n * 7``);
- every divisor that depends on the data goes through ``try_divide``
  (or ``nullif`` for integer ``DIV``), so a zero-star partition or an
  empty silver yields NULL shares instead of an ANSI DIVIDE_BY_ZERO;
- the five tech_metrics ranks come from one unordered window over the
  category rows (bounded: one row per category), not five sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import spark_sql_dstd
from stacktrend_spark.functions.sqltext import iso_date

# Every frame below is declared as SQL text — one parse per aggregate
# or projection instead of a Column-DSL chain (functions/sqltext.py).
# Float literals carry the D suffix: a bare 0.3 in Spark SQL is a
# DECIMAL, where the Python float of the reference formulas is DOUBLE.


def _agg(df: DataFrame, keys: list[str], *exprs: str) -> DataFrame:
    return df.groupBy(*keys).agg(*[F.expr(e) for e in exprs])


def _micro(x: str) -> str:
    """``x`` rounded half up to exact µ-units (rounding.iscale at 6)."""
    return f"CAST(floor({x} * 1000000D + 0.5D) AS BIGINT)"


def avg_micro(x: str) -> str:
    """Average of ``x`` in µ-units: exact integer sum over the count,
    rounded half up; NULL over no values."""
    return f"(2 * sum({_micro(x)}) + count({x})) DIV nullif(2 * count({x}), 0)"


def avg_of(x: str) -> str:
    return f"{avg_micro(x)} / 1000000D"


def xlog10_micro(x: str) -> str:
    """xlog10(greatest(x, 1)) in µ-units for a BIGINT ``x``:
    (d − 1)·10⁶ + round((x − p)·10⁶ / 9p) with d digits and p = 10^(d−1).
    Exact while (x − p)·2·10⁶ fits a BIGINT (x < 4.6e12)."""
    v = f"greatest({x}, 1)"
    d = f"length(CAST({v} AS STRING))"
    p = f"CAST(rpad('1', {d}, '0') AS BIGINT)"
    return f"(({d} - 1) * 1000000 + (2 * ({v} - {p}) * 1000000 + 9 * {p}) DIV (18 * {p}))"


_ACTIVE = "sum(CASE WHEN is_active THEN 1 ELSE 0 END)"


def count_distinct(x: str) -> str:
    """``count(DISTINCT x)`` as the size of the group's set of non-NULL
    values: an ordinary aggregate, so the plan keeps one partial/final
    aggregate pair where a DISTINCT aggregate beside others plans an
    Expand, a second aggregate and another exchange. The set holds the
    group's distinct values, which are few for the label columns it
    counts here (licenses, categories, languages)."""
    return f"CAST(size(collect_set({x})) AS BIGINT)"


def _rank(key: str) -> str:
    """Row number over (key DESC, technology_category ASC) as 1 + the
    count of ``peers`` strictly ahead — the category is unique per row,
    so this equals the sorted row_number."""
    return (
        f"size(filter(peers, p -> p.{key} > {key} OR (p.{key} = {key}"
        " AND p.technology_category < technology_category))) + 1"
    )


def tech_metrics(silver: DataFrame) -> DataFrame:
    """Gold table 1 (s2g:133-311): category rollup → momentum →
    lifecycle → ranks → risk."""
    agg = _agg(
        silver,
        ["technology_category"],
        "count(repository_id) AS total_repositories",
        "sum(stargazers_count) AS total_stars",
        "sum(forks_count) AS total_forks",
        "sum(watchers_count) AS total_watchers",
        f"{avg_micro('stargazers_count')} AS stars_u",
        f"{avg_micro('forks_count')} AS forks_u",
        f"{avg_micro('community_health_score')} AS health_u",
        f"{avg_micro('quality_score')} AS quality_u",
        f"{avg_micro('star_velocity_30d')} AS velocity_u",
        f"{avg_micro('commit_frequency_30d')} AS commit_u",
        f"{_ACTIVE} AS active_repositories",
        f"{avg_micro('days_since_creation')} AS age_u",
        f"{count_distinct('license_category')} AS license_diversity_count",
    )
    staged = agg.selectExpr(
        "*",
        "(200000000 * active_repositories + total_repositories)"
        " DIV nullif(2 * total_repositories, 0) AS active_u",
        # momentum score (s2g:168-186): popularity + growth + weighted health
        f"least({xlog10_micro('total_stars')} * 10, 40000000)"
        " + least(velocity_u * 100, 30000000) + (health_u * 3) DIV 10 AS momentum_score_micro",
        "CASE WHEN total_repositories <= 2 THEN 100 WHEN total_repositories <= 5 THEN 60"
        " WHEN total_repositories <= 10 THEN 30 ELSE 10 END AS risk",
    ).selectExpr(
        "*",
        "(4 * active_u + 3 * health_u + 3000000 * (100 - risk)) DIV 10"
        " AS sustainability_score_micro",
        # every category row once, for the five ranks below: one
        # unordered window, one exchange and no sort, where five
        # row_number windows plan five sorts. Valid because categories
        # are few; unbounded rankings belong to operators/ranking.py.
        "collect_list(struct(technology_category, total_stars, velocity_u, health_u,"
        " momentum_score_micro)) OVER () AS peers",
    )
    return staged.selectExpr(
        "technology_category",
        "total_repositories",
        "total_stars",
        "total_forks",
        "total_watchers",
        "stars_u / 1000000D AS avg_stars_per_repo",
        "forks_u / 1000000D AS avg_forks_per_repo",
        "health_u / 1000000D AS avg_community_health",
        "quality_u / 1000000D AS avg_quality_score",
        "velocity_u / 1000000D AS avg_star_velocity",
        "commit_u / 1000000D AS avg_commit_frequency",
        "active_repositories",
        "age_u / 1000000D AS avg_repository_age_days",
        "license_diversity_count",
        "active_u / 1000000D AS active_repositories_percentage",
        "momentum_score_micro / 1000000D AS momentum_score",
        "momentum_score_micro",
        # lifecycle staging (s2g:199-213)
        "CASE WHEN velocity_u > 1000000 AND age_u < 730000000 THEN 'emerging'"
        " WHEN velocity_u > 500000 AND total_repositories >= 5 THEN 'growing'"
        " WHEN total_repositories >= 10 AND age_u > 1095000000 THEN 'mature'"
        " WHEN velocity_u < 100000 THEN 'declining'"
        " ELSE 'stable' END AS lifecycle_stage",
        "CASE WHEN velocity_u > 500000 THEN 'rising'"
        " WHEN velocity_u > 100000 THEN 'stable'"
        " ELSE 'declining' END AS momentum_trend",
        # rankings (s2g:225-236) and risk metrics (s2g:245-260)
        f"{_rank('total_stars')} AS popularity_rank",
        f"{_rank('velocity_u')} AS growth_rank",
        f"{_rank('health_u')} AS health_rank",
        f"{_rank('momentum_score_micro')} AS momentum_rank",
        f"{_rank('momentum_score_micro')} AS overall_rank",
        "CAST(risk AS DOUBLE) AS single_maintainer_risk",
        "CAST(least(license_diversity_count * 20, 100) AS DOUBLE) AS license_diversity_score",
        "sustainability_score_micro / 1000000D AS sustainability_score",
        "sustainability_score_micro",
    )


def repo_ranks(silver: DataFrame) -> DataFrame:
    """Gold table 2 (s2g:359-388): per-repo momentum + category (W2) and
    global (W1) ranks."""
    per_repo = silver.selectExpr(
        "*",
        f"least({xlog10_micro('stargazers_count')} * 15, 60000000)"
        f" + ({_micro('quality_score')} * 4) DIV 10 AS repo_momentum_micro",
    )
    return per_repo.selectExpr(
        "repository_id",
        "name",
        "technology_category",
        "stargazers_count",
        "quality_score",
        "repo_momentum_micro / 1000000D AS repo_momentum",
        "row_number() OVER (PARTITION BY technology_category"
        " ORDER BY quality_score DESC, repository_id ASC) AS category_quality_rank",
        "row_number() OVER (ORDER BY repo_momentum_micro DESC, repository_id ASC)"
        " AS global_momentum_rank",
        "row_number() OVER (ORDER BY stargazers_count DESC, repository_id ASC)"
        " AS global_star_rank",
        "partition_date",
    )


def trend_daily(silver: DataFrame, history: DataFrame | None = None) -> DataFrame:
    """Gold table 3 (s2g:410-438): (category, partition_date) rollup +
    W3 market share. With ``history`` (prior trend_daily rows) present,
    momentum_change/rank_change are computed with real lag() — the
    reference hard-codes them to 0 ("Placeholder", s2g:423-424)."""
    daily = _agg(
        silver,
        ["technology_category", "partition_date"],
        "count(repository_id) AS repository_count",
        "sum(stargazers_count) AS daily_total_stars",
        f"{avg_of('quality_score')} AS avg_quality",
        f"{_ACTIVE} AS active_count",
    ).selectExpr(
        "*",
        "try_divide(daily_total_stars,"
        " sum(daily_total_stars) OVER (PARTITION BY partition_date)) AS market_share",
    )
    if history is not None:
        merged = history.select(*daily.columns).unionByName(daily)
        w = "OVER (PARTITION BY technology_category ORDER BY partition_date)"
        return merged.selectExpr(
            "*",
            f"coalesce(market_share - lag(market_share) {w}, 0.0D) AS momentum_change",
            f"CAST(coalesce(repository_count - lag(repository_count) {w}, 0) AS BIGINT)"
            " AS rank_change",
        )
    return daily.selectExpr(
        "*", "0.0D AS momentum_change", "CAST(0 AS BIGINT) AS rank_change"
    )


def tech_health(silver: DataFrame) -> DataFrame:
    """Gold table 4 (s2g:460-492): health stats + stddev dispersion +
    sustainability/risk chains."""
    return _agg(
        silver,
        ["technology_category"],
        "count(repository_id) AS repo_count",
        f"{avg_of('community_health_score')} AS avg_health",
        f"{spark_sql_dstd('stargazers_count')} AS star_dispersion",
        f"{_ACTIVE} AS active_repos",
        f"{count_distinct('license_category')} AS license_variety",
        f"{avg_of('open_issues_count')} AS avg_open_issues",
    ).selectExpr(
        "*",
        "CASE WHEN avg_health >= 80 AND active_repos * 10 >= repo_count * 7 THEN 'thriving'"
        " WHEN avg_health >= 60 THEN 'healthy'"
        " WHEN avg_health >= 40 THEN 'stable'"
        " ELSE 'at_risk' END AS health_status",
        "CASE WHEN active_repos * 5 < repo_count THEN 'high'"
        " WHEN active_repos * 2 < repo_count THEN 'medium'"
        " ELSE 'low' END AS abandonment_risk",
    )


def lang_stats(silver: DataFrame) -> DataFrame:
    """Gold table 5 (s2g:514-545): primary-language rollup → W4 global
    share → W1 rank → adoption stage."""
    share = "try_divide(total_stars, sum(total_stars) OVER ())"
    return _agg(
        silver.filter("primary_language IS NOT NULL"),
        ["primary_language"],
        "count(repository_id) AS repo_count",
        "sum(stargazers_count) AS total_stars",
        f"{avg_of('quality_score')} AS avg_quality",
        f"{_ACTIVE} AS active_repos",
    ).selectExpr(
        "*",
        f"{share} AS star_share",
        "row_number() OVER (ORDER BY total_stars DESC, primary_language ASC)"
        " AS language_rank",
        f"CASE WHEN {share} >= 0.2D THEN 'dominant'"
        f" WHEN {share} >= 0.1D THEN 'major'"
        f" WHEN {share} >= 0.02D THEN 'established'"
        " ELSE 'niche' END AS adoption_stage",
    )


def market_pulse(silver: DataFrame, as_of_date: str) -> DataFrame:
    """Gold table 6 (s2g:567-580) — single-row market summary, computed
    in-plan (the reference collects scalars to the driver, A11 ⟲)."""
    return silver.selectExpr(
        "count(repository_id) AS total_repositories",
        "sum(stargazers_count) AS total_stars",
        f"{avg_of('quality_score')} AS avg_quality_score",
        f"{avg_of('community_health_score')} AS avg_health_score",
        f"{_ACTIVE} AS active_repositories",
        f"{count_distinct('technology_category')} AS categories_tracked",
    ).selectExpr(
        "*",
        "try_divide(active_repositories, total_repositories) AS market_activity_ratio",
        f"{iso_date(as_of_date)} AS measurement_date",
    )


def adoption_matrix(silver: DataFrame, as_of_date: str) -> DataFrame:
    """Gold table 7 (s2g:603-630): topic explode → self-reference filter
    (P9) → co-occurrence counts with HAVING (P12) → correlation score."""
    pairs = (
        silver.filter(
            "topics_standardized IS NOT NULL AND size(topics_standardized) > 0"
        )
        .selectExpr(
            "technology_category",
            "stargazers_count",
            "explode(topics_standardized) AS topic",
        )
        .filter("topic != technology_category")
    )
    scored = (
        _agg(
            pairs,
            ["technology_category", "topic"],
            "count(1) AS co_occurrence_count",
            "sum(stargazers_count) AS combined_stars",
        )
        .filter("co_occurrence_count >= 3")
        .selectExpr(
            "*",
            f"{xlog10_micro('combined_stars')} / 1000000D * sqrt(co_occurrence_count)"
            " AS correlation_score",
        )
    )
    return scored.selectExpr(
        "technology_category AS tech_primary",
        "topic AS tech_secondary",
        "co_occurrence_count",
        "correlation_score",
        "CASE WHEN correlation_score > 10 THEN 'strong'"
        " WHEN correlation_score > 5 THEN 'moderate'"
        " ELSE 'weak' END AS ecosystem_strength",
        f"{iso_date(as_of_date)} AS partition_date",
    )
