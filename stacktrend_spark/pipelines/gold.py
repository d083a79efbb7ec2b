"""Silver → Gold analytics (the reference's s2g notebook as pure
functions — SURVEY §2.11 trend tables 1-7).

Formula parity with silver_to_gold_analytics.py, with two deliberate
upgrades (documented where they occur): every global ranking carries a
deterministic tiebreaker, and the stubbed history comparisons
(momentum_change/rank_change = lit(0), s2g:423-424) are implemented
with real lag() when history is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.functions.sqltext import iso_date

# Every frame below is declared as SQL text — one parse per aggregate
# or projection instead of a Column-DSL chain (functions/sqltext.py).
# Float literals carry the D suffix: a bare 0.3 in Spark SQL is a
# DECIMAL, where the Python float of the reference formulas is DOUBLE.


def _agg(df: DataFrame, keys: list[str], *exprs: str) -> DataFrame:
    return df.groupBy(*keys).agg(*[F.expr(e) for e in exprs])


def _rank(order: str) -> str:
    # rankings carry a deterministic tiebreaker: the reference's bare
    # orderBy(desc(metric)) is nondeterministic under ties
    return f"row_number() OVER (ORDER BY {order} DESC, technology_category ASC)"


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
        "avg(stargazers_count) AS avg_stars_per_repo",
        "avg(forks_count) AS avg_forks_per_repo",
        "avg(community_health_score) AS avg_community_health",
        "avg(quality_score) AS avg_quality_score",
        "avg(star_velocity_30d) AS avg_star_velocity",
        "avg(commit_frequency_30d) AS avg_commit_frequency",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_repositories",
        "avg(days_since_creation) AS avg_repository_age_days",
        "count(DISTINCT license_category) AS license_diversity_count",
    )
    staged = agg.selectExpr(
        "*",
        "active_repositories / total_repositories * 100 AS active_repositories_percentage",
        # momentum score (s2g:168-186): popularity + growth + weighted health
        "CAST(least(log10(greatest(total_stars, 1)) * 10, 40)"
        " + least(avg_star_velocity * 100, 30)"
        " + avg_community_health * 0.3D AS DOUBLE) AS momentum_score",
        # lifecycle staging (s2g:199-213)
        "CASE WHEN avg_star_velocity > 1.0D AND avg_repository_age_days < 730 THEN 'emerging'"
        " WHEN avg_star_velocity > 0.5D AND total_repositories >= 5 THEN 'growing'"
        " WHEN total_repositories >= 10 AND avg_repository_age_days > 1095 THEN 'mature'"
        " WHEN avg_star_velocity < 0.1D THEN 'declining'"
        " ELSE 'stable' END AS lifecycle_stage",
        "CASE WHEN avg_star_velocity > 0.5D THEN 'rising'"
        " WHEN avg_star_velocity > 0.1D THEN 'stable'"
        " ELSE 'declining' END AS momentum_trend",
    )
    # rankings (s2g:225-236) and risk metrics (s2g:245-260)
    ranked = staged.selectExpr(
        "*",
        f"{_rank('total_stars')} AS popularity_rank",
        f"{_rank('avg_star_velocity')} AS growth_rank",
        f"{_rank('avg_community_health')} AS health_rank",
        f"{_rank('momentum_score')} AS momentum_rank",
        f"{_rank('momentum_score')} AS overall_rank",
        "CASE WHEN total_repositories <= 2 THEN 100.0D"
        " WHEN total_repositories <= 5 THEN 60.0D"
        " WHEN total_repositories <= 10 THEN 30.0D"
        " ELSE 10.0D END AS single_maintainer_risk",
        "CAST(least(license_diversity_count * 20, 100) AS DOUBLE) AS license_diversity_score",
    )
    return ranked.selectExpr(
        "*",
        "CAST(active_repositories_percentage * 0.4D"
        " + avg_community_health * 0.3D"
        " + (100 - single_maintainer_risk) * 0.3D AS DOUBLE) AS sustainability_score",
    )


def repo_ranks(silver: DataFrame) -> DataFrame:
    """Gold table 2 (s2g:359-388): per-repo momentum + category (W2) and
    global (W1) ranks."""
    per_repo = silver.selectExpr(
        "*",
        "CAST(least(log10(greatest(stargazers_count, 1)) * 15, 60)"
        " + quality_score * 0.4D AS DOUBLE) AS repo_momentum",
    )
    return per_repo.selectExpr(
        "repository_id",
        "name",
        "technology_category",
        "stargazers_count",
        "quality_score",
        "repo_momentum",
        "row_number() OVER (PARTITION BY technology_category"
        " ORDER BY quality_score DESC, repository_id ASC) AS category_quality_rank",
        "row_number() OVER (ORDER BY repo_momentum DESC, repository_id ASC)"
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
        "avg(quality_score) AS avg_quality",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_count",
    ).selectExpr(
        "*",
        "daily_total_stars / sum(daily_total_stars) OVER (PARTITION BY partition_date)"
        " AS market_share",
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
    active_ratio = "active_repos / repo_count"
    return _agg(
        silver,
        ["technology_category"],
        "count(repository_id) AS repo_count",
        "avg(community_health_score) AS avg_health",
        "stddev(stargazers_count) AS star_dispersion",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_repos",
        "count(DISTINCT license_category) AS license_variety",
        "avg(open_issues_count) AS avg_open_issues",
    ).selectExpr(
        "*",
        f"CASE WHEN avg_health >= 80 AND {active_ratio} >= 0.7D THEN 'thriving'"
        " WHEN avg_health >= 60 THEN 'healthy'"
        " WHEN avg_health >= 40 THEN 'stable'"
        " ELSE 'at_risk' END AS health_status",
        f"CASE WHEN {active_ratio} < 0.2D THEN 'high'"
        f" WHEN {active_ratio} < 0.5D THEN 'medium'"
        " ELSE 'low' END AS abandonment_risk",
    )


def lang_stats(silver: DataFrame) -> DataFrame:
    """Gold table 5 (s2g:514-545): primary-language rollup → W4 global
    share → W1 rank → adoption stage."""
    share = "total_stars / sum(total_stars) OVER ()"
    return _agg(
        silver.filter("primary_language IS NOT NULL"),
        ["primary_language"],
        "count(repository_id) AS repo_count",
        "sum(stargazers_count) AS total_stars",
        "avg(quality_score) AS avg_quality",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_repos",
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
        "avg(quality_score) AS avg_quality_score",
        "avg(community_health_score) AS avg_health_score",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_repositories",
        "count(DISTINCT technology_category) AS categories_tracked",
    ).selectExpr(
        "*",
        "active_repositories / total_repositories AS market_activity_ratio",
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
            "log10(greatest(combined_stars, 1)) * sqrt(co_occurrence_count)"
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
