"""Personal-portfolio pipeline: activity metrics + the three personal
gold tables (SURVEY §2.11 rows 8-10).

Semantics from personal_repos_bronze_to_silver.py:578-634 (per-period
activity metrics — the reference loops 7d/30d/90d on the driver and
unions three aggregates; here they are one aggregate over (repository,
period)) and personal_repos_silver_to_gold.py:
104-289 (portfolio overview, repo health dashboard, development
velocity), with the pinned ``as_of_date`` replacing datetime.now()
(SURVEY §4 anti-pattern 4) and the overview's driver-side collect()s
for top-technologies folded into the plan.

Like pipelines/gold.py, these are the only definition of the three
tables (the gold_* queries of plans/gold_mirrors.py call them), so
their arithmetic is exact across engines: the overview's average is
µ-unit (``gold.avg_of``) and its activity thresholds compare integers
by cross-multiplication; the velocity and health blends are per-row
trees of correctly rounded double operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.functions.sqltext import iso_date
from stacktrend_spark.pipelines.gold import avg_of, count_distinct

PERIODS = ("7d", "30d", "90d")

# Frames are declared as SQL text, one parse per aggregate or
# projection (functions/sqltext.py); float literals carry the D suffix
# so they stay DOUBLE as in the reference formulas.


def activity_metrics(activity: DataFrame, as_of_date: str) -> DataFrame:
    """Per-(repository, period) activity rollup (prb2s:578-634): commit/
    issue/release count-ifs, coalesced line stats, commit frequency and
    the capped development-velocity blend.

    One aggregate over (repository_id, period): each activity row is
    exploded against a literal array of the three (period, days, since)
    structs and kept for the periods whose window holds it, so the
    input is read and shuffled once where the reference's driver loop
    unions three filtered aggregates. The array and its structs are
    non-null literals, so ``measurement_period`` stays non-nullable."""
    as_of = iso_date(as_of_date)
    aggs = [
        F.expr(e)
        for e in (
            "sum(CASE WHEN activity_type = 'commit' THEN 1 ELSE 0 END) AS total_commits",
            "sum(CASE WHEN activity_type = 'issue' THEN 1 ELSE 0 END) AS total_issues",
            "sum(CASE WHEN activity_type = 'release' THEN 1 ELSE 0 END) AS total_releases",
            "sum(coalesce(additions, 0)) AS lines_added",
            "sum(coalesce(deletions, 0)) AS lines_deleted",
            "sum(coalesce(changed_files, 0)) AS files_changed",
            "max(activity_date) AS last_activity_date",
        )
    ]
    since = {p: f"CAST({as_of} AS TIMESTAMP) - INTERVAL {int(p[:-1])} DAYS" for p in PERIODS}
    periods = ", ".join(
        f"named_struct('period', '{p}', 'days', {int(p[:-1])}, 'since', {since[p]})"
        for p in PERIODS
    )
    return (
        # the widest window (PERIODS ascend) first: a filter the scan
        # can push down
        activity.filter(f"activity_date >= {since[PERIODS[-1]]}")
        .selectExpr("*", f"explode(array({periods})) AS p")
        .filter("activity_date >= p.since")
        .groupBy("repository_id", "p")
        .agg(*aggs)
        .selectExpr(
            "* EXCEPT (p)",
            "p.period AS measurement_period",
            "CAST(total_commits / p.days AS DOUBLE) AS commit_frequency",
        )
        .selectExpr(
            "*",
            "CAST(least(1.0D, commit_frequency * 0.4D"
            " + least(1.0D, lines_added / 1000.0D) * 0.3D"
            " + least(1.0D, files_changed / 100.0D) * 0.3D) AS DOUBLE)"
            " AS development_velocity",
        )
        .selectExpr(
            "*",
            "CASE WHEN development_velocity >= 0.7D THEN 'increasing'"
            " WHEN development_velocity >= 0.3D THEN 'stable'"
            " ELSE 'decreasing' END AS activity_trend",
            f"{as_of} AS partition_date",
        )
    )


def portfolio_overview(silver: DataFrame, as_of_date: str, top_k: int = 5) -> DataFrame:
    """Gold: portfolio_overview (prs2g:104-149). The reference collects
    top technologies/languages to the driver and re-embeds them as
    array literals; we keep everything in-plan: top-k via window rank,
    folded back with collect_list over an ordered struct."""
    totals = silver.selectExpr(
        "count(repository_id) AS total_repositories",
        "sum(stargazers_count) AS total_stars",
        "sum(forks_count) AS total_forks",
        "sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS active_repositories",
        f"{avg_of('quality_score')} AS avg_quality_score",
        f"{count_distinct('technology_category')} AS n_categories",
        f"{count_distinct('primary_language')} AS n_languages",
    )

    def top_list(col: str) -> DataFrame:
        return (
            silver.filter(f"{col} IS NOT NULL")
            .groupBy(col)
            .agg(F.expr("count(1) AS count"))
            .selectExpr("*", f"row_number() OVER (ORDER BY `count` DESC, {col} ASC) AS rnk")
            .filter(f"rnk <= {int(top_k)}")
            .selectExpr(f"sort_array(collect_list(struct(rnk, {col}))) AS s")
            .selectExpr(f"transform(s, x -> x.{col}) AS top_{col}")
        )

    tech = top_list("technology_category")
    lang = top_list("primary_language")
    # all three sides are 1-row aggregates: hint broadcast so the plan
    # stays a BroadcastNestedLoopJoin under AQE instead of a cartesian
    joined = totals.crossJoin(F.broadcast(tech)).crossJoin(F.broadcast(lang))
    day = iso_date(as_of_date)
    n = "greatest(total_repositories, 1)"
    return joined.selectExpr(
        "total_repositories",
        "total_stars",
        "total_forks",
        "active_repositories",
        "avg_quality_score",
        "n_categories",
        "n_languages",
        "top_technology_category AS primary_technologies",
        "top_primary_language AS primary_languages",
        f"(n_categories / {n} + n_languages / {n}) / 2.0D AS portfolio_diversity_score",
        f"CASE WHEN active_repositories * 10 >= {n} * 7 THEN 'high'"
        f" WHEN active_repositories * 10 >= {n} * 3 THEN 'medium'"
        " ELSE 'low' END AS activity_level",
        f"{day} AS measurement_date",
        f"{day} AS partition_date",
    )


def repo_health_dashboard(
    silver: DataFrame, activity_30d: DataFrame | None, as_of_date: str
) -> DataFrame:
    """Gold: repo_health_dashboard (prs2g:158-254): silver ⟕ 30d
    activity (J3) → weighted health score → grade → status →
    recommended actions."""
    day = iso_date(as_of_date)
    if activity_30d is not None:
        act = activity_30d.filter("measurement_period = '30d'").selectExpr(
            "repository_id",
            "total_commits",
            "total_issues",
            "development_velocity",
            "last_activity_date",
        )
        df = silver.join(act, "repository_id", "left")
    else:
        df = silver.selectExpr(
            "*",
            "0 AS total_commits",
            "0 AS total_issues",
            "0.0D AS development_velocity",
            "processed_timestamp AS last_activity_date",
        )
    # the reference's health blend treats quality_score as 0-1; our
    # silver keeps it 0-100 (b2s scale), so it is normalized here
    scored = df.selectExpr(
        "*",
        "coalesce(total_commits, 0) AS commits_30d",
        "coalesce(total_issues, 0) AS issues_30d",
        "least(1.0D, CAST((quality_score / 100.0D) * 0.4D"
        " + coalesce(development_velocity, 0.0D) * 0.3D"
        " + CASE WHEN is_active THEN 0.3D ELSE 0.0D END AS DOUBLE)) AS health_score",
    ).selectExpr(
        "*",
        "CASE WHEN health_score >= 0.8D THEN 'A'"
        " WHEN health_score >= 0.6D THEN 'B'"
        " WHEN health_score >= 0.4D THEN 'C'"
        " WHEN health_score >= 0.2D THEN 'D'"
        " ELSE 'F' END AS health_grade",
        "CASE WHEN days_since_push <= 7 THEN 'active'"
        " WHEN days_since_push <= 30 THEN 'stable'"
        " ELSE 'dormant' END AS activity_status",
    )
    return scored.selectExpr(
        "repository_id",
        "name AS repository_name",
        "technology_category",
        "stargazers_count",
        "commits_30d",
        "issues_30d",
        "coalesce(development_velocity, 0.0D) AS development_velocity",
        "health_grade",
        "health_score",
        "activity_status",
        "CASE WHEN health_grade IN ('D', 'F') OR activity_status = 'dormant'"
        " OR open_issues_count > 10 THEN true ELSE false END AS attention_needed",
        "CASE WHEN activity_status = 'dormant'"
        " THEN array('review-purpose', 'archive-or-update')"
        " WHEN open_issues_count > 10 THEN array('address-issues', 'triage-backlog')"
        " WHEN quality_score < 50.0D THEN array('improve-documentation', 'add-license')"
        " ELSE array('maintain-current-status') END AS recommended_actions",
        f"{day} AS measurement_date",
        f"{day} AS partition_date",
    )


def development_velocity(activity_metrics_df: DataFrame, as_of_date: str) -> DataFrame:
    """Gold: development_velocity (prs2g:263-289): the 30d period slice
    with projections and trend labels."""
    day = iso_date(as_of_date)
    return activity_metrics_df.filter("measurement_period = '30d'").selectExpr(
        "repository_id",
        "total_commits",
        "total_issues",
        "total_releases",
        "lines_added",
        "lines_deleted",
        "files_changed",
        "commit_frequency",
        "development_velocity",
        "activity_trend",
        "commit_frequency * 365 AS projected_annual_commits",
        f"{day} AS measurement_date",
        f"{day} AS partition_date",
    )
