"""The reference's gold-layer analytic queries (SURVEY §2.11 — the
declared acceptance surface), run over the harness testdata.

Each query maps testdata rows onto the silver (or bronze activity)
columns a gold function reads — lineitems, parts, customers and events
stand in for repositories, their brands, types, segments and event
types for technology categories, cents for stars — and calls that
function from pipelines/gold.py or pipelines/personal.py, the only
Spark-side definition of the formulas (exact across engines: PARITY.md).
The role maps are SQL both engines read alike; the DuckDB oracles that
consume them are written by hand, so the gate compares two independent
derivations of the production arithmetic. Oracle literals are cast to
DOUBLE where Spark SQL reads a ``D``-suffixed double, and integer SUMs
are cast back from DuckDB's HUGEINT to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import sql_avg_micro, sql_dstd, sql_iscale, sql_xlog10_micro
from stacktrend_spark.pipelines import gold, personal
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

#: the events span January 2024; every mirror reports as of its end
_AS_OF = "2024-01-31"

# Role maps. The one bare decimal literal, 0.5, meets a DOUBLE in both
# engines and is promoted to DOUBLE; CAST(l_quantity AS BIGINT) rounds in
# DuckDB and truncates in Spark, which agree on the integral quantities.
_CENTS = "CAST(floor({} * 100 + 0.5) AS BIGINT)"

#: a lineitem is a repository of its part's brand
_LINEITEM_REPOS = (
    "p_brand AS technology_category", "l_orderkey AS repository_id",
    "CAST(l_quantity AS BIGINT) AS stargazers_count", "l_linenumber AS forks_count",
    f"{_CENTS.format('l_extendedprice')} AS watchers_count",
    "l_discount * 1000 AS community_health_score", "l_tax * 1000 AS quality_score",
    "l_discount * 10 AS star_velocity_30d", "l_tax * 100 AS commit_frequency_30d",
    "l_linestatus = 'O' AS is_active", "p_size * 50 AS days_since_creation",
    "l_returnflag AS license_category",
)
#: a part is a repository of its type; the words of its name are topics
_PART_REPOS = (
    "p_partkey AS repository_id", "p_name AS name", "p_type AS technology_category",
    "CAST(p_size AS BIGINT) AS stargazers_count", "p_retailprice / 10 AS quality_score",
    "split(p_name, ' ') AS topics_standardized", f"'{_AS_OF}' AS partition_date",
)
#: an event is a repository of its type landed on its day
_EVENT_REPOS = (
    "event_id AS repository_id", "event_type AS technology_category",
    "date_trunc('day', ts) AS partition_date",
    f"{_CENTS.format('value')} AS stargazers_count", "value AS quality_score",
    "value / 3 AS community_health_score", "user_id % 2 = 0 AS is_active",
)
#: a customer is a repository of its segment, "written in" its nation
_CUSTOMER_REPOS = (
    "c_custkey AS repository_id", "c_name AS name", "c_mktsegment AS technology_category",
    "CAST(c_nationkey AS STRING) AS primary_language",
    f"{_CENTS.format('c_acctbal')} AS stargazers_count",
    "CAST(c_nationkey AS BIGINT) AS forks_count",
    "CAST(c_nationkey AS BIGINT) AS open_issues_count", "c_acctbal > 0 AS is_active",
    "c_acctbal / 100 AS quality_score",
    "CAST(c_custkey % 6 * 20 AS DOUBLE) AS community_health_score",
    "CAST(c_custkey % 3 AS STRING) AS license_category", "c_custkey % 45 AS days_since_push",
)
#: events as bronze activity: a user is a repository; purchases, errors
#: and signups are its commits, issues and releases
_EVENT_ACTIVITY = (
    "user_id AS repository_id",
    "CASE event_type WHEN 'purchase' THEN 'commit' WHEN 'error' THEN 'issue'"
    " WHEN 'signup' THEN 'release' ELSE event_type END AS activity_type",
    "ts AS activity_date", "CAST(floor(value + 0.5) AS BIGINT) AS additions",
    "event_id % 7 AS deletions",
    "CASE WHEN event_type = 'view' THEN NULL ELSE CAST(1 AS BIGINT) END AS changed_files",
)


def _load(spark: SparkSession, sf_dir: str, table: str, role_map: tuple[str, ...]) -> DataFrame:
    return load_table(spark, sf_dir, table).selectExpr(*role_map)


def _lineitem_repos(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).selectExpr(*_LINEITEM_REPOS)


def _event_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return personal.activity_metrics(_load(spark, sf_dir, "events", _EVENT_ACTIVITY), _AS_OF)


def _select(role_map: tuple[str, ...], source: str) -> str:
    return f"SELECT {', '.join(role_map)} FROM {source}"


def _avg(x: str) -> str:
    return f"CAST({sql_avg_micro(x)} AS DOUBLE) / 1000000.0"


_ACTIVE = "CAST(SUM(CASE WHEN is_active THEN 1 ELSE 0 END) AS BIGINT)"

# the 30-day activity metrics (personal.activity_metrics) of _EVENT_ACTIVITY
_ACTIVITY_30D = f"""
    act AS ({_select(_EVENT_ACTIVITY, "events")}
        WHERE ts >= TIMESTAMP '{_AS_OF} 00:00:00' - INTERVAL 30 DAY),
    m AS (
        SELECT repository_id,
            CAST(SUM(CASE WHEN activity_type = 'commit' THEN 1 ELSE 0 END) AS BIGINT) AS total_commits,
            CAST(SUM(CASE WHEN activity_type = 'issue' THEN 1 ELSE 0 END) AS BIGINT) AS total_issues,
            CAST(SUM(CASE WHEN activity_type = 'release' THEN 1 ELSE 0 END) AS BIGINT) AS total_releases,
            CAST(SUM(COALESCE(additions, 0)) AS BIGINT) AS lines_added,
            CAST(SUM(COALESCE(deletions, 0)) AS BIGINT) AS lines_deleted,
            CAST(SUM(COALESCE(changed_files, 0)) AS BIGINT) AS files_changed
        FROM act GROUP BY 1
    ),
    vel AS (
        SELECT *, LEAST(1.0::DOUBLE, commit_frequency * 0.4::DOUBLE
            + LEAST(1.0::DOUBLE, lines_added / 1000.0::DOUBLE) * 0.3::DOUBLE
            + LEAST(1.0::DOUBLE, files_changed / 100.0::DOUBLE) * 0.3::DOUBLE)
            AS development_velocity
        FROM (SELECT *, total_commits / 30::DOUBLE AS commit_frequency FROM m)
    )"""


# Gold table 1: tech_metrics (silver_to_gold_analytics.py:133-311), per
# brand. PARITY.md Tier 0: hashed on its integer and label columns.
def exact_columns(df: DataFrame) -> DataFrame:
    """The Tier-0 surface of a frame: every column but the DOUBLEs (the
    µ-unit integers / 10⁶)."""
    return df.select(*[c for c, t in df.dtypes if t != "double"])


def tech_metrics_oracle(silver: str) -> str:
    """DuckDB: ``exact_columns(gold.tech_metrics(...))`` over the rows of
    the SQL query ``silver``."""
    return f"""
        WITH silver AS ({silver}),
        agg AS (
            SELECT technology_category,
                CAST(COUNT(repository_id) AS BIGINT) AS total_repositories,
                CAST(SUM(stargazers_count) AS BIGINT) AS total_stars,
                CAST(SUM(forks_count) AS BIGINT) AS total_forks,
                CAST(SUM(watchers_count) AS BIGINT) AS total_watchers,
                {sql_avg_micro('community_health_score')} AS health_u,
                {sql_avg_micro('star_velocity_30d')} AS velocity_u,
                {_ACTIVE} AS active_repositories, {sql_avg_micro('days_since_creation')} AS age_u,
                CAST(COUNT(DISTINCT license_category) AS BIGINT) AS license_diversity_count
            FROM silver GROUP BY 1
        ),
        scored AS (
            SELECT *, (200000000 * active_repositories + total_repositories)
                    // NULLIF(2 * total_repositories, 0) AS active_u,
                CAST(LEAST({sql_xlog10_micro('total_stars')} * 10, 40000000)
                    + LEAST(velocity_u * 100, 30000000) + (health_u * 3) // 10 AS BIGINT)
                    AS momentum_score_micro,
                CASE WHEN total_repositories <= 2 THEN 100 WHEN total_repositories <= 5 THEN 60
                     WHEN total_repositories <= 10 THEN 30 ELSE 10 END AS risk
            FROM agg
        )
        SELECT technology_category, total_repositories, total_stars, total_forks,
            total_watchers, active_repositories, license_diversity_count, momentum_score_micro,
            CASE WHEN velocity_u > 1000000 AND age_u < 730000000 THEN 'emerging'
                 WHEN velocity_u > 500000 AND total_repositories >= 5 THEN 'growing'
                 WHEN total_repositories >= 10 AND age_u > 1095000000 THEN 'mature'
                 WHEN velocity_u < 100000 THEN 'declining' ELSE 'stable' END AS lifecycle_stage,
            CASE WHEN velocity_u > 500000 THEN 'rising' WHEN velocity_u > 100000 THEN 'stable'
                 ELSE 'declining' END AS momentum_trend,
            ROW_NUMBER() OVER (ORDER BY total_stars DESC, technology_category) AS popularity_rank,
            ROW_NUMBER() OVER (ORDER BY velocity_u DESC, technology_category) AS growth_rank,
            ROW_NUMBER() OVER (ORDER BY health_u DESC, technology_category) AS health_rank,
            ROW_NUMBER() OVER (ORDER BY momentum_score_micro DESC, technology_category) AS momentum_rank,
            ROW_NUMBER() OVER (ORDER BY momentum_score_micro DESC, technology_category) AS overall_rank,
            CAST((4 * active_u + 3 * health_u + 3000000 * (100 - risk)) // 10 AS BIGINT)
                AS sustainability_score_micro
        FROM scored
    """


@register(
    "gold_tech_metrics",
    oracle=tech_metrics_oracle(
        _select(_LINEITEM_REPOS, "lineitem JOIN part ON l_partkey = p_partkey")
    ),
    doc="Gold tech_metrics: A1 → momentum → lifecycle CASE → 5 ranks in one window → sustainability (s2g:133-311); gold.tech_metrics over lineitems as repos, hashed on its exact integer columns.",
)
def gold_tech_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_columns(gold.tech_metrics(_lineitem_repos(spark, sf_dir)))


# Gold table 2: repo_ranks (s2g:359-388), per part
@register(
    "gold_repo_ranks",
    oracle=f"""
        WITH silver AS ({_select(_PART_REPOS, "part")}),
        scored AS (
            SELECT *, LEAST({sql_xlog10_micro('stargazers_count')} * 15, 60000000)
                + ({sql_iscale('quality_score', 6)} * 4) // 10 AS momentum_u
            FROM silver
        )
        SELECT repository_id, name, technology_category, stargazers_count, quality_score,
            CAST(momentum_u AS DOUBLE) / 1000000.0 AS repo_momentum,
            ROW_NUMBER() OVER (PARTITION BY technology_category
                ORDER BY quality_score DESC, repository_id) AS category_quality_rank,
            ROW_NUMBER() OVER (ORDER BY momentum_u DESC, repository_id) AS global_momentum_rank,
            ROW_NUMBER() OVER (ORDER BY stargazers_count DESC, repository_id) AS global_star_rank,
            partition_date
        FROM scored
    """,
    doc="Gold repo_ranks: per-entity xlog10 momentum + partitioned (W2) and global (W1) ranks; gold.repo_ranks over parts as repos.",
)
def gold_repo_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.repo_ranks(_load(spark, sf_dir, "part", _PART_REPOS))


# Gold table 3: trend_daily (s2g:410-438), per event type and day
@register(
    "gold_trend_daily",
    oracle=f"""
        WITH silver AS ({_select(_EVENT_REPOS, "events")}),
        daily AS (
            SELECT technology_category, partition_date,
                CAST(COUNT(repository_id) AS BIGINT) AS repository_count,
                CAST(SUM(stargazers_count) AS BIGINT) AS daily_total_stars,
                {_avg('quality_score')} AS avg_quality, {_ACTIVE} AS active_count
            FROM silver GROUP BY 1, 2
        )
        SELECT *, CAST(daily_total_stars AS DOUBLE) / CAST(SUM(daily_total_stars)
                OVER (PARTITION BY partition_date) AS DOUBLE) AS market_share,
            0::DOUBLE AS momentum_change, CAST(0 AS BIGINT) AS rank_change
        FROM daily
    """,
    doc="Gold trend_daily: A2 → W3 day-share (NULL on a zero-star day); gold.trend_daily over events as repos.",
)
def gold_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.trend_daily(_load(spark, sf_dir, "events", _EVENT_REPOS))


# Gold table 4: tech_health (s2g:460-492), per market segment
@register(
    "gold_tech_health",
    oracle=f"""
        WITH silver AS ({_select(_CUSTOMER_REPOS, "customer")}),
        stats AS (
            SELECT technology_category, CAST(COUNT(repository_id) AS BIGINT) AS repo_count,
                {_avg('community_health_score')} AS avg_health,
                {sql_dstd('stargazers_count')} AS star_dispersion, {_ACTIVE} AS active_repos,
                CAST(COUNT(DISTINCT license_category) AS BIGINT) AS license_variety,
                {_avg('open_issues_count')} AS avg_open_issues
            FROM silver GROUP BY 1
        )
        SELECT *,
            CASE WHEN avg_health >= 80 AND active_repos * 10 >= repo_count * 7 THEN 'thriving'
                 WHEN avg_health >= 60 THEN 'healthy' WHEN avg_health >= 40 THEN 'stable'
                 ELSE 'at_risk' END AS health_status,
            CASE WHEN active_repos * 5 < repo_count THEN 'high'
                 WHEN active_repos * 2 < repo_count THEN 'medium' ELSE 'low' END AS abandonment_risk
        FROM stats
    """,
    doc="Gold tech_health: agg + dstd (A8) → health/abandonment CASE chains (s2g:460-492); gold.tech_health over customers as repos.",
)
def gold_tech_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.tech_health(_load(spark, sf_dir, "customer", _CUSTOMER_REPOS))


# Gold table 5: lang_stats (s2g:514-545), per nation
@register(
    "gold_lang_stats",
    oracle=f"""
        WITH silver AS ({_select(_CUSTOMER_REPOS, "customer")}),
        agg AS (
            SELECT primary_language, CAST(COUNT(repository_id) AS BIGINT) AS repo_count,
                CAST(SUM(stargazers_count) AS BIGINT) AS total_stars,
                {_avg('quality_score')} AS avg_quality, {_ACTIVE} AS active_repos
            FROM silver WHERE primary_language IS NOT NULL GROUP BY 1
        ),
        shared AS (
            SELECT *, CAST(total_stars AS DOUBLE) / CAST(SUM(total_stars) OVER () AS DOUBLE)
                AS star_share
            FROM agg
        )
        SELECT *,
            ROW_NUMBER() OVER (ORDER BY total_stars DESC, primary_language) AS language_rank,
            CASE WHEN star_share >= 0.2::DOUBLE THEN 'dominant'
                 WHEN star_share >= 0.1::DOUBLE THEN 'major'
                 WHEN star_share >= 0.02::DOUBLE THEN 'established' ELSE 'niche' END AS adoption_stage
        FROM shared
    """,
    doc="Gold lang_stats: rollup → W4 global share → W1 rank → adoption stage (s2g:514-545); gold.lang_stats over customers as repos.",
)
def gold_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.lang_stats(_load(spark, sf_dir, "customer", _CUSTOMER_REPOS))


# Gold table 6: market_pulse (s2g:567-580), one row over all events
@register(
    "gold_market_pulse",
    oracle=f"""
        WITH silver AS ({_select(_EVENT_REPOS, "events")}),
        g AS (
            SELECT CAST(COUNT(repository_id) AS BIGINT) AS total_repositories,
                CAST(SUM(stargazers_count) AS BIGINT) AS total_stars,
                {_avg('quality_score')} AS avg_quality_score,
                {_avg('community_health_score')} AS avg_health_score,
                {_ACTIVE} AS active_repositories,
                CAST(COUNT(DISTINCT technology_category) AS BIGINT) AS categories_tracked
            FROM silver
        )
        SELECT *, CAST(active_repositories AS DOUBLE) / CAST(total_repositories AS DOUBLE)
                AS market_activity_ratio, '{_AS_OF}' AS measurement_date
        FROM g
    """,
    doc="Gold market_pulse: single-row global indicators, fully in-plan (A5/A11 ⟲), NULL ratio when empty; gold.market_pulse over events as repos.",
)
def gold_market_pulse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.market_pulse(_load(spark, sf_dir, "events", _EVENT_REPOS), _AS_OF)


# Gold table 7: adoption_matrix (s2g:603-630), part types × name words
@register(
    "gold_adoption_matrix",
    oracle=f"""
        WITH silver AS ({_select(_PART_REPOS, "part")}),
        pairs AS (
            SELECT technology_category, stargazers_count, UNNEST(topics_standardized) AS topic
            FROM silver WHERE topics_standardized IS NOT NULL AND LEN(topics_standardized) > 0
        ),
        agg AS (
            SELECT technology_category, topic, CAST(COUNT(*) AS BIGINT) AS co_occurrence_count,
                SUM(stargazers_count) AS combined_stars
            FROM pairs WHERE topic <> technology_category GROUP BY 1, 2 HAVING COUNT(*) >= 3
        ),
        scored AS (
            SELECT *, CAST({sql_xlog10_micro('combined_stars')} AS DOUBLE) / 1000000.0
                * SQRT(CAST(co_occurrence_count AS DOUBLE)) AS correlation_score
            FROM agg
        )
        SELECT technology_category AS tech_primary, topic AS tech_secondary,
            co_occurrence_count, correlation_score,
            CASE WHEN correlation_score > 10 THEN 'strong' WHEN correlation_score > 5 THEN 'moderate'
                 ELSE 'weak' END AS ecosystem_strength, '{_AS_OF}' AS partition_date
        FROM scored
    """,
    doc="Gold adoption_matrix: explode → pair counts → HAVING → xlog10(stars)·sqrt(co) (s2g:603-630); gold.adoption_matrix over parts as repos.",
)
def gold_adoption_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.adoption_matrix(_load(spark, sf_dir, "part", _PART_REPOS), _AS_OF)


# Gold table 8: portfolio_overview (personal_repos_silver_to_gold.py:
# 104-149), all customers; the top-5 arrays hash as comma-joined strings
def _top5(col: str) -> str:
    return f"""(SELECT STRING_AGG({col}, ',' ORDER BY n DESC, {col}) FROM (
            SELECT {col}, COUNT(*) AS n FROM silver WHERE {col} IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, {col} LIMIT 5))"""


@register(
    "gold_portfolio_overview",
    oracle=f"""
        WITH silver AS ({_select(_CUSTOMER_REPOS, "customer")}),
        totals AS (
            SELECT CAST(COUNT(repository_id) AS BIGINT) AS total_repositories,
                CAST(SUM(stargazers_count) AS BIGINT) AS total_stars,
                CAST(SUM(forks_count) AS BIGINT) AS total_forks, {_ACTIVE} AS active_repositories,
                {_avg('quality_score')} AS avg_quality_score,
                CAST(COUNT(DISTINCT technology_category) AS BIGINT) AS n_categories,
                CAST(COUNT(DISTINCT primary_language) AS BIGINT) AS n_languages,
                GREATEST(COUNT(repository_id), 1) AS n
            FROM silver
        )
        SELECT * EXCLUDE (n), {_top5('technology_category')} AS primary_technologies,
            {_top5('primary_language')} AS primary_languages,
            (CAST(n_categories AS DOUBLE) / CAST(n AS DOUBLE)
                + CAST(n_languages AS DOUBLE) / CAST(n AS DOUBLE)) / 2::DOUBLE
                AS portfolio_diversity_score,
            CASE WHEN active_repositories * 10 >= n * 7 THEN 'high'
                 WHEN active_repositories * 10 >= n * 3 THEN 'medium' ELSE 'low' END AS activity_level,
            '{_AS_OF}' AS measurement_date, '{_AS_OF}' AS partition_date
        FROM totals
    """,
    doc="Gold portfolio_overview: totals + in-plan top-5 lists + diversity (prs2g:104-149); personal.portfolio_overview over customers as repos.",
)
def gold_portfolio_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = personal.portfolio_overview(_load(spark, sf_dir, "customer", _CUSTOMER_REPOS), _AS_OF)
    return out.withColumns(
        {c: F.array_join(c, ",") for c in ("primary_technologies", "primary_languages")}
    )


# Gold table 9: repo_health_dashboard (prs2g:158-254): customers ⟕ their
# 30-day event activity (J3); the actions array hashes comma-joined
@register(
    "gold_repo_health_dashboard",
    oracle=f"""
        WITH silver AS ({_select(_CUSTOMER_REPOS, "customer")}), {_ACTIVITY_30D},
        scored AS (
            SELECT s.*, COALESCE(v.total_commits, 0) AS commits_30d,
                COALESCE(v.total_issues, 0) AS issues_30d,
                COALESCE(v.development_velocity, 0::DOUBLE) AS development_velocity,
                LEAST(1.0::DOUBLE, (s.quality_score / 100.0::DOUBLE) * 0.4::DOUBLE
                    + COALESCE(v.development_velocity, 0::DOUBLE) * 0.3::DOUBLE
                    + CASE WHEN s.is_active THEN 0.3::DOUBLE ELSE 0::DOUBLE END) AS health_score
            FROM silver s LEFT JOIN vel v ON s.repository_id = v.repository_id
        ),
        graded AS (
            SELECT *, CASE WHEN health_score >= 0.8::DOUBLE THEN 'A'
                     WHEN health_score >= 0.6::DOUBLE THEN 'B' WHEN health_score >= 0.4::DOUBLE THEN 'C'
                     WHEN health_score >= 0.2::DOUBLE THEN 'D' ELSE 'F' END AS health_grade,
                CASE WHEN days_since_push <= 7 THEN 'active' WHEN days_since_push <= 30 THEN 'stable'
                     ELSE 'dormant' END AS activity_status
            FROM scored
        )
        SELECT repository_id, name AS repository_name, technology_category, stargazers_count,
            commits_30d, issues_30d, development_velocity, health_grade, health_score,
            activity_status, health_grade IN ('D', 'F') OR activity_status = 'dormant'
                OR open_issues_count > 10 AS attention_needed,
            CASE WHEN activity_status = 'dormant' THEN 'review-purpose,archive-or-update'
                 WHEN open_issues_count > 10 THEN 'address-issues,triage-backlog'
                 WHEN quality_score < 50.0::DOUBLE THEN 'improve-documentation,add-license'
                 ELSE 'maintain-current-status' END AS recommended_actions,
            '{_AS_OF}' AS measurement_date, '{_AS_OF}' AS partition_date
        FROM graded
    """,
    doc="Gold repo_health_dashboard: J3 left join → weighted score → grade/status/actions (prs2g:158-254); personal.repo_health_dashboard over customers and their event activity.",
)
def gold_repo_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = personal.repo_health_dashboard(
        _load(spark, sf_dir, "customer", _CUSTOMER_REPOS), _event_activity(spark, sf_dir), _AS_OF
    )
    return out.withColumn("recommended_actions", F.array_join("recommended_actions", ","))


# Gold table 10: development_velocity (prs2g:263-289), per user
@register(
    "gold_development_velocity",
    oracle=f"""
        WITH {_ACTIVITY_30D}
        SELECT *,
            CASE WHEN development_velocity >= 0.7::DOUBLE THEN 'increasing'
                 WHEN development_velocity >= 0.3::DOUBLE THEN 'stable'
                 ELSE 'decreasing' END AS activity_trend,
            commit_frequency * 365 AS projected_annual_commits,
            '{_AS_OF}' AS measurement_date, '{_AS_OF}' AS partition_date
        FROM vel
    """,
    doc="Gold development_velocity: 30d activity metrics → velocity blend → trend + projection (prs2g:263-289); personal.development_velocity over event activity.",
)
def gold_development_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return personal.development_velocity(_event_activity(spark, sf_dir), _AS_OF)
