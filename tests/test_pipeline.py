"""End-to-end domain-pipeline tests: fixtures → silver → gold with the
reference's semantic invariants (SURVEY §5: score ranges from
medallion_architecture.py:237-278, language-distribution sum
b2s:441-443, smart-split skip behavior, merge idempotency through the
store)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stacktrend_spark.pipelines import fixtures, gold, personal
from stacktrend_spark.pipelines.classifier import RuleBasedClassifier
from stacktrend_spark.pipelines.fixtures import AS_OF_DATE
from stacktrend_spark.pipelines.medallion import MedallionStore
from stacktrend_spark.pipelines.schemas import (
    BRONZE_REPOS_SCHEMA,
    CATEGORIES,
    SILVER_COLUMNS,
)
from stacktrend_spark.pipelines.silver import build_silver, smart_split


@pytest.fixture(scope="module")
def bronze(spark_module):
    df = fixtures.bronze_repos(spark_module, n=300).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def silver_result(spark_module, bronze):
    return build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE)


@pytest.fixture(scope="module")
def silver(silver_result):
    df = silver_result.silver.cache()
    yield df
    df.unpersist()


def test_silver_schema_and_quarantine(silver, silver_result, bronze):
    assert silver.columns == SILVER_COLUMNS
    n_bad = silver_result.quarantined.count()
    assert n_bad > 0  # fixtures plant missing-name rows
    assert silver.count() + n_bad == bronze.count()
    # quarantined rows are exactly the flagged ones
    assert silver.filter(F.array_contains("data_quality_flags", "missing_name")).count() == 0


def test_null_stars_go_to_quarantine(spark):
    """A row with NULL stars fails the silver gate (b2s:808,
    ``stargazers_count >= 0``) and lands in quarantine flagged
    ``missing_stars``: silver and quarantine partition the input."""
    rows = fixtures.bronze_repos_rows(n=20)
    named = [i for i, r in enumerate(rows) if r[1] and r[1].strip()][:3]
    rows = [r[:10] + (None,) + r[11:] if i in named else r for i, r in enumerate(rows)]
    bronze = spark.createDataFrame(rows, BRONZE_REPOS_SCHEMA)
    res = build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE)
    assert res.silver.count() + res.quarantined.count() == 20
    assert res.silver.filter("stargazers_count IS NULL").isEmpty()
    flags = res.quarantined.filter("stargazers_count IS NULL").select("data_quality_flags")
    assert [r[0] for r in flags.collect()] == [["missing_stars"]] * 3


def test_silver_score_ranges(silver):
    # medallion_architecture.py:237-257 validation rules as assertions
    bad = silver.filter(
        (F.col("community_health_score") < 0)
        | (F.col("community_health_score") > 100)
        | (F.col("quality_score") < 0)
        | (F.col("quality_score") > 100)
        | (F.col("star_velocity_30d") < 0)
    ).count()
    assert bad == 0


def test_language_distribution_sums_to_100(silver):
    # b2s:441-443: normalized map sums to ~100 (rounding to 1 decimal)
    sums = silver.select(
        F.aggregate(F.map_values("language_distribution"), F.lit(0.0), lambda a, x: a + x).alias("s")
    )
    off = sums.filter((F.col("s") < 99.0) | (F.col("s") > 101.0)).count()
    assert off == 0


def test_classification_taxonomy(silver):
    cats = {r[0] for r in silver.select("technology_category").distinct().collect()}
    assert cats <= set(CATEGORIES)
    # deterministic classifier: repeated runs agree
    confs = silver.select(F.min("classification_confidence"), F.max("classification_confidence")).first()
    assert 0.0 <= confs[0] <= confs[1] <= 1.0


def test_smart_split_skips_well_classified(spark, bronze, silver):
    needs, metrics_only, reusable = smart_split(bronze, silver)
    n_well = reusable.count()
    assert n_well > 0
    assert metrics_only.count() == silver.filter(
        (F.col("technology_category") != "Other")
        & (F.col("technology_subcategory") != "unknown")
        & (F.col("classification_confidence") >= 0.8)
    ).count()
    assert needs.count() + metrics_only.count() == bronze.count()


def test_second_run_preserves_good_labels(spark, bronze, silver):
    # rerun silver with existing silver: well-classified labels must be
    # byte-identical (the conditional-preserve semantic, b2s:899-914)
    second = build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE, existing_silver=silver).silver
    a = silver.select("repository_id", "technology_category", "classification_confidence")
    b = second.select(
        "repository_id",
        F.col("technology_category").alias("cat2"),
        F.col("classification_confidence").alias("conf2"),
    )
    diff = (
        a.join(b, "repository_id")
        .filter(
            (F.col("classification_confidence") >= 0.8)
            & (F.col("technology_category") != "Other")
            & (
                (F.col("technology_category") != F.col("cat2"))
                | (F.col("classification_confidence") != F.col("conf2"))
            )
        )
        .count()
    )
    assert diff == 0


def test_gold_tech_metrics(silver):
    tm = gold.tech_metrics(silver)
    rows = tm.collect()
    assert len(rows) == silver.select("technology_category").distinct().count()
    for r in rows:
        assert 0 <= r["momentum_score"] <= 100.01
        assert r["lifecycle_stage"] in {"emerging", "growing", "mature", "declining", "stable"}
    ranks = sorted(r["momentum_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_gold_tables_run(silver):
    assert gold.repo_ranks(silver).count() == silver.count()
    assert gold.trend_daily(silver).count() > 0
    assert gold.tech_health(silver).count() > 0
    assert gold.lang_stats(silver).count() > 0
    assert gold.market_pulse(silver, AS_OF_DATE).count() == 1
    gold.adoption_matrix(silver, AS_OF_DATE).count()  # may be 0 rows; must run


def test_gold_degrades_on_zero_stars_and_empty_silver(silver):
    """Shares over a partition whose star sum is 0, and ratios over an
    empty silver, are NULL: under ANSI mode a zero divisor would abort
    the whole refresh."""
    zero = silver.withColumn("stargazers_count", F.lit(0).cast("long"))
    for df in (
        gold.trend_daily(zero),
        gold.lang_stats(zero),
        gold.market_pulse(silver.limit(0), AS_OF_DATE),
    ):
        df.write.format("noop").mode("overwrite").save()
    assert gold.trend_daily(zero).filter("market_share IS NOT NULL").count() == 0
    assert gold.lang_stats(zero).filter("star_share IS NOT NULL").count() == 0
    assert gold.market_pulse(silver.limit(0), AS_OF_DATE).first()["market_activity_ratio"] is None


def test_trend_daily_lag_with_history(silver):
    today = gold.trend_daily(silver)
    history = today.withColumn("partition_date", F.lit("2025-07-31")).withColumn(
        "market_share", F.col("market_share") * 0.5
    )
    merged = gold.trend_daily(silver, history=history.drop("momentum_change", "rank_change"))
    changed = merged.filter(
        (F.col("partition_date") == AS_OF_DATE) & (F.col("momentum_change") != 0.0)
    )
    assert changed.count() > 0  # real lag, not the reference's lit(0)


def test_personal_pipeline(spark, bronze, silver, request):
    ids = [r[0] for r in bronze.select("repository_id").limit(50).collect()]
    activity = fixtures.bronze_activity(spark, ids, n=1000)
    am = personal.activity_metrics(activity, AS_OF_DATE).cache()
    request.addfinalizer(am.unpersist)
    assert {r[0] for r in am.select("measurement_period").distinct().collect()} == {
        "7d", "30d", "90d"
    }
    vel_range = am.select(F.min("development_velocity"), F.max("development_velocity")).first()
    assert 0.0 <= vel_range[0] and vel_range[1] <= 1.0
    dash = personal.repo_health_dashboard(silver, am, AS_OF_DATE)
    grades = {r[0] for r in dash.select("health_grade").distinct().collect()}
    assert grades <= {"A", "B", "C", "D", "F"}
    overview = personal.portfolio_overview(silver, AS_OF_DATE)
    row = overview.first()
    assert row["total_repositories"] == silver.count()
    assert 1 <= len(row["primary_technologies"]) <= 5
    assert personal.development_velocity(am, AS_OF_DATE).count() == am.filter(
        F.col("measurement_period") == "30d"
    ).count()


def test_medallion_store_roundtrip(spark, bronze, tmp_path_factory):
    store = MedallionStore(str(tmp_path_factory.mktemp("lake")))
    store.overwrite(bronze, "bronze", "github_repos", partition_by=["partition_date"])
    back = store.read(spark, "bronze", "github_repos")
    assert back.count() == bronze.count()
    # upsert idempotency through storage
    store.upsert(spark, bronze, "bronze", "github_repos", keys=["repository_id"])
    assert store.read(spark, "bronze", "github_repos").count() == bronze.count()


def test_observe_quality_counts_without_extra_jobs(spark, sf_dir):
    """Observation counters must match explicit counts while riding the
    ONE materializing action (the 'log lazily' fix for the reference's
    triple-count anti-pattern)."""
    from stacktrend_spark.pipelines.silver import observe_quality

    bronze = fixtures.bronze_repos(spark)
    res = build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE)
    observed, obs = observe_quality(res.silver)
    n = observed.count()  # the single action; metrics ride along
    assert obs.get["n_rows"] == n
    assert obs.get["n_flagged"] == res.silver.filter(
        F.size("data_quality_flags") > 0
    ).count()
