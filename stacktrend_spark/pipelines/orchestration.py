"""Master-pipeline orchestration (dfp:14-222 / prdfp:14-222 semantics).

The reference chains its notebooks with Data Factory tumbling-window
triggers: ingestion → bronze_to_silver (dependsOn ingestion) →
silver_to_gold (dependsOn bronze_to_silver), each stage reading the
previous stage's lakehouse tables. Fabric deploy / Power BI refresh are
out of scope (SURVEY §3.4); what matters is the dependency-ordered
composition against the medallion store, which these two entry points
provide as plain functions:

- ``run_trend_pipeline``: bronze repos → silver (clean/classify/gate)
  → the seven trend gold tables (s2g), every layer persisted through
  ``MedallionStore`` exactly as the per-stage notebooks would.
- ``run_personal_pipeline``: personal repos + activity bronze →
  silver + activity metrics → the three portfolio gold tables (prs2g).

Failure semantics mirror the trigger chain: a stage raising stops the
run before any later layer is written (dfp's dependsOn blocks the
downstream trigger), and each stage reads back what the previous stage
WROTE (not the in-memory frame), so reruns resume from storage state.

Scale notes: every persisted layer is partitioned by partition_date
(daily reruns rewrite one partition; readers prune on it), silver is
written once and each gold table re-reads that single stored copy, and
upserts go through the store's MERGE path (Delta MERGE INTO when
available).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stacktrend_spark.functions.sqltext import iso_date
from stacktrend_spark.pipelines import gold, personal
from stacktrend_spark.pipelines.classifier import Classifier, RuleBasedClassifier
from stacktrend_spark.pipelines.medallion import MedallionStore
from stacktrend_spark.pipelines.silver import build_silver

#: trend gold tables in the reference's s2g emit order (SURVEY §2.11)
TREND_GOLD_TABLES = (
    "tech_metrics",
    "repo_ranks",
    "trend_daily",
    "tech_health",
    "lang_stats",
    "market_pulse",
    "adoption_matrix",
)


def run_trend_pipeline(
    spark: SparkSession,
    store: MedallionStore,
    bronze_repos: DataFrame,
    as_of_date: str,
    classifier: Classifier | None = None,
) -> dict[str, DataFrame]:
    """Stage chain dfp:14-173: ingestion lands bronze, b2s builds
    silver (reusing confident prior classifications from the stored
    silver — the MERGE-driven smart split), s2g derives the seven gold
    tables from the STORED silver. Returns the materialized frames
    keyed by layer-qualified names. A malformed ``as_of_date`` raises
    ValueError before anything is written."""
    iso_date(as_of_date)
    classifier = classifier or RuleBasedClassifier()
    out: dict[str, DataFrame] = {}

    # Stage 1 — ingestion → bronze (gdi:355-383 MERGE on repository_id)
    store.upsert(
        spark,
        bronze_repos,
        "bronze",
        "github_repos",
        keys=["repository_id"],
        partition_by=["partition_date"],
    )
    bronze = store.read(spark, "bronze", "github_repos")
    out["bronze.github_repos"] = bronze

    # Stage 2 — bronze_to_silver (dependsOn stage 1): reads the stored
    # bronze; prior silver (if any) feeds the smart split
    existing = (
        store.read(spark, "silver", "github_curated")
        if store.exists("silver", "github_curated")
        else None
    )
    result = build_silver(bronze, classifier, as_of_date, existing_silver=existing)
    # quarantine first: its plan (like silver's) lazily reads the stored
    # silver, so it must flush before github_curated's directory is
    # replaced; the curated frame itself is materialized before the
    # self-referential overwrite (Delta MERGE removes this read-rewrite
    # hazard at scale; see medallion.upsert)
    store.overwrite(result.quarantined, "silver", "github_quarantine")
    silver_df = result.silver
    if existing is not None:
        silver_df = silver_df.localCheckpoint(eager=True)
    store.overwrite(
        silver_df, "silver", "github_curated", partition_by=["partition_date"]
    )
    silver = store.read(spark, "silver", "github_curated")
    out["silver.github_curated"] = silver
    # read back from storage (like every other layer): the lazy
    # quarantine plan still references the PRE-overwrite silver files
    out["silver.github_quarantine"] = store.read(spark, "silver", "github_quarantine")

    # Stage 3 — silver_to_gold (dependsOn stage 2): seven tables off
    # the one stored silver copy
    gold_frames = {
        "tech_metrics": gold.tech_metrics(silver),
        "repo_ranks": gold.repo_ranks(silver),
        "trend_daily": gold.trend_daily(silver),
        "tech_health": gold.tech_health(silver),
        "lang_stats": gold.lang_stats(silver),
        "market_pulse": gold.market_pulse(silver, as_of_date),
        "adoption_matrix": gold.adoption_matrix(silver, as_of_date),
    }
    _write_gold_concurrently(spark, store, gold_frames)
    for name in gold_frames:
        out[f"gold.{name}"] = store.read(spark, "gold", name)
    return out


def _write_gold_concurrently(
    spark: SparkSession, store: MedallionStore, gold_frames: dict[str, DataFrame]
) -> None:
    """Write the independent gold tables as overlapping Spark jobs.

    Every gold frame reads the SAME stored silver and writes its OWN
    directory, so the writes have no mutual dependency — only the
    driver's sequential ``for`` loop serialized them (optimization
    guide §2.6: actions are only sequential because driver code calls
    them sequentially). A small pool keeps 3 write jobs in flight so
    one job's task tail back-fills executors freed by another; the
    dependency-ordered stages around this fan-out are untouched.
    Job descriptions are thread-local, so each write labels itself."""
    from concurrent.futures import ThreadPoolExecutor

    def _write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        spark.sparkContext.setJobDescription(f"gold overwrite: {name}")
        store.overwrite(df, "gold", name)

    with ThreadPoolExecutor(max_workers=3) as pool:
        # list() so the first raised exception propagates (a failed
        # gold write must fail the run, same as the sequential loop)
        list(pool.map(_write, gold_frames.items()))
    spark.sparkContext.setJobDescription(None)


def run_personal_pipeline(
    spark: SparkSession,
    store: MedallionStore,
    bronze_repos: DataFrame,
    bronze_activity: DataFrame,
    as_of_date: str,
    classifier: Classifier | None = None,
) -> dict[str, DataFrame]:
    """Stage chain prdfp:14-222: personal ingestion (repos + activity)
    → silver (curated portfolio + activity metrics) → the three
    portfolio gold tables (prs2g). A malformed ``as_of_date`` raises
    ValueError before anything is written."""
    iso_date(as_of_date)
    classifier = classifier or RuleBasedClassifier()
    out: dict[str, DataFrame] = {}

    store.upsert(
        spark,
        bronze_repos,
        "bronze",
        "github_my_repos",
        keys=["repository_id"],
        partition_by=["partition_date"],
    )
    store.overwrite(
        bronze_activity, "bronze", "github_my_activity", partition_by=["partition_date"]
    )
    repos = store.read(spark, "bronze", "github_my_repos")
    activity = store.read(spark, "bronze", "github_my_activity")
    out["bronze.github_my_repos"] = repos
    out["bronze.github_my_activity"] = activity

    result = build_silver(repos, classifier, as_of_date)
    store.overwrite(
        result.silver, "silver", "github_my_portfolio", partition_by=["partition_date"]
    )
    silver = store.read(spark, "silver", "github_my_portfolio")
    metrics = personal.activity_metrics(activity, as_of_date)
    store.overwrite(metrics, "silver", "github_my_activity_metrics")
    metrics = store.read(spark, "silver", "github_my_activity_metrics")
    out["silver.github_my_portfolio"] = silver
    out["silver.github_my_activity_metrics"] = metrics

    gold_frames = {
        "portfolio_overview": personal.portfolio_overview(silver, as_of_date),
        "repo_health_dashboard": personal.repo_health_dashboard(
            silver, metrics, as_of_date
        ),
        "development_velocity": personal.development_velocity(metrics, as_of_date),
    }
    _write_gold_concurrently(spark, store, gold_frames)
    for name in gold_frames:
        out[f"gold.{name}"] = store.read(spark, "gold", name)
    return out
