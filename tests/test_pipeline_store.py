"""Pins what the medallion pipelines write and what building them costs.

- ``test_store_digests``: both pipelines run on the fixtures (a seeding
  trend cycle, an update cycle that exercises the smart split, and a
  personal run); every written table must match its pinned digest: the
  stored schema string, the non-nullable paths of the frame handed to
  the writer, the row count, and the sum of ``xxhash64(to_json(row))``
  with doubles taken to 10 significant digits. A DECIMAL literal where
  the formula had a DOUBLE one (``0.95`` vs ``0.95D`` in SQL text), a
  reordered column or a changed value all move a digest. Print the
  current digests with
  ``PYTHONPATH=. python tests/test_pipeline_store.py``.
- ``test_build_cost``: building (not running) one trend cycle's silver
  and seven gold frames and one personal run's silver and four
  personal frames stays under a py4j round-trip budget and runs no
  Spark job.
- ``test_bad_date_writes_nothing``: a malformed ``as_of_date`` fails
  both pipelines before the bronze MERGE touches the store.
"""

from __future__ import annotations

import gc

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import types as T

from stacktrend_spark.pipelines import fixtures, gold, personal
from stacktrend_spark.pipelines.classifier import RuleBasedClassifier
from stacktrend_spark.pipelines.fixtures import AS_OF_DATE
from stacktrend_spark.pipelines.medallion import MedallionStore
from stacktrend_spark.pipelines.orchestration import (
    run_personal_pipeline,
    run_trend_pipeline,
)
from stacktrend_spark.pipelines.schemas import BRONZE_REPOS_SCHEMA
from stacktrend_spark.pipelines.silver import build_silver


class _RecordingStore(MedallionStore):
    """Remembers the schema of every frame handed to the writer: the
    stored parquet schema reads back all-nullable, so nullability is
    only visible here."""

    def __init__(self, root: str):
        super().__init__(root, backend="parquet")
        self.written: dict[str, object] = {}

    def overwrite(self, df, layer, table, partition_by=None):
        self.written[f"{layer}.{table}"] = df.schema
        super().overwrite(df, layer, table, partition_by)


def _non_nullable(dt, path: str = "") -> list[str]:
    """Paths of the fields, array elements and map values that cannot
    be NULL."""
    out: list[str] = []
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            p = f"{path}{f.name}"
            if not f.nullable:
                out.append(p)
            out += _non_nullable(f.dataType, p + ".")
    elif isinstance(dt, T.ArrayType):
        if not dt.containsNull:
            out.append(path + "[]")
        out += _non_nullable(dt.elementType, path + "[].")
    elif isinstance(dt, T.MapType):
        if not dt.valueContainsNull:
            out.append(path + "{}")
        out += _non_nullable(dt.valueType, path + "{}.")
    return out


def store_digests(spark, root: str) -> dict[str, tuple[str, str, int, str]]:
    store = _RecordingStore(root)
    run_trend_pipeline(spark, store, fixtures.bronze_repos(spark), AS_OF_DATE)
    # update cycle: 100 new repos plus every third seeded repo with more stars
    new = [(r[0] + 300,) + r[1:] for r in fixtures.bronze_repos_rows(n=100, seed=7)]
    bumped = [r[:10] + (r[10] + 5,) + r[11:] for r in fixtures.bronze_repos_rows()[::3]]
    batch = spark.createDataFrame(new + bumped, BRONZE_REPOS_SCHEMA)
    run_trend_pipeline(spark, store, batch, AS_OF_DATE)
    ids = [r[0] for r in fixtures.bronze_repos_rows(n=120)]
    run_personal_pipeline(
        spark,
        store,
        fixtures.bronze_repos(spark, n=120),
        fixtures.bronze_activity(spark, ids, n=800),
        AS_OF_DATE,
    )
    out = {}
    for name in sorted(store.written):
        layer, table = name.split(".")
        df = store.read(spark, layer, table)
        # doubles to 10 significant digits: aggregated doubles (avg,
        # stddev) vary in the last bits with the shuffle layout
        cols = [
            f"format_string('%.10g', `{f.name}`) AS `{f.name}`"
            if isinstance(f.dataType, T.DoubleType)
            else f"`{f.name}`"
            for f in df.schema.fields
        ]
        row = df.selectExpr(*cols).selectExpr(
            "count(1) AS n",
            "CAST(sum(CAST(xxhash64(to_json(struct(*))) AS DECIMAL(38, 0))) AS STRING) AS h",
        ).first()
        nn = ",".join(_non_nullable(store.written[name]))
        out[name] = (df.schema.simpleString(), nn, row.n, row.h)
    return out


#: digests of the Column-DSL builders' output, which the SQL-text
#: builders reproduce exactly
STORE_DIGESTS: dict[str, tuple[str, str, int, str]] = {
    'bronze.github_my_activity': ('struct<repository_id:bigint,activity_type:string,activity_id:string,author_login:string,activity_date:timestamp,title:string,additions:bigint,deletions:bigint,changed_files:bigint,state:string,ingestion_timestamp:timestamp,partition_date:date>', 'repository_id,activity_type,activity_id', 800, '-182701470790873182483'),
    'bronze.github_my_repos': ('struct<repository_id:bigint,name:string,full_name:string,owner_login:string,owner_type:string,description:string,created_at:timestamp,updated_at:timestamp,pushed_at:timestamp,language:string,stargazers_count:bigint,watchers_count:bigint,forks_count:bigint,open_issues_count:bigint,size:bigint,default_branch:string,topics:array<string>,license_name:string,has_wiki:boolean,has_pages:boolean,archived:boolean,disabled:boolean,ingestion_timestamp:timestamp,partition_date:date>', 'repository_id', 120, '67460606409353172095'),
    'bronze.github_repos': ('struct<repository_id:bigint,name:string,full_name:string,owner_login:string,owner_type:string,description:string,created_at:timestamp,updated_at:timestamp,pushed_at:timestamp,language:string,stargazers_count:bigint,watchers_count:bigint,forks_count:bigint,open_issues_count:bigint,size:bigint,default_branch:string,topics:array<string>,license_name:string,has_wiki:boolean,has_pages:boolean,archived:boolean,disabled:boolean,ingestion_timestamp:timestamp,partition_date:date>', '', 400, '59392071963790239633'),
    'gold.adoption_matrix': ('struct<tech_primary:string,tech_secondary:string,co_occurrence_count:bigint,correlation_score:double,ecosystem_strength:string,partition_date:string>', 'co_occurrence_count,ecosystem_strength,partition_date', 78, '38758141762161098009'),
    'gold.development_velocity': ('struct<repository_id:bigint,total_commits:bigint,total_issues:bigint,total_releases:bigint,lines_added:bigint,lines_deleted:bigint,files_changed:bigint,commit_frequency:double,development_velocity:double,activity_trend:string,projected_annual_commits:double,measurement_date:string,partition_date:string>', 'measurement_date,partition_date', 104, '56216032736525241217'),
    'gold.lang_stats': ('struct<primary_language:string,repo_count:bigint,total_stars:bigint,avg_quality:double,active_repos:bigint,star_share:double,language_rank:int,adoption_stage:string>', 'repo_count,language_rank,adoption_stage', 8, '1605870340278208596'),
    'gold.market_pulse': ('struct<total_repositories:bigint,total_stars:bigint,avg_quality_score:double,avg_health_score:double,active_repositories:bigint,categories_tracked:bigint,market_activity_ratio:double,measurement_date:string>', 'total_repositories,categories_tracked,measurement_date', 1, '5366366836312207484'),
    'gold.portfolio_overview': ('struct<total_repositories:bigint,total_stars:bigint,total_forks:bigint,active_repositories:bigint,avg_quality_score:double,n_categories:bigint,n_languages:bigint,primary_technologies:array<string>,primary_languages:array<string>,portfolio_diversity_score:double,activity_level:string,measurement_date:string,partition_date:string>', 'total_repositories,n_categories,n_languages,primary_technologies,primary_languages,activity_level,measurement_date,partition_date', 1, '-7122520542756271663'),
    'gold.repo_health_dashboard': ('struct<repository_id:bigint,repository_name:string,technology_category:string,stargazers_count:bigint,commits_30d:bigint,issues_30d:bigint,development_velocity:double,health_grade:string,health_score:double,activity_status:string,attention_needed:boolean,recommended_actions:array<string>,measurement_date:string,partition_date:string>', 'commits_30d,issues_30d,development_velocity,health_grade,health_score,activity_status,attention_needed,recommended_actions,recommended_actions.[],measurement_date,partition_date', 114, '-72529858224771828201'),
    'gold.repo_ranks': ('struct<repository_id:bigint,name:string,technology_category:string,stargazers_count:bigint,quality_score:double,repo_momentum:double,category_quality_rank:int,global_momentum_rank:int,global_star_rank:int,partition_date:date>', 'category_quality_rank,global_momentum_rank,global_star_rank', 384, '-4971375484434895051'),
    'gold.tech_health': ('struct<technology_category:string,repo_count:bigint,avg_health:double,star_dispersion:double,active_repos:bigint,license_variety:bigint,avg_open_issues:double,health_status:string,abandonment_risk:string>', 'repo_count,license_variety,health_status,abandonment_risk', 9, '19101165463215317241'),
    'gold.tech_metrics': ('struct<technology_category:string,total_repositories:bigint,total_stars:bigint,total_forks:bigint,total_watchers:bigint,avg_stars_per_repo:double,avg_forks_per_repo:double,avg_community_health:double,avg_quality_score:double,avg_star_velocity:double,avg_commit_frequency:double,active_repositories:bigint,avg_repository_age_days:double,license_diversity_count:bigint,active_repositories_percentage:double,momentum_score:double,lifecycle_stage:string,momentum_trend:string,popularity_rank:int,growth_rank:int,health_rank:int,momentum_rank:int,overall_rank:int,single_maintainer_risk:double,license_diversity_score:double,sustainability_score:double>', 'total_repositories,license_diversity_count,lifecycle_stage,momentum_trend,popularity_rank,growth_rank,health_rank,momentum_rank,overall_rank,single_maintainer_risk,license_diversity_score', 9, '-9870866760823422571'),
    'gold.trend_daily': ('struct<technology_category:string,partition_date:date,repository_count:bigint,daily_total_stars:bigint,avg_quality:double,active_count:bigint,market_share:double,momentum_change:double,rank_change:bigint>', 'repository_count,momentum_change,rank_change', 9, '27927509099102511006'),
    'silver.github_curated': ('struct<repository_id:bigint,name:string,name_clean:string,full_name:string,owner_login:string,owner_type:string,description_clean:string,primary_language:string,language_distribution:map<string,double>,topics_standardized:array<string>,keywords:array<string>,technology_category:string,technology_subcategory:string,classification_confidence:double,license_category:string,stargazers_count:bigint,watchers_count:bigint,forks_count:bigint,open_issues_count:bigint,size:bigint,days_since_push:int,days_since_creation:int,is_active:boolean,star_velocity_30d:double,commit_frequency_30d:double,community_health_score:double,quality_score:double,data_quality_flags:array<string>,processed_timestamp:timestamp,partition_date:date>', 'keywords,technology_category,technology_subcategory,classification_confidence,license_category,community_health_score,quality_score,data_quality_flags,partition_date', 384, '-95167367145851216085'),
    'silver.github_my_activity_metrics': ('struct<repository_id:bigint,total_commits:bigint,total_issues:bigint,total_releases:bigint,lines_added:bigint,lines_deleted:bigint,files_changed:bigint,last_activity_date:timestamp,measurement_period:string,commit_frequency:double,development_velocity:double,activity_trend:string,partition_date:string>', 'measurement_period,development_velocity,activity_trend,partition_date', 269, '-21183078392745003695'),
    'silver.github_my_portfolio': ('struct<repository_id:bigint,name:string,name_clean:string,full_name:string,owner_login:string,owner_type:string,description_clean:string,primary_language:string,language_distribution:map<string,double>,topics_standardized:array<string>,keywords:array<string>,technology_category:string,technology_subcategory:string,classification_confidence:double,license_category:string,stargazers_count:bigint,watchers_count:bigint,forks_count:bigint,open_issues_count:bigint,size:bigint,days_since_push:int,days_since_creation:int,is_active:boolean,star_velocity_30d:double,commit_frequency_30d:double,community_health_score:double,quality_score:double,data_quality_flags:array<string>,processed_timestamp:timestamp,partition_date:date>', 'keywords,technology_category,technology_subcategory,classification_confidence,license_category,community_health_score,quality_score,data_quality_flags,partition_date', 114, '-63639995494424195543'),
    'silver.github_quarantine': ('struct<repository_id:bigint,name:string,full_name:string,owner_login:string,owner_type:string,description:string,created_at:timestamp,updated_at:timestamp,pushed_at:timestamp,language:string,stargazers_count:bigint,watchers_count:bigint,forks_count:bigint,open_issues_count:bigint,size:bigint,default_branch:string,topics:array<string>,license_name:string,has_wiki:boolean,has_pages:boolean,archived:boolean,disabled:boolean,ingestion_timestamp:timestamp,partition_date:string,technology_category:string,technology_subcategory:string,classification_confidence:double,name_clean:string,description_clean:string,primary_language:string,language_distribution:map<string,double>,topics_standardized:array<string>,keywords:array<string>,license_category:string,days_since_push:int,days_since_creation:int,is_active:boolean,processed_timestamp:timestamp,star_velocity_30d:double,commit_frequency_30d:double,community_health_score:double,quality_score:double,data_quality_flags:array<string>>', 'partition_date,technology_category,technology_subcategory,classification_confidence,keywords,license_category,community_health_score,quality_score,data_quality_flags', 16, '-3420653632662015494'),
}


def test_store_digests(spark, tmp_path):
    got = store_digests(spark, str(tmp_path / "store"))
    assert sorted(got) == sorted(STORE_DIGESTS)
    for name, want in STORE_DIGESTS.items():
        assert got[name] == want, name


#: py4j commands the Column-DSL builders sent for the frames that
#: ``test_build_cost`` builds; the SQL-text builders must stay within
#: a tenth of it
DSL_BUILD_COMMANDS = 17_089


def _build_frames(spark, bronze, existing, my_repos, activity) -> list:
    """One trend cycle's silver and seven gold frames, one personal
    run's silver and four personal frames, built but not run."""
    trend = build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE, existing_silver=existing)
    s = trend.silver
    frames = [
        trend.silver,
        trend.quarantined,
        gold.tech_metrics(s),
        gold.repo_ranks(s),
        gold.trend_daily(s),
        gold.tech_health(s),
        gold.lang_stats(s),
        gold.market_pulse(s, AS_OF_DATE),
        gold.adoption_matrix(s, AS_OF_DATE),
    ]
    mine = build_silver(my_repos, RuleBasedClassifier(), AS_OF_DATE)
    metrics = personal.activity_metrics(activity, AS_OF_DATE)
    return frames + [
        mine.silver,
        metrics,
        personal.portfolio_overview(mine.silver, AS_OF_DATE),
        personal.repo_health_dashboard(mine.silver, metrics, AS_OF_DATE),
        personal.development_velocity(metrics, AS_OF_DATE),
    ]


def test_build_cost(spark, monkeypatch):
    bronze = fixtures.bronze_repos(spark)
    ids = [r[0] for r in fixtures.bronze_repos_rows(n=120)]
    my_repos = fixtures.bronze_repos(spark, n=120)
    activity = fixtures.bronze_activity(spark, ids, n=800)
    existing = build_silver(bronze, RuleBasedClassifier(), AS_OF_DATE).silver
    # warm-up: the first build pays one-off class lookups
    _build_frames(spark, bronze, existing, my_repos, activity)

    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        _build_frames(spark, bronze, existing, my_repos, activity)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert set(tracker.getJobIdsForGroup(None)) == jobs_before
    assert sent[0] <= DSL_BUILD_COMMANDS // 10, sent[0]


@pytest.mark.parametrize("bad", ["2025-13-40", "2025-02-30", "2025-8-1", "20250801", "x' OR '1"])
def test_bad_date_writes_nothing(spark, tmp_path, bad):
    root = tmp_path / "store"
    store = MedallionStore(str(root), backend="parquet")
    repos = fixtures.bronze_repos(spark, n=20)
    with pytest.raises(ValueError):
        run_trend_pipeline(spark, store, repos, bad)
    ids = [r[0] for r in fixtures.bronze_repos_rows(n=20)]
    with pytest.raises(ValueError):
        run_personal_pipeline(
            spark, store, repos, fixtures.bronze_activity(spark, ids, n=50), bad
        )
    assert not root.exists()


if __name__ == "__main__":
    import tempfile

    from stacktrend_spark.session import get_spark

    spark = get_spark("store_digests", cpus=4)
    with tempfile.TemporaryDirectory() as d:
        for name, digest in store_digests(spark, d).items():
            print(f"    {name!r}: {digest!r},")
