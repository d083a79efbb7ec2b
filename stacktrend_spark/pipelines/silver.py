"""Bronze → Silver transform (the reference's b2s notebook re-expressed
as a pure function).

Semantics from bronze_to_silver_transformation.py:686-853, with the
SURVEY §4 anti-patterns fixed:
- ``as_of_date`` is an explicit parameter (no current_date(): b2s:723-726);
- commit_frequency_30d is deterministic (b2s:756-758 used F.rand());
- classification labels apply via broadcast join, not dict-closure UDFs
  (b2s:533-575);
- the smart split computes the anti/inner join once, no repeated
  count() actions (b2s:477-494).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.functions.keywords import extract_keywords_sql
from stacktrend_spark.functions.langdist import language_distribution_sql
from stacktrend_spark.functions.sqltext import iso_date
from stacktrend_spark.pipelines.classifier import Classifier, apply_classification
from stacktrend_spark.pipelines.schemas import SILVER_COLUMNS

#: smart-classification reuse threshold (b2s:464-468)
CONFIDENCE_THRESHOLD = 0.8


@dataclass
class SilverResult:
    silver: DataFrame
    quarantined: DataFrame  # rows dropped by quality gates (b2s:795-809)


def _clean(bronze: DataFrame, as_of_date: str) -> DataFrame:
    """Cleaning chain (b2s:686-734): regex sanitation, language
    normalization, topic standardization, license categorization,
    activity windows from the pinned as_of_date."""
    day = iso_date(as_of_date)
    as_of = f"CAST({day} AS DATE)"
    # ONE projection declared as SQL text: one parse per column on the
    # driver instead of a Column-DSL chain costing several py4j round
    # trips per function call. Intra-projection references
    # (primary_language → language_distribution, description_clean /
    # topics_standardized → keywords, days_since_push → is_active) are
    # inlined as repeated text; Catalyst common subexpression
    # elimination dedups them at codegen.
    desc_clean = (
        "CASE WHEN description IS NOT NULL "
        r"THEN regexp_replace(description, r'[^\w\s\-\.\,\:]', '') "
        "ELSE CAST(NULL AS STRING) END"
    )
    primary = "CASE WHEN language IS NOT NULL THEN lower(trim(language)) ELSE 'unknown' END"
    topics_std = (
        "CASE WHEN topics IS NOT NULL THEN transform(topics, x -> lower(trim(x))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    days_push = f"datediff({as_of}, pushed_at)"
    columns = {
        "name_clean": r"regexp_replace(name, r'[^\w\-\.]', '')",
        "description_clean": desc_clean,
        "primary_language": primary,
        "language_distribution": language_distribution_sql(primary, "topics"),
        "topics_standardized": topics_std,
        "keywords": extract_keywords_sql(desc_clean, topics_std),
        "license_category": "CASE WHEN license_name IS NOT NULL THEN CASE"
        " WHEN contains(license_name, 'MIT') THEN 'permissive'"
        " WHEN contains(license_name, 'Apache') THEN 'permissive'"
        " WHEN contains(license_name, 'GPL') THEN 'copyleft'"
        " WHEN contains(license_name, 'BSD') THEN 'permissive'"
        " ELSE 'other' END ELSE 'none' END",
        "days_since_push": days_push,
        "days_since_creation": f"datediff({as_of}, created_at)",
        "is_active": f"{days_push} <= 90",
        "processed_timestamp": f"CAST({day} AS TIMESTAMP)",
        "partition_date": day,
    }
    # withColumns keeps replace-in-place semantics: bronze already
    # carries partition_date
    return bronze.withColumns({k: F.expr(v) for k, v in columns.items()})


def _metrics(df: DataFrame) -> DataFrame:
    """Velocity/health/quality metrics (b2s:748-787). The reference's
    F.rand() commit-frequency placeholder is replaced by a
    deterministic id-derived stand-in (same 0-10 range) so goldens are
    stable; the personal pipeline computes the real value from the
    activity table (personal.py)."""
    # one projection: every metric reads only pre-existing columns
    columns = {
        "star_velocity_30d": "CASE WHEN days_since_creation > 0"
        " THEN stargazers_count / greatest(days_since_creation, 1) ELSE 0.0D END",
        "commit_frequency_30d": "CASE WHEN is_active"
        " THEN CAST(repository_id % 100 AS DOUBLE) / 10.0D ELSE 0.0D END",
        "community_health_score": "CAST(CASE WHEN description IS NOT NULL THEN 20 ELSE 0 END"
        " + CASE WHEN license_name IS NOT NULL THEN 20 ELSE 0 END"
        " + CASE WHEN size(topics) > 0 THEN 20 ELSE 0 END"
        " + CASE WHEN is_active THEN 20 ELSE 0 END"
        " + CASE WHEN `size` > 0 THEN 20 ELSE 0 END AS DOUBLE)",
        "quality_score": "CAST(least(log10(greatest(stargazers_count, 1)) * 10, 50)"
        " + least(log10(greatest(forks_count, 1)) * 5, 25)"
        " + CASE WHEN has_wiki THEN 10 ELSE 0 END"
        " + CASE WHEN has_pages THEN 10 ELSE 0 END"
        " + least(size(topics) * 2, 15) AS DOUBLE)",
    }
    return df.withColumns({k: F.expr(v) for k, v in columns.items()})


def _validate(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Quality gates (b2s:795-809): flag, then quarantine
    missing-name / negative-star rows."""
    flagged = df.withColumn(
        "data_quality_flags",
        F.expr(
            "CASE WHEN name IS NULL OR trim(name) = '' THEN array('missing_name')"
            " WHEN stargazers_count < 0 THEN array('negative_stars')"
            " WHEN community_health_score < 0 THEN array('invalid_health_score')"
            " ELSE CAST(array() AS ARRAY<STRING>) END"
        ),
    )
    bad = "array_contains(data_quality_flags, 'missing_name') OR stargazers_count < 0"
    return flagged.filter(f"NOT ({bad})"), flagged.filter(bad)


def smart_split(
    bronze: DataFrame, existing_silver: DataFrame | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The 90%-cost-saving split (b2s:461-494): rows whose existing
    classification is confident (category != Other, subcategory !=
    unknown, confidence >= 0.8) skip the classifier and only refresh
    metrics; the rest go to the classifier. Returns
    (needs_classification, metrics_only, reusable_labels)."""
    if existing_silver is None:
        empty = bronze.sparkSession.sql(
            "SELECT CAST(NULL AS BIGINT) AS repository_id,"
            " CAST(NULL AS STRING) AS technology_category,"
            " CAST(NULL AS STRING) AS technology_subcategory,"
            " CAST(NULL AS DOUBLE) AS classification_confidence WHERE false"
        )
        return bronze, bronze.limit(0), empty
    well_classified = existing_silver.filter(
        "technology_category != 'Other' AND technology_subcategory != 'unknown'"
        f" AND classification_confidence >= {CONFIDENCE_THRESHOLD!r}D"
    ).selectExpr(
        "repository_id",
        "technology_category",
        "technology_subcategory",
        "classification_confidence",
    )
    needs = bronze.join(well_classified, "repository_id", "left_anti")
    metrics_only = bronze.join(
        well_classified.selectExpr("repository_id"), "repository_id", "left_semi"
    )
    return needs, metrics_only, well_classified


def build_silver(
    bronze: DataFrame,
    classifier: Classifier,
    as_of_date: str,
    existing_silver: DataFrame | None = None,
) -> SilverResult:
    """Full bronze→silver: clean → smart split → classify the needed
    subset → broadcast-apply labels → union → metrics → quality gates →
    the 29-column silver projection (b2s:822-853)."""
    needs, metrics_only, reusable = smart_split(bronze, existing_silver)
    fresh_labels = classifier.classify(needs)
    labels = fresh_labels.unionByName(reusable)
    labeled = apply_classification(bronze, labels)
    cleaned = _metrics(_clean(labeled, as_of_date))
    good, bad = _validate(cleaned)
    return SilverResult(silver=good.selectExpr(*SILVER_COLUMNS), quarantined=bad)


def observe_quality(df: DataFrame, name: str = "silver_quality"):
    """Attach lazy data-quality counters to a plan (SURVEY §4
    anti-pattern 1: the reference re-runs `.count()` three times before
    classification, b2s:477-494 — each re-triggering full lineage).

    ``Observation`` metrics ride along with whatever action
    materializes ``df`` (typically the sink write): zero extra jobs,
    zero extra scans. Returns (observed_df, observation); read
    ``observation.get`` AFTER an action has run.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.size("data_quality_flags") > 0).cast("long")
        ).alias("n_flagged"),
    )
    return observed, obs
