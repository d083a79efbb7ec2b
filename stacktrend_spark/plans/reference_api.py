"""Driver-gate queries for the round-3 reference-parity APIs: keyword
extraction (dt:301-318), the validation-rules ledger (med:205-278), the
seeded search-query generator (gdi:104-172), and the master-pipeline
entry points (dfp:14-222 / prdfp:14-222).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.functions.keywords import TECH_KEYWORDS, extract_keywords
from stacktrend_spark.pipelines.validation import Rule, violation_counts
from stacktrend_spark.plans.gold_mirrors import exact_columns, tech_metrics_oracle
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.search_gen import randomized_search_queries
from stacktrend_spark.functions.fsutil import tmpdir as _tmpdir
from stacktrend_spark.sources.tables import load_table




# ---------------------------------------------------------------------------
# Keyword extraction over the documents table. The document's lang and
# source stand in for GitHub topics; both are already lowercase and
# their value domains are disjoint from TECH_KEYWORDS and from each
# other, so the Spark side's array_distinct is a no-op here and the
# oracle can skip mirroring it (DuckDB's list_distinct does not pin
# first-occurrence order). Emitted as a CSV string so the hash is
# array-encoding-agnostic.
# ---------------------------------------------------------------------------

_KW_LIST_SQL = "[" + ", ".join(f"'{k}'" for k in TECH_KEYWORDS) + "]"


@register(
    "silver_keyword_extraction",
    oracle=f"""
        SELECT doc_id,
            array_to_string(
                list_slice(
                    list_cat(
                        [lower(trim(lang)), lower(trim(source))],
                        list_filter({_KW_LIST_SQL}, k -> contains(lower(text), k))
                    ),
                    1, 10
                ),
            ',') AS keywords_csv
        FROM documents
    """,
    doc="Keyword extraction (dt:301-318) as pure array/string exprs: topics + matched tech vocabulary, capped at 10.",
)
def silver_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kw = extract_keywords(F.col("text"), F.array(F.col("lang"), F.col("source")))
    return docs.select("doc_id", F.array_join(kw, ",").alias("keywords_csv"))


# ---------------------------------------------------------------------------
# Validation-rules ledger applied to the orders table: required-field,
# positivity, domain-membership and range rules in ONE aggregate pass
# (the reference validates row-at-a-time driver-side, med:212-234).
# The price-cap rule genuinely fires on the testdata so the query
# proves non-zero counts, not just zeros.
# ---------------------------------------------------------------------------

_ORDER_RULES = [
    Rule("required_orderkey", "orders", "o_orderkey IS NOT NULL", ("o_orderkey",)),
    Rule("orderkey_positive", "orders", "o_orderkey > 0", ("o_orderkey",)),
    Rule("required_custkey", "orders", "o_custkey IS NOT NULL", ("o_custkey",)),
    Rule("totalprice_non_negative", "orders", "o_totalprice >= 0", ("o_totalprice",)),
    Rule("totalprice_under_cap", "orders", "o_totalprice <= 300000", ("o_totalprice",)),
    Rule(
        "status_in_domain",
        "orders",
        "o_orderstatus IN ('O', 'F', 'P')",
        ("o_orderstatus",),
    ),
    Rule("priority_shape", "orders", "o_orderpriority LIKE '%-%'", ("o_orderpriority",)),
    Rule("missing_column_probe", "orders", "no_such_column IS NOT NULL", ("no_such_column",)),
]


def _rule_count_sql(r: Rule) -> str:
    if r.name == "missing_column_probe":
        # med:219-222: absent column → every row violates
        cond = "TRUE"
    else:
        cond = f"NOT COALESCE(({r.check}), FALSE)"
    return (
        f"SELECT '{r.layer}' AS layer, '{r.name}' AS rule_name, "
        f"CAST(COUNT(*) FILTER (WHERE {cond}) AS BIGINT) AS n_violations FROM orders"
    )


@register(
    "validation_violations",
    oracle=" UNION ALL ".join(_rule_count_sql(r) for r in _ORDER_RULES),
    doc="Validation rules ledger (med:205-278): per-rule violation counts in one aggregate pass.",
)
def validation_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return violation_counts(orders, _ORDER_RULES)


# ---------------------------------------------------------------------------
# Seeded search-query plan (gdi:104-172). The oracle is the literal
# expected plan for the pinned seed — both sides re-derive nothing from
# each other: Spark serializes the generator's dataclasses through
# createDataFrame; the oracle pins the frozen values, so any drift in
# pool contents, draw order, or page sampling breaks the hash.
# ---------------------------------------------------------------------------

_PLAN_SEED = 7
_PLAN = randomized_search_queries(_PLAN_SEED)


def _plan_values_sql() -> str:
    rows = ", ".join(
        "({}, '{}', '{}', '{}', '{}', {})".format(
            i,
            q.query,
            q.sort,
            q.order,
            ",".join(str(p) for p in q.pages),
            "TRUE" if q.guaranteed else "FALSE",
        )
        for i, q in enumerate(_PLAN)
    )
    return (
        "SELECT CAST(idx AS BIGINT) AS idx, query, sort_field, sort_order, "
        "pages, guaranteed FROM (VALUES "
        + rows
        + ") AS t(idx, query, sort_field, sort_order, pages, guaranteed)"
    )


@register(
    "search_query_plan",
    oracle=_plan_values_sql(),
    doc="Seeded 12-random + 2-guaranteed search-query mix (gdi:104-156) with 3-of-5 page sampling (gdi:170).",
)
def search_query_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (
            i,
            q.query,
            q.sort,
            q.order,
            ",".join(str(p) for p in q.pages),
            q.guaranteed,
        )
        for i, q in enumerate(randomized_search_queries(_PLAN_SEED))
    ]
    return spark.createDataFrame(
        rows,
        "idx long, query string, sort_field string, sort_order string, "
        "pages string, guaranteed boolean",
    )


# ---------------------------------------------------------------------------
# Master-pipeline entry points, run end-to-end against a throwaway
# MedallionStore on the deterministic fixtures. The full multi-stage
# composition runs exactly as before (every layer persisted and read
# back); the RETURNED surface is the exact-integer/string projection of
# the final stored gold table, so the driver can hash-compare it against
# an independent DuckDB recomputation: the oracle embeds the SAME seed
# rows (fixtures.bronze_repos_rows / bronze_activity_rows) as a VALUES
# CTE and re-derives silver and the gold summary in SQL from scratch —
# it shares the INPUT with the Spark pipeline, not any intermediate.
# Columns derived from silver's libm log10 quality_score, and the
# DOUBLE forms of the µ-unit scores, stay out of the hashed projection
# per PARITY.md Tier 0; value-level goldens for them live in
# tests/test_pipeline_store.py.
# ---------------------------------------------------------------------------


def _sql_lit(s: str | None) -> str:
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


def _trend_gold_oracle() -> str:
    from datetime import datetime

    from stacktrend_spark.pipelines.classifier import _RULES
    from stacktrend_spark.pipelines.fixtures import AS_OF_DATE, bronze_repos_rows

    as_of = datetime.strptime(AS_OF_DATE, "%Y-%m-%d")
    vals = []
    for r in bronze_repos_rows():
        rid, name, desc, created, pushed = r[0], r[1], r[5], r[6], r[8]
        stars, watchers, forks, size = r[10], r[11], r[12], r[14]
        topics, lic = r[16], r[17]
        vals.append(
            f"({rid}, {_sql_lit(name)}, {_sql_lit(' '.join(topics))}, "
            f"{_sql_lit(lic)}, {stars}, {forks}, {watchers}, "
            f"{(as_of - pushed).days}, {(as_of - created).days}, "
            f"{desc is not None}, {len(topics)}, {size})"
        )
    cat_whens = " ".join(
        f"WHEN haystack LIKE '%{kw}%' THEN '{category}'"
        for kw, category, _sub in _RULES
    )
    return tech_metrics_oracle(f"""
        WITH seed(repository_id, name, topics, license_name, stargazers_count,
                  forks_count, watchers_count, days_since_push, days_since_creation,
                  has_description, n_topics, size) AS (VALUES {', '.join(vals)}),
        -- b2s quality gate: missing/blank names quarantine
        kept AS (
            SELECT *, lower(coalesce(name, '')) || ' ' || topics AS haystack,
                days_since_push <= 90 AS is_active
            FROM seed WHERE name IS NOT NULL AND trim(name) <> ''
        )
        -- first-match-wins rule classifier, license categorization and
        -- the b2s metrics
        SELECT CASE {cat_whens} ELSE 'Other' END AS technology_category,
            CASE WHEN license_name IS NULL THEN 'none'
                 WHEN license_name LIKE '%MIT%' OR license_name LIKE '%Apache%'
                      OR license_name LIKE '%BSD%' THEN 'permissive'
                 WHEN license_name LIKE '%GPL%' THEN 'copyleft'
                 ELSE 'other' END AS license_category,
            CASE WHEN days_since_creation > 0 THEN CAST(stargazers_count AS DOUBLE)
                / CAST(GREATEST(days_since_creation, 1) AS DOUBLE) ELSE 0::DOUBLE END
                AS star_velocity_30d,
            CAST(CASE WHEN has_description THEN 20 ELSE 0 END
                + CASE WHEN license_name IS NOT NULL THEN 20 ELSE 0 END
                + CASE WHEN n_topics > 0 THEN 20 ELSE 0 END
                + CASE WHEN is_active THEN 20 ELSE 0 END
                + CASE WHEN size > 0 THEN 20 ELSE 0 END AS DOUBLE) AS community_health_score,
            *
        FROM kept""")


@register(
    "pipeline_trend_gold",
    oracle=_trend_gold_oracle(),
    doc="run_trend_pipeline (dfp:14-173): bronze→silver→7 gold tables against a MedallionStore; returns the exact columns of gold.tech_metrics (counts, µ-unit scores, labels, five ranks).",
)
def pipeline_trend_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.pipelines.fixtures import AS_OF_DATE, bronze_repos
    from stacktrend_spark.pipelines.medallion import MedallionStore
    from stacktrend_spark.pipelines.orchestration import run_trend_pipeline

    store = MedallionStore(_tmpdir(prefix="trend_store_"))
    out = run_trend_pipeline(spark, store, bronze_repos(spark), AS_OF_DATE)
    return exact_columns(out["gold.tech_metrics"]).orderBy("technology_category")


def _personal_gold_oracle() -> str:
    from stacktrend_spark.pipelines.fixtures import (
        AS_OF_DATE,
        bronze_activity_rows,
        bronze_repos_rows,
    )

    ids = [r[0] for r in bronze_repos_rows(n=120)]
    vals = []
    for a in bronze_activity_rows(ids, n=800):
        rid, atype, ts = a[0], a[1], a[4]
        adds, dels, files = a[6], a[7], a[8]
        vals.append(
            f"({rid}, '{atype}', TIMESTAMP '{ts.isoformat(sep=' ')}', "
            f"{'NULL' if adds is None else adds}, "
            f"{'NULL' if dels is None else dels}, "
            f"{'NULL' if files is None else files})"
        )
    # velocity doubles mirror the Spark op order exactly: every op is a
    # correctly-rounded IEEE +*/ or LEAST, so the derived trend label is
    # bit-deterministic; explicit DOUBLE casts keep DuckDB's
    # decimal-literal typing out of the arithmetic
    return f"""
        WITH act(repository_id, activity_type, activity_date, additions,
                 deletions, changed_files) AS (VALUES {', '.join(vals)}),
        agg AS (
            SELECT repository_id,
                CAST(SUM(CASE WHEN activity_type = 'commit' THEN 1 ELSE 0 END)
                     AS BIGINT) AS total_commits,
                CAST(SUM(CASE WHEN activity_type = 'issue' THEN 1 ELSE 0 END)
                     AS BIGINT) AS total_issues,
                CAST(SUM(CASE WHEN activity_type = 'release' THEN 1 ELSE 0 END)
                     AS BIGINT) AS total_releases,
                CAST(SUM(COALESCE(additions, 0)) AS BIGINT) AS lines_added,
                CAST(SUM(COALESCE(deletions, 0)) AS BIGINT) AS lines_deleted,
                CAST(SUM(COALESCE(changed_files, 0)) AS BIGINT) AS files_changed
            FROM act
            WHERE activity_date >=
                TIMESTAMP '{AS_OF_DATE} 00:00:00' - INTERVAL 30 DAY
            GROUP BY 1
        ),
        vel AS (
            SELECT *, LEAST(CAST(1.0 AS DOUBLE),
                (CAST(total_commits AS DOUBLE) / CAST(30 AS DOUBLE))
                    * CAST(0.4 AS DOUBLE)
                + LEAST(CAST(1.0 AS DOUBLE),
                        CAST(lines_added AS DOUBLE) / CAST(1000.0 AS DOUBLE))
                    * CAST(0.3 AS DOUBLE)
                + LEAST(CAST(1.0 AS DOUBLE),
                        CAST(files_changed AS DOUBLE) / CAST(100.0 AS DOUBLE))
                    * CAST(0.3 AS DOUBLE)) AS dv
            FROM agg
        )
        SELECT repository_id, total_commits, total_issues, total_releases,
            lines_added, lines_deleted, files_changed,
            CASE WHEN dv >= CAST(0.7 AS DOUBLE) THEN 'increasing'
                 WHEN dv >= CAST(0.3 AS DOUBLE) THEN 'stable'
                 ELSE 'decreasing' END AS activity_trend,
            '{AS_OF_DATE}' AS measurement_date
        FROM vel
    """


@register(
    "pipeline_personal_gold",
    oracle=_personal_gold_oracle(),
    doc="run_personal_pipeline (prdfp:14-222): repos+activity bronze→silver→3 portfolio gold tables; returns the exact-integer projection of gold.development_velocity.",
)
def pipeline_personal_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.pipelines.fixtures import (
        AS_OF_DATE,
        bronze_activity,
        bronze_repos,
        bronze_repos_rows,
    )
    from stacktrend_spark.pipelines.medallion import MedallionStore
    from stacktrend_spark.pipelines.orchestration import run_personal_pipeline

    repos = bronze_repos(spark, n=120)
    ids = [r[0] for r in bronze_repos_rows(n=120)]
    store = MedallionStore(_tmpdir(prefix="personal_store_"))
    out = run_personal_pipeline(
        spark, store, repos, bronze_activity(spark, ids, n=800), AS_OF_DATE
    )
    dv = out["gold.development_velocity"]
    return dv.select(
        F.col("repository_id").cast("long").alias("repository_id"),
        *[
            F.col(c).cast("long").alias(c)
            for c in (
                "total_commits",
                "total_issues",
                "total_releases",
                "lines_added",
                "lines_deleted",
                "files_changed",
            )
        ],
        "activity_trend",
        "measurement_date",
    ).orderBy("repository_id")
