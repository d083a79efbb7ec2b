"""Pluggable repository classifier (the reference's LLM stage).

The reference classifies repositories with Azure OpenAI
(llm_classifier.py:42-362; zero-dependency urllib variant
personal_repos_bronze_to_silver.py:99-259) — driver-side batches of
10/3, tenacity retry ×3 with exponential backoff, then re-applies the
results through dict-closure UDFs (b2s:533-575 — SURVEY §2.3 J5, an
anti-pattern we replace with a broadcast join).

Our design: ``Classifier.classify(df) -> DataFrame`` matching
CLASSIFICATION_SCHEMA, applied by **broadcast hash join** on
repository_id. Tests/batch runs use the deterministic RuleBased
implementation; the LLM implementation keeps the reference's
batching/retry contract but runs the batches INSIDE executors via
mapInPandas (each Arrow batch = one API call batch), so classification
scales horizontally instead of serializing on the driver.
"""

from __future__ import annotations

import json
import urllib.request
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.pipelines.schemas import CLASSIFICATION_SCHEMA

#: keyword → (category, subcategory) rules, first match wins.
#: Categories from the prompt taxonomy (llm_classifier.py:63-73).
_RULES: tuple[tuple[str, str, str], ...] = (
    ("llm", "AI", "llm_tools"),
    ("agent", "AI", "agentic_ai"),
    ("machine-learning", "ML", "machine_learning"),
    ("ml", "ML", "machine_learning"),
    ("etl", "DataEngineering", "etl"),
    ("data-engineering", "DataEngineering", "etl"),
    ("streaming", "DataEngineering", "streaming"),
    ("database", "Databases", "relational"),
    ("web", "WebDevelopment", "web_framework"),
    ("api", "WebDevelopment", "api"),
    ("kubernetes", "DevOps", "containerization"),
    ("devops", "DevOps", "ci_cd"),
    ("monitoring", "DevOps", "monitoring"),
    ("cloud", "CloudServices", "iaas_paas"),
    ("security", "Security", "devsecops"),
    ("compiler", "ProgrammingLanguages", "compilers"),
    ("python", "ProgrammingLanguages", "language_servers"),
    ("rust", "ProgrammingLanguages", "compilers"),
)


class Classifier(ABC):
    """repository DataFrame → CLASSIFICATION_SCHEMA DataFrame."""

    @abstractmethod
    def classify(self, repos: DataFrame) -> DataFrame: ...


class RuleBasedClassifier(Classifier):
    """Deterministic keyword classifier — the test-time stand-in for the
    LLM (FIXTURES.md §5). One SQL-text projection: scans topics + name
    for the first matching rule; unmatched → ("Other", "unknown", 0.1),
    the reference's default (b2s:544-548). Confidence is derived
    deterministically from match position: first-rule matches score
    highest — spanning the 0.8 smart-classification threshold so both
    sides of the split are exercised."""

    def classify(self, repos: DataFrame) -> DataFrame:
        cat, sub_c, conf = [], [], []
        for idx, (kw, category, sub) in enumerate(_RULES):
            cond = f"WHEN contains(haystack, '{kw}')"
            cat.append(f"{cond} THEN '{category}'")
            sub_c.append(f"{cond} THEN '{sub}'")
            # later (weaker) rules get lower confidence, dipping below
            # the 0.8 preserve threshold for the tail
            conf.append(f"{cond} THEN {round(0.95 - 0.05 * idx, 2)!r}D")
        # the haystack is projected once: the three CASE chains name it
        # 54 times, which as inlined text made analysis twice as slow
        return repos.selectExpr(
            "repository_id",
            "concat_ws(' ', lower(coalesce(name, '')),"
            " concat_ws(' ', coalesce(topics, array()))) AS haystack",
        ).selectExpr(
            "repository_id",
            f"CASE {' '.join(cat)} ELSE 'Other' END AS technology_category",
            f"CASE {' '.join(sub_c)} ELSE 'unknown' END AS technology_subcategory",
            f"greatest(CASE {' '.join(conf)} ELSE 0.1D END, 0.1D)"
            " AS classification_confidence",
        )


#: fallback row used when a chunk exhausts its retries (the reference
#: defaults failed classifications to Other/unknown/0.1 — llm:179-186)
def _fallback(record: dict) -> dict:
    return {
        "repository_id": record["repository_id"],
        "technology_category": "Other",
        "technology_subcategory": "unknown",
        "classification_confidence": 0.1,
    }


def classify_records(
    records: list[dict],
    post,
    batch_size: int = 10,
    max_retries: int = 3,
    sleeper=None,
) -> list[dict]:
    """The executor-side classification kernel, transport-injected so
    fault paths are testable without a live endpoint.

    Preserves the reference's operational contract: batches of 10
    (llm_classifier.py:56), 3 attempts with exponential backoff
    ``min(4·2^attempt, 10)`` (llm:150-153, tenacity
    ``wait_exponential(multiplier=1, min=4, max=10)``), failed chunks
    fall back to Other/unknown/0.1 instead of failing the job. A
    malformed response (bad JSON, missing key) counts as a failed
    attempt exactly like a transport error.

    ``post(body: bytes) -> bytes`` performs one API call.
    """
    import time as _time

    sleep = sleeper if sleeper is not None else _time.sleep
    out: list[dict] = []
    for i in range(0, len(records), batch_size):
        chunk = records[i : i + batch_size]
        body = json.dumps({"repositories": chunk}).encode()
        for attempt in range(max_retries):
            try:
                parsed = json.loads(post(body))
                out.extend(parsed["classifications"])
                break
            except Exception:  # noqa: BLE001 — retry w/ backoff
                if attempt == max_retries - 1:
                    out.extend(_fallback(r) for r in chunk)
                else:
                    sleep(min(2**attempt * 4, 10))
    return out


def urllib_post(endpoint: str, api_key: str, timeout: float = 60.0):
    """Production transport: one POST via urllib (zero-dependency, like
    the reference's personal_repos_bronze_to_silver.py:99-259 variant)."""

    def post(body: bytes) -> bytes:
        req = urllib.request.Request(
            endpoint,
            data=body,
            headers={"Content-Type": "application/json", "api-key": api_key},
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.read()

    return post


class LLMClassifier(Classifier):
    """LLM-backed classifier preserving the reference's operational
    contract — batch size 10 (llm_classifier.py:56), 3 retries with
    exponential backoff (llm:150-153), JSON response of
    {repo_id, primary_category, subcategory, confidence} (llm:112-123)
    — but executed INSIDE executors via mapInPandas so throughput
    scales with the cluster, not the driver.

    Requires an endpoint + key; without them ``classify`` raises — the
    pipeline defaults to RuleBasedClassifier everywhere tests run. The
    retry/fallback kernel itself (``classify_records``) is
    transport-injected and fault-tested offline.
    """

    BATCH_SIZE = 10
    MAX_RETRIES = 3

    def __init__(self, endpoint: str | None = None, api_key: str | None = None):
        self.endpoint = endpoint
        self.api_key = api_key

    def classify(self, repos: DataFrame) -> DataFrame:
        if not self.endpoint or not self.api_key:
            raise NotImplementedError(
                "LLMClassifier needs endpoint/api_key; use RuleBasedClassifier "
                "for deterministic runs"
            )
        endpoint, api_key = self.endpoint, self.api_key
        batch_size, max_retries = self.BATCH_SIZE, self.MAX_RETRIES

        def run(batches):
            import pandas as pd

            for pdf in batches:
                records = pdf[["repository_id", "name", "description"]].to_dict("records")
                out = classify_records(
                    records,
                    post=urllib_post(endpoint, api_key),
                    batch_size=batch_size,
                    max_retries=max_retries,
                )
                yield pd.DataFrame(
                    out,
                    columns=[f.name for f in CLASSIFICATION_SCHEMA.fields],
                )

        return repos.select("repository_id", "name", "description").mapInPandas(
            run, CLASSIFICATION_SCHEMA
        )


def detect_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Classification drift detection (llm_classifier.py:365-418,
    ClassificationDriftDetector.detect_drift) as a DataFrame job
    instead of driver-side dict comparison.

    Joins old vs new labels on repository_id and grades each change:

    - ``high``   — category changed and BOTH sides were confident
      (>= 0.8): the model disagrees with itself on a clear call;
    - ``medium`` — category changed with mixed/low confidence;
    - ``low``    — same category, subcategory changed.

    Returns (repository_id, old/new category+confidence, drift_severity)
    for changed rows only. Distributed: at 100 TB this is one
    broadcast-or-sort-merge equi-join, no collect.
    """
    o = old.select(
        "repository_id",
        F.col("technology_category").alias("old_category"),
        F.col("technology_subcategory").alias("old_subcategory"),
        F.col("classification_confidence").alias("old_confidence"),
    )
    n = new.select(
        "repository_id",
        F.col("technology_category").alias("new_category"),
        F.col("technology_subcategory").alias("new_subcategory"),
        F.col("classification_confidence").alias("new_confidence"),
    )
    joined = o.join(n, "repository_id")
    cat_changed = F.col("old_category") != F.col("new_category")
    sub_changed = F.col("old_subcategory") != F.col("new_subcategory")
    severity = (
        F.when(
            cat_changed
            & (F.col("old_confidence") >= 0.8)
            & (F.col("new_confidence") >= 0.8),
            "high",
        )
        .when(cat_changed, "medium")
        .when(sub_changed, "low")
    )
    return (
        joined.withColumn("drift_severity", severity)
        .filter(F.col("drift_severity").isNotNull())
        .select(
            "repository_id",
            "old_category",
            "new_category",
            "old_confidence",
            "new_confidence",
            "drift_severity",
        )
    )


def apply_classification(repos: DataFrame, labels: DataFrame) -> DataFrame:
    """Attach classification columns via broadcast hash join — replaces
    the reference's collect()-into-dict-closure UDFs (b2s:498,533-575;
    SURVEY §4 anti-pattern 2). Unlabeled rows get the reference default
    ("Other", "unknown", 0.1)."""
    joined = repos.join(F.broadcast(labels), "repository_id", "left")
    return joined.withColumns(
        {
            "technology_category": F.expr("coalesce(technology_category, 'Other')"),
            "technology_subcategory": F.expr(
                "coalesce(technology_subcategory, 'unknown')"
            ),
            "classification_confidence": F.expr(
                "coalesce(classification_confidence, 0.1D)"
            ),
        }
    )
