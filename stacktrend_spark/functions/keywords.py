"""Keyword extraction (reference data_transformer.py:301-318) as pure
column expressions.

The reference's ``_extract_keywords`` is a per-row Python helper: take
the first 5 topics lowercased, add any of a fixed tech-keyword list
found in the description, cap at 10. Re-expressed here as built-in
array/string functions — JVM-side, codegen'd, no UDF — with one
deliberate semantic pin: the reference accumulates into a ``set()``
(iteration order unspecified), while this version defines a
deterministic order (topics in input order first, then tech keywords in
list order, first occurrence wins) so results are stable across runs
and engines.

The kernel is SQL text (``extract_keywords_sql``) so the silver builder
hands it to the engine in one parse; ``extract_keywords`` is its Column
form.
"""

from __future__ import annotations

from pyspark.sql import Column

from stacktrend_spark.functions.sqltext import apply_sql

#: dt:310-312 — the fixed keyword vocabulary scanned for in descriptions
TECH_KEYWORDS = (
    "api",
    "framework",
    "library",
    "tool",
    "cli",
    "web",
    "mobile",
    "database",
    "ml",
    "ai",
    "data",
    "analytics",
    "microservice",
)

MAX_TOPICS = 5  # dt:306
MAX_KEYWORDS = 10  # dt:318


def extract_keywords_sql(description: str, topics: str) -> str:
    """SQL text of the keyword array for the SQL operands
    ``description`` and ``topics``."""
    topk = (
        f"slice(transform(coalesce({topics}, CAST(array() AS ARRAY<STRING>)), "
        f"t -> lower(trim(t))), 1, {MAX_TOPICS})"
    )
    vocabulary = ", ".join(f"'{k}'" for k in TECH_KEYWORDS)
    hits = (
        f"filter(array({vocabulary}),"
        f" kw -> contains(lower(coalesce({description}, '')), kw))"
    )
    return f"slice(array_distinct(concat({topk}, {hits})), 1, {MAX_KEYWORDS})"


def extract_keywords(description: Column | str, topics: Column | str) -> Column:
    """array<string> of ≤10 keywords: ≤5 lowercased topics + matched
    tech keywords, deduplicated preserving first occurrence."""
    return apply_sql(extract_keywords_sql, description, topics)
