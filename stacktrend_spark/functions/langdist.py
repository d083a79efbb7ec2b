"""Language-distribution as a pure column expression.

Reproduces ``extract_language_distribution`` (bronze_to_silver_
transformation.py:403-445), which the reference runs as a row-at-a-time
Python UDF (b2s:616-618) — here it is Spark SQL higher-order functions
end-to-end (SURVEY §2.9 F1 ⟲): codegen-friendly, no Python workers.

Reference semantics preserved exactly:
- a non-empty primary language (not 'null'/'none') gets 70%;
- every topic containing a known language keyword appends that
  language's display name (duplicates INCLUDED — they dilute the
  per-language share, a reference quirk we keep);
- unique topic languages (first-occurrence order) split the remaining
  30% (100% if no primary) divided by the OCCURRENCE count;
- a topic language equal (exact string) to the primary key is skipped;
- nothing found → {'Unknown': 100.0};
- values normalized to sum 100, rounded half-even to 1 decimal
  (Python round == Spark bround).

The kernel is SQL text (``language_distribution_sql``) so the silver
builder hands it to the engine in one parse. Each intermediate — the
matched topic languages, the (keys, values) pair and the total — is
bound once per row through ``sqltext.let`` instead of being re-derived
inside every branch and lambda that uses it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from stacktrend_spark.functions.sqltext import apply_sql, let

#: keyword → display name (b2s:412-419), insertion order significant
PROGRAMMING_LANGUAGES: tuple[tuple[str, str], ...] = (
    ("python", "Python"), ("javascript", "JavaScript"), ("typescript", "TypeScript"),
    ("java", "Java"), ("go", "Go"), ("rust", "Rust"), ("cpp", "C++"), ("c++", "C++"),
    ("csharp", "C#"), ("c#", "C#"), ("php", "PHP"), ("ruby", "Ruby"),
    ("swift", "Swift"), ("kotlin", "Kotlin"), ("scala", "Scala"), ("r", "R"),
    ("julia", "Julia"), ("shell", "Shell"), ("bash", "Shell"),
    ("dockerfile", "Dockerfile"), ("yaml", "YAML"), ("json", "JSON"), ("sql", "SQL"),
)

_LANG_PAIRS = (
    "array("
    + ", ".join(f"struct('{k}' AS key, '{v}' AS name)" for k, v in PROGRAMMING_LANGUAGES)
    + ")"
)


def _bround(v: str) -> str:
    return f"bround({v}, 1)"


def language_distribution_sql(
    language: str, topics: str, round_sql: Callable[[str], str] = _bround
) -> str:
    """SQL text of the Map<String,Double> of language shares for the SQL
    operands ``language`` and ``topics``; ``round_sql`` renders the
    per-share rounding (default the reference's half-even
    ``bround(x, 1)``)."""
    # per topic: all matching display names, in rule order; flattened in
    # topic order — matches the reference's nested-loop append order
    matched = (
        f"flatten(transform(coalesce({topics}, array()), t -> transform("
        f"filter({_LANG_PAIRS}, p -> contains(lower(t), p.key)), p -> p.name)))"
    )
    has_primary = (
        "(ld_in.lang IS NOT NULL AND trim(ld_in.lang) != '' "
        "AND NOT (lower(ld_in.lang) IN ('null', 'none')))"
    )
    # unique topic languages in first-occurrence order, minus an exact
    # string match of the primary key (the reference keys primaries by
    # the RAW language value, so only exact equality collides)
    uniq_minus_primary = (
        "CASE WHEN ld_n.hp THEN array_remove(array_distinct(ld_in.m), ld_in.lang) "
        "ELSE array_distinct(ld_in.m) END"
    )
    # remaining share (30 with a primary, else 100) per topic OCCURRENCE
    per_lang = "CASE WHEN ld_n.hp THEN 30.0D ELSE 100.0D END / CAST(ld_n.n AS DOUBLE)"
    keys = (
        "CASE WHEN ld_n.hp AND ld_n.n > 0 THEN concat(array(ld_in.lang), ld_u.u) "
        "WHEN ld_n.hp THEN array(ld_in.lang) "
        "WHEN ld_n.n > 0 THEN ld_u.u "
        "ELSE array('Unknown') END"
    )
    vals = (
        f"CASE WHEN ld_n.hp AND ld_n.n > 0 THEN concat(array(70.0D), transform(ld_u.u, u -> {per_lang})) "
        "WHEN ld_n.hp THEN array(70.0D) "
        f"WHEN ld_n.n > 0 THEN transform(ld_u.u, u -> {per_lang}) "
        "ELSE array(100.0D) END"
    )
    total = "aggregate(ld_kv.vals, 0.0D, (acc, x) -> acc + x)"
    shares = (
        f"map_from_arrays(ld_kv.keys, transform(ld_kv.vals, v -> "
        f"{round_sql('v / ld_total * 100.0D')}))"
    )
    return let(
        f"named_struct('lang', {language}, 'm', {matched})",
        "ld_in",
        let(
            f"named_struct('hp', {has_primary}, 'n', size(ld_in.m))",
            "ld_n",
            let(
                f"named_struct('u', {uniq_minus_primary})",
                "ld_u",
                let(
                    f"named_struct('keys', {keys}, 'vals', {vals})",
                    "ld_kv",
                    let(total, "ld_total", shares),
                ),
            ),
        ),
    )


def language_distribution(
    language: Column | str, topics: Column | str, round_fn=None
) -> Column:
    """Map<String,Double> of estimated language shares (sums to ~100).

    ``round_fn(col) -> col`` overrides the final per-share rounding;
    default is the reference's ``bround(x, 1)`` (Python round,
    half-even). The oracle-checked query passes the shared
    deterministic half-up formula instead, because DuckDB's ROUND is
    half-up and the two differ on exactly-representable ties."""
    if round_fn is None:
        return apply_sql(language_distribution_sql, language, topics)
    unrounded = apply_sql(
        lambda lang, tops: language_distribution_sql(lang, tops, round_sql=lambda v: v),
        language,
        topics,
    )
    return F.transform_values(unrounded, lambda _, v: round_fn(v))
