"""Corpus SELECTION plans: the decide-what-to-train-on layer.

Three first-class operators a 100 TB pretraining pipeline runs after
cleaning/dedup (plans/curation.py) and before packing (pack_sequences):

- ``c4_boilerplate_ngrams`` — CROSS-document boilerplate detection:
  n-grams shared by many documents of the same source (nav bars,
  license footers, templated headers) flagged by relative document
  frequency, per-doc contamination scored. The C4/RefinedWeb
  "repeated-line removal" stage, expressed n-gram-wise because the
  synthetic corpus has no newlines.
- ``quality_budget_cut`` — global token-budget selection: keep the
  highest-quality documents until a corpus-wide token budget is
  exhausted. The ranking prefix-sum uses the two-phase scalable
  running sum (operators/ranking.py) — no single-partition window
  anywhere, so the cut works at any corpus size.
- ``curriculum_stage_assign`` — exact global quantile staging for
  curriculum training: every document assigned to one of K difficulty
  stages by global rank, again via the two-phase scalable rank.

All scores/shares are exact integer arithmetic (DIV / basis points),
so both engines produce bit-identical values.

Reference anchor: the reference pipeline's quality gating lives in
data_transformation.py's silver filters (dt:221-268); these operators
generalize that gate to budgeted/staged corpus selection, which the
reference performs implicitly via its classifier thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table


def _word_ngrams(words_col: str, n: int) -> Column:
    """Array of space-joined word n-grams (same construction as
    plans/curation.py so oracles can mirror it with list slices).
    Guarded: Spark's sequence(0, negative) yields a DESCENDING array
    (phantom n-grams) for docs with fewer than n words, where DuckDB's
    generate_series is empty — the when() keeps degenerate docs
    engine-identical (r8 parity-audit sweep)."""
    return F.when(
        F.size(words_col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words_col) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col(words_col), i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Boilerplate n-grams (C4-style repeated-content removal, cross-doc).
# Scale shape: ONE explode of the corpus into trigram instances; the
# boilerplate dictionary is a (source, trigram) aggregate — map-side
# combinable, output bounded by the vocabulary, joined back by key (at
# production scale the per-source dictionaries are small enough that
# AQE broadcasts them; the shuffle-join fallback is still key-local).
# Relative threshold (>1% of the source's docs, df>=2) keeps the
# definition meaningful at every sf.
# ---------------------------------------------------------------------------
_BOILER_PCT = 1      # df must exceed this % of the source's documents
_KEEP_BP = 2000      # keep docs with <= 20.00% boilerplate trigram share


@register(
    "c4_boilerplate_ngrams",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents
        ),
        inst AS (
            SELECT doc_id, source,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                          i -> array_to_string(w[i:i + 2], ' '))) AS tg
            FROM words
        ),
        nsrc AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
            FROM documents GROUP BY 1
        ),
        dict AS (
            SELECT i.source, i.tg,
                   CAST(COUNT(DISTINCT i.doc_id) AS BIGINT) AS df_docs
            FROM inst i GROUP BY 1, 2
        ),
        boiler AS (
            SELECT d.source, d.tg
            FROM dict d JOIN nsrc s USING (source)
            WHERE d.df_docs >= 2 AND d.df_docs * 100 > s.n_src * {_BOILER_PCT}
        ),
        scored AS (
            SELECT i.doc_id, i.source,
                   CAST(COUNT(*) AS BIGINT) AS n_trigrams,
                   CAST(COUNT(b.tg) AS BIGINT) AS n_boiler
            FROM inst i
            LEFT JOIN boiler b ON i.source = b.source AND i.tg = b.tg
            GROUP BY 1, 2
        )
        SELECT doc_id, source, n_trigrams, n_boiler,
               CAST(n_boiler * 10000 // n_trigrams AS BIGINT) AS boiler_bp,
               n_boiler * 10000 // n_trigrams <= {_KEEP_BP}    AS keep
        FROM scored
    """,
    doc=(
        "Cross-document boilerplate: trigrams present in >1% of a "
        "source's docs (df>=2) are boilerplate; per-doc contamination "
        "in exact basis points + keep gate. The C4 repeated-content "
        "stage over a newline-free corpus."
    ),
)
def c4_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    inst = docs.select(
        "doc_id", "source", F.explode(_word_ngrams("w", 3)).alias("tg")
    )
    nsrc = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    dict_df = inst.groupBy("source", "tg").agg(
        F.countDistinct("doc_id").alias("df_docs")
    )
    boiler = (
        dict_df.join(F.broadcast(nsrc), "source")
        .filter(
            (F.col("df_docs") >= 2)
            & (F.col("df_docs") * 100 > F.col("n_src") * _BOILER_PCT)
        )
        .select("source", "tg", F.lit(1).alias("is_boiler"))
    )
    scored = (
        inst.join(boiler, ["source", "tg"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.count("is_boiler").cast("long").alias("n_boiler"),
        )
    )
    bp = F.expr("n_boiler * 10000 DIV n_trigrams")
    return scored.select(
        "doc_id",
        "source",
        "n_trigrams",
        "n_boiler",
        bp.cast("long").alias("boiler_bp"),
        (bp <= _KEEP_BP).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Global token-budget quality cut. Quality = distinct-word ratio in
# exact permille; the corpus-wide prefix sum over (quality desc, id)
# uses the two-phase scalable running sum — per-partition window after
# a range partition, partial sums to the driver (one row per
# partition), broadcast offsets back. No single-partition stage, so
# the same plan cuts a 10^11-document corpus.
# ---------------------------------------------------------------------------
_BUDGET_DIV = 4  # keep the best docs until 1/4 of all tokens are spent


@register(
    "quality_budget_cut",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) * 1000
                        // len(string_split(text, ' ')) AS BIGINT) AS quality
            FROM documents
        ),
        budget AS (
            SELECT CAST(SUM(tokens) // {_BUDGET_DIV} AS BIGINT) AS b FROM scored
        ),
        cum AS (
            SELECT *,
                   CAST(SUM(tokens) OVER (
                       ORDER BY quality DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS running
            FROM scored
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT)      AS n_kept,
               CAST(SUM(tokens) AS BIGINT)   AS tokens_kept,
               CAST(MIN(quality) AS BIGINT)  AS min_quality_kept,
               CAST(MAX(quality) AS BIGINT)  AS max_quality_kept
        FROM cum, budget
        WHERE running <= b
        GROUP BY source
    """,
    doc=(
        "Token-budget data selection: keep highest-quality docs "
        "(exact permille distinct-word ratio) until 25% of corpus "
        "tokens are spent; scalable two-phase prefix sum, no "
        "single-partition window."
    ),
)
def quality_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size("w").cast("long").alias("tokens"),
        F.expr("size(array_distinct(w)) * 1000 DIV size(w)")
        .cast("long")
        .alias("quality"),
    )
    budget = scored.agg(
        F.expr(f"CAST(SUM(tokens) DIV {_BUDGET_DIV} AS BIGINT)").alias("b")
    )
    cum = global_running_sum_scalable(
        scored,
        [F.col("quality").desc(), F.col("doc_id")],
        "tokens",
        "running",
    )
    kept = cum.crossJoin(F.broadcast(budget)).filter(
        F.col("running") <= F.col("b")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("tokens").cast("long").alias("tokens_kept"),
        F.min("quality").cast("long").alias("min_quality_kept"),
        F.max("quality").cast("long").alias("max_quality_kept"),
    )


# ---------------------------------------------------------------------------
# Curriculum staging: K global difficulty quantiles by exact rank.
# stage = (rank-1)*K DIV n — the same integer bucketing both engines
# replay (NOT NTILE, whose remainder distribution differs); rank comes
# from the two-phase scalable global rank.
# ---------------------------------------------------------------------------
_STAGES = 4


@register(
    "curriculum_stage_assign",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                   CAST(n_chars * 100
                        // len(string_split(text, ' ')) AS BIGINT) AS difficulty
            FROM documents
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS rnk,
                   COUNT(*) OVER () AS n
            FROM scored
        )
        SELECT CAST((rnk - 1) * {_STAGES} // n AS BIGINT) AS stage,
               source,
               CAST(COUNT(*) AS BIGINT)        AS n_docs,
               CAST(SUM(tokens) AS BIGINT)     AS sum_tokens,
               CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
               CAST(MAX(difficulty) AS BIGINT) AS max_difficulty
        FROM ranked
        GROUP BY 1, 2
    """,
    doc=(
        "Curriculum staging: 4 exact global difficulty quantiles "
        "(chars-per-word in exact percent) via scalable two-phase "
        "rank; per (stage, source) doc/token rollup."
    ),
)
def curriculum_stage_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size("w").cast("long").alias("tokens"),
        F.expr("n_chars * 100 DIV size(w)").cast("long").alias("difficulty"),
    )
    ranked = global_rank_scalable(
        scored, [F.col("difficulty"), F.col("doc_id")], rank_col="rnk"
    )
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    staged = ranked.crossJoin(F.broadcast(n)).withColumn(
        "stage", F.expr(f"(rnk - 1) * {_STAGES} DIV n").cast("long")
    )
    return staged.groupBy("stage", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("sum_tokens"),
        F.min("difficulty").cast("long").alias("min_difficulty"),
        F.max("difficulty").cast("long").alias("max_difficulty"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty decay: how much NEW content does each additional
# slice of the corpus contribute? Each distinct trigram is attributed
# to the document where it first appears (min doc_id — one map-side-
# combinable aggregate over the trigram stream); docs are bucketed
# into ingestion-order deciles by two-phase global rank. The marginal-
# novelty curve is the data-mixing diagnostic for "is more of this
# source still worth ingesting at 100 TB, or is it redundant?".
# ---------------------------------------------------------------------------
_DECILES = 10


@register(
    "ngram_novelty_decay",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        tg AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                          i -> array_to_string(w[i:i + 2], ' '))) AS g
            FROM words
        ),
        counts AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tg FROM tg GROUP BY 1
        ),
        novel AS (
            SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS n_novel
            FROM (SELECT g, MIN(doc_id) AS first_doc FROM tg GROUP BY 1)
            GROUP BY 1
        ),
        per_doc AS (
            SELECT c.doc_id, c.n_tg, COALESCE(v.n_novel, 0) AS n_novel
            FROM counts c LEFT JOIN novel v ON v.first_doc = c.doc_id
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
                   COUNT(*) OVER () AS n
            FROM per_doc
        )
        SELECT CAST((rnk - 1) * {_DECILES} // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT)     AS n_docs,
               CAST(SUM(n_tg) AS BIGINT)    AS n_trigrams,
               CAST(SUM(n_novel) AS BIGINT) AS n_novel,
               CAST(SUM(n_novel) * 10000 // SUM(n_tg) AS BIGINT) AS novelty_bp
        FROM ranked
        GROUP BY 1
    """,
    doc=(
        "Marginal-novelty curve: distinct trigrams attributed to their "
        "first document, docs bucketed into ingestion-order deciles by "
        "scalable two-phase rank; per-decile novelty in exact basis "
        "points."
    ),
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    # NO instances-vs-vocabulary join (A/B at sf0.1: cold 8.1 -> 2.3 s):
    # a doc's novel count is just the first-occurrence aggregate
    # re-grouped by its min doc — two map-side-combinable aggregates
    # over the trigram stream and a doc-cardinality left join.
    tg = local_checkpoint(
        docs.select("doc_id", F.explode(F.array_distinct(_word_ngrams("w", 3))).alias("g"))
    )
    counts = tg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tg")
    )
    novel = (
        tg.groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    per_doc = counts.join(
        novel, counts.doc_id == novel.first_doc, "left"
    ).select(
        "doc_id",
        "n_tg",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    ranked = global_rank_scalable(per_doc, [F.col("doc_id")], rank_col="rnk")
    n = per_doc.agg(F.count(F.lit(1)).alias("n"))
    bucketed = ranked.crossJoin(F.broadcast(n)).withColumn(
        "decile", F.expr(f"(rnk - 1) * {_DECILES} DIV n").cast("long")
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tg").cast("long").alias("n_trigrams"),
        F.sum("n_novel").cast("long").alias("n_novel"),
        F.expr("SUM(n_novel) * 10000 DIV SUM(n_tg)")
        .cast("long")
        .alias("novelty_bp"),
    )


# ---------------------------------------------------------------------------
# Corpus datasheet: the one-row "datasheet for a dataset" rollup a
# training run records next to its checkpoint — size, composition,
# exact-dup mass, vocabulary shape. Two corpus-wide aggregates (row
# stats + vocabulary), both map-side combinable, joined as 1-row
# broadcasts; nothing else. Ratios in exact basis points.
# ---------------------------------------------------------------------------
@register(
    "corpus_datasheet",
    oracle="""
        WITH row_stats AS (
            SELECT CAST(COUNT(*) AS BIGINT)                       AS n_docs,
                   CAST(COUNT(DISTINCT source) AS BIGINT)         AS n_sources,
                   CAST(COUNT(DISTINCT lang) AS BIGINT)           AS n_langs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                                                                  AS n_tokens,
                   CAST(COUNT(DISTINCT md5(text)) AS BIGINT)      AS n_distinct_texts,
                   CAST(COUNT(CASE WHEN len(string_split(text, ' ')) < 50
                              THEN 1 END) AS BIGINT)              AS n_short
            FROM documents
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        )
        SELECT n_docs, n_sources, n_langs, n_tokens, n_distinct_texts,
               CAST(n_tokens // n_docs AS BIGINT)                   AS mean_tokens,
               CAST(n_short * 10000 // n_docs AS BIGINT)            AS short_bp,
               CAST((n_docs - n_distinct_texts) * 10000 // n_docs
                    AS BIGINT)                                      AS exact_dup_bp,
               n_types,
               CAST(n_tokens // n_types AS BIGINT)                  AS tokens_per_type
        FROM row_stats CROSS JOIN vocab
    """,
    doc=(
        "One-row corpus datasheet: docs/sources/langs/tokens, exact-dup "
        "mass via content digests, short-doc share, vocabulary size and "
        "tokens-per-type - all exact integers, two map-side aggregates."
    ),
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    row_stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.size("w")).cast("long").alias("n_tokens"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts"),
        F.count(F.when(F.size("w") < 50, 1)).cast("long").alias("n_short"),
    )
    vocab = (
        docs.select(F.explode("w").alias("word"))
        .agg(F.countDistinct("word").cast("long").alias("n_types"))
    )
    return row_stats.crossJoin(F.broadcast(vocab)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "n_tokens",
        "n_distinct_texts",
        # r13 empty-corpus fix: zero docs / zero types zeroed the
        # per-doc divisors — ANSI crash vs the oracle's natural NULL
        F.expr(
            "CASE WHEN n_docs = 0 THEN NULL"
            " ELSE n_tokens DIV n_docs END"
        )
        .cast("long")
        .alias("mean_tokens"),
        F.expr(
            "CASE WHEN n_docs = 0 THEN NULL"
            " ELSE n_short * 10000 DIV n_docs END"
        )
        .cast("long")
        .alias("short_bp"),
        F.expr(
            "CASE WHEN n_docs = 0 THEN NULL"
            " ELSE (n_docs - n_distinct_texts) * 10000 DIV n_docs END"
        )
        .cast("long")
        .alias("exact_dup_bp"),
        "n_types",
        F.expr(
            "CASE WHEN n_types = 0 THEN NULL"
            " ELSE n_tokens DIV n_types END"
        )
        .cast("long")
        .alias("tokens_per_type"),
    )
