"""Training-corpus curation operators: decontamination + repetition gate.

Two canonical large-scale LLM-data-pipeline steps the reference has no
analogue for (its text handling stops at classification tags —
bronze_to_silver.py tech/topic labels):

- **Benchmark decontamination**: drop training documents that share any
  word n-gram with a held-out benchmark set (the standard n-gram-overlap
  decontamination used by every serious pretraining pipeline). Here the
  "benchmark" is a deterministic slice of the documents table
  (doc_id % 50 = 0) so the check is self-contained and oracle-able.
- **Repetition quality gate** (Gopher-style): per-document duplicate-word
  fraction and top-bigram share; documents dominated by a repeated
  phrase fail the gate.

100 TB notes: gram explosion is map-side (no shuffle until the
aggregate); the benchmark gram set is tiny by construction (benchmarks
are MBs, corpora are TBs) so the contamination join broadcasts it —
the corpus is never shuffled at all. Repetition stats shuffle once on
doc_id (the explode keeps doc_id as the partition key). Shares are
single divisions of exact integers — correctly rounded IEEE ops,
bit-identical across engines without rounding helpers (PARITY.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

#: word n-gram width for decontamination (real pipelines use 10-13; the
#: synthetic docs are ~10-40 words, so 8 keeps overlap non-degenerate)
_NGRAM = 8


def _word_ngrams(words_col: str, n: int):
    """Array of space-joined word n-grams (empty when fewer than n words)."""
    return F.expr(
        f"if(size({words_col}) >= {n}, "
        f"transform(sequence(1, size({words_col}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({words_col}, i, {n}))), "
        "array())"
    )


@register(
    "text_decontaminate",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(w) - {_NGRAM - 1}),
                       i -> array_to_string(w[i:i + {_NGRAM - 1}], ' '))) AS gram
            FROM words
        ),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
        hits AS (
            SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM (SELECT * FROM grams WHERE doc_id % 50 <> 0) c
            JOIN bench b USING (gram)
            GROUP BY 1
        )
        SELECT
            w.doc_id,
            CAST(GREATEST(len(w.w) - {_NGRAM - 1}, 0) AS BIGINT) AS n_grams,
            CAST(COALESCE(h.n_hits, 0) AS BIGINT)                AS n_hits,
            COALESCE(h.n_hits, 0) > 0                            AS contaminated
        FROM words w
        LEFT JOIN hits h USING (doc_id)
        WHERE w.doc_id % 50 <> 0
    """,
    doc=(
        f"{_NGRAM}-gram benchmark decontamination: training docs sharing any "
        "word n-gram with the benchmark slice are flagged; benchmark grams "
        "broadcast so the corpus never shuffles."
    ),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    is_bench = F.col("doc_id") % 50 == 0
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams("w", _NGRAM)).alias("gram")
    )
    bench = grams.filter(is_bench).select("gram").distinct()
    hits = (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        docs.filter(~is_bench)
        .select(
            "doc_id",
            F.greatest(F.size("w") - (_NGRAM - 1), F.lit(0))
            .cast("long")
            .alias("n_grams"),
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "pipeline_semantic_curation",
    # the full training-data funnel in ONE composed plan:
    #   repetition gate → benchmark decontamination → weighted domain
    #   mix (rates recomputed on the survivors) → sequence packing.
    # Output: per-source funnel counts + the global packed-bin count.
    oracle=f"""
        WITH words AS (
            SELECT doc_id, source, n_chars, string_split(text, ' ') AS w
            FROM documents
        ),
        bigrams AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> array_to_string(w[i:i + 1], ' '))) AS bg
            FROM words
        ),
        bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
        top AS (
            SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM bgc GROUP BY 1
        ),
        quality AS (
            SELECT w.* FROM words w JOIN top t USING (doc_id)
            WHERE CAST(t.top_c AS DOUBLE) / t.n_bg <= 0.1
              AND 1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) <= 0.5
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(w) - {_NGRAM - 1}),
                       i -> array_to_string(w[i:i + {_NGRAM - 1}], ' '))) AS gram
            FROM words
        ),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
        clean AS (
            SELECT q.* FROM quality q
            WHERE q.doc_id % 50 <> 0
              AND NOT EXISTS (
                  SELECT 1 FROM grams g JOIN bench b USING (gram)
                  WHERE g.doc_id = q.doc_id
              )
        ),
        cnt AS (
            SELECT source,
                   CAST(SUBSTR(source, 4) AS BIGINT) % 4 + 1 AS weight,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM clean GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) // 2 AS budget,
                   CAST(SUM(weight) AS BIGINT) AS sum_w
            FROM cnt
        ),
        thr AS (
            SELECT c.source,
                   LEAST(65536, (65536 * t.budget * c.weight)
                                // (t.sum_w * c.n)) AS threshold
            FROM cnt c CROSS JOIN tot t
        ),
        sampled AS (
            SELECT cl.doc_id, cl.source, cl.n_chars // 4 AS tokens
            FROM clean cl JOIN thr t USING (source)
            WHERE ((cl.doc_id % 65536) * 40503 + 1299721) % 65536 < t.threshold
        ),
        packed AS (
            SELECT tokens,
                   SUM(tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM sampled
        ),
        nbins AS (
            SELECT CAST(COUNT(DISTINCT (cum - tokens) // 2048) AS BIGINT)
                   AS n_bins
            FROM packed
        )
        SELECT i.source,
               i.n_input,
               CAST(COALESCE(q.n, 0) AS BIGINT)   AS n_quality,
               CAST(COALESCE(c.n, 0) AS BIGINT)   AS n_clean,
               CAST(COALESCE(s.n, 0) AS BIGINT)   AS n_sampled,
               CAST(COALESCE(s.tok, 0) AS BIGINT) AS tokens_sampled,
               nb.n_bins                          AS n_bins_global
        FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_input
              FROM documents GROUP BY 1) i
        LEFT JOIN (SELECT source, COUNT(*) AS n FROM quality GROUP BY 1) q
               USING (source)
        LEFT JOIN (SELECT source, COUNT(*) AS n FROM clean GROUP BY 1) c
               USING (source)
        LEFT JOIN (SELECT source, COUNT(*) AS n, SUM(tokens) AS tok
                   FROM sampled GROUP BY 1) s USING (source)
        CROSS JOIN nbins nb
    """,
    doc=(
        "Flagship LLM-data funnel: repetition gate → n-gram "
        "decontamination → weighted domain mix → sequence packing, "
        "composed in one plan; per-source funnel counts, integer-only."
    ),
)
def pipeline_semantic_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )

    # stage 1 — repetition gate (Gopher-style)
    bg = docs.select("doc_id", F.explode(_word_ngrams("w", 2)).alias("bg"))
    top = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bg"))
    )
    top_share = F.col("top_c").cast("double") / F.col("n_bg")
    dup_frac = (
        F.lit(1.0)
        - F.size(F.array_distinct("w")).cast("double") / F.size("w")
    )
    quality = (
        docs.join(top, "doc_id")
        .filter((top_share <= 0.1) & (dup_frac <= 0.5))
        .select("doc_id", "source", "n_chars", "w")
    )

    # stage 2 — benchmark decontamination (bench grams broadcast)
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams("w", _NGRAM)).alias("gram")
    )
    is_bench = F.col("doc_id") % 50 == 0
    bench = grams.filter(is_bench).select("gram").distinct()
    contaminated = (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = quality.filter(~is_bench).join(contaminated, "doc_id", "left_anti")

    # stage 3 — weighted domain mix, rates recomputed on the survivors
    cnt = clean.groupBy("source").agg(
        (F.substring("source", 4, 10).cast("long") % 4 + 1).alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tot = cnt.agg(
        F.expr("CAST(SUM(n) AS BIGINT) DIV 2").alias("budget"),
        F.sum("weight").cast("long").alias("sum_w"),
    )
    thr = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(65536), F.expr("(65536 * budget * weight) DIV (sum_w * n)")
        ).alias("threshold"),
    )
    sampled = (
        clean.join(F.broadcast(thr), "source")
        .filter(F.expr(_HASH16) < F.col("threshold"))
        .select("doc_id", "source", F.expr("n_chars DIV 4").alias("tokens"))
    )

    # stage 4 — sequence packing on the sampled survivors
    packed = global_running_sum_scalable(
        sampled.select("doc_id", "tokens"), [F.col("doc_id")], "tokens", "cum"
    )
    nbins = packed.agg(
        F.countDistinct(F.expr("(cum - tokens) DIV 2048"))
        .cast("long")
        .alias("n_bins_global")
    )

    # funnel counts per source
    n_input = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_input")
    )
    n_quality = quality.groupBy("source").agg(F.count(F.lit(1)).alias("nq"))
    n_clean = clean.groupBy("source").agg(F.count(F.lit(1)).alias("nc"))
    n_sampled = sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"), F.sum("tokens").alias("tok")
    )
    return (
        n_input.join(n_quality, "source", "left")
        .join(n_clean, "source", "left")
        .join(n_sampled, "source", "left")
        .crossJoin(F.broadcast(nbins))
        .select(
            "source",
            "n_input",
            F.coalesce("nq", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("nc", F.lit(0)).cast("long").alias("n_clean"),
            F.coalesce("ns", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("tok", F.lit(0)).cast("long").alias("tokens_sampled"),
            "n_bins_global",
        )
    )


@register(
    "pack_sequences",
    # contiguous sequence packing: docs in doc_id order stream into
    # fixed 2048-token windows; a doc belongs to the window its START
    # offset falls in. Pure integer arithmetic end-to-end.
    oracle="""
        WITH t AS (
            SELECT doc_id, n_chars // 4 AS tokens FROM documents
        ),
        r AS (
            SELECT doc_id, tokens,
                   SUM(tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM t
        )
        SELECT CAST((cum - tokens) // 2048 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT)               AS n_docs,
               CAST(SUM(tokens) AS BIGINT)            AS sum_tokens,
               CAST(MIN(doc_id) AS BIGINT)            AS first_doc,
               CAST(MAX(doc_id) AS BIGINT)            AS last_doc
        FROM r GROUP BY 1
    """,
    doc=(
        "Sequence packing for pretraining: contiguous 2048-token bins "
        "over a SCALABLE two-phase running sum (range partition + local "
        "prefix + broadcast offsets) — no single-partition window."
    ),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr("n_chars DIV 4").alias("tokens"))
    r = global_running_sum_scalable(t, [F.col("doc_id")], "tokens", "cum")
    return (
        r.withColumn("bin", F.expr("(cum - tokens) DIV 2048"))
        .groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


#: 16-bit multiplicative hash: odd multiplier → a bijection of the
#: 16-bit space, so thresholds map exactly to sampling rates. Pure
#: small-int modular arithmetic — no md5 parsing, no overflow, and
#: bit-identical in any engine.
_HASH16 = "((doc_id % 65536) * 40503 + 1299721) % 65536"


@register(
    "sample_domain_mix",
    # target mix: source s gets weight w(s) = (index(s) % 4) + 1; the
    # global budget is half the corpus. keep-threshold per source is
    # pure integer arithmetic (DIV), so rates are exact and the kept
    # row SET is deterministic — reruns and engines agree row-for-row.
    oracle=f"""
        WITH cnt AS (
            -- r13 degenerate-corpus fix: a source name without the
            -- 'srcNN' numeric suffix crashed BOTH engines on the
            -- CAST(''); TRY_CAST + COALESCE(0) gives such sources
            -- weight 1 deterministically (real sources are unchanged)
            SELECT source,
                   COALESCE(TRY_CAST(SUBSTR(source, 4) AS BIGINT), 0)
                       % 4 + 1 AS weight,
                   CAST(COUNT(*) AS BIGINT)                  AS n_docs
            FROM documents GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) // 2 AS budget,
                   CAST(SUM(weight) AS BIGINT)      AS sum_w
            FROM cnt
        ),
        thr AS (
            SELECT c.source, c.weight, c.n_docs,
                   LEAST(65536, (65536 * t.budget * c.weight)
                                // (t.sum_w * c.n_docs)) AS threshold
            FROM cnt c CROSS JOIN tot t
        ),
        k AS (
            SELECT d.source, d.n_chars, t.weight, t.n_docs, t.threshold,
                   {_HASH16} < t.threshold AS kept
            FROM documents d JOIN thr t USING (source)
        )
        SELECT source,
               CAST(MAX(weight) AS BIGINT)    AS weight,
               CAST(MAX(n_docs) AS BIGINT)    AS n_docs,
               CAST(MAX(threshold) AS BIGINT) AS threshold,
               CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN kept THEN n_chars END), 0) AS BIGINT)
                                              AS sum_chars_kept
        FROM k GROUP BY 1
    """,
    doc=(
        "Weighted domain mixing: per-source keep-rates derived from a "
        "target weight mix and a global budget, applied as a "
        "deterministic 16-bit hash threshold — no RNG, map-only gate."
    ),
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        (
            F.coalesce(
                F.substring("source", 4, 10).try_cast("long"), F.lit(0)
            )
            % 4
            + 1
        ).alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = cnt.agg(
        F.expr("CAST(SUM(n_docs) AS BIGINT) DIV 2").alias("budget"),
        F.sum("weight").cast("long").alias("sum_w"),
    )
    thr = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "weight",
        "n_docs",
        F.least(
            F.lit(65536),
            F.expr("(65536 * budget * weight) DIV (sum_w * n_docs)"),
        ).alias("threshold"),
    )
    k = docs.join(F.broadcast(thr), "source").withColumn(
        "kept", F.expr(_HASH16) < F.col("threshold")
    )
    return k.groupBy("source").agg(
        F.max("weight").cast("long").alias("weight"),
        F.max("n_docs").cast("long").alias("n_docs"),
        F.max("threshold").cast("long").alias("threshold"),
        F.count(F.when(F.col("kept"), 1)).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("kept"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("sum_chars_kept"),
    )


@register(
    "text_repetition_filter",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        bigrams AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> array_to_string(w[i:i + 1], ' '))) AS bg
            FROM words
        ),
        bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
        top AS (
            SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM bgc GROUP BY 1
        )
        SELECT
            s.doc_id,
            CAST(len(s.w) AS BIGINT)                          AS n_words,
            CAST(len(list_distinct(s.w)) AS BIGINT)           AS n_distinct,
            t.top_bigram_count,
            CAST(t.top_bigram_count AS DOUBLE) / t.n_bigrams  AS top_bigram_share,
            1.0 - CAST(len(list_distinct(s.w)) AS DOUBLE) / len(s.w)
                                                              AS dup_word_frac,
            CAST(t.top_bigram_count AS DOUBLE) / t.n_bigrams <= 0.1
                AND 1.0 - CAST(len(list_distinct(s.w)) AS DOUBLE) / len(s.w) <= 0.5
                                                              AS keep
        FROM words s
        JOIN top t USING (doc_id)
    """,
    doc=(
        "Gopher-style repetition gate: duplicate-word fraction + top-bigram "
        "share per doc; shares are exact-integer divisions (ulp-safe)."
    ),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    bigrams = docs.select(
        "doc_id", F.explode(_word_ngrams("w", 2)).alias("bg")
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top_bigram_count"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    stats = docs.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct"),
    )
    top_share = F.col("top_bigram_count").cast("double") / F.col("n_bigrams")
    dup_frac = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words")
    return (
        stats.join(top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            "top_bigram_count",
            top_share.alias("top_bigram_share"),
            dup_frac.alias("dup_word_frac"),
            ((top_share <= 0.1) & (dup_frac <= 0.5)).alias("keep"),
        )
    )


@register(
    "dedup_doc_prefix",
    # the 'g' flag on DuckDB's regexp_replace matches Spark's
    # replace-all default; md5 is bit-identical in both engines
    oracle=r"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   SUBSTR(text, 1, LENGTH(text) - 20) AS text
            FROM documents WHERE doc_id % 5 = 0
        ),
        keyed AS (
            SELECT doc_id,
                   md5(SUBSTR(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')),
                              1, 64)) AS prefix_digest
            FROM corpus
        )
        SELECT prefix_digest,
               MIN(doc_id)              AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM keyed GROUP BY prefix_digest
    """,
    doc="Prefix-key dedup: normalized 64-char head digest — the crawl boilerplate-collapse pass.",
)
def dedup_doc_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/prefix deduplication: crawl corpora are full of
    documents that differ only after a shared head (mirrors, pagination
    tails, truncations). Keying on a digest of the normalized 64-char
    prefix collapses them in ONE map-side digest + one shuffle —
    the cheap pass that runs before MinHash-LSH in a curation funnel
    (same corpus construction as dedup_minhash_lsh's near-dup corpus,
    whose truncated copies this pass catches exactly).

    Scale: digest keys are uniform — skew-free shuffle; the map side
    is pure codegen string ops, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 20)").alias("text"),
    )
    corpus = docs.unionByName(copies)
    keyed = corpus.select(
        "doc_id",
        F.md5(
            F.substring(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                1,
                64,
            )
        ).alias("prefix_digest"),
    )
    return keyed.groupBy("prefix_digest").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Sliding-window document chunking — the RAG / pretraining-prep step
# that turns long documents into overlapping fixed-width token windows.
# Map-only (split → sequence → explode → slice), so at 100 TB it is a
# single scan with zero shuffles; chunk counts derive from pure integer
# arithmetic, so the chunk SET is deterministic and engine-identical.
# Beyond-reference addition (training-data pipeline family).
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # window width (tokens)
_CHUNK_S = 48  # stride (16-token overlap)


@register(
    "text_chunk_windows",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        chunks AS (
            SELECT doc_id, n, w,
                   unnest(generate_series(0,
                       CASE WHEN n > {_CHUNK_W}
                            THEN (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
                            ELSE 0 END)) AS chunk_id
            FROM words
        )
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(w[chunk_id * {_CHUNK_S} + 1 :
                         LEAST(chunk_id * {_CHUNK_S} + {_CHUNK_W}, n)])
                    AS BIGINT) AS chunk_tokens,
               array_to_string(w[chunk_id * {_CHUNK_S} + 1 :
                                 LEAST(chunk_id * {_CHUNK_S} + {_CHUNK_W}, n)],
                               ' ') AS chunk_text
        FROM chunks
    """,
    doc=(
        f"Sliding-window chunking ({_CHUNK_W}-token windows, stride "
        f"{_CHUNK_S}): overlapping chunks for RAG/pretraining prep — "
        "map-only, no shuffle, integer-exact chunk grid."
    ),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    n_last = (  # index of the last window: ceil((n-W)/S) for n>W else 0
        F.when(
            n > _CHUNK_W,
            F.expr(f"(size(split(text, ' ')) - {_CHUNK_W} + {_CHUNK_S} - 1) "
                   f"DIV {_CHUNK_S}"),
        ).otherwise(F.lit(0))
    )
    chunked = docs.select(
        "doc_id",
        w.alias("w"),
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("w"),
        F.col("chunk_id") * _CHUNK_S + 1,
        F.least(
            F.lit(_CHUNK_W),
            F.col("n") - F.col("chunk_id") * _CHUNK_S,
        ),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(sliced).cast("long").alias("chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch sharding — the "global shuffle" of a training-data
# pipeline. Real pretraining runs need each epoch's corpus order to be
# (a) uniformly mixed, (b) reproducible, and (c) computable without a
# global sort: shard = f(doc_id, epoch) via a salted md5 nibble gives a
# stable 16-way partition per epoch that any worker can recompute
# locally. Map-only until the tiny (epoch, shard) aggregate — at 100 TB
# the shard assignment rides along with the scan; nothing shuffles but
# the 48-row summary. Beyond-reference addition.
# ---------------------------------------------------------------------------

#: epochs per training run and shards per epoch
_N_EPOCHS = 3
_N_SHARDS = 16


@register(
    "corpus_shard_assign",
    oracle=f"""
        WITH assign AS (
            SELECT d.doc_id, d.n_chars, e.epoch,
                   STRPOS('0123456789abcdef',
                          SUBSTR(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                     || CAST(e.epoch AS VARCHAR)), 1, 1)) - 1
                       AS shard
            FROM documents d
            CROSS JOIN (SELECT unnest(generate_series(0, {_N_EPOCHS - 1}))
                        AS epoch) e
        )
        SELECT
            CAST(epoch AS BIGINT)      AS epoch,
            CAST(shard AS BIGINT)      AS shard,
            CAST(COUNT(*) AS BIGINT)   AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
            CAST(MIN(doc_id) AS BIGINT)  AS min_doc,
            CAST(MAX(doc_id) AS BIGINT)  AS max_doc
        FROM assign
        GROUP BY 1, 2
    """,
    doc=(
        f"Deterministic epoch sharding: shard = md5(doc_id:epoch) first "
        f"nibble over {_N_SHARDS} shards x {_N_EPOCHS} epochs — the "
        "reproducible global shuffle of a training pipeline, map-only."
    ),
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    epochs = spark.range(_N_EPOCHS).select(F.col("id").alias("epoch"))
    # hex nibble -> int via position in the hex alphabet: identical
    # semantics in Spark (locate) and DuckDB (STRPOS), no hex parsing
    shard = F.expr(
        "locate(substring(md5(cast(concat(cast(doc_id as string), ':', "
        "cast(epoch as string)) as binary)), 1, 1), '0123456789abcdef') - 1"
    )
    return (
        docs.crossJoin(F.broadcast(epochs))
        .select("doc_id", "n_chars", "epoch", shard.alias("shard"))
        .groupBy(
            F.col("epoch").cast("long").alias("epoch"),
            F.col("shard").cast("long").alias("shard"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Two-pass heavy hitters — the scalable "frequent items" pattern. A
# single groupBy over every n-gram of a 100 TB corpus shuffles the full
# gram stream; the two-pass form shuffles (1) a deterministic 1/8
# sample and (2) only the candidate grams that sample heavy (semi-join
# broadcast against the corpus stream). Items are compared by integer
# CROSS-MULTIPLICATION against the frequency threshold (n·1000 ≥ total
# for 0.1%), so there is no division anywhere and the oracle replicates
# the arithmetic exactly. The deterministic sample makes the usual
# statistical miss-risk reproducible: both engines see the identical
# sample, candidates, and final set. Beyond-reference addition.
# ---------------------------------------------------------------------------

#: heavy-hitter rate: n/total >= 1/_HH_RATE_INV (0.1%)
_HH_RATE_INV = 1000
#: deterministic sample: doc_id % _HH_SAMPLE_MOD == 0 (1/8 of docs)
_HH_SAMPLE_MOD = 8


@register(
    "heavy_hitters_twopass",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM words
        ),
        total AS (SELECT COUNT(*) AS t FROM grams),
        sample_counts AS (
            SELECT gram, COUNT(*) AS sn FROM grams
            WHERE doc_id % {_HH_SAMPLE_MOD} = 0 GROUP BY 1
        ),
        candidates AS (
            -- sample-heavy at half the target rate, scaled by the
            -- sample modulus: sn * mod * rate_inv * 2 >= total
            SELECT gram FROM sample_counts, total
            WHERE sn * {_HH_SAMPLE_MOD} * {_HH_RATE_INV} * 2 >= t
        ),
        exact AS (
            SELECT g.gram, COUNT(*) AS n
            FROM grams g JOIN candidates c USING (gram)
            GROUP BY 1
        )
        SELECT gram AS bigram, CAST(n AS BIGINT) AS n_occurrences
        FROM exact, total
        WHERE n * {_HH_RATE_INV} >= t
    """,
    doc=(
        f"Two-pass heavy hitters over word bigrams (rate 1/{_HH_RATE_INV}): "
        f"deterministic 1/{_HH_SAMPLE_MOD} doc sample nominates candidates, "
        "exact pass counts only those — integer cross-multiplied "
        "thresholds, no division, full-corpus shuffle avoided."
    ),
)
def heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    grams = docs.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("gram"),
    )  # size>=2 guard: sequence(1,0) is DESCENDING in Spark (r8 sweep)
    # bounded driver scalar. r5 (ADVICE): the gram total is derived
    # ARITHMETICALLY from per-doc word counts — Σ(size(w)−1) — which
    # scans documents once WITHOUT the explode, instead of counting the
    # exploded gram stream (a full extra corpus explode). The corpus is
    # now exploded twice, not three times: the 1/16 sample pass (filter
    # pushed below the explode) and the exact candidates pass.
    total = docs.select(
        F.sum(F.size("w") - F.lit(1)).cast("long").alias("t")
    ).collect()[0]["t"]
    sample_counts = (
        grams.filter(F.col("doc_id") % _HH_SAMPLE_MOD == 0)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("sn"))
    )
    candidates = sample_counts.filter(
        F.col("sn") * _HH_SAMPLE_MOD * _HH_RATE_INV * 2 >= F.lit(total)
    ).select("gram")
    exact = (
        grams.join(F.broadcast(candidates), "gram")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return exact.filter(F.col("n") * _HH_RATE_INV >= F.lit(total)).select(
        F.col("gram").alias("bigram"),
        F.col("n").cast("long").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# Containment (subset) join — keyword alerting over a corpus: a query
# matches a document when ALL its terms appear in the document. The
# scalable form is an inverted-index join: explode documents to
# DISTINCT (doc, token), equi-join the (tiny, broadcast) query-term
# list, and a query matches where its hit-count equals its term count.
# Corpus-side cost is one explode + one aggregate; there is never a
# doc×query cross product. Beyond-reference addition.
# ---------------------------------------------------------------------------

#: number of two-term keyword queries (built from the corpus vocabulary)
_N_KW_QUERIES = 10


@register(
    "containment_join_keywords",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) AS vid
            FROM (SELECT DISTINCT tok FROM toks)
        ),
        queries AS (
            SELECT a.vid AS query_id, a.tok AS term FROM vocab a
            WHERE a.vid <= {_N_KW_QUERIES}
            UNION ALL
            SELECT a.vid AS query_id, b.tok AS term
            FROM vocab a JOIN vocab b ON b.vid = a.vid + 1
            WHERE a.vid <= {_N_KW_QUERIES}
        ),
        hits AS (
            SELECT q.query_id, t.doc_id, COUNT(*) AS n_hit
            FROM toks t JOIN queries q ON t.tok = q.term
            GROUP BY 1, 2
        )
        SELECT
            CAST(query_id AS BIGINT) AS query_id,
            CAST(COUNT(CASE WHEN n_hit = 2 THEN 1 END) AS BIGINT)
                                     AS n_matching_docs,
            CAST(COUNT(*) AS BIGINT) AS n_partial_docs
        FROM hits
        GROUP BY 1
    """,
    doc=(
        f"Containment join: {_N_KW_QUERIES} two-term keyword queries "
        "(adjacent vocabulary pairs) matched against documents via an "
        "inverted-index equi-join — a query matches where its hit "
        "count equals its term count; no doc x query product."
    ),
)
def containment_join_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # two consumers (vocabulary derivation + the index join), recomputed:
    # measured faster than a checkpoint
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).distinct()
    vocab = (
        toks.select("tok")
        .distinct()
        .withColumn("vid", F.row_number().over(W.orderBy("tok")))
    )
    # vocabulary is tiny (distinct tokens), so the single-partition
    # window above is bounded; the query list built from it is then
    # BROADCAST against the corpus-side token stream
    a, b = vocab.alias("a"), vocab.alias("b")
    queries = (
        a.filter(F.col("a.vid") <= _N_KW_QUERIES)
        .select(F.col("a.vid").alias("query_id"), F.col("a.tok").alias("term"))
        .unionAll(
            a.join(b, F.col("b.vid") == F.col("a.vid") + 1)
            .filter(F.col("a.vid") <= _N_KW_QUERIES)
            .select(
                F.col("a.vid").alias("query_id"), F.col("b.tok").alias("term")
            )
        )
    )
    hits = (
        toks.join(F.broadcast(queries), toks.tok == queries.term)
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return hits.groupBy(F.col("query_id").cast("long").alias("query_id")).agg(
        F.count(F.when(F.col("n_hit") == 2, 1)).cast("long").alias("n_matching_docs"),
        F.count(F.lit(1)).cast("long").alias("n_partial_docs"),
    )


# ---------------------------------------------------------------------------
# N-gram LM quality scoring — the CCNet/KenLM-style perplexity filter:
# train a bigram language model on a held-in slice, score every
# document by average bigram log-probability, gate on a threshold.
# Real pipelines use a 5-gram KenLM; the mechanics that matter at
# 100 TB are identical here: the LM is TINY relative to the corpus
# (vocab², fits in a broadcast), scoring is a map-side broadcast join
# + one groupBy(doc_id), and the corpus never shuffles for training
# (the slice aggregates are the only exchanges). Log-probs use the
# engine-exact decade-interpolated xlog10 (functions/rounding.py) and
# are summed as micro-unit BIGINTs, so the score — and the KEEP
# decision, an integer cross-multiplication — hash identically in any
# engine. Beyond-reference addition.
# ---------------------------------------------------------------------------

#: LM training slice: doc_id % _LM_SLICE_MOD == 0
_LM_SLICE_MOD = 10


def _lm_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    lp = (
        f"CAST(FLOOR(({sql_xlog10('cb1')} - {sql_xlog10('cu1')}) * 1000000.0"
        " + 0.5) AS BIGINT)"
    )
    return f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i])) AS w1,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i + 1])) AS w2
            FROM words
        ),
        slice_bi AS (SELECT * FROM bi WHERE doc_id % {_LM_SLICE_MOD} = 0),
        cb AS (SELECT w1, w2, COUNT(*) AS c FROM slice_bi GROUP BY 1, 2),
        cu AS (SELECT w1, COUNT(*) AS c FROM slice_bi GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT w2) AS v FROM slice_bi),
        terms AS (
            SELECT b.doc_id,
                   COALESCE(cb.c, 0) + 1              AS cb1,
                   COALESCE(cu.c, 0) + v.v            AS cu1
            FROM bi b
            LEFT JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
            LEFT JOIN cu ON b.w1 = cu.w1
            CROSS JOIN v
        ),
        scored AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT)  AS n_bigrams,
                   CAST(SUM({lp}) AS BIGINT) AS sum_lp_micro
            FROM terms GROUP BY 1
        ),
        g AS (
            SELECT CAST(SUM(sum_lp_micro) AS BIGINT) AS tot_lp,
                   CAST(SUM(n_bigrams) AS BIGINT)    AS tot_n
            FROM scored
        )
        SELECT w.doc_id,
               CAST(COALESCE(s.n_bigrams, 0) AS BIGINT)    AS n_bigrams,
               CAST(COALESCE(s.sum_lp_micro, 0) AS BIGINT) AS sum_lp_micro,
               COALESCE(s.sum_lp_micro, 0) * g.tot_n
                 >= g.tot_lp * COALESCE(s.n_bigrams, 0)    AS kept
        FROM words w LEFT JOIN scored s USING (doc_id) CROSS JOIN g
    """


@register(
    "text_lm_score",
    oracle=_lm_oracle(),
    doc=(
        "Bigram-LM quality scoring (CCNet/KenLM-style): LM trained on "
        f"the doc_id%{_LM_SLICE_MOD}==0 slice, add-1 smoothed, scores "
        "as exact micro-unit xlog10 sums; keep-gate = at-or-above the "
        "corpus-mean log-prob, as an integer cross-multiplication. LM broadcasts; corpus never shuffles "
        "for training."
    ),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.rounding import xlog10

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split("text", " ")
    )
    bi = docs.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # size>=2 guard: sequence(1,0) is DESCENDING in Spark (r8 sweep)
    sl = bi.filter(F.col("doc_id") % _LM_SLICE_MOD == 0)
    cb = sl.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = sl.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    # vocab size: bounded driver scalar (distinct successor types)
    v = sl.select("w2").distinct().count()
    terms = (
        bi.join(F.broadcast(cb), ["w1", "w2"], "left")
        .join(F.broadcast(cu), ["w1"], "left")
        .select(
            "doc_id",
            (F.coalesce("cb", F.lit(0)) + 1).alias("cb1"),
            (F.coalesce("cu", F.lit(0)) + F.lit(v)).alias("cu1"),
        )
    )
    lp_micro = F.floor(
        (xlog10(F.col("cb1")) - xlog10(F.col("cu1"))) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    scored = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(lp_micro).cast("long").alias("sum_lp_micro"),
    )
    # self-calibrating gate: keep docs whose avg log-prob is at or
    # above the corpus mean — as an integer cross-multiplication
    # (sum·totN >= totSum·n), exact at any sf. Magnitude bound: |sum|
    # <= 1e8 µ per doc and totN fits the corpus bigram count; at
    # 1e12-bigram scale move both sides to DECIMAL(38,0)/HUGEINT or
    # pre-divide by gcd — int64 here has 10^3 headroom at sf0.1.
    g = scored.agg(
        F.sum("sum_lp_micro").cast("long").alias("tot_lp"),
        F.sum("n_bigrams").cast("long").alias("tot_n"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_lp_micro", F.lit(0))
            .cast("long")
            .alias("sum_lp_micro"),
            (
                F.coalesce("sum_lp_micro", F.lit(0)) * F.col("tot_n")
                >= F.col("tot_lp") * F.coalesce("n_bigrams", F.lit(0))
            ).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate statistics — the inner loop of byte-pair-encoding
# tokenizer training: count adjacent character pairs across the corpus,
# weighted by word frequency. The scale-critical shape: the corpus
# collapses to DISTINCT words + counts FIRST (one shuffle; vocabulary
# is orders of magnitude smaller than the token stream), then the
# O(word_len) pair explode runs over the vocabulary only — the classic
# trick that makes BPE training corpus-size-independent per iteration.
# Beyond-reference addition (text/tokenizer family).
# ---------------------------------------------------------------------------

_BPE_TOP = 20


@register(
    "bpe_pair_stats",
    oracle=f"""
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
            FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE LENGTH(w) >= 2
            GROUP BY w
        ),
        pairs AS (
            SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, wc
            FROM words, UNNEST(range(1, LENGTH(w))) t(i)
        ),
        counted AS (
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
            FROM pairs GROUP BY pair
        )
        SELECT pair, n_occurrences, CAST(rn AS BIGINT) AS pair_rank
        FROM (
            SELECT pair, n_occurrences,
                   ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS rn
            FROM counted
        ) WHERE rn <= {_BPE_TOP}
    """,
    doc=(
        f"BPE training inner loop: top-{_BPE_TOP} adjacent character "
        "pairs weighted by word frequency — pair explode runs over the "
        "DISTINCT-word vocabulary, not the raw token stream."
    ),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("wc").cast("long").alias("n_occurrences")
    )
    # TakeOrdered top-k first (per-partition heaps, no global sort);
    # the only unpartitioned window then ranks the <=K survivors
    top = counted.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(_BPE_TOP)
    rn = F.row_number().over(W.orderBy(F.desc("n_occurrences"), F.asc("pair")))
    return top.select("pair", "n_occurrences", rn.cast("long").alias("pair_rank"))


@register(
    "ks_drift_by_source",
    oracle="""
        WITH cells AS (
            SELECT source, n_chars, COUNT(*) AS c
            FROM documents GROUP BY 1, 2
        ),
        spine AS (SELECT DISTINCT n_chars FROM documents),
        srcs AS (
            SELECT source, SUM(c) AS tot FROM cells GROUP BY 1
        ),
        n AS (SELECT SUM(c) AS n_all FROM cells),
        grid AS (
            SELECT s.source, s.tot, v.n_chars,
                   COALESCE(cells.c, 0) AS c
            FROM srcs s CROSS JOIN spine v
            LEFT JOIN cells
              ON cells.source = s.source AND cells.n_chars = v.n_chars
        ),
        cum AS (
            SELECT source, tot, n_chars,
                   SUM(c) OVER (
                       PARTITION BY source ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_s
            FROM grid
        ),
        gcum AS (
            SELECT n_chars, SUM(c) AS gc
            FROM cells GROUP BY 1
        ),
        grun AS (
            SELECT n_chars,
                   SUM(gc) OVER (
                       ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_all
            FROM gcum
        )
        SELECT cum.source,
               CAST(cum.tot AS BIGINT) AS n_docs,
               CAST(MAX(ABS(
                   cum.cum_s * 1000000 // cum.tot
                   - (grun.cum_all - cum.cum_s) * 1000000
                     // (n.n_all - cum.tot)
               )) AS BIGINT) AS ks_ppm
        FROM cum
        JOIN grun USING (n_chars)
        CROSS JOIN n
        GROUP BY cum.source, cum.tot
    """,
    doc=(
        "Two-sample Kolmogorov–Smirnov drift audit: for each source, "
        "max |CDF_source − CDF_rest| of the document-length "
        "distribution against the rest of the corpus, in exact ppm "
        "(integer-division CDF grid) — the distribution-shift gate a "
        "curation pipeline runs before mixing a new source in."
    ),
)
def ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KS statistic per source vs rest.

    100 TB: reduces to (source × distinct-length) cells before any
    window; the spine is the distinct value set — for unbounded-
    cardinality columns quantize to bins first (feature_quantile_bins)
    so the grid stays #sources × #bins. One shuffle for the cell agg,
    one source-keyed window over bin-sized groups.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    spine = docs.select("n_chars").distinct()
    srcs = cells.groupBy("source").agg(F.sum("c").alias("tot"))
    n_all = cells.agg(F.sum("c").alias("n_all"))
    grid = (
        srcs.crossJoin(F.broadcast(spine))
        .join(cells, ["source", "n_chars"], "left")
        .select(
            "source", "tot", "n_chars", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    cum_s = F.sum("c").over(
        W.partitionBy("source").orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cum_s", cum_s)
    gcum = cells.groupBy("n_chars").agg(F.sum("c").alias("gc"))
    # global running count over the bounded spine (|distinct lengths|
    # rows) — single-partition by construction, not by accident
    cum_all = F.sum("gc").over(
        W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    )
    grun = gcum.withColumn("cum_all", cum_all).drop("gc")
    return (
        cum.join(grun, "n_chars")
        .crossJoin(F.broadcast(n_all))
        .groupBy("source", "tot")
        .agg(
            # r13 degenerate-corpus audit: a source that IS the whole
            # corpus has an empty "rest" side (n_all = tot) — ANSI
            # Spark crashed with DIVIDE_BY_ZERO where DuckDB yields
            # NULL. KS-vs-rest is UNDEFINED there → NULL (MAX over
            # all-NULL deviations), matching the oracle's natural NULL.
            F.max(
                F.abs(
                    F.expr("cum_s * 1000000 DIV tot")
                    - F.expr(
                        "CASE WHEN n_all = tot THEN NULL"
                        " ELSE (cum_all - cum_s) * 1000000"
                        " DIV (n_all - tot) END"
                    )
                )
            )
            .cast("long")
            .alias("ks_ppm")
        )
        .select(
            "source", F.col("tot").cast("long").alias("n_docs"), "ks_ppm"
        )
    )


_SETSIM_T_NUM, _SETSIM_T_DEN = 3, 5  # Jaccard threshold 0.6 as a ratio


@register(
    "setsim_prefix_join",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, SUBSTR(text, 1, LENGTH(text) - 20)
            FROM documents WHERE doc_id % 5 = 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           || ' ' || w[i+3]
                           FOR i IN range(1, len(w) - 2)]) AS shingle
            FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w
                  FROM corpus)
            WHERE len(w) >= 4
        ),
        freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
        pos AS (
            SELECT sh.doc_id, sh.shingle,
                   ROW_NUMBER() OVER (
                       PARTITION BY sh.doc_id
                       ORDER BY freq.df, sh.shingle) AS p
            FROM sh JOIN freq USING (shingle)
        ),
        sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY 1),
        pref AS (
            SELECT pos.doc_id, pos.shingle
            FROM pos JOIN sz USING (doc_id)
            WHERE pos.p <= sz.s
                - ({_SETSIM_T_NUM} * sz.s + {_SETSIM_T_DEN} - 1)
                  // {_SETSIM_T_DEN} + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM pref a JOIN pref b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
            GROUP BY 1, 2
        )
        SELECT v.doc_a, v.doc_b,
               CAST(v.ov AS BIGINT) AS n_common,
               CAST(v.ov * 1000000 // (sa.s + sb.s - v.ov) AS BIGINT)
                   AS jaccard_ppm
        FROM verified v
        JOIN sz sa ON sa.doc_id = v.doc_a
        JOIN sz sb ON sb.doc_id = v.doc_b
        WHERE v.ov * {_SETSIM_T_DEN} >= (sa.s + sb.s - v.ov) * {_SETSIM_T_NUM}
    """,
    doc=(
        "Prefix-filtered set-similarity join (the AllPairs/PPJoin "
        "family): 4-gram shingle sets ordered rare-first by global "
        "frequency; only the first |s| − ⌈t·|s|⌉ + 1 shingles of each "
        "set can witness a Jaccard-≥0.6 pair, so candidates come from "
        "an equi-join on PREFIX shingles only, then exact overlap "
        "verification on the candidate pairs. Planted truncated-copy "
        "docs make the match set non-vacuous."
    ),
)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scale path for set-similarity self-joins.

    100 TB: the full posting list never self-joins — only the prefix
    posting list does, and rare-first ordering makes prefix postings
    short by construction (a frequent shingle is almost never in a
    prefix). Verification joins candidates (bounded) back to the full
    sets. Threshold arithmetic is exact-integer (t = 3/5), so both
    engines select the identical pair set.

    Reference capability anchor: SURVEY §2 has no similarity join;
    this extends the dedup family (operators/dedup.py) with the
    deterministic-exact alternative to MinHash-LSH.

    MEASURED (sf0.1, local[32], warm): 3-gram shingles 14.0 s → 4-gram
    3.5 s (tiny synthetic vocab makes 3-gram prefixes collide; 4-gram
    df≈1 keeps prefix postings short — pick n so prefix tokens are
    genuinely rare). An array_intersect verification variant (join
    candidates to per-doc shingle arrays instead of re-exploding the
    posting list) measured WORSE, 9.5 s — the array build forfeits the
    shared scan; kept the posting-list verify. Persisting the posting
    list (5 consumers) also measured flat — 3.8-4.8 s vs 3.2-4.5 s
    unpersisted — the explode is not the cost center. The 23-28 s warm
    outliers BENCH_FULL occasionally records here do not reproduce in
    isolation (6 consecutive runs 3.2-4.5 s): end-of-bench GC/
    broadcast-cleanup backlog, not plan behavior.

    r6 (verdict task 4): PPJoin length filter added at candidate-gen
    (t·|s_a| ≤ |s_b| ≤ |s_a|/t — removes only pairs verification would
    reject, so the oracle is unchanged) and the forced candidate
    broadcast dropped in favor of AQE's runtime decision. Measured
    sf0.1 warm 3.1-4.1 s before AND after (identical 1,317 rows; the
    synthetic corpus has near-uniform doc lengths so the filter prunes
    little here — its value is on skewed-length corpora), cold 12.8 s
    both. sf1 measurement in SCALE.md.
    """
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.dedup import word_shingles
    from stacktrend_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 20)").alias("text"),
    )
    corpus = docs.unionByName(planted)
    sh = word_shingles(corpus, "doc_id", "text", n=4)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    pos = (
        sh.join(freq, "shingle")
        .withColumn(
            "p",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    pref = (
        pos.join(sz, "doc_id")
        .filter(
            F.col("p")
            <= F.col("s")
            - F.expr(
                f"({_SETSIM_T_NUM} * s + {_SETSIM_T_DEN} - 1)"
                f" DIV {_SETSIM_T_DEN}"
            )
            + 1
        )
        .select("doc_id", "shingle", "s")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin length filter (r5 verdict task 4): Jaccard ≥ t forces
    # t·|s_a| ≤ |s_b| ≤ |s_a|/t, so size-incompatible pairs are pruned
    # AT candidate generation (free — sizes already ride the prefix
    # rows) instead of surviving to exact verification. Result set is
    # provably unchanged (the filter only removes pairs verification
    # would reject), so the oracle needs no amendment.
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.s") * _SETSIM_T_NUM <= F.col("b.s") * _SETSIM_T_DEN)
            & (F.col("b.s") * _SETSIM_T_NUM <= F.col("a.s") * _SETSIM_T_DEN),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x, y = sh.alias("x"), sh.alias("y")
    # No forced broadcast of the candidate set (r5 verdict: unbounded
    # in general — on a near-dup-heavy corpus candidates grow with the
    # match set). AQE sees the runtime size after the distinct and
    # still picks a broadcast join when it genuinely fits.
    verified = (
        cand
        .join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    sa, sb = sz.alias("sa"), sz.alias("sb")
    return (
        verified.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(
            F.col("ov") * _SETSIM_T_DEN
            >= (F.col("sa.s") + F.col("sb.s") - F.col("ov")) * _SETSIM_T_NUM
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("ov").cast("long").alias("n_common"),
            F.expr("ov * 1000000 DIV (sa.s + sb.s - ov)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


def _winnow_oracle() -> str:
    from stacktrend_spark.functions.hashing import sql_hex40

    h = sql_hex40("gram")
    return f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, SUBSTR(text, 1, LENGTH(text) - 20)
            FROM documents WHERE doc_id % 5 = 0
        ),
        toks AS (
            SELECT doc_id, p, w
            FROM (SELECT doc_id,
                         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w,
                         UNNEST(range(1, len(STRING_SPLIT(text, ' ')) + 1))
                             AS p
                  FROM corpus)
        ),
        grams AS (
            SELECT doc_id, p,
                   w || ' ' || LEAD(w, 1) OVER dw
                     || ' ' || LEAD(w, 2) OVER dw
                     || ' ' || LEAD(w, 3) OVER dw AS gram
            FROM toks
            WINDOW dw AS (PARTITION BY doc_id ORDER BY p)
            QUALIFY LEAD(w, 3) OVER dw IS NOT NULL
        ),
        hashed AS (
            SELECT doc_id, p, {h} AS h FROM grams
        ),
        winmin AS (
            SELECT doc_id,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS fp
            FROM hashed
            QUALIFY LEAD(h, 3) OVER (PARTITION BY doc_id ORDER BY p)
                    IS NOT NULL
        ),
        fps AS (SELECT DISTINCT doc_id, fp FROM winmin),
        sz AS (SELECT doc_id, COUNT(*) AS nf FROM fps GROUP BY 1),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ns
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        )
        SELECT s.doc_a, s.doc_b,
               CAST(s.ns AS BIGINT) AS n_shared,
               CAST(s.ns * 1000000 // LEAST(sa.nf, sb.nf) AS BIGINT)
                   AS containment_ppm
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.doc_a
        JOIN sz sb ON sb.doc_id = s.doc_b
    """


@register(
    "winnowing_fingerprints",
    oracle=_winnow_oracle(),
    doc=(
        "Winnowing document fingerprints (the MOSS algorithm, "
        "Schleimer et al. SIGMOD'03): hash every word 4-gram, keep the "
        "MINIMUM hash of each sliding window of 4 grams — guaranteed "
        "to share fingerprints with any doc overlapping ≥ w+k−1 "
        "words — then pair docs sharing ≥3 fingerprints with a "
        "containment score. Planted truncated copies make matches "
        "non-vacuous."
    ),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing: local fingerprint selection, cross-doc containment.

    100 TB: selection is map-side per doc (one doc-keyed sort shared
    by the two windows); fingerprint density is ~2/(w+1) of gram
    count, so the pair join runs on a ~60%-smaller posting list than
    raw grams, and hub fingerprints (boilerplate) can be df-capped
    exactly like the MinHash band keys.
    """
    from pyspark.sql import Window as W

    from stacktrend_spark.functions.hashing import spark_hex40
    from stacktrend_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 20)").alias("text"),
    )
    corpus = docs.unionByName(planted)
    toks = corpus.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    dw = W.partitionBy("doc_id").orderBy("p")
    grams = (
        toks.select(
            "doc_id",
            "p",
            F.concat_ws(
                " ",
                F.col("w"),
                F.lead("w", 1).over(dw),
                F.lead("w", 2).over(dw),
                F.lead("w", 3).over(dw),
            ).alias("gram"),
            F.lead("w", 3).over(dw).alias("_w3"),
        )
        .filter(F.col("_w3").isNotNull())
        .drop("_w3")
    )
    hashed = grams.select(
        "doc_id", "p", spark_hex40(F.col("gram")).alias("h")
    )
    winmin = (
        hashed.select(
            "doc_id",
            F.min("h")
            .over(dw.rowsBetween(0, 3))
            .alias("fp"),
            F.lead("h", 3).over(dw).alias("_h3"),
        )
        .filter(F.col("_h3").isNotNull())
        .drop("_h3")
    )
    fps = winmin.distinct()
    sz = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("ns"))
        .filter(F.col("ns") >= 3)
    )
    sa, sb = sz.alias("sa"), sz.alias("sb")
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("ns").cast("long").alias("n_shared"),
            F.expr("ns * 1000000 DIV LEAST(sa.nf, sb.nf)")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation extraction via bigram PMI (r6) — the corpus-linguistics
# primitive behind phrase vocabularies (word2vec phrase pass, tokenizer
# merge seeding): score adjacent word pairs by pointwise mutual
# information against the unigram independence product, keep the
# top-30 with support ≥ 20. Same µlog10-integer discipline as the
# statistics-family PMI (ppm proportions, clamped ≥1, 128-bit
# products for c1·c2·10⁶):
#
#   pmi_micro = ilog(c12·10⁶ DIV TB) − ilog(c1·c2·10⁶ DIV T²)
#
# 100 TB: bigram extraction is one LEAD over per-doc windows (doc-
# sized partitions); both count tables collapse map-side to vocab /
# vocab² survivors; the min-support filter prunes BEFORE pmi math.
# ---------------------------------------------------------------------------
def _colloc_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    def ilog(expr: str) -> str:
        return (
            f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')} * 1000000.0)"
            " AS BIGINT)"
        )

    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term,
                   generate_subscripts(STRING_SPLIT(LOWER(text), ' '), 1)
                       AS pos
            FROM documents
        ),
        tf AS (SELECT * FROM toks WHERE term <> ''),
        big AS (
            SELECT term AS w1,
                   LEAD(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM tf
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM big WHERE w2 IS NOT NULL
            GROUP BY 1, 2
        ),
        uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tf GROUP BY 1),
        tot AS (
            SELECT (SELECT SUM(c) FROM uni) AS t,
                   (SELECT SUM(c12) FROM c12) AS tb
        ),
        scored AS (
            SELECT c12.w1, c12.w2, c12.c12,
                   {ilog('CAST(c12.c12 AS HUGEINT) * 1000000 // tot.tb')}
                 - {ilog('CAST(u1.c AS HUGEINT) * u2.c * 1000000 // (CAST(tot.t AS HUGEINT) * tot.t)')}
                       AS pmi_micro
            FROM c12
            JOIN uni u1 ON c12.w1 = u1.term
            JOIN uni u2 ON c12.w2 = u2.term
            CROSS JOIN tot
            WHERE c12.c12 >= 20
        )
        SELECT w1, w2, c12 AS n_bigram,
               CAST(pmi_micro AS BIGINT) AS pmi_micro
        FROM scored
        ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
        LIMIT 30
    """


@register(
    "collocation_pmi_topk",
    oracle=_colloc_oracle(),
    doc=(
        "Collocation extraction: adjacent word-pair PMI vs the unigram "
        "independence product (µlog10 integers, ppm proportions, "
        "128-bit products), support ≥ 20, top-30 with full tiebreak — "
        "the phrase-vocabulary seeding pass of a tokenizer pipeline."
    ),
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from stacktrend_spark.functions.rounding import xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(
            xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)
        ).cast("long")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    big = toks.select(
        F.col("term").alias("w1"),
        F.lead("term").over(W.partitionBy("doc_id").orderBy("pos")).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    t = uni.agg(F.sum("c").alias("t"))
    tb = c12.agg(F.sum("c12").alias("tb"))
    dec = "decimal(38,0)"
    scored = (
        c12.filter(F.col("c12") >= 20)
        .join(uni.withColumnRenamed("term", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("term", "w2").withColumnRenamed("c", "c2"), "w2")
        .join(F.broadcast(t))
        .join(F.broadcast(tb))
        .select(
            "w1",
            "w2",
            "c12",
            (
                # width: a hot bigram's count is token-scale (the
                # unigram side below is already widened) — widen this
                # numerator too (r9 width sweep)
                ilog(
                    F.expr(
                        f"CAST(CAST(c12 AS {dec}) * 1000000 DIV tb"
                        f" AS BIGINT)"
                    )
                )
                - ilog(
                    F.expr(
                        f"CAST(CAST(c1 AS {dec}) * c2 * 1000000"
                        f" DIV (CAST(t AS {dec}) * t) AS BIGINT)"
                    )
                )
            ).alias("pmi_micro"),
        )
    )
    return (
        scored.select(
            "w1", "w2", F.col("c12").alias("n_bigram"), F.col("pmi_micro").cast("long")
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Huffman code cost (r6) — the compression-aware curation metric: the
# optimal prefix-code size of the event-type stream (what an entropy
# coder would spend), next to the xlog10 Shannon lower bound. Huffman's
# greedy merge is sequential, but its TOTAL COST is tie-invariant
# (every optimal prefix code has the same Σ internal-node weights), so
# the value is deterministic however ties break. Oracle = a list-carry
# recursive CTE (sort state, merge two smallest, accumulate — the DTW
# wavefront discipline applied to a greedy loop; fuzz-proven against
# heapq on 20 random weight sets). Spark = the same loop in one
# grouped-map task over the ≤#event-types weight spine.
# 100 TB: the corpus collapses to #symbols counts map-side; the merge
# loop is O(k log k) on a constant spine. Output also carries the
# Shannon numerator (µlog10) so the coder's overhead vs the entropy
# bound is one subtraction away.
# ---------------------------------------------------------------------------
def _huffman_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    ilog_n = f"CAST(FLOOR({sql_xlog10('t.n_events')} * 1000000.0) AS BIGINT)"
    ilog_c = f"CAST(FLOOR({sql_xlog10('w.c')} * 1000000.0) AS BIGINT)"
    return f"""
        WITH RECURSIVE w AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_events,
                     CAST(COUNT(*) AS BIGINT) AS n_symbols FROM w),
        init AS (SELECT LIST(c ORDER BY c, event_type) AS state FROM w),
        rec AS (
            SELECT state, 0::BIGINT AS cost FROM init
            UNION ALL
            SELECT list_sort(state)[3:]
                       || [list_sort(state)[1] + list_sort(state)[2]],
                   cost + list_sort(state)[1] + list_sort(state)[2]
            FROM rec WHERE len(state) > 1
        ),
        hc AS (SELECT cost FROM rec WHERE len(state) = 1),
        sh AS (
            SELECT CAST(SUM(w.c * ({ilog_n} - {ilog_c})) AS BIGINT)
                       AS shannon_num_micro
            FROM w CROSS JOIN t
        )
        SELECT t.n_symbols, t.n_events,
               CAST(hc.cost AS BIGINT) AS huffman_total_bits,
               sh.shannon_num_micro
        FROM t, hc, sh
    """


@register(
    "huffman_code_cost",
    oracle=_huffman_oracle(),
    doc=(
        "Optimal prefix-code (Huffman) total bit cost of the event-"
        "type stream + the Shannon µlog10 lower-bound numerator — the "
        "entropy-coder budget of a column, exact integers; oracle = "
        "list-carry recursive CTE replay of the greedy merge (cost is "
        "tie-invariant), Spark = one grouped-map task on the symbol "
        "spine."
    ),
)
def huffman_code_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    import heapq

    import pandas as pd

    from stacktrend_spark.functions.rounding import xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)).cast(
            "long"
        )

    ev = load_table(spark, sf_dir, "events").select("event_type")
    w = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    t = w.agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_symbols"),
    )
    sh = w.join(F.broadcast(t)).agg(
        F.sum(
            F.col("c")
            * (ilog(F.col("n_events")) - ilog(F.col("c")))
        )
        .cast("long")
        .alias("shannon_num_micro")
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        h = sorted(int(x) for x in pdf["c"])
        heapq.heapify(h)
        cost = 0
        while len(h) > 1:
            a = heapq.heappop(h)
            b = heapq.heappop(h)
            cost += a + b
            heapq.heappush(h, a + b)
        return pd.DataFrame({"huffman_total_bits": [cost]})

    hc = (
        w.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge, "huffman_total_bits long")
    )
    return (
        t.join(F.broadcast(hc))
        .join(F.broadcast(sh))
        .select("n_symbols", "n_events", "huffman_total_bits", "shannon_num_micro")
    )


# ---------------------------------------------------------------------------
# Lexical diversity by source (r6) — the corpus-health lexical panel
# per ingestion source: type-token ratio (distinct words / words, ppm),
# hapax rate (share of the source's vocabulary seen exactly once —
# Zipf's long-tail gauge), and mean token length (µchars). All exact
# integer ratios from two cascaded aggregations; the standard triage
# for "which source is boilerplate vs organic text".
# 100 TB: tokens shuffle once on (source, term); everything after is
# vocabulary-sized then #sources-sized.
# ---------------------------------------------------------------------------
@register(
    "lexical_diversity_by_source",
    oracle="""
        WITH toks AS (
            SELECT source,
                   UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT source, term FROM toks WHERE term <> ''),
        wc AS (
            SELECT source, term,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(LENGTH(term)) AS BIGINT) AS chars
            FROM tf GROUP BY 1, 2
        )
        SELECT source,
               CAST(SUM(c) AS BIGINT)      AS n_tokens,
               CAST(COUNT(*) AS BIGINT)    AS n_types,
               CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS hapax_ppm,
               CAST(SUM(chars) * 1000000 // SUM(c) AS BIGINT)
                   AS mean_token_len_micro
        FROM wc
        GROUP BY source
    """,
    doc=(
        "Per-source lexical-diversity panel: type-token ratio ppm, "
        "hapax (frequency-1 vocabulary) share ppm, mean token length "
        "µchars — exact integer ratios from two cascaded aggregations; "
        "the boilerplate-vs-organic triage for corpus sources."
    ),
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tf = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    wc = tf.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.length("term")).cast("long").alias("chars"),
    )
    return wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr("COUNT(*) * 1000000 DIV SUM(c)").cast("long").alias("ttr_ppm"),
        F.expr(
            "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*)"
        )
        .cast("long")
        .alias("hapax_ppm"),
        F.expr("SUM(chars) * 1000000 DIV SUM(c)")
        .cast("long")
        .alias("mean_token_len_micro"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (r6) — the tokenizer-sizing question "how
# many tokens does a top-N vocabulary cover?": rank the corpus
# vocabulary by frequency (count desc, term asc — total order), take
# the running coverage at N ∈ {1, 2, 5, 10, 20, 50}, exact ppm. The
# curve's knee is where BPE merges stop paying — the sizing input for
# the bpe_pair_stats pipeline.
# 100 TB: one (term) count aggregate; the rank is vocabulary-sized
# (scalable-rank class past ~10⁷ types); coverage via running sum on
# the ranked vocab spine, probed at 6 cut points.
# ---------------------------------------------------------------------------
@register(
    "vocab_coverage_curve",
    oracle="""
        WITH toks AS (
            SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT term FROM toks WHERE term <> ''),
        wc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tf GROUP BY 1),
        ranked AS (
            SELECT c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rk,
                   SUM(c) OVER (ORDER BY c DESC, term ASC
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER () AS tot
            FROM wc
        ),
        cuts AS (SELECT UNNEST([1, 2, 5, 10, 20, 50]) AS n_vocab)
        SELECT CAST(cuts.n_vocab AS BIGINT) AS n_vocab,
               CAST(MAX(r.cum) AS BIGINT) AS covered_tokens,
               -- cum is token-instance mass (~1e13-14 at 100 TB), so
               -- cum*1e6 wraps int64: widen through HUGEINT/DECIMAL
               -- on both engines (r9 width policy), ppm result back
               -- in BIGINT
               CAST(CAST(MAX(r.cum) AS HUGEINT) * 1000000
                    // MAX(r.tot) AS BIGINT) AS coverage_ppm
        FROM cuts JOIN ranked r ON r.rk <= cuts.n_vocab
        GROUP BY cuts.n_vocab
    """,
    doc=(
        "Top-N vocabulary token-coverage curve (N ∈ {1,2,5,10,20,50}): "
        "frequency-ranked vocab with total-order tiebreak, running "
        "coverage probed at the cuts, exact ppm — the tokenizer-sizing "
        "input (where the curve flattens, BPE merges stop paying)."
    ),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    tf = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    wc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # rank + prefix sum over the vocabulary through the two-phase
    # operators (r10, extending r9 verdict task 2): the vocabulary is
    # Heaps-bounded but still grows into the 1e8-1e9 range at 100 TB
    # of text — too big for a single-partition window; the corpus
    # total joins back as a broadcast 1-row aggregate
    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    tot = wc.agg(F.sum("c").alias("tot"))
    # rank + prefix sum in ONE two-phase pass (rank_col on the running
    # sum — same shuffle, same WindowExec, same cache; r10 review)
    ranked = (
        global_running_sum_scalable(
            wc,
            order_cols=[F.desc("c"), F.asc("term")],
            value_col="c",
            sum_col="cum",
            rank_col="rk",
        )
        .select("c", "rk", "cum")
        .crossJoin(F.broadcast(tot))
    )
    cuts = docs.sparkSession.createDataFrame(
        [(1,), (2,), (5,), (10,), (20,), (50,)], ["n_vocab"]
    )
    return (
        F.broadcast(cuts)
        .join(ranked, ranked.rk <= cuts.n_vocab)
        .groupBy("n_vocab")
        .agg(
            F.max("cum").cast("long").alias("covered_tokens"),
            # token-mass x 1e6 through DECIMAL(38,0) (r9 width
            # policy; mirrors the oracle's HUGEINT)
            F.expr(
                "CAST(CAST(MAX(cum) AS DECIMAL(38, 0)) * 1000000"
                " DIV MAX(tot) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .select(F.col("n_vocab").cast("long"), "covered_tokens", "coverage_ppm")
    )


# ---------------------------------------------------------------------------
# BPE merge training, 3 unrolled rounds (r8) — completes the tokenizer-
# training story next to bpe_pair_stats (which reports ONE round's pair
# table): each round picks the argmax adjacent pair over the weighted
# DISTINCT-word vocabulary (count desc, pair asc tie-break — the
# deterministic GPT-2 rule), rewrites the vocabulary by replacing that
# pair with a fresh single symbol ('A', 'B', 'C' — outside the
# lowercase corpus alphabet), and recounts. Output: one row per merge
# with the winning pair, its weighted count, and the corpus character
# mass after the merge (the compression curve).
#
# Parity: replace() is left-to-right non-overlapping in both engines;
# pair extraction is the same substring explode as bpe_pair_stats;
# each round's winner is a 1-row broadcast scalar. Exact integers
# everywhere.
# 100 TB: the vocabulary aggregate is Heaps-law bounded (distinct
# words, not the token stream); each round is one explode over that
# bounded table + a 1-row TakeOrdered + a map-only rewrite. The
# unroll depth is fixed, so the plan is static.
# ---------------------------------------------------------------------------
_BPE_SYMS = ("A", "B", "C")


def _bpe_merge_oracle() -> str:
    ctes = [
        """v0 AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE LENGTH(w) >= 2 GROUP BY w
        )"""
    ]
    for k, sym in enumerate(_BPE_SYMS):
        ctes.append(
            f"""c{k} AS (
                SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM (
                    SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, wc
                    FROM v{k}, UNNEST(range(1, LENGTH(w))) t(i)
                    WHERE LENGTH(w) >= 2
                ) GROUP BY pair
            )"""
        )
        ctes.append(
            f"b{k} AS (SELECT pair, n FROM c{k} ORDER BY n DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"""v{k + 1} AS (
                SELECT replace(w, (SELECT pair FROM b{k}), '{sym}') AS w, wc
                FROM v{k}
            )"""
        )
        ctes.append(
            f"""s{k} AS (
                SELECT CAST(SUM(wc * LENGTH(w)) AS BIGINT) AS t FROM v{k + 1}
            )"""
        )
    arms = " UNION ALL ".join(
        f"""SELECT CAST({k + 1} AS BIGINT) AS merge_step, pair,
                   CAST(n AS BIGINT) AS n_occurrences,
                   (SELECT t FROM s{k}) AS corpus_chars_after
            FROM b{k}"""
        for k in range(len(_BPE_SYMS))
    )
    return f"WITH {', '.join(ctes)} {arms}"


@register(
    "bpe_merge_unrolled",
    oracle=_bpe_merge_oracle(),
    doc=(
        "BPE tokenizer training, 3 unrolled merge rounds over the "
        "weighted distinct-word vocabulary: argmax pair (count desc, "
        "pair asc), symbol rewrite, recount — winning pair, weighted "
        "count, and post-merge corpus character mass per round."
    ),
)
def bpe_merge_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cur = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    out = None
    for k, sym in enumerate(_BPE_SYMS):
        pairs = cur.filter(F.length("w") >= 2).select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
            "wc",
        )
        # read twice: rewrite join + output row
        best = local_checkpoint(
            pairs.groupBy("pair")
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
        )
        # 1-row winner broadcast into the vocabulary rewrite; checkpoint
        # each round's vocabulary so round k's lineage doesn't re-run
        # all earlier rounds' explode+TakeOrdered subtrees
        cur = local_checkpoint(
            cur.join(F.broadcast(best.select("pair"))).select(
                F.expr(f"replace(w, pair, '{sym}')").alias("w"), "wc"
            )
        )
        mass = cur.agg(
            F.sum(F.expr("wc * length(w)")).cast("long").alias("corpus_chars_after")
        )
        row = best.join(F.broadcast(mass)).select(
            F.lit(k + 1).cast("long").alias("merge_step"),
            "pair",
            F.col("n").alias("n_occurrences"),
            "corpus_chars_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Exact duplicated-substring coverage (r9) — the ExactSubstr dedup of
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better"), reformulated for a distributed engine: instead of a
# monolithic suffix array, every character position is anchored by its
# K-char gram, a gram that occurs in >= 2 DISTINCT documents marks its
# K-window as duplicated, and the per-document union of those windows
# (interval coalescing) is exactly the set of characters lying inside
# some cross-document duplicated span of length >= K. The reference has
# no analogue (its text handling stops at classification tags).
#
# 100 TB notes: the gram explode is map-side linear in corpus chars;
# the duplicate test is ONE shuffle on the gram key (min!=max doc_id —
# no two-phase countDistinct), and the coverage windows partition by
# doc_id (bounded by document length — never single-partition). Grams
# here shuffle as raw 32-char strings because the oracle must see the
# identical exact-match semantics; at 100 TB you shuffle
# xxhash64(gram) 8-byte keys instead (collision odds ~ N^2 / 2^64) or
# hash-then-verify. Gram keys are near-uniform (natural text), so the
# shuffle is skew-free; the islands window is O(hits log hits) per doc.
# ---------------------------------------------------------------------------

_SPAN_K = 32  # duplicated-span threshold, chars (ExactSubstr uses 50
              # BPE tokens; 32 chars keeps the synthetic ~300-char docs
              # non-degenerate: ~50 docs carry cross-doc duplicate spans)


@register(
    "dedup_substring_spans",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, n_chars, p.pos,
                   substring(text, CAST(p.pos AS INT), {_SPAN_K}) AS g
            FROM documents,
                 LATERAL (SELECT unnest(range(1, n_chars - {_SPAN_K} + 2)) AS pos) p
            WHERE n_chars >= {_SPAN_K}
        ),
        dup AS (
            SELECT g FROM grams GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
        ),
        hits AS (
            SELECT doc_id, n_chars, pos FROM grams JOIN dup USING (g)
        ),
        flagged AS (
            SELECT doc_id, n_chars, pos,
                   CASE WHEN pos - LAG(pos) OVER w > {_SPAN_K}
                          OR LAG(pos) OVER w IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM hits
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        islands AS (
            SELECT doc_id, n_chars, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM flagged
        ),
        spans AS (
            SELECT doc_id, n_chars, isl,
                   MAX(pos) - MIN(pos) + {_SPAN_K} AS span_len
            FROM islands GROUP BY 1, 2, 3
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT)        AS doc_len,
               CAST(SUM(span_len) AS BIGINT)  AS covered_chars,
               CAST(COUNT(*) AS BIGINT)       AS n_spans,
               CAST((10000 * SUM(span_len)) // n_chars AS BIGINT) AS coverage_bp
        FROM spans GROUP BY doc_id, n_chars
    """,
    doc=(
        f"ExactSubstr dedup coverage (Lee et al. 2022): per-document "
        f"chars inside cross-document duplicated spans >= {_SPAN_K} "
        "chars, via K-gram anchors + interval coalescing."
    ),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact duplicated-substring coverage.

    For every document: explode the {K}-char grams at each position,
    keep grams occurring in >= 2 distinct documents, coalesce the
    surviving K-windows into maximal islands, and report the covered
    char mass — doc_len, covered_chars, n_spans, coverage_bp (exact
    integer basis points). Output rows only for documents that carry
    at least one duplicated span. Semantics identical to suffix-array
    ExactSubstr with threshold K: a character is covered iff it lies
    in a cross-document duplicated substring of length >= K.
    """
    from pyspark.sql import Window as W

    k = _SPAN_K
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .filter(F.col("n_chars") >= k)
    )
    # gram array built per row THEN posexploded, so the 300-char text
    # is dropped in the same projection (an explode-positions-then-
    # substring form re-copies the full text into every gram row)
    grams = docs.select(
        "doc_id",
        "n_chars",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n_chars - {k} + 1),"
                f" p -> substring(text, p, {k}))"
            )
        ).alias("i", "g"),
    ).select("doc_id", "n_chars", (F.col("i") + 1).alias("pos"), "g")
    # >= 2 distinct docs  <=>  min(doc_id) != max(doc_id) over the gram
    # — a WINDOW, not groupBy+join-back, so the corpus is scanned and
    # exploded once and shuffled once (no countDistinct two-phase).
    # Two A/Bs (same session, median of 3, sf0.1/sf1): (a) groupBy(g)
    # + AQE-broadcast join-back = 7.8/58 s vs window 2.7/36 s — the
    # probe side re-runs the explode and the hash agg barely shrinks
    # the shuffle (natural-text grams are ~94% unique); (b) leading
    # the partition key with xxhash64(g) to cheapen the sort
    # comparator = slower too (4.2 -> 6.8 s sf0.1) — the extra hash
    # evaluation outweighs the string-compare savings. Plain g stays.
    wg = W.partitionBy("g")
    hits = (
        grams.withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "n_chars", "pos")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    lag = F.lag("pos").over(w)
    flagged = hits.withColumn(
        "brk",
        F.when(lag.isNull() | (F.col("pos") - lag > k), F.lit(1)).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "isl",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    spans = islands.groupBy("doc_id", "n_chars", "isl").agg(
        (F.max("pos") - F.min("pos") + k).alias("span_len")
    )
    return spans.groupBy("doc_id", "n_chars").agg(
        F.sum("span_len").cast("long").alias("covered_chars"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.expr("CAST((10000 * SUM(span_len)) DIV ANY_VALUE(n_chars) AS BIGINT)").alias(
            "coverage_bp"
        ),
    ).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("doc_len"),
        "covered_chars",
        "n_spans",
        "coverage_bp",
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM estimation (r9) — the token-model
# behind KenLM-style quality filtering (CCNet scores every document
# under a 5-gram KN model; the bigram case carries the algorithm's
# signature quantities exactly): absolute discount D = 3/4 off every
# seen bigram, the freed mass re-distributed through the CONTINUATION
# distribution P_cont(w2) = N1+(.w2) / N1+(..) — how many distinct
# left contexts a word follows, not how often it occurs. The reference
# has no LM-estimation analogue. Chen & Goodman 1998, eq. (4.26).
#
# Exactness: D = 3/4 is handled in quarter-counts (x4), probabilities
# are exact integer parts-per-billion with floor division at each of
# the three steps (term1, lambda, lambda*pcont) — both engines walk
# the identical integer tree. Width audit: term1's 4*c(w1,w2)*1e9 can
# exceed 2^63 once a single bigram tops ~2.3e9 occurrences (~10 TB of
# text) and lambda's 3*N1+(w1.)*1e9 past ~3.07e9 distinct
# continuations, so BOTH numerators are widened to
# DECIMAL(38,0)/HUGEINT on both engines (the second as r9-ADVICE
# defense-in-depth) with the <=1e9 quotients cast back to BIGINT; the
# pcont numerator and the ppb*ppb DIV 1e9 product stay under 2^63 at
# any realistic vocabulary (bounds at the expression sites).
#
# 100 TB notes: the bigram explode is map-side (transform over the
# split array — no per-token shuffle); ONE shuffle builds the
# bigram-type table, and every KN quantity is a grouped aggregate
# OVER TYPES (Heaps-bounded, orders of magnitude below token mass):
# c(w1.) and N1+(w1.) group types by w1, N1+(.w2) groups by w2,
# N1+(..) is a 1-row broadcast. Top-K output is TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_KN_TOPK = 100
_PPB = 1_000_000_000


@register(
    "kneser_ney_bigram_lm",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        -- len >= 2 guard matches the Spark side: Spark's
        -- sequence(1, 0) produces a DESCENDING [1, 0], not empty
        bigrams AS (
            SELECT ws[p.i] AS w1, ws[p.i + 1] AS w2
            FROM toks, LATERAL (
                SELECT unnest(range(1, len(ws))) AS i
            ) p
            WHERE len(ws) >= 2
        ),
        types AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
            FROM bigrams GROUP BY w1, w2
        ),
        ctx AS (
            SELECT w1, CAST(SUM(c) AS BIGINT) AS c_w1,
                   CAST(COUNT(*) AS BIGINT) AS n1_fwd
            FROM types GROUP BY w1
        ),
        cont AS (
            SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_back
            FROM types GROUP BY w2
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM types),
        scored AS (
            SELECT t.w1, t.w2, t.c,
                   CAST(CAST(GREATEST(4 * t.c - 3, 0) AS HUGEINT)
                        * {_PPB}
                        // (4 * x.c_w1) AS BIGINT)          AS term1_ppb,
                   CAST(CAST(3 * x.n1_fwd AS HUGEINT) * {_PPB}
                        // (4 * x.c_w1) AS BIGINT)          AS lambda_ppb,
                   CAST((n.n1_back * {_PPB})
                        // tot.n_types AS BIGINT)           AS pcont_ppb
            FROM types t
            JOIN ctx x USING (w1)
            JOIN cont n USING (w2)
            CROSS JOIN tot
        )
        SELECT w1, w2, c AS bigram_count, term1_ppb, lambda_ppb, pcont_ppb,
               CAST(term1_ppb
                    + (lambda_ppb * pcont_ppb) // {_PPB} AS BIGINT)
                   AS p_kn_ppb
        FROM scored
        ORDER BY c DESC, w1, w2
        LIMIT {_KN_TOPK}
    """,
    doc=(
        "Interpolated Kneser-Ney bigram LM (Chen & Goodman 1998): "
        "D=3/4 absolute discount + continuation-count backoff, exact "
        f"integer ppb, top-{_KN_TOPK} bigrams — the KenLM/CCNet "
        "quality-filter estimation step."
    ),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KN-smoothed bigram probabilities over the document corpus.

    P(w2|w1) = max(c(w1,w2)-D, 0)/c(w1.) + lambda(w1) * P_cont(w2)
    with D = 3/4, lambda(w1) = D * N1+(w1.)/c(w1.), and
    P_cont(w2) = N1+(.w2)/N1+(..). Quarter-count integers absorb the
    fractional discount; each division floors in ppb on both engines.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("ws"))
        # split ONCE per row (lambda bodies are interpreted and exempt
        # from subexpression elimination — re-splitting inside the
        # transform would rescan the text per element; same pattern as
        # heavy_hitters_twopass / udtf bigrams). Spark's
        # sequence(1, 0) yields a DESCENDING [1, 0], not an empty
        # array — one-word docs must be filtered, not exploded.
        .filter(F.size("ws") >= 2)
    )
    # read 4x: ctx, cont, types count, the join spine
    types = local_checkpoint(
        docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    "             element_at(ws, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ctx = types.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c_w1"),
        F.count(F.lit(1)).cast("long").alias("n1_fwd"),
    )
    cont = types.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1_back")
    )
    tot = types.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    scored = (
        types.join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            # the one 128-bit-wide product: at extreme corpus scale a
            # hot context's 4*c(w1,w2) multiplied by 1e9 can exceed
            # 2^63 (c ~ 1e10 at ~100 TB of text), and Spark would wrap
            # while DuckDB errors — widen THIS numerator to
            # DECIMAL(38,0)/HUGEINT; the quotient is <= 1e9 and lands
            # back in BIGINT (r9 review finding)
            F.expr(
                f"CAST(CAST(GREATEST(4 * c - 3, 0) AS DECIMAL(38, 0))"
                f" * {_PPB} DIV (4 * c_w1) AS BIGINT)"
            ).alias("term1_ppb"),
            # defense-in-depth widening (r9 ADVICE): 3*n1_fwd*1e9 wraps
            # int64 only past ~3.07e9 distinct continuations for ONE
            # context — beyond any realistic unigram vocabulary, but
            # the width policy (PARITY.md) widens count*1e9 products,
            # so route it through DECIMAL(38,0)/HUGEINT like term1;
            # the quotient is <= 1e9 and lands back in BIGINT
            F.expr(
                f"CAST(CAST(3 * n1_fwd AS DECIMAL(38, 0)) * {_PPB}"
                f" DIV (4 * c_w1) AS BIGINT)"
            ).alias("lambda_ppb"),
            # n1_back <= unigram vocabulary (distinct left contexts),
            # orders of magnitude under the 9.2e9 int64/1e9 bound —
            # stays 64-bit by the same audit that bounds n1_fwd
            F.expr(f"CAST((n1_back * {_PPB}) DIV n_types AS BIGINT)").alias(
                "pcont_ppb"
            ),
        )
    )
    return (
        scored.orderBy(F.desc("c"), "w1", "w2")
        .limit(_KN_TOPK)
        .select(
            "w1",
            "w2",
            F.col("c").alias("bigram_count"),
            "term1_ppb",
            "lambda_ppb",
            "pcont_ppb",
            F.expr(f"CAST(term1_ppb + (lambda_ppb * pcont_ppb) DIV {_PPB} AS BIGINT)").alias(
                "p_kn_ppb"
            ),
        )
    )
