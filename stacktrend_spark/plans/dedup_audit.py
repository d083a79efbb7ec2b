"""Dedup AUDIT plans: the measure-what-dedup-found layer.

Three operators a production dedup rollout needs around the core
pipeline (plans/northstar.py):

- ``dedup_containment_star`` — CONTAINMENT scoring of the bounded LSH
  candidates: C = |A∩B| / min(|A|,|B|). Jaccard misses one-sided
  duplication (a doc embedded in a longer doc scores low J but C≈1);
  crawl pipelines gate on containment for exactly that case. Same
  sketch plumbing as ``dedup_minhash_star``, different verdict.
- ``source_leakage_matrix`` — cross-source duplicate leakage: where do
  verified duplicate edges land in (source, source) space? The audit
  that catches benchmark/test-set content leaking between corpus
  sources before training.
- ``max_word_run_lengths`` — Gopher-style CONSECUTIVE repetition
  signal: longest same-word run per document and the count of runs
  ≥ 3. ``text_repetition_filter`` (plans/curation.py) measures global
  duplicate mass; this measures local degeneration ("the the the…"),
  which global shares can't see.

Thresholds are exact integer comparisons (n·10 ≥ 8·min) so the kept
row SET is engine-exact; reported ratios use the shared rounding
discipline.

Reference anchor: like the rest of the dedup family these replace the
driver-side seen-set dedup at github_data_ingestion.py:199-219 with
distributed equivalents; the audits have no reference counterpart
(the reference dedups within one ingestion batch only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import fround, sql_round
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.dedup import (
    jaccard_from_arrays,
    lsh_star_edges,
    minhash_signatures_from_arrays,
    shingle_arrays,
)
from stacktrend_spark.plans.northstar import (
    _BAND_SIZE,
    _corpus_near,
    _MINHASH_K,
    _SQL_BANDS,
    _SQL_CORPUS_NEAR,
    _SQL_SHINGLES_3,
    _SQL_SIG_COLS,
    _SQL_STAR_VERIFIED,
)
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import fan_out, load_table

_CONTAIN_NUM = 8  # keep pairs with containment >= 8/10 (exact integers)


@register(
    "dedup_containment_star",
    oracle=f"""
        WITH corpus AS ({_SQL_CORPUS_NEAR}),
        sh AS ({_SQL_SHINGLES_3}),
        sig AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {_SQL_BANDS}
        ),
        star AS (
            SELECT DISTINCT
                MIN(doc_id) OVER (PARTITION BY band_id, band_key) AS id_a,
                doc_id AS id_b
            FROM bands
        ),
        cand AS (SELECT id_a, id_b FROM star WHERE id_a < id_b),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT
            c.id_a, c.id_b, cm.n_common, sa.sz AS n_a, sb.sz AS n_b,
            {sql_round('CAST(cm.n_common AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)', 6)}
                AS containment
        FROM cand c
        JOIN common cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
        JOIN sizes sa ON c.id_a = sa.doc_id
        JOIN sizes sb ON c.id_b = sb.doc_id
        WHERE cm.n_common * 10 >= {_CONTAIN_NUM} * LEAST(sa.sz, sb.sz)
    """,
    doc=(
        "Containment dedup over bounded star candidates: "
        "|A∩B|/min(|A|,|B|) catches one-sided (embedded/truncated) "
        "duplication that Jaccard under-scores; exact-integer keep "
        "threshold (n_common*10 >= 8*min)."
    ),
)
def dedup_containment_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = fan_out(_corpus_near(spark, sf_dir))
    arrs = local_checkpoint(shingle_arrays(corpus, "doc_id", "text", n=3))
    sigs = minhash_signatures_from_arrays(arrs, "doc_id", num_hashes=_MINHASH_K)
    cand = lsh_star_edges(sigs, "doc_id", num_hashes=_MINHASH_K, band_size=_BAND_SIZE)
    scored = jaccard_from_arrays(arrs, "doc_id", pairs=cand, broadcast_pairs=False)
    containment = F.col("n_common").cast("double") / F.least(
        "n_a", "n_b"
    ).cast("double")
    return scored.filter(
        F.col("n_common") * 10 >= _CONTAIN_NUM * F.least("n_a", "n_b")
    ).select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        fround(containment, 6).alias("containment"),
    )


@register(
    "source_leakage_matrix",
    # endpoint → source: planted copies carry doc_id+100000, so
    # doc_id % 100000 recovers the originating document on BOTH
    # engines (doc_id < 100000 for every real document at all sf).
    oracle=f"""
        WITH corpus AS ({_SQL_CORPUS_NEAR}),
        sh AS ({_SQL_SHINGLES_3}),
        sig AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {_SQL_BANDS}
        ),
        {_SQL_STAR_VERIFIED},
        srced AS (
            SELECT da.source AS s_a, db.source AS s_b
            FROM verified v
            JOIN documents da ON da.doc_id = v.id_a % 100000
            JOIN documents db ON db.doc_id = v.id_b % 100000
        )
        SELECT LEAST(s_a, s_b)    AS src_lo,
               GREATEST(s_a, s_b) AS src_hi,
               LEAST(s_a, s_b) <> GREATEST(s_a, s_b) AS is_cross_source,
               CAST(COUNT(*) AS BIGINT) AS n_dup_edges
        FROM srced
        GROUP BY 1, 2, 3
    """,
    doc=(
        "Cross-source duplicate-leakage matrix: verified star dedup "
        "edges rolled up by unordered (source, source) pair — the "
        "pre-training audit for content leaking between corpus "
        "sources."
    ),
)
def source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.plans.northstar import dedup_minhash_star

    edges = dedup_minhash_star(spark, sf_dir).select("id_a", "id_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srced = (
        edges.withColumn("orig_a", F.col("id_a") % 100000)
        .withColumn("orig_b", F.col("id_b") % 100000)
        .join(
            src.select(
                F.col("doc_id").alias("orig_a"), F.col("source").alias("s_a")
            ),
            "orig_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("orig_b"), F.col("source").alias("s_b")
            ),
            "orig_b",
        )
    )
    lo, hi = F.least("s_a", "s_b"), F.greatest("s_a", "s_b")
    return srced.groupBy(
        lo.alias("src_lo"),
        hi.alias("src_hi"),
        (lo != hi).alias("is_cross_source"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_dup_edges"))


@register(
    "max_word_run_lengths",
    oracle="""
        WITH words AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS word,
                   unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
            FROM documents
        ),
        flagged AS (
            SELECT doc_id, word, pos,
                   CASE WHEN LAG(word) OVER (PARTITION BY doc_id ORDER BY pos)
                             IS DISTINCT FROM word THEN 1 ELSE 0 END AS new_run
            FROM words
        ),
        islands AS (
            SELECT doc_id, word,
                   SUM(new_run) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ),
        runs AS (
            SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS run_len
            FROM islands GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(run_len) AS BIGINT)  AS n_words,
               CAST(MAX(run_len) AS BIGINT)  AS max_run,
               CAST(COUNT(CASE WHEN run_len >= 3 THEN 1 END) AS BIGINT)
                                             AS n_runs_ge3,
               MAX(run_len) <= 4             AS keep
        FROM runs GROUP BY doc_id
    """,
    doc=(
        "Consecutive same-word run lengths per doc (gaps-and-islands): "
        "longest run + count of runs >= 3 — the local-degeneration "
        "repetition signal global duplicate shares can't see."
    ),
)
def max_word_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    # per-doc windows: state bounded by document length, never corpus
    # size — each doc's word sequence sorts inside its hash partition
    w_ord = W.partitionBy("doc_id").orderBy("pos")
    flagged = words.withColumn(
        "new_run",
        F.when(
            ~F.lag("word").over(w_ord).eqNullSafe(F.col("word")), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_run").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    runs = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("doc_id").agg(
        F.sum("run_len").cast("long").alias("n_words"),
        F.max("run_len").cast("long").alias("max_run"),
        F.count(F.when(F.col("run_len") >= 3, 1)).cast("long").alias("n_runs_ge3"),
        (F.max("run_len") <= 4).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Cluster-size histogram: the ops dashboard for a dedup rollout. How
# many dup families exist at each size, and how many documents (and
# therefore how much deletable mass) do they hold? Sizes come from the
# end-to-end bounded funnel (star edges → connected components), so
# the histogram is one extra groupBy on top of the 100 TB-safe path.
# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_stats",
    oracle=f"""
        WITH RECURSIVE
        corpus AS ({_SQL_CORPUS_NEAR}),
        sh AS ({_SQL_SHINGLES_3}),
        sig AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {_SQL_BANDS}
        ),
        {_SQL_STAR_VERIFIED},
        edges AS (
            SELECT id_a AS a, id_b AS b FROM verified
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM verified
        ),
        nodes AS (SELECT DISTINCT doc_id FROM sh),
        reach(node, lbl) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        clusters AS (
            SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
            FROM reach GROUP BY node
        ),
        sized AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM clusters GROUP BY 1
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT)                      AS n_clusters,
               CAST(cluster_size * COUNT(*) AS BIGINT)       AS n_docs,
               CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
        FROM sized GROUP BY 1
    """,
    doc=(
        "Dup-family size histogram over the bounded star-clusters "
        "funnel: clusters per size, docs held, and removable mass "
        "(size-1 per family) — the dedup rollout's ops metric."
    ),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.plans.northstar import dedup_star_clusters

    clusters = dedup_star_clusters(spark, sf_dir)
    sized = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sized.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# MinHash band tuning (r7) — the index-parameter sweep every LSH
# rollout runs before committing a (bands × rows) shape: for each
# config, expected verification work (candidate pairs) vs planted-
# near-dup recall. The critical scale trick: candidate counts come
# from Σ_buckets C(n,2) — ONE aggregate over bucket sizes — so the
# sweep never enumerates a single candidate pair; recall joins only
# the bounded planted-pair list (corpus/5 rows) against the band rows.
# 100 TB: 3 configs × (one groupBy on digest band keys + one bounded
# semi-join); tuning cost is O(corpus · bands), independent of how
# duplicate-heavy the data is.
# ---------------------------------------------------------------------------
_TUNE_CFGS = [(8, 1), (4, 2), (2, 4)]  # (n_bands, band_size) over 8 hashes


def _tune_sql_bands(cfg_id: int, n_bands: int, band_size: int) -> str:
    selects = []
    for b in range(n_bands):
        cols = " || ".join(f"h{b * band_size + i}" for i in range(band_size))
        selects.append(
            f"SELECT {cfg_id} AS cfg, doc_id, {b} AS band_id, "
            f"MD5({cols}) AS band_key FROM sig"
        )
    return "\n            UNION ALL ".join(selects)


def _tune_oracle() -> str:
    all_bands = "\n            UNION ALL ".join(
        _tune_sql_bands(i, nb, bs) for i, (nb, bs) in enumerate(_TUNE_CFGS)
    )
    cfg_rows = ", ".join(
        f"({i}, {nb}, {bs})" for i, (nb, bs) in enumerate(_TUNE_CFGS)
    )
    return f"""
        WITH corpus AS ({_SQL_CORPUS_NEAR}),
        sh AS ({_SQL_SHINGLES_3}),
        sig AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            {all_bands}
        ),
        buckets AS (
            SELECT cfg, band_id, band_key, CAST(COUNT(*) AS BIGINT) AS n
            FROM bands GROUP BY 1, 2, 3
        ),
        work AS (
            SELECT cfg,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
            FROM buckets GROUP BY 1
        ),
        planted AS (
            SELECT a.doc_id AS id_orig, b.doc_id AS id_copy
            FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 100000
        ),
        caught AS (
            SELECT DISTINCT ba.cfg, p.id_orig
            FROM planted p
            JOIN bands ba ON ba.doc_id = p.id_orig
            JOIN bands bb ON bb.doc_id = p.id_copy
                         AND bb.cfg = ba.cfg
                         AND bb.band_id = ba.band_id
                         AND bb.band_key = ba.band_key
        ),
        recall AS (
            SELECT cfg, CAST(COUNT(*) AS BIGINT) AS n_caught FROM caught GROUP BY 1
        ),
        cfgs(cfg, n_bands, band_size) AS (VALUES {cfg_rows})
        SELECT CAST(c.cfg AS BIGINT)       AS cfg,
               CAST(c.n_bands AS BIGINT)   AS n_bands,
               CAST(c.band_size AS BIGINT) AS band_size,
               w.n_buckets,
               w.n_candidate_pairs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM planted) AS n_planted,
               COALESCE(r.n_caught, 0)     AS n_caught,
               CAST(COALESCE(r.n_caught, 0) * 10000
                    // (SELECT COUNT(*) FROM planted) AS BIGINT) AS recall_bp
        FROM cfgs c
        JOIN work w ON w.cfg = c.cfg
        LEFT JOIN recall r ON r.cfg = c.cfg
    """


@register(
    "minhash_band_tuning",
    oracle=_tune_oracle(),
    doc=(
        "LSH parameter sweep (8x1 / 4x2 / 2x4 bands over 8 minhashes): "
        "per config, candidate-pair work from bucket-size C(n,2) "
        "aggregates (no pair ever enumerated) vs planted-near-dup "
        "recall in exact basis points."
    ),
)
def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.dedup import lsh_band_rows

    corpus = fan_out(_corpus_near(spark, sf_dir))
    arrs = shingle_arrays(corpus, "doc_id", "text", n=3)
    sigs = local_checkpoint(
        minhash_signatures_from_arrays(arrs, "doc_id", num_hashes=_MINHASH_K)
    )
    band_frames = []
    for i, (nb, bs) in enumerate(_TUNE_CFGS):
        rows = lsh_band_rows(sigs, "doc_id", num_hashes=nb * bs, band_size=bs)
        band_frames.append(rows.withColumn("cfg", F.lit(i)))
    bands = band_frames[0]
    for bf in band_frames[1:]:
        bands = bands.unionByName(bf)
    bands = local_checkpoint(bands)

    buckets = bands.groupBy("cfg", "band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    work = buckets.groupBy("cfg").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias("n_candidate_pairs"),
    )
    ids = sigs.select("doc_id")
    planted = ids.alias("a").join(
        ids.alias("b"),
        F.col("b.doc_id") == F.col("a.doc_id") + 100000,
    ).select(
        F.col("a.doc_id").alias("id_orig"), F.col("b.doc_id").alias("id_copy")
    )
    n_planted = planted.agg(F.count(F.lit(1)).cast("long").alias("n_planted"))
    caught = (
        planted.join(
            bands.select("cfg", F.col("doc_id").alias("id_orig"), "band_id", "band_key"),
            "id_orig",
        )
        .join(
            bands.select(
                "cfg", F.col("doc_id").alias("id_copy"), "band_id", "band_key"
            ),
            ["cfg", "id_copy", "band_id", "band_key"],
        )
        .select("cfg", "id_orig")
        .distinct()
        .groupBy("cfg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
    )
    cfgs = spark.createDataFrame(
        [(i, nb, bs) for i, (nb, bs) in enumerate(_TUNE_CFGS)],
        "cfg int, n_bands long, band_size long",
    )
    return (
        cfgs.join(work, "cfg")
        .join(caught, "cfg", "left")
        .crossJoin(F.broadcast(n_planted))
        .select(
            F.col("cfg").cast("long").alias("cfg"),
            "n_bands",
            "band_size",
            "n_buckets",
            "n_candidate_pairs",
            "n_planted",
            F.coalesce("n_caught", F.lit(0)).cast("long").alias("n_caught"),
            F.expr("COALESCE(n_caught, 0) * 10000 DIV n_planted")
            .cast("long")
            .alias("recall_bp"),
        )
    )
