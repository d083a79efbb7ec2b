"""North-star training-data-pipeline queries (BASELINE.json): dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + IVF-bucketed cosine top-k), text analysis (token stats,
quality, language ID, fingerprints), multimodal binary plumbing.

Every sketch is built on md5-of-string digests so the full pipeline —
shingle → sketch → candidate join → verification — is bit-identical in
DuckDB and therefore oracle-checked, not just smoke-tested. Corpora
with guaranteed duplicates are synthesized deterministically from the
documents table (exact copies / truncated near-copies) on BOTH sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import fround, sql_round
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_from_arrays,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_from_arrays,
    shingle_arrays,
    simhash_narrow,
    sql_simhash_bit_vote,
    word_shingles,
    SIMHASH_BITS,
)  # noqa: F401 — word_shingles/jaccard_pairs feed the quadratic baseline below
from stacktrend_spark.operators.multimodal import (
    extract_features,
    sample_frame_offsets,
    synthesize_media,
)
from stacktrend_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    lsh_bucket,
    lsh_planes,
)
from stacktrend_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    regex_token_stats,
    token_stats,
    BPE_PRETOKEN_RE,
    LANG_MARKERS,
)
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# deterministic corpora with planted duplicates (same construction on
# both engines)
# ---------------------------------------------------------------------------

_SQL_CORPUS_EXACT = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

_SQL_CORPUS_NEAR = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, SUBSTR(text, 1, LENGTH(text) - 20) AS text
    FROM documents WHERE doc_id % 5 = 0
"""

_SQL_SHINGLES_3 = """
    SELECT DISTINCT doc_id,
           UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS shingle
    FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM corpus)
    WHERE len(w) >= 3
"""


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 20)").alias("text"),
    )
    return docs.unionByName(mutated)


# ---------------------------------------------------------------------------
# Dedup 1 — exact (hash-groupBy on normalization digest)
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
        WITH corpus AS ({_SQL_CORPUS_EXACT}),
        keyed AS (SELECT doc_id, MD5(LOWER(text)) AS dedup_key FROM corpus)
        SELECT
            doc_id,
            MIN(doc_id) OVER (PARTITION BY dedup_key)          AS canonical_id,
            COUNT(*) OVER (PARTITION BY dedup_key)             AS group_size,
            doc_id <> MIN(doc_id) OVER (PARTITION BY dedup_key) AS is_dup
        FROM keyed
    """,
    doc="Exact dedup via content-digest groupBy; shuffle carries only (digest, id).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_exact(spark, sf_dir)
    return exact_dedup_groups(corpus, "doc_id", F.md5(F.lower(F.col("text"))))


# ---------------------------------------------------------------------------
# Dedup 2 — MinHash + banded LSH + exact-Jaccard verification
# ---------------------------------------------------------------------------
_MINHASH_K = 8
_BAND_SIZE = 2
_JACCARD_THRESHOLD = 0.4

_SQL_SIG_COLS = ",\n            ".join(
    f"MIN(MD5('{i}|' || shingle)) AS h{i}" for i in range(_MINHASH_K)
)
_SQL_BANDS = "\n            UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, MD5(h{2 * b} || h{2 * b + 1}) AS band_key FROM sig"
    for b in range(_MINHASH_K // _BAND_SIZE)
)


@register(
    "dedup_minhash_lsh",
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
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT
            c.id_a, c.id_b, cm.n_common, sa.sz AS n_a, sb.sz AS n_b,
            {sql_round('CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)', 6)} AS jaccard
        FROM cand c
        JOIN common cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
        JOIN sizes sa ON c.id_a = sa.doc_id
        JOIN sizes sb ON c.id_b = sb.doc_id
        WHERE CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)
              >= {_JACCARD_THRESHOLD}
    """,
    doc="MinHash→banded-LSH candidates→exact-Jaccard verify; digests skew-free, oracle-exact.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BASELINE TIER (r6 verdict task 3). This query's OUTPUT
    CONTRACT is the exhaustive listing of every verified intra-bucket
    pair — Σ family² rows by definition, measured sf1 α=1.39 on
    mirror-heavy data. That superlinearity is the contract, not the
    plan (sketch + band join are corpus-linear), and it exists so the
    bounded production twins — ``dedup_minhash_star`` (one edge per
    member/band) and ``dedup_star_clusters`` (components) — have an
    exact ground truth to be judged against. It is excluded from
    BENCH_SF1 headline alpha stats (tools/bench_sf1.py
    ORACLE_BASELINE) and must never be the path a 100 TB pipeline
    runs; use the star twins."""
    corpus = fan_out(_corpus_near(spark, sf_dir))
    # NARROW pipeline: shingles stay as one array per doc — signatures
    # are a pure projection (array_min of salted md5s, no explode/
    # shuffle) and verification is array_intersect over broadcast
    # candidate pairs. Shuffles: the band self-join, nothing else.
    # Checkpoint the arrays: they feed the signature path AND both sides
    # of verification (SURVEY §4 anti-pattern 1: materialize once).
    arrs = local_checkpoint(shingle_arrays(corpus, "doc_id", "text", n=3))
    # checkpoint signatures too: the band self-join reads them from BOTH
    # sides, and each side would otherwise redo the k×md5 projection
    # over every shingle array
    sigs = local_checkpoint(minhash_signatures_from_arrays(arrs, "doc_id", num_hashes=_MINHASH_K))
    cand = lsh_candidate_pairs(sigs, "doc_id", num_hashes=_MINHASH_K, band_size=_BAND_SIZE)
    scored = jaccard_from_arrays(arrs, "doc_id", pairs=cand)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return scored.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", fround(jac, 6).alias("jaccard")
    ).filter(jac >= _JACCARD_THRESHOLD)


@register(
    "dedup_minhash_star",
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
            {sql_round('CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)', 6)} AS jaccard
        FROM cand c
        JOIN common cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
        JOIN sizes sa ON c.id_a = sa.doc_id
        JOIN sizes sb ON c.id_b = sb.doc_id
        WHERE CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)
              >= {_JACCARD_THRESHOLD}
    """,
    doc=(
        "Bounded-output MinHash LSH dedup: per-bucket star candidates "
        "(member ↔ bucket-min) instead of all intra-bucket pairs — "
        "O(N·bands) pair volume, corpus-linear on mirror-heavy data."
    ),
)
def dedup_minhash_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe dedup contract (r5 verdict task 2).

    ``dedup_minhash_lsh`` emits ALL verified intra-bucket pairs —
    Σ family² — which measured α=1.73 at sf1 on the synthesizer's
    11-member dup families (1,352 → 405,571 output pairs; see
    SCALE.md). This variant keeps the identical sketch pipeline
    (shingle arrays → minhash → banded digests) but caps candidate
    generation at one edge per (member, band): each bucket member
    links only to the bucket's MIN doc_id. Verified star edges are
    exactly the input ``dedup_clusters`` needs — connected components
    recovers whole dup families without ever materializing their
    quadratic pair closure.

    Scale shape: bucket minima via groupBy-min on the band digest
    (map-side combine — a mega-bucket reduces before it shuffles)
    joined back to the band rows, then shuffle joins (NOT broadcast —
    the candidate set is O(N) by design, so nothing driver-side may
    hold it) against the checkpointed shingle arrays for exact-Jaccard
    verification of candidates only. A/B at sf0.1: window-min form
    1.5-2.0 s warm vs this 1.9-2.5 s — the ~0.3 s local cost buys
    removing WindowExec's whole-bucket single-task buffering, the
    only piece that could not spill-scale on a 10⁸-copy mirror.

    Reference anchor: replaces the driver-side seen-set dedup at
    github_data_ingestion.py:199-219, like the rest of the family.
    """
    from stacktrend_spark.operators.dedup import lsh_star_edges

    corpus = fan_out(_corpus_near(spark, sf_dir))
    arrs = local_checkpoint(shingle_arrays(corpus, "doc_id", "text", n=3))
    sigs = minhash_signatures_from_arrays(arrs, "doc_id", num_hashes=_MINHASH_K)
    cand = lsh_star_edges(sigs, "doc_id", num_hashes=_MINHASH_K, band_size=_BAND_SIZE)
    scored = jaccard_from_arrays(arrs, "doc_id", pairs=cand, broadcast_pairs=False)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return scored.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", fround(jac, 6).alias("jaccard")
    ).filter(jac >= _JACCARD_THRESHOLD)


_SQL_STAR_VERIFIED = f"""
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
        ),
        verified AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN common cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
            JOIN sizes sa ON c.id_a = sa.doc_id
            JOIN sizes sb ON c.id_b = sb.doc_id
            WHERE CAST(cm.n_common AS DOUBLE)
                  / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)
                  >= {_JACCARD_THRESHOLD}
        )"""


@register(
    "dedup_star_clusters",
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
        )
        SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    """,
    doc=(
        "End-to-end bounded dedup funnel: MinHash star edges → "
        "connected components → per-doc cluster label. Every stage is "
        "corpus-linear; no Σ family² anywhere."
    ),
)
def dedup_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup contract in one plan (r5 verdict task 2,
    completed): where ``dedup_minhash_lsh`` enumerates each dup
    family's quadratic pair closure, this funnel emits O(N·bands)
    star candidates, verifies only those, and recovers whole families
    as connected components — a mirror with 10⁴ copies costs 10⁴
    verified edges and one component, never 10⁸ pairs. Output is the
    per-doc (doc_id, cluster_id) labeling a curation pipeline keeps:
    filter to ``doc_id = cluster_id`` for canonical survivors.

    Components use the bounded driver union-find below 100k edges and
    the distributed min-label loop above (operators/graph.py:31)."""
    from stacktrend_spark.operators.graph import connected_components

    edges = dedup_minhash_star(spark, sf_dir).select("id_a", "id_b")
    corpus = fan_out(_corpus_near(spark, sf_dir))
    nodes = shingle_arrays(corpus, "doc_id", "text", n=3).select(
        F.col("doc_id").alias("node")
    )
    labels = connected_components(edges, nodes=nodes)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )


_SQL_SHINGLES_BATCH = _SQL_SHINGLES_3.replace("FROM corpus", "FROM batchc")


@register(
    "dedup_incremental_batch",
    oracle=f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        batchc AS (
            SELECT doc_id + 100000 AS doc_id,
                   SUBSTR(text, 1, LENGTH(text) - 20) AS text
            FROM documents WHERE doc_id % 5 = 0
        ),
        sh AS ({_SQL_SHINGLES_3}),
        shb AS ({_SQL_SHINGLES_BATCH}),
        sig AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        sigb AS (
            SELECT doc_id,
            {_SQL_SIG_COLS}
            FROM shb GROUP BY doc_id
        ),
        bands AS (
            {_SQL_BANDS}
        ),
        bandsb AS (
            {_SQL_BANDS.replace("FROM sig", "FROM sigb")}
        ),
        reps AS (
            SELECT band_id, band_key, MIN(doc_id) AS index_id
            FROM bands GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT b.doc_id AS batch_id, r.index_id
            FROM bandsb b
            JOIN reps r ON b.band_id = r.band_id AND b.band_key = r.band_key
        ),
        szi AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        szb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shb GROUP BY doc_id),
        common AS (
            SELECT b.doc_id AS batch_id, a.doc_id AS index_id,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM shb b JOIN sh a ON b.shingle = a.shingle
            GROUP BY 1, 2
        )
        SELECT
            c.batch_id, c.index_id, cm.n_common,
            sb.sz AS n_batch, si.sz AS n_index,
            {sql_round('CAST(cm.n_common AS DOUBLE) / CAST(sb.sz + si.sz - cm.n_common AS DOUBLE)', 6)} AS jaccard
        FROM cand c
        JOIN common cm ON c.batch_id = cm.batch_id AND c.index_id = cm.index_id
        JOIN szb sb ON c.batch_id = sb.doc_id
        JOIN szi si ON c.index_id = si.doc_id
        WHERE CAST(cm.n_common AS DOUBLE) / CAST(sb.sz + si.sz - cm.n_common AS DOUBLE)
              >= {_JACCARD_THRESHOLD}
    """,
    doc=(
        "Incremental dedup: a NEW batch checked against the standing "
        "corpus's LSH bucket-representative index — batch-linear work, "
        "the corpus is touched only as (band_key, rep) rows."
    ),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape MinHash dedup actually runs in: the corpus
    was already indexed (band digests + per-bucket representative —
    reusable, mergeable state); each incoming crawl batch computes ITS
    signatures, probes the bucket index, and exact-verifies only
    (batch_doc, bucket_rep) pairs. Work per ingest is O(batch·bands)
    — the 100 TB corpus is never re-shingled, never self-joined, and
    enters the plan only as the (band_key → rep) table plus the rep
    docs' shingle arrays fetched by the verification join.

    Here the "batch" is the planted truncated near-copies and the
    "index" is the documents table, so the match set is non-vacuous
    and both engines derive identical state from the same corpus.
    """
    from stacktrend_spark.operators.dedup import lsh_band_rows

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 20)").alias("text"),
    )
    arr_i = local_checkpoint(shingle_arrays(docs, "doc_id", "text", n=3))
    arr_b = local_checkpoint(shingle_arrays(batch, "doc_id", "text", n=3))
    sig_i = minhash_signatures_from_arrays(arr_i, "doc_id", num_hashes=_MINHASH_K)
    sig_b = minhash_signatures_from_arrays(arr_b, "doc_id", num_hashes=_MINHASH_K)
    bands_i = lsh_band_rows(sig_i, "doc_id", _MINHASH_K, _BAND_SIZE)
    bands_b = lsh_band_rows(sig_b, "doc_id", _MINHASH_K, _BAND_SIZE)
    reps = bands_i.groupBy("band_id", "band_key").agg(
        F.min("doc_id").alias("index_id")
    )
    cand = (
        bands_b.join(reps, ["band_id", "band_key"])
        .select(F.col("doc_id").alias("batch_id"), "index_id")
        .distinct()
    )
    a = arr_i.select(
        F.col("doc_id").alias("index_id"),
        F.col("shingles").alias("sh_i"),
        F.col("n_shingles").alias("n_index"),
    )
    b = arr_b.select(
        F.col("doc_id").alias("batch_id"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_batch"),
    )
    scored = (
        cand.join(b, "batch_id")
        .join(a, "index_id")
        .select(
            "batch_id",
            "index_id",
            F.size(F.array_intersect("sh_b", "sh_i")).cast("long").alias("n_common"),
            "n_batch",
            "n_index",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_batch") + F.col("n_index") - F.col("n_common")
    ).cast("double")
    return scored.select(
        "batch_id",
        "index_id",
        "n_common",
        "n_batch",
        "n_index",
        fround(jac, 6).alias("jaccard"),
    ).filter(jac >= _JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# Dedup 3 — SimHash signatures (32-bit, md5-nibble bit votes)
# ---------------------------------------------------------------------------
_SQL_SIMHASH_VOTES = ",\n            ".join(
    f"SUM({sql_simhash_bit_vote('word', b)}) AS v{b}" for b in range(1, SIMHASH_BITS + 1)
)
_SQL_SIMHASH_FOLD = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << (b - 1)} ELSE 0 END)"
    for b in range(1, SIMHASH_BITS + 1)
)


@register(
    "dedup_simhash",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS word
            FROM documents
        ),
        votes AS (
            SELECT doc_id,
            {_SQL_SIMHASH_VOTES}
            FROM toks GROUP BY doc_id
        )
        SELECT doc_id, CAST({_SQL_SIMHASH_FOLD} AS BIGINT) AS simhash
        FROM votes
    """,
    doc="32-bit SimHash per doc as a map-only narrow projection: zero shuffles, oracle-exact.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A/B measured at sf0.1 (round 3, 5000 docs, warm ×3): narrow
    # 0.92 s vs grouped explode+agg 1.28 s, identical signatures — the
    # round-2 "3.6× regression" was the regenerated (heavier) testdata,
    # not this rewrite; bench.py now records input stats to keep such
    # comparisons honest. Narrow stays the default: faster here AND
    # zero-shuffle at scale.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return simhash_narrow(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Dedup 4 — exact n-gram Jaccard over all co-occurring pairs (the
# quadratic verification baseline for the sketch paths)
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        sh AS ({_SQL_SHINGLES_3}),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT
            cm.id_a, cm.id_b, cm.n_common, sa.sz AS n_a, sb.sz AS n_b,
            {sql_round('CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE)', 6)} AS jaccard
        FROM common cm
        JOIN sizes sa ON cm.id_a = sa.doc_id
        JOIN sizes sb ON cm.id_b = sb.doc_id
        WHERE CAST(cm.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - cm.n_common AS BIGINT) >= 0.05
    """,
    doc="Exact pairwise n-gram Jaccard via shingle-posting join (quadratic baseline).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    shingled = word_shingles(docs, "doc_id", "text", n=3)
    scored = jaccard_pairs(shingled, "doc_id", threshold=0.05)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return scored.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", fround(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Similarity 1 — brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------
_SQL_COSINE = (
    "list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(c.embedding, x -> CAST(x AS DOUBLE)))"
    " / (SQRT(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(q.embedding, x -> CAST(x AS DOUBLE))))"
    " * SQRT(list_dot_product(list_transform(c.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(c.embedding, x -> CAST(x AS DOUBLE)))))"
)


@register(
    "sim_bruteforce_topk",
    oracle=f"""
        SELECT * FROM (
            SELECT
                q.vec_id AS query_id,
                c.vec_id AS neighbor_id,
                {sql_round(_SQL_COSINE, 6)} AS cosine_sim,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {sql_round(_SQL_COSINE, 6)} DESC, c.vec_id) AS BIGINT) AS sim_rank
            FROM embeddings q
            CROSS JOIN embeddings c
            WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        ) t WHERE sim_rank <= 5
    """,
    doc="Brute-force cosine top-k: broadcast queries, codegen'd dot product, per-query rank.",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5, dim=64)


# ---------------------------------------------------------------------------
# Similarity 2 — IVF-style bucketed top-k (label = coarse cell id):
# the 100 TB scale path — candidates restricted to the probe's cell.
# ---------------------------------------------------------------------------
@register(
    "sim_ivf_topk",
    oracle=f"""
        SELECT * FROM (
            SELECT
                q.vec_id AS query_id,
                c.vec_id AS neighbor_id,
                {sql_round(_SQL_COSINE, 6)} AS cosine_sim,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {sql_round(_SQL_COSINE, 6)} DESC, c.vec_id) AS BIGINT) AS sim_rank
            FROM embeddings q
            JOIN embeddings c ON q.label = c.label
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
        ) t WHERE sim_rank <= 3
    """,
    doc="IVF-bucketed cosine top-k: equi-join on coarse cell id prunes the candidate space.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=3, bucket_col="label", dim=64)


# ---------------------------------------------------------------------------
# Dedup 5 — embedding-cosine near-duplicates. The testdata embeddings
# are random (max same-label cosine ≈ 0.47), so near-dups are PLANTED
# deterministically on both sides: every 10th vector gets a copy with
# its last 8 dims zeroed (cosine to the original = |head|/|full| ≈ 0.93).
# ---------------------------------------------------------------------------
_NEAR_DUP_THRESHOLD = 0.85
_ZEROS_8 = "[" + ", ".join("CAST(0 AS FLOAT)" for _ in range(8)) + "]"

_SQL_EMB_CORPUS = f"""
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           embedding[1:56] || {_ZEROS_8} AS embedding,
           label
    FROM embeddings WHERE vec_id % 10 = 0
"""

_SQL_PAIR_COSINE = (
    "list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
    " / (SQRT(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(a.embedding, x -> CAST(x AS DOUBLE))))"
    " * SQRT(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))"
)


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label"))
    zeros = F.array(*[F.lit(0.0).cast("float") for _ in range(8)])
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.slice("embedding", 1, 56), zeros).alias("embedding"),
        "label",
    )
    return emb.unionByName(copies)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH emb AS ({_SQL_EMB_CORPUS})
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {sql_round(_SQL_PAIR_COSINE, 6)} AS cosine_sim
        FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
    """,
    doc="Embedding-cosine near-dup pairs via bucket equi-join (label = coarse cell).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OUTPUT CONTRACT (r9 adjudication, SCALE.md "Round-9 scale
    # notes"): this row enumerates EVERY same-label pair with cosine
    # >= threshold — it is the exact ground truth the cell-scoped
    # SemDeDup twin (`dedup_semdedup_pairs`, the 100 TB path) is
    # judged against, so its cost is inherently Σ label-bucket² pair
    # scoring and its sf1 exponent measures the contract, not the
    # plan. ORACLE_BASELINE tier in tools/bench_sf1.py, same standing
    # as dedup_minhash_lsh / matryoshka_truncation_agreement.
    #
    # max_bucket_rows arms the hot-bucket triangle-grid guard: cold
    # buckets plan g=1 (plain bucket join); a bucket past 50k rows
    # splits into independent cell tasks (operators/similarity.py)
    return cosine_near_dup_pairs(
        _emb_corpus(spark, sf_dir),
        threshold=_NEAR_DUP_THRESHOLD,
        dim=64,
        max_bucket_rows=50_000,
    )


# ---------------------------------------------------------------------------
# Dedup 5a — hot-bucket guard audit: drives the triangle-grid skew
# guard (operators/similarity.py cosine_near_dup_pairs) through the
# DRIVER's hash gate. max_bucket_rows=16 is deliberately far below the
# ~44-70-row label buckets, so EVERY bucket splits (g ≈ 3-5) at every
# sf and the guarded grouped-Arrow kernel's cell layout — diagonal
# cells' strict upper triangle + off-diagonal chunk pairs — must
# reassemble the exact unguarded pair set. Output is the per-bucket
# audit (bucket_rows, the split factor the guard plans, and the pair
# count the guarded plan found); the oracle recomputes all three from
# scratch with a plain SQL pair join, so a double-counted diagonal or
# dropped off-diagonal cell hash-mismatches. Wall-time boundedness of
# the same guard is pinned separately (tools/bench_skew_guard.py:
# 18.99 s -> 3.485 s on a 20%-hot 50k-vector fixture, SCALE.md r11).
# ---------------------------------------------------------------------------
_GUARD_AUDIT_ROWS = 16


@register(
    "dedup_hotbucket_guard_audit",
    oracle=f"""
        WITH emb AS ({_SQL_EMB_CORPUS}),
        pairs AS (
            SELECT a.label AS label
            FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
        ),
        counts AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS bucket_rows,
                   CAST(CEIL(COUNT(*) / {float(_GUARD_AUDIT_ROWS)}) AS BIGINT) AS split_factor
            FROM emb GROUP BY label
        )
        SELECT c.label, c.bucket_rows, c.split_factor,
               CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs
        FROM counts c
        LEFT JOIN (SELECT label, COUNT(*) AS n_pairs FROM pairs GROUP BY label) p
               USING (label)
    """,
    doc=(
        "Per-bucket audit of the hot-bucket triangle-grid guard: split "
        "factor + guarded pair count vs a from-scratch SQL pair join."
    ),
)
def dedup_hotbucket_guard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _emb_corpus(spark, sf_dir)
    pairs = cosine_near_dup_pairs(
        corpus,
        threshold=_NEAR_DUP_THRESHOLD,
        dim=64,
        max_bucket_rows=_GUARD_AUDIT_ROWS,
    )
    # pair -> bucket via the A-side id (same-bucket pairs by
    # construction); linear shuffle join on id, AQE broadcasts at toy sf
    sides = corpus.select(F.col("vec_id").alias("id_a"), "label")
    per_label = (
        pairs.join(sides, "id_a")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    counts = corpus.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_rows")
    )
    return (
        counts.withColumn(
            "split_factor",
            F.ceil(F.col("bucket_rows") / F.lit(float(_GUARD_AUDIT_ROWS))).cast("long"),
        )
        .join(per_label, "label", "left")
        .select(
            "label",
            "bucket_rows",
            "split_factor",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup 5b — SemDeDup cell-scoped near-duplicates: the 100 TB scale
# path for embedding near-dup (arXiv:2303.09540 shape). Candidates are
# restricted to pairs sharing BOTH the coarse label bucket AND the
# Lloyd-assigned k-means cell (the IVF coarse quantizer that
# kmeans_assign_cells trains), so pair volume drops from Σ bucket² to
# Σ (bucket∩cell)² — at 100 TB, with the table written partitioned by
# cell, the pairing is a co-located per-cell task and the corpus never
# crosses a shuffle twice. The tradeoff is SemDeDup's: a true near-dup
# pair assigned to different cells is missed — dedup_embedding_cosine
# (oracle-baseline tier) is the exact ground truth for that recall.
# Cell assignment is bit-identical on both engines (the
# kmeans_assign_cells parity contract: left-fold dist², (dist2, cid)
# tie-break).
# ---------------------------------------------------------------------------
_SEMDEDUP_K = 8  # corpus vec_id < K seeds the quantizer (kmeans_assign_cells)


@register(
    "dedup_semdedup_pairs",
    oracle=f"""
        WITH emb AS ({_SQL_EMB_CORPUS}),
        cent AS (
            SELECT vec_id AS cid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
            FROM emb WHERE vec_id < {_SEMDEDUP_K}
        ),
        pts AS (
            SELECT vec_id, label, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM emb
        ),
        d AS (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist2, cid) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        cells AS (
            SELECT p.vec_id, p.label, p.embedding, a.cid
            FROM pts p JOIN assign a USING (vec_id)
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {sql_round(_SQL_PAIR_COSINE, 6)} AS cosine_sim
        FROM cells a
        JOIN cells b ON a.label = b.label AND a.cid = b.cid
                    AND a.vec_id < b.vec_id
        WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
    """,
    doc=(
        "SemDeDup cell-scoped near-dup pairs: Lloyd cell (IVF coarse "
        "quantizer) × label bucket bounds the candidate space; exact "
        "twin/ground truth = dedup_embedding_cosine (oracle-baseline)."
    ),
)
def dedup_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.similarity import with_cell_arrow

    corpus = _emb_corpus(spark, sf_dir)
    cent_rows = (
        corpus.filter(F.col("vec_id") < _SEMDEDUP_K)
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cent_rows
    ]
    # map-only fused assignment (no corpus ⋈ assignment shuffle), then
    # the pairing key narrows to (label, cell). CHECKPOINTED: the pairing
    # plan consumes the assigned corpus three times (A-side, B-side,
    # chunk-factor counts) and without it each consumer re-runs the
    # scan+assign kernel (seen in PLANS.md: MapInArrow ×2 + counts; at
    # 100 TB you pre-materialize the cell column at write time).
    assigned = with_cell_arrow(corpus, centroids, 64, out_col="cell")
    bucketed = local_checkpoint(
        assigned.withColumn("_bucket", F.concat_ws(":", F.col("label"), F.col("cell").cast("string")))
    )
    return cosine_near_dup_pairs(
        bucketed,
        threshold=_NEAR_DUP_THRESHOLD,
        bucket_col="_bucket",
        dim=64,
        max_bucket_rows=50_000,
    )


# ---------------------------------------------------------------------------
# Dedup 5c — SemDeDup recall eval: measures what the cell-scoped twin
# actually finds against the exhaustive ground truth, per cosine band
# (floor(sim·20): 0.05-wide bands over [threshold, 1]). Cell-scoped
# pairs are a SUBSET of the exhaustive pairs by construction (the cell
# only restricts candidates), so recall_bp = found·10⁴ // true needs
# no pair join — two aggregates over the two pair sets. This is the
# recall number the dedup_embedding_cosine oracle-baseline tier exists
# to provide; same pattern as ann_recall_eval for the IVF family.
# Runs the exhaustive baseline, so it shares that row's cost contract
# (ORACLE_BASELINE in tools/bench_sf1.py).
# ---------------------------------------------------------------------------
_SQL_SEMDEDUP_CELLS = f"""
        cent AS (
            SELECT vec_id AS cid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
            FROM emb WHERE vec_id < {_SEMDEDUP_K}
        ),
        pts AS (
            SELECT vec_id, label, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM emb
        ),
        d AS (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist2, cid) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        cells AS (
            SELECT p.vec_id, p.label, p.embedding, a.cid
            FROM pts p JOIN assign a USING (vec_id)
        )
"""


@register(
    "semdedup_recall_eval",
    oracle=f"""
        WITH emb AS ({_SQL_EMB_CORPUS}),
        {_SQL_SEMDEDUP_CELLS},
        tp AS (
            SELECT {sql_round(_SQL_PAIR_COSINE, 6)} AS c
            FROM cells a JOIN cells b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
        ),
        fp AS (
            SELECT {sql_round(_SQL_PAIR_COSINE, 6)} AS c
            FROM cells a JOIN cells b
              ON a.label = b.label AND a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
        ),
        tb AS (SELECT CAST(FLOOR(c * 20) AS BIGINT) AS cosine_band,
                      COUNT(*) AS n_true
               FROM tp GROUP BY 1),
        fb AS (SELECT CAST(FLOOR(c * 20) AS BIGINT) AS cosine_band,
                      COUNT(*) AS n_found
               FROM fp GROUP BY 1)
        SELECT tb.cosine_band,
               CAST(tb.n_true AS BIGINT)              AS n_true,
               CAST(COALESCE(fb.n_found, 0) AS BIGINT) AS n_found,
               CAST(COALESCE(fb.n_found, 0) * 10000 // tb.n_true AS BIGINT)
                   AS recall_bp
        FROM tb LEFT JOIN fb ON tb.cosine_band = fb.cosine_band
    """,
    doc=(
        "SemDeDup recall per 0.05 cosine band: cell-scoped pair counts "
        "vs the exhaustive ground truth (exact integer basis points)."
    ),
)
def semdedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    true_pairs = dedup_embedding_cosine(spark, sf_dir)
    found_pairs = dedup_semdedup_pairs(spark, sf_dir)
    band = lambda df: df.select(  # noqa: E731
        F.floor(F.col("cosine_sim") * 20).cast("long").alias("cosine_band")
    )
    tb = band(true_pairs).groupBy("cosine_band").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    fb = band(found_pairs).groupBy("cosine_band").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return (
        tb.join(fb, "cosine_band", "left")
        .select(
            "cosine_band",
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias("n_found"),
        )
        # integer DIV (not double /): exact on both engines
        .withColumn("recall_bp", F.expr("CAST(n_found * 10000 DIV n_true AS LONG)"))
    )


# ---------------------------------------------------------------------------
# F1 — language_distribution as a pure column expression (map-valued
# UDF of the reference, b2s:403-445/616-618), exploded to rows so the
# map is value-checkable. Repos are synthesized deterministically from
# documents on BOTH sides; the per-share rounding uses the shared
# half-up formula (DuckDB ROUND is half-up; the operator's default
# bround/half-even differs on exact ties like 3.75).
# ---------------------------------------------------------------------------
from stacktrend_spark.functions.langdist import (  # noqa: E402
    language_distribution,
    PROGRAMMING_LANGUAGES,
)

_SQL_LANGS = "[" + ", ".join(
    f"{{'k': '{k}', 'n': '{v}'}}" for k, v in PROGRAMMING_LANGUAGES
) + "]"


@register(
    "langdist_shares",
    oracle=f"""
        WITH repos AS (
            SELECT
                doc_id AS repository_id,
                CASE CAST(doc_id % 5 AS INTEGER)
                     WHEN 0 THEN 'Python' WHEN 1 THEN 'Go'
                     WHEN 2 THEN 'null' WHEN 3 THEN '' ELSE 'Rust' END AS language,
                [STRING_SPLIT(text, ' ')[1], STRING_SPLIT(text, ' ')[2],
                 CASE CAST(doc_id % 3 AS INTEGER)
                      WHEN 0 THEN 'python-lib' WHEN 1 THEN 'rust'
                      ELSE 'database' END] AS topics
            FROM documents
        ),
        m AS (
            SELECT *,
                flatten([[p.n FOR p IN {_SQL_LANGS} IF contains(LOWER(t), p.k)]
                         FOR t IN topics]) AS matched,
                language IS NOT NULL AND TRIM(language) <> ''
                    AND LOWER(language) NOT IN ('null', 'none') AS has_primary
            FROM repos
        ),
        shaped AS (
            SELECT repository_id,
                CASE WHEN has_primary THEN list_prepend(language,
                         list_filter(list_distinct(matched), x -> x <> language))
                     WHEN len(matched) > 0 THEN list_distinct(matched)
                     ELSE ['Unknown'] END AS keys_,
                CASE WHEN has_primary AND len(matched) > 0 THEN
                         list_prepend(70.0, [30.0 / len(matched)
                             FOR x IN list_filter(list_distinct(matched), x -> x <> language)])
                     WHEN has_primary THEN [70.0]
                     WHEN len(matched) > 0 THEN
                         [100.0 / len(matched) FOR x IN list_distinct(matched)]
                     ELSE [100.0] END AS vals_
            FROM m
        ),
        totaled AS (
            SELECT repository_id, keys_, vals_, list_sum(vals_) AS total FROM shaped
        )
        SELECT
            repository_id,
            UNNEST(keys_) AS lang_name,
            UNNEST([FLOOR((v / total * 100.0) * 10.0 + 0.5) / 10.0
                    FOR v IN vals_]) AS share
        FROM totaled
    """,
    doc="F1 language_distribution (map-valued) exploded to rows; pure column exprs.",
)
def langdist_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    repos = docs.select(
        F.col("doc_id").alias("repository_id"),
        F.element_at(
            F.array(F.lit("Python"), F.lit("Go"), F.lit("null"), F.lit(""), F.lit("Rust")),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("language"),
        F.array(
            F.element_at(toks, 1),
            # r13 degenerate-corpus fix: a ONE-WORD document has no
            # second token — ANSI element_at crashed the whole query
            # where DuckDB's list index yields NULL; try_element_at
            # restores the NULL (the match comprehension skips it).
            F.try_element_at(toks, F.lit(2)),
            F.element_at(
                F.array(F.lit("python-lib"), F.lit("rust"), F.lit("database")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("topics"),
    )
    dist = repos.select(
        "repository_id",
        language_distribution(
            F.col("language"), F.col("topics"), round_fn=lambda v: fround(v, 1)
        ).alias("m"),
    )
    return dist.select(
        "repository_id", F.explode("m").alias("lang_name", "share")
    )


# ---------------------------------------------------------------------------
# Multimodal — REAL container formats (binary PPM / RIFF-PCM WAV / VID0
# frame container), synthesized deterministically and genuinely PARSED
# back by pure-Python decoders (operators/multimodal.py). The oracle
# recomputes every header field and body checksum in closed form from
# the synthesis formulas — a decoder (or encoder) bug mismatches.
# ---------------------------------------------------------------------------
@register(
    "multimodal_features",
    oracle="""
        WITH p AS (
            SELECT doc_id AS d, LENGTH(text) AS nc FROM documents
        ),
        m AS (
            SELECT d,
                ['image', 'audio', 'video'][CAST(d % 3 AS INTEGER) + 1] AS media_type,
                8 + d % 32        AS iw,
                8 + (3 * d) % 32  AS ih,
                8000 + 1000 * (d % 5) AS sr,
                1 + d % 2         AS ch,
                50 + nc % 200     AS ns,
                8 + d % 16        AS vw,
                8 + (3 * d) % 16  AS vh,
                1 + d % 8         AS nf
            FROM p
        )
        SELECT
            d AS doc_id,
            media_type,
            CAST(CASE media_type
                WHEN 'image' THEN 9 + LENGTH(CAST(iw AS VARCHAR)) + LENGTH(CAST(ih AS VARCHAR)) + iw * ih * 3
                WHEN 'audio' THEN 44 + ns * ch * 2
                ELSE 16 + nf * vw * vh * 3 END AS BIGINT) AS n_bytes,
            CAST(CASE media_type
                WHEN 'image' THEN 9 + LENGTH(CAST(iw AS VARCHAR)) + LENGTH(CAST(ih AS VARCHAR))
                WHEN 'audio' THEN 44
                ELSE 16 END AS BIGINT)                    AS body_offset,
            CAST(CASE media_type WHEN 'image' THEN iw WHEN 'video' THEN vw END AS BIGINT) AS width,
            CAST(CASE media_type WHEN 'image' THEN ih WHEN 'video' THEN vh END AS BIGINT) AS height,
            CAST(CASE media_type WHEN 'video' THEN nf ELSE 1 END AS BIGINT)               AS n_frames,
            CAST(CASE media_type
                WHEN 'image' THEN iw * ih * 3
                WHEN 'audio' THEN ns * ch * 2
                ELSE vw * vh * 3 END AS BIGINT)           AS frame_size,
            CAST(CASE media_type WHEN 'audio' THEN sr END AS BIGINT) AS sample_rate,
            CAST(CASE media_type WHEN 'audio' THEN ch END AS BIGINT) AS n_channels,
            CAST(CASE media_type WHEN 'audio' THEN 16 END AS BIGINT) AS bit_depth,
            CAST(CASE media_type WHEN 'audio' THEN ns END AS BIGINT) AS n_samples,
            CAST(CASE media_type
                WHEN 'image' THEN list_sum(list_transform(range(iw * ih * 3), i -> (7 * i + d) % 256))
                WHEN 'audio' THEN list_sum(list_transform(range(ns * ch),
                    i -> ((31 * i + d) % 65536) % 256 + ((31 * i + d) % 65536) // 256))
                ELSE list_sum(list_transform(range(nf * vw * vh * 3), i -> (7 * i + d) % 256))
                END AS BIGINT)                            AS body_checksum
        FROM m
    """,
    doc=(
        "Multimodal plumbing with real codecs: synthesize PPM/WAV/VID0 "
        "payloads, parse them back via mapInPandas, oracle-check every "
        "parsed header field + body checksum in closed form."
    ),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(synthesize_media(docs))


# ---------------------------------------------------------------------------
# Text 1 — token statistics
# ---------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks FROM documents
        )
        SELECT
            doc_id,
            CAST(LEN(toks) AS BIGINT)                        AS n_tokens,
            CAST(LEN(list_distinct(toks)) AS BIGINT)         AS n_distinct_tokens,
            {sql_round('CAST(LEN(list_distinct(toks)) AS DOUBLE) / CAST(LEN(toks) AS DOUBLE)', 6)} AS type_token_ratio,
            {sql_round('CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE) / CAST(LEN(toks) AS DOUBLE)', 6)} AS avg_token_len
        FROM t
    """,
    doc="Per-doc token counts / distinct / TTR / exact mean token length (codegen'd arrays).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Text 2 — quality scoring (additive scorecard, b2s:769-782 pattern)
# ---------------------------------------------------------------------------
_SQL_STOPWORDS = "['the', 'a', 'an', 'of', 'and', 'or', 'is', 'in', 'to']"


@register(
    "text_quality",
    oracle=f"""
        WITH feat AS (
            SELECT
                doc_id,
                STRING_SPLIT(LOWER(text), ' ') AS toks,
                CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct
            FROM documents
        ),
        scored AS (
            SELECT
                doc_id,
                CAST(LEN(toks) AS BIGINT) AS n_tokens,
                CAST(LEN(list_filter(toks, x -> list_contains({_SQL_STOPWORDS}, x))) AS DOUBLE)
                    / CAST(LEN(toks) AS DOUBLE) AS stop_ratio,
                n_punct / n_chars AS punct_ratio,
                LEAST(100.0, GREATEST(0.0,
                    LEAST(40.0, CAST(LEN(toks) AS DOUBLE) / 2.0)
                    + LEAST(30.0, (CAST(LEN(list_filter(toks, x -> list_contains({_SQL_STOPWORDS}, x))) AS DOUBLE)
                                   / CAST(LEN(toks) AS DOUBLE)) * 300.0)
                    - LEAST(20.0, (n_punct / n_chars) * 100.0)
                    + 30.0)) AS score
            FROM feat
        )
        SELECT
            doc_id, n_tokens,
            {sql_round('stop_ratio', 6)}  AS stopword_ratio,
            {sql_round('punct_ratio', 6)} AS punct_ratio,
            {sql_round('score', 6)}       AS quality_score,
            CASE WHEN {sql_round('score', 6)} >= 80 THEN 'high'
                 WHEN {sql_round('score', 6)} >= 55 THEN 'medium'
                 ELSE 'low' END           AS quality_tier
        FROM scored
    """,
    doc="Additive text-quality scorecard (length/stopword/punct) + tier CASE.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Text 3 — heuristic language ID (marker-token argmax)
# ---------------------------------------------------------------------------
def _sql_lang_score(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return (
        f"CAST(LEN(list_filter(STRING_SPLIT(LOWER(text), ' '), "
        f"x -> list_contains({arr}, x))) AS BIGINT)"
    )


_LANGS = sorted(LANG_MARKERS)
_SQL_LANG_SCORES = ",\n            ".join(
    f"{_sql_lang_score(lang)} AS score_{lang}" for lang in _LANGS
)
_SQL_BEST = "GREATEST(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
_SQL_PRED = (
    "CASE "
    + " ".join(f"WHEN score_{lang} = {_SQL_BEST} THEN '{lang}'" for lang in _LANGS)
    + " END"
)


@register(
    "text_language_id",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
            {_SQL_LANG_SCORES}
            FROM documents
        )
        SELECT doc_id, {", ".join(f"score_{lang}" for lang in _LANGS)},
               {_SQL_PRED} AS predicted_lang
        FROM scored
    """,
    doc="Heuristic marker-token language ID with deterministic argmax.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Text 3b — BPE-ish regex pre-tokenization counts
# ---------------------------------------------------------------------------
@register(
    "text_regex_tokens",
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   regexp_extract_all(LOWER(text), '{BPE_PRETOKEN_RE}') AS pieces
            FROM documents
        )
        SELECT
            doc_id,
            CAST(LEN(pieces) AS BIGINT) AS n_pieces,
            CAST(LEN(list_filter(pieces, x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT)
                AS n_word_pieces,
            CAST(LEN(list_filter(pieces, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT)
                AS n_number_pieces,
            CAST(LEN(pieces)
                 - LEN(list_filter(pieces, x -> regexp_full_match(x, '[a-z]+')))
                 - LEN(list_filter(pieces, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT)
                AS n_symbol_pieces
        FROM p
    """,
    doc="BPE-style regex pre-tokenization counts (letter/digit/symbol pieces), JVM-side.",
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return regex_token_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Text 4 — document fingerprints (salted min-digests over 4-gram shingles)
# ---------------------------------------------------------------------------
_SQL_SHINGLES_4 = """
    SELECT DISTINCT doc_id,
           UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] FOR i IN range(1, len(w) - 2)]) AS shingle
    FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w FROM documents)
    WHERE len(w) >= 4
"""


@register(
    "text_fingerprint",
    oracle=f"""
        WITH sh AS ({_SQL_SHINGLES_4})
        SELECT doc_id,
               MIN(MD5('fp0|' || shingle)) AS fp0,
               MIN(MD5('fp1|' || shingle)) AS fp1
        FROM sh GROUP BY doc_id
    """,
    doc="Winnowing-style salted min-digest fingerprints — cheap near-dup blocking keys.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    shingled = word_shingles(docs, "doc_id", "text", n=4)
    return fingerprint(shingled, "doc_id", num_fingerprints=2)


# ---------------------------------------------------------------------------
# Dedup 6 — pair→cluster assignment: connected components over the
# embedding near-dup pairs (operators/graph.py). The oracle computes
# the same components with a recursive CTE — expressible at sf0.01
# scale, which keeps this iterative operator value-checked rather than
# rows-only.
# ---------------------------------------------------------------------------
@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        emb AS ({_SQL_EMB_CORPUS}),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT vec_id, vec_id FROM emb
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        )
        SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    """,
    doc="Near-dup pairs → duplicate clusters via iterative min-label connected components.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.graph import connected_components

    corpus = _emb_corpus(spark, sf_dir)
    pairs = cosine_near_dup_pairs(
        corpus, threshold=_NEAR_DUP_THRESHOLD, dim=64
    ).select("id_a", "id_b")
    labels = connected_components(
        pairs, nodes=corpus.select(F.col("vec_id").alias("node"))
    )
    return labels.select(
        F.col("node").alias("vec_id"), F.col("component").cast("long").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Flagship composition — the end-to-end corpus-curation pipeline a
# training-data run executes, chaining the north-star operators in one
# plan: quality gate → language allowlist → exact dedup keeping the
# canonical (smallest-id) copy → deterministic split → corpus stats.
# Every stage is a narrow filter or a single keyed shuffle; nothing
# here changes shape at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "pipeline_corpus_curation",
    oracle="""
        WITH gated AS (
            SELECT doc_id, lang, n_chars, LOWER(text) AS norm_text
            FROM documents
            WHERE n_chars BETWEEN 64 AND 4096
              AND LEN(STRING_SPLIT(text, ' ')) >= 12
              AND lang IN ('en', 'es', 'fr', 'de')
        ),
        canonical AS (
            SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY norm_text
        ),
        kept AS (
            SELECT g.* FROM gated g JOIN canonical c USING (doc_id)
        )
        SELECT
            lang,
            CASE WHEN doc_id % 10 < 8 THEN 'train'
                 WHEN doc_id % 10 = 8 THEN 'val'
                 ELSE 'test' END         AS split,
            CAST(COUNT(*) AS BIGINT)     AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM kept
        GROUP BY lang, CASE WHEN doc_id % 10 < 8 THEN 'train'
                            WHEN doc_id % 10 = 8 THEN 'val'
                            ELSE 'test' END
    """,
    doc="End-to-end corpus curation: quality gate → lang filter → exact dedup → split → stats.",
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("n_chars").between(64, 4096)
        & (F.size(F.split("text", " ")) >= 12)
        & F.col("lang").isin("en", "es", "fr", "de")
    ).select("doc_id", "lang", "n_chars", F.lower("text").alias("norm_text"))
    # exact dedup, canonical = smallest doc_id per normalized text; at
    # scale the group key would be the md5 digest (dedup_exact's key) —
    # same shuffle, fixed-width key
    canonical = gated.groupBy("norm_text").agg(F.min("doc_id").alias("doc_id"))
    kept = gated.join(canonical.select("doc_id"), "doc_id")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        kept.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity 3 — random-hyperplane (sign) LSH top-k: the second ANN
# scale path next to IVF. Hyperplanes come from a deterministic LCG
# (operators/similarity.lsh_planes), so both engines rebuild the exact
# same signatures and the ANN result is value-checkable. Signature
# computation is a zero-shuffle map; the candidate join is an equi-join
# on the bucket id exactly like IVF.
# ---------------------------------------------------------------------------
_LSH_N_PLANES = 6
_LSH_PLANES = lsh_planes(_LSH_N_PLANES, 64)


def _sql_lsh_plane_dot(p: int) -> str:
    lits = ", ".join(repr(x) for x in _LSH_PLANES[p])
    return (
        "list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        f" [{lits}])"
    )


_SQL_LSH_BUCKET = " + ".join(
    f"(CASE WHEN {_sql_lsh_plane_dot(p)} >= 0.0 THEN {1 << p} ELSE 0 END)"
    for p in range(_LSH_N_PLANES)
)


@register(
    "sim_lsh_topk",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   CAST({_SQL_LSH_BUCKET} AS BIGINT) AS lsh_bucket
            FROM embeddings
        )
        SELECT * FROM (
            SELECT
                q.vec_id AS query_id,
                c.vec_id AS neighbor_id,
                {sql_round(_SQL_COSINE, 6)} AS cosine_sim,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY {sql_round(_SQL_COSINE, 6)} DESC, c.vec_id) AS BIGINT) AS sim_rank
            FROM sig q JOIN sig c ON q.lsh_bucket = c.lsh_bucket
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
        ) t WHERE sim_rank <= 3
    """,
    doc=(
        "Sign-LSH cosine top-k: deterministic LCG hyperplanes → signed-"
        "projection bucket (map-side, 0 shuffle) → equi-join on bucket → "
        "exact rerank of the candidate set."
    ),
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).withColumn(
        "lsh_bucket", lsh_bucket(F.col("embedding"), _LSH_PLANES, 64)
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=3, bucket_col="lsh_bucket", dim=64)


# ---------------------------------------------------------------------------
# Multimodal 2 — frame sampling as a registered query: one row per
# frame byte-offset, derived from the PARSED container headers (the
# explode stays JVM-side; Python was crossed once in extract_features).
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_offsets",
    oracle="""
        WITH p AS (
            SELECT doc_id AS d, LENGTH(text) AS nc FROM documents
        ),
        m AS (
            SELECT d,
                ['image', 'audio', 'video'][CAST(d % 3 AS INTEGER) + 1] AS media_type,
                8 + d % 32        AS iw,
                8 + (3 * d) % 32  AS ih,
                1 + d % 2         AS ch,
                50 + nc % 200     AS ns,
                8 + d % 16        AS vw,
                8 + (3 * d) % 16  AS vh,
                1 + d % 8         AS nf
            FROM p
        ),
        feat AS (
            SELECT d, media_type,
                CASE media_type
                    WHEN 'image' THEN 9 + LENGTH(CAST(iw AS VARCHAR)) + LENGTH(CAST(ih AS VARCHAR))
                    WHEN 'audio' THEN 44
                    ELSE 16 END AS body_offset,
                CASE media_type WHEN 'video' THEN nf ELSE 1 END AS n_frames,
                CASE media_type
                    WHEN 'image' THEN iw * ih * 3
                    WHEN 'audio' THEN ns * ch * 2
                    ELSE vw * vh * 3 END AS frame_size
            FROM m
        )
        SELECT
            d AS doc_id,
            media_type,
            CAST(body_offset + f * frame_size AS BIGINT) AS frame_offset
        FROM feat, UNNEST(range(n_frames)) t(f)
    """,
    doc="Frame sampling over parsed media headers: JVM-side explode of per-frame byte offsets.",
)
def multimodal_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frame_offsets(extract_features(synthesize_media(docs)))


# ---------------------------------------------------------------------------
# Text 8 — PII redaction: the curation step every training-data
# pipeline runs before release. PII is INJECTED deterministically (the
# corpus has none), then redacted with engine-portable regexes (the
# patterns below parse identically under Java regex and RE2) — counts
# and redacted text are value-checked.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\d{3}-\\d{4}"


@register(
    "text_pii_redact",
    oracle=f"""
        WITH synth AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
            FROM documents
        )
        SELECT
            doc_id,
            regexp_replace(
                regexp_replace(raw, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                '{_PII_PHONE}', '[PHONE]', 'g')               AS redacted,
            CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones
        FROM synth
    """,
    doc=(
        "PII redaction (emails + phone fragments): deterministic injection, "
        "engine-portable regex redact + match counts; map-only, fused into "
        "the scan at any scale."
    ),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ).alias("redacted"),
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Similarity 3 — ANN quality evaluation: recall@k of the IVF-bucketed
# path against the exact brute-force baseline, in one query. This is
# the metric that decides whether the 100 TB scale path (sim_ivf_topk)
# is good enough to replace the exact scan — an engine that ships an
# ANN operator must also ship its evaluation.
# ---------------------------------------------------------------------------
@register(
    "ann_recall_eval",
    # recall stays in integer space: n_hits of k=3, reported as
    # (n_hits*1000) DIV 3 — no float division for engines to disagree on
    oracle=f"""
        WITH bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {sql_round(_SQL_COSINE, 6)} DESC, c.vec_id) AS r
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            ) t WHERE r <= 3
        ),
        ivf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {sql_round(_SQL_COSINE, 6)} DESC, c.vec_id) AS r
                FROM embeddings q JOIN embeddings c ON q.label = c.label
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            ) t WHERE r <= 3
        )
        SELECT b.query_id,
               CAST(COUNT(i.neighbor_id) AS BIGINT)        AS n_hits,
               CAST((COUNT(i.neighbor_id) * 1000) // 3 AS BIGINT) AS recall_milli
        FROM bf b LEFT JOIN ivf i
          ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        GROUP BY b.query_id
    """,
    doc="recall@3 of IVF-bucketed ANN vs exact brute force, per query — integer recall.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both paths share one scan lineage; ground truth is the exact
    broadcast-queries × corpus scan, the candidate is the bucketed
    equi-join. The hit join is on (query, neighbor) — k·|queries| rows,
    trivially broadcastable at any scale."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    bf = cosine_topk(emb, queries, k=3, dim=64).select("query_id", "neighbor_id")
    ivf = cosine_topk(emb, queries, k=3, bucket_col="label", dim=64).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr("(n_hits * 1000) DIV 3").alias("recall_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal 3 — ViT-style patch grid. The oracle recomputes every
# patch sum closed-form from the synthesis formula body[i]=(7i+d)%256,
# so the REAL decode + numpy patchify path is value-checked per patch.
# ---------------------------------------------------------------------------
@register(
    "multimodal_patch_grid",
    oracle="""
        WITH p AS (
            SELECT doc_id AS d, 8 + doc_id % 32 AS w, 8 + (3 * doc_id) % 32 AS h
            FROM documents WHERE doc_id % 3 = 0
        ),
        grid AS (
            SELECT d, w, h,
                   unnest(range(CAST((h + 3) // 4 AS INTEGER))) AS pr
            FROM p
        ),
        cells AS (
            SELECT d, w, h, pr,
                   unnest(range(CAST((w + 3) // 4 AS INTEGER))) AS pc
            FROM grid
        )
        SELECT
            d                                        AS doc_id,
            CAST(pr AS BIGINT)                       AS patch_row,
            CAST(pc AS BIGINT)                       AS patch_col,
            CAST(LEAST(4, w - pc * 4) AS BIGINT)     AS patch_w,
            CAST(LEAST(4, h - pr * 4) AS BIGINT)     AS patch_h,
            CAST(list_sum(list_transform(
                range(CAST(LEAST(4, h - pr * 4) AS INTEGER)),
                rr -> list_sum(list_transform(
                    range(CAST(LEAST(4, w - pc * 4) AS INTEGER) * 3),
                    ck -> (7 * (((pr * 4 + rr) * w + pc * 4) * 3 + ck) + d)
                          % 256)))) AS BIGINT)       AS patch_sum
        FROM cells
    """,
    doc=(
        "ViT-style 4x4 patchify over the image corpus: real PPM decode "
        "+ numpy per-patch sums (pure map, Arrow-batched); every patch "
        "sum oracle-checked closed-form against the synthesis formula."
    ),
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.multimodal import patch_grid, synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    return patch_grid(synthesize_media(docs))


# ---------------------------------------------------------------------------
# Multimodal 4 — windowed audio frames (the acoustic-tokenizer analog
# of the patch grid): real WAV parse + int16 reinterpretation, oracled
# closed-form from sample formula v_i = (31i + d) mod 65536.
# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_windows",
    oracle="""
        WITH p AS (
            SELECT doc_id AS d,
                   (50 + LENGTH(text) % 200) * (1 + doc_id % 2) AS cnt
            FROM documents WHERE doc_id % 3 = 1
        ),
        wins AS (
            SELECT d, cnt,
                   unnest(range(CAST((cnt + 63) // 64 AS INTEGER))) AS w
            FROM p
        ),
        agg AS (
            SELECT d, w,
                   LEAST(64, cnt - w * 64) AS n,
                   list_transform(
                       range(CAST(LEAST(64, cnt - w * 64) AS INTEGER)),
                       j -> CASE WHEN (31 * (w * 64 + j) + d) % 65536 >= 32768
                                 THEN (31 * (w * 64 + j) + d) % 65536 - 65536
                                 ELSE (31 * (w * 64 + j) + d) % 65536 END
                   ) AS s
            FROM wins
        )
        SELECT d                                   AS doc_id,
               CAST(w AS BIGINT)                   AS window_id,
               CAST(n AS BIGINT)                   AS n_samples,
               CAST(list_sum(s) AS BIGINT)         AS sum_samples,
               CAST(list_sum(list_transform(s, x -> ABS(x))) AS BIGINT)
                                                   AS sum_abs,
               CAST(list_max(list_transform(s, x -> ABS(x))) AS BIGINT)
                                                   AS peak
        FROM agg
    """,
    doc=(
        "Windowed audio frames (64-sample windows over real WAV PCM "
        "int16): per-window sum / abs-sum / peak — the acoustic "
        "tokenizer front-end; pure map, every value oracle-checked "
        "closed-form."
    ),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.multimodal import audio_windows, synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    return audio_windows(synthesize_media(docs))


# ---------------------------------------------------------------------------
# Dedup 6 (r5) — SimHash HAMMING-BAND search: the scale path for
# near-dup retrieval over simhash signatures. Pigeonhole: two 32-bit
# signatures within hamming distance 3 must agree EXACTLY on at least
# one of 4 disjoint 8-bit bands, so band equi-joins produce a COMPLETE
# candidate set for d<=3 and the popcount verify runs on candidates
# only — never all pairs (the standard multi-index hamming search).
# Near-dups are PLANTED (every 20th doc re-appears with its last word
# dropped → a handful of token votes flip). Band ids come from an
# exploded divisor array (integer div/mod only — no POW on any hashed
# path); verify is bit_count(xor()) — exact integers in both engines.
# SCALE NOTE: 8-bit bands (256 buckets) suit the 32-bit signature this
# corpus carries (SIMHASH_BITS); at production corpus sizes the same
# plan runs with 64-bit signatures and 16-bit bands (65 536 buckets per
# band), keeping per-bucket candidate volume bounded — band width is
# the knob, the join shape is unchanged.
# ---------------------------------------------------------------------------

_HAMMING_MAX = 3
# DATA NOTE: the synthetic corpus draws from a ~30-word vocabulary, so
# simhash votes correlate through the global frequency distribution and
# unrelated docs regularly collide at hamming 0 — a property of the
# testdata, not the operator (MEASURED: unsampled sf0.1 reports ~470k
# d<=3 pairs, overwhelmingly signature collisions). The query therefore
# runs on the deterministic 1-in-20 sample that also seeds the planted
# copies, and the property under test — pigeonhole completeness of the
# band join for d<=3 — is scale-independent.
_SQL_SH_CORPUS = """
    SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           array_to_string(w[1:GREATEST(len(w) - 1, 1)], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE doc_id % 20 = 0
"""


@register(
    "dedup_simhash_hamming",
    oracle=f"""
        WITH corpus AS ({_SQL_SH_CORPUS}),
        toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS word
            FROM corpus
        ),
        votes AS (
            SELECT doc_id,
            {_SQL_SIMHASH_VOTES}
            FROM toks GROUP BY doc_id
        ),
        sh AS (
            SELECT doc_id, CAST({_SQL_SIMHASH_FOLD} AS BIGINT) AS simhash
            FROM votes
        ),
        bands AS (
            SELECT doc_id, simhash, dv, (simhash // dv) % 256 AS bv
            FROM sh, UNNEST([1, 256, 65536, 16777216]) t(dv)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM bands a JOIN bands b
              ON a.dv = b.dv AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= {_HAMMING_MAX}
    """,
    doc=(
        f"SimHash hamming-band near-dup search: 4x8-bit band equi-join "
        f"gives a pigeonhole-complete candidate set for d<={_HAMMING_MAX}; "
        "popcount verify on candidates only — never all pairs."
    ),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.dedup import simhash_narrow

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    copies = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " "
        ).alias("text"),
    )
    sampled = docs.filter(F.col("doc_id") % 20 == 0)  # see _SQL_SH_CORPUS note
    corpus = fan_out(sampled.unionByName(copies))
    # checkpoint: the band self-join reads signatures from BOTH sides,
    # and each side would otherwise recompute the 32-bit-vote projection
    # (the dedup_minhash_lsh materialize-once discipline)
    sh = local_checkpoint(simhash_narrow(corpus, "doc_id", "text"))
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(F.lit(1), F.lit(256), F.lit(65536), F.lit(16777216))
        ).alias("dv"),
    ).withColumn("bv", F.expr("(simhash div dv) % 256"))
    a, b = bands.alias("a"), bands.alias("b")
    # popcount BEFORE the cross-band distinct (r6 verdict task 4): the
    # xor/bit_count is a codegen'd expression evaluated inside the join
    # stage, so filtering first costs nothing extra, shrinks the
    # distinct's shuffle to the d<=3 survivors only, and narrows its
    # rows from (id,id,hash64,hash64) to (id,id,hamming) — hamming is
    # functionally determined by the id pair, so DISTINCT placement is
    # semantics-preserving. A/B at sf0.1: cold 5.9 → 1.9 s, warm
    # median 1.52 → 1.39 s, identical 4 835 rows.
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.dv") == F.col("b.dv"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= _HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# 64-bit hamming band search (r12) — the production configuration of
# the EXTRACTED operators.dedup.hamming_band_candidates (4×16-bit
# bands over signed 64-bit signatures), driver-gated. Exists for two
# reasons: (a) the r11 ADVICE found the operator's former div/% band
# extraction broke on sign-bit-set signatures — this query PLANTS
# sign-boundary near-dups (bit-63 flips included) so the fixed
# shift+mask path has a standing value oracle, not just property
# tests; (b) it gives the operator an sf1 scaling row (BENCH_SF1).
#
# Signatures are engine-neutral signed 64-bit values built from two
# 32-bit md5 hex parses: sig = (hi − 2³¹)·2³² + lo — spans the full
# signed range with no BIGINT overflow in either engine. Every 17th
# doc gets a twin with ONE bit flipped (bit = doc_id mod 64, so the
# sign bit participates); the band search must return exactly those
# pairs (random 64-bit sigs never land within hamming 3).
#
# Band extraction is sign-safe in both engines because the mask
# follows the shift: (sig >> 16k) & 0xFFFF keeps only bits the
# arithmetic-vs-logical shift distinction cannot reach (DuckDB's
# arithmetic >> sign-extends ABOVE the mask; probed r12).
# 100 TB: 4 band equi-joins over 65 536 buckets/band; popcount
# filters candidates inside the join stage before the distinct —
# identical shape to dedup_simhash_hamming, reference northstar
# parity: SURVEY §2.9 dedup family.
# ---------------------------------------------------------------------------


def _sql_hex32(hx: str, start: int) -> str:
    """DuckDB: hex chars [start, start+8) of an md5 string parsed to
    BIGINT via the per-nibble STRPOS fold (version-neutral)."""
    return " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR({hx}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (7 - i)} AS BIGINT)"
        for i in range(8)
    )


_SQL_SIG64 = (
    f"(({_sql_hex32('md5(CAST(doc_id AS VARCHAR))', 1)}) - 2147483648)"
    f" * 4294967296 + ({_sql_hex32('md5(CAST(doc_id AS VARCHAR))', 9)})"
)


@register(
    "dedup_hamming_band64",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, CAST({_SQL_SIG64} AS BIGINT) AS sig
            FROM documents
        ),
        planted AS (
            -- qualified b.doc_id + a distinct alias: DuckDB resolves
            -- lateral column aliases, so re-using the name doc_id for
            -- the shifted id would make later references ambiguous
            SELECT b.doc_id + 1000000 AS pid,
                   xor(b.sig, CASE WHEN b.doc_id % 64 = 63
                                   THEN (-9223372036854775807 - 1)
                                   ELSE 1::BIGINT
                                        << CAST(b.doc_id % 64 AS INTEGER)
                              END) AS sig
            FROM base b WHERE b.doc_id % 17 = 0
        ),
        sigs AS (
            SELECT doc_id, sig FROM base
            UNION ALL SELECT pid AS doc_id, sig FROM planted
        ),
        bands AS (
            SELECT doc_id, sig, k,
                   (sig >> CAST(16 * k AS INTEGER)) & 65535 AS bv
            FROM sigs, (SELECT UNNEST([0, 1, 2, 3]) AS k)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM bands a JOIN bands b
          ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    doc=(
        "64-bit multi-index hamming search (4x16-bit bands) over "
        "signed signatures with planted one-bit-flip twins (sign bit "
        "included) — the production configuration of "
        "operators.dedup.hamming_band_candidates, pinning the r12 "
        "sign-safe band-extraction fix under the driver gate."
    ),
)
def dedup_hamming_band64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.dedup import hamming_band_candidates

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # r12 ADVICE guard: planted twin ids live at doc_id + 1_000_000 on
    # BOTH sides; if the corpus ever grows past the offset the planted
    # ids silently collide with real ones and the oracle (same scheme)
    # cannot catch it. Fail loudly instead — one footer-stats max().
    max_id = docs.agg(F.max("doc_id")).first()[0]
    if max_id is not None and max_id >= 1000000:
        raise ValueError(
            f"dedup_hamming_band64: max doc_id {max_id} >= planted-twin "
            "offset 1000000 — raise the offset on both sides"
        )
    hx = F.md5(F.col("doc_id").cast("string").cast("binary"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    base = docs.select(
        "doc_id",
        ((hi - F.lit(2147483648)) * F.lit(4294967296) + lo).alias("sig"),
    )
    planted = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("sig")
        .bitwiseXOR(F.expr("shiftleft(1L, CAST(doc_id % 64 AS INT))"))
        .alias("sig"),
    )
    sigs = base.unionByName(planted)
    return hamming_band_candidates(sigs, "doc_id", sig_col="sig", band_bits=16)


# ---------------------------------------------------------------------------
# Multimodal 5 (r6) — perceptual image dHash: the image-side member of
# the dedup family (exact/MinHash/SimHash/cosine cover text and
# embeddings; this covers pixels). Real PPM decode → integer grayscale
# → 8×8 nearest-sample grid → 7 horizontal-gradient bits per row =
# 56-bit hash; identical hash ⇒ perceptual duplicate, bucket counts
# surface dup families with zero pairwise work. Every bit is
# oracle-checked closed-form against the synthesis formula
# ((7i+d) mod 256 body bytes), like the patch-grid/checksum rows.
# 100 TB: hashing runs at scan parallelism (pure map); the bucket
# count is one 56-bit-key aggregate — the image analog of dedup_exact.
# ---------------------------------------------------------------------------
def _dhash_oracle() -> str:
    # g(x, y) for pixel p = y*w + x under body byte (7i+d) % 256
    def g(x: str, y: str) -> str:
        p = f"(({y}) * w + ({x}))"
        return (
            f"(((21 * {p} + d) % 256) + ((21 * {p} + 7 + d) % 256)"
            f" + ((21 * {p} + 14 + d) % 256)) // 3"
        )

    xs = "((b % 7) * w // 8)"
    xs1 = "(((b % 7) + 1) * w // 8)"
    ys = "((b // 7) * h // 8)"
    bit = (
        f"CASE WHEN {g(xs1, ys)} > {g(xs, ys)}"
        f" THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END"
    )
    return f"""
        WITH p AS (
            SELECT doc_id AS d, 8 + doc_id % 32 AS w, 8 + (3 * doc_id) % 32 AS h
            FROM documents WHERE doc_id % 3 = 0
        ),
        hashed AS (
            SELECT d, w, h,
                   CAST(list_sum(list_transform(range(56), b -> {bit}))
                        AS BIGINT) AS dhash56
            FROM p
        )
        SELECT d AS doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               dhash56,
               CAST(COUNT(*) OVER (PARTITION BY dhash56) AS BIGINT)
                   AS n_bucket
        FROM hashed
    """


@register(
    "multimodal_image_dhash",
    oracle=_dhash_oracle(),
    doc=(
        "Perceptual dHash of every image payload (real PPM decode, "
        "integer grayscale, 8x8 sample grid, 56 gradient bits) + "
        "dup-bucket sizes — the pixel-side member of the dedup family, "
        "bit-for-bit oracle-checked against the synthesis closed form."
    ),
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.multimodal import image_dhash, synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    hashed = image_dhash(synthesize_media(docs))
    from pyspark.sql import Window as _W

    return hashed.select(
        "doc_id",
        "width",
        "height",
        "dhash56",
        F.count(F.lit(1))
        .over(_W.partitionBy("dhash56"))
        .cast("long")
        .alias("n_bucket"),
    )


# ---------------------------------------------------------------------------
# Video inter-frame difference (r7) — the scene-cut/motion metric that
# drives frame sampling in video training pipelines: per video, the L1
# distance between consecutive decoded frames. The Spark side runs the
# REAL decode path (VID0 magic + header parse + numpy frame tensor in
# an Arrow-batched kernel — trusting nothing from the synthesis side);
# the oracle recomputes every byte of every frame pair from the
# synthetic body's closed form ((7i + doc_id) mod 256) via
# generate_series — so the gate value-checks the DECODER + kernel
# against pure arithmetic. Videos with a single frame are excluded
# (no pair exists).
# 100 TB: map-only mapInPandas over the payload column (one video per
# row, frames never shuffled); output one row per video.
# ---------------------------------------------------------------------------
@register(
    "multimodal_scene_diff",
    oracle="""
        WITH v AS (
            SELECT doc_id AS d,
                   8 + doc_id % 16        AS w,
                   8 + (3 * doc_id) % 16  AS h,
                   1 + doc_id % 8         AS nf
            FROM documents WHERE doc_id % 3 = 2 AND doc_id % 8 <> 0
        ),
        dims AS (SELECT d, nf, w * h * 3 AS fs FROM v),
        diffs AS (
            SELECT dims.d, dims.nf, dims.fs,
                   SUM(ABS(((7 * ((f.f + 1) * dims.fs + j.j) + dims.d) % 256)
                         - ((7 * (f.f * dims.fs + j.j) + dims.d) % 256)))
                       AS l1
            FROM dims,
                 LATERAL (SELECT unnest(generate_series(0, dims.nf - 2)) AS f) f,
                 LATERAL (SELECT unnest(generate_series(0, dims.fs - 1)) AS j) j
            GROUP BY 1, 2, 3
        )
        SELECT d AS doc_id,
               CAST(nf AS BIGINT)            AS n_frames,
               CAST(fs AS BIGINT)            AS frame_size,
               CAST(l1 AS BIGINT)            AS interframe_l1_total,
               CAST(l1 // (nf - 1) AS BIGINT) AS mean_pair_l1
        FROM diffs
    """,
    doc=(
        "Video inter-frame L1 (scene-cut metric): REAL VID0 decode + "
        "numpy frame-tensor kernel in mapInPandas, value-checked "
        "against the synthetic body's closed form byte by byte."
    ),
)
def multimodal_scene_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from stacktrend_spark.operators.multimodal import synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media(docs).filter(F.col("media_type") == "video")

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "n_frames": [], "frame_size": [],
                   "interframe_l1_total": [], "mean_pair_l1": []}
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw[:4] != b"VID0":
                    raise ValueError("not a VID0 payload")
                nf, w, h = struct.unpack("<III", raw[4:16])
                if nf < 2:
                    continue
                fs = w * h * 3
                frames = np.frombuffer(raw, dtype=np.uint8, offset=16).reshape(
                    nf, fs
                ).astype(np.int16)
                l1 = int(np.abs(frames[1:] - frames[:-1]).sum())
                out["doc_id"].append(int(d))
                out["n_frames"].append(int(nf))
                out["frame_size"].append(int(fs))
                out["interframe_l1_total"].append(l1)
                out["mean_pair_l1"].append(l1 // (nf - 1))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        kernel,
        schema=(
            "doc_id long, n_frames long, frame_size long,"
            " interframe_l1_total long, mean_pair_l1 long"
        ),
    )


# ---------------------------------------------------------------------------
# Multimodal 6 (r8) — energy-threshold VAD segmentation: the
# voice-activity step between the raw acoustic frames
# (multimodal_audio_windows) and any ASR/captioning stage. A window is
# ACTIVE when its mean |sample| clears the threshold; consecutive
# active windows merge into segments via the island trick (window_id -
# per-doc active rank), giving (start, end, frames, energy) per
# segment. The REAL WAV decode path feeds it; the oracle recomputes
# everything closed-form from the synthesis formula.
#
# 100 TB: decode + window stats are the proven map-only Arrow path;
# the island rank partitions BY DOC (a few windows each), and segments
# are a (doc, island) groupBy — no global window, no shuffle beyond
# the per-doc key.
# ---------------------------------------------------------------------------
_VAD_THRESHOLD = 6000  # mean |int16 sample| per window (the synthetic
# clips are short, so samples live in the low band — measured per-window
# means span ~1k-15k; 6000 splits active/inactive meaningfully at every sf)


@register(
    "multimodal_vad_segments",
    oracle=f"""
        WITH p AS (
            SELECT doc_id AS d,
                   (50 + LENGTH(text) % 200) * (1 + doc_id % 2) AS cnt
            FROM documents WHERE doc_id % 3 = 1
        ),
        wins AS (
            SELECT d, cnt,
                   unnest(range(CAST((cnt + 63) // 64 AS INTEGER))) AS w
            FROM p
        ),
        agg AS (
            SELECT d, w,
                   LEAST(64, cnt - w * 64) AS n,
                   list_sum(list_transform(
                       range(CAST(LEAST(64, cnt - w * 64) AS INTEGER)),
                       j -> ABS(CASE WHEN (31 * (w * 64 + j) + d) % 65536 >= 32768
                                     THEN (31 * (w * 64 + j) + d) % 65536 - 65536
                                     ELSE (31 * (w * 64 + j) + d) % 65536 END)
                   )) AS sum_abs
            FROM wins
        ),
        act AS (
            SELECT d, w, n, sum_abs,
                   w - ROW_NUMBER() OVER (PARTITION BY d ORDER BY w) AS isl
            FROM agg WHERE sum_abs // n >= {_VAD_THRESHOLD}
        )
        SELECT d                            AS doc_id,
               CAST(MIN(w) AS BIGINT)       AS seg_start,
               CAST(MAX(w) AS BIGINT)       AS seg_end,
               CAST(COUNT(*) AS BIGINT)     AS n_windows,
               CAST(SUM(sum_abs) AS BIGINT) AS energy_abs
        FROM act GROUP BY d, isl
    """,
    doc=(
        "Voice-activity segmentation over the real WAV decode: "
        f"windows with mean |sample| >= {_VAD_THRESHOLD} merged into "
        "segments via the per-doc island rank; (start, end, frames, "
        "energy) per segment, closed-form oracle."
    ),
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.multimodal import audio_windows, synthesize_media

    docs = load_table(spark, sf_dir, "documents")
    wins = audio_windows(synthesize_media(docs))
    act = wins.filter(
        F.expr(f"sum_abs DIV n_samples >= {_VAD_THRESHOLD}")
    ).withColumn(
        "isl",
        F.col("window_id")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("window_id")),
    )
    return act.groupBy("doc_id", "isl").agg(
        F.min("window_id").cast("long").alias("seg_start"),
        F.max("window_id").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("sum_abs").cast("long").alias("energy_abs"),
    ).drop("isl")


# ---------------------------------------------------------------------------
# Cluster-aware train/test split (r8) — the leakage-safe split a
# near-dup-bearing corpus REQUIRES: splitting by raw id (split_train_
# test) puts members of the same duplicate family on both sides, so
# the eval set leaks training data. The fix is to split by the dup-
# CLUSTER representative (dedup_clusters' connected components), which
# lands whole families on one side by construction. This row runs BOTH
# policies on the same corpus and reports the leakage each produces
# (clusters with members on both sides) — naive > 0, cluster == 0.
#
# 100 TB: clusters come from the proven star-funnel + CC path; the
# split tag is a map-side mod; the leakage audit is one (cluster,
# side)-distinct aggregate. No pair enumeration anywhere.
# ---------------------------------------------------------------------------
_SPLIT_MOD = 7  # ~14% eval; 7 is coprime with the near-dup copy offset
# (+100000, divisible by 5), so the naive split genuinely separates
# some duplicate families — mod 5 would hide the leakage by accident


@register(
    "cluster_aware_split",
    oracle=f"""
        WITH RECURSIVE
        emb AS ({_SQL_EMB_CORPUS}),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {sql_round(_SQL_PAIR_COSINE, 6)} >= {_NEAR_DUP_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT vec_id, vec_id FROM emb
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        clusters AS (
            SELECT node AS vec_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        ),
        tagged AS (
            SELECT vec_id, cluster_id,
                   CASE WHEN vec_id % {_SPLIT_MOD} = 0 THEN 1 ELSE 0 END
                       AS naive_test,
                   CASE WHEN cluster_id % {_SPLIT_MOD} = 0 THEN 1 ELSE 0 END
                       AS cluster_test
            FROM clusters
        ),
        arms AS (
            SELECT 'naive_id_mod' AS method, naive_test AS is_test,
                   cluster_id FROM tagged
            UNION ALL
            SELECT 'cluster_rep_mod' AS method, cluster_test AS is_test,
                   cluster_id FROM tagged
        ),
        span AS (
            SELECT method, cluster_id,
                   CASE WHEN COUNT(DISTINCT is_test) > 1 THEN 1 ELSE 0 END
                       AS spans
            FROM arms GROUP BY 1, 2
        )
        SELECT a.method,
               CAST(SUM(1 - a.is_test) AS BIGINT) AS n_train,
               CAST(SUM(a.is_test) AS BIGINT)     AS n_test,
               CAST(s.n_spanning AS BIGINT)       AS n_clusters_spanning
        FROM arms a
        JOIN (SELECT method, SUM(spans) AS n_spanning FROM span GROUP BY 1) s
          ON s.method = a.method
        GROUP BY a.method, s.n_spanning
    """,
    doc=(
        "Leakage-safe train/test split: naive id-mod vs dup-cluster-"
        "representative-mod on the same corpus, with the leakage each "
        "produces (clusters spanning both sides) — naive leaks, "
        "cluster split is 0 by construction."
    ),
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.graph import connected_components

    corpus = _emb_corpus(spark, sf_dir)
    pairs = cosine_near_dup_pairs(
        corpus, threshold=_NEAR_DUP_THRESHOLD, dim=64
    ).select("id_a", "id_b")
    clusters = connected_components(
        pairs, nodes=corpus.select(F.col("vec_id").alias("node"))
    ).select(F.col("node").alias("vec_id"), F.col("component").alias("cluster_id"))
    tagged = clusters.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") % _SPLIT_MOD == 0).cast("int").alias("naive_test"),
        (F.col("cluster_id") % _SPLIT_MOD == 0).cast("int").alias("cluster_test"),
    )
    arms = tagged.select(
        F.lit("naive_id_mod").alias("method"),
        F.col("naive_test").alias("is_test"),
        "cluster_id",
    ).unionByName(
        tagged.select(
            F.lit("cluster_rep_mod").alias("method"),
            F.col("cluster_test").alias("is_test"),
            "cluster_id",
        )
    )
    span = (
        arms.groupBy("method", "cluster_id")
        .agg((F.countDistinct("is_test") > 1).cast("int").alias("spans"))
        .groupBy("method")
        .agg(F.sum("spans").cast("long").alias("n_spanning"))
    )
    return (
        arms.groupBy("method")
        .agg(
            F.sum(F.lit(1) - F.col("is_test")).cast("long").alias("n_train"),
            F.sum("is_test").cast("long").alias("n_test"),
        )
        .join(F.broadcast(span), "method")
        .select(
            "method",
            "n_train",
            "n_test",
            F.col("n_spanning").cast("long").alias("n_clusters_spanning"),
        )
    )
