"""K-means Lloyd assignment: training the IVF coarse quantizer.

``sim_ivf_topk`` (plans/northstar.py) prunes ANN candidates by coarse
cell; this module supplies the missing training half — the Lloyd
assignment step that builds those cells. Each vector is assigned to its
nearest of K centroids by squared L2 distance.

Parity: dist² = ⟨a,a⟩ + ⟨c,c⟩ − 2⟨a,c⟩ from three left-fold dot
products (``operators/similarity.dot`` ≡ DuckDB ``list_dot_product``,
bit-identical — PARITY.md), combined with exactly-rounded IEEE +/−/×,
so both engines rank centroids on bit-identical distances; the
(dist², centroid-id) ordering breaks any exact tie identically. The
hashed surface itself is integer-only.

100 TB notes: K centroids broadcast to every task — the K-fold
candidate amplification is map-side and never shuffles the corpus; the
per-vector argmin is a fixed-size struct min, and the only Exchange is
the groupBy on vec_id. A full Lloyd ITERATION (recompute centroids)
sums per-dimension components — order-dependent in floats, so a
production loop would sum scaled ints (the iscale pattern) per
dimension; assignment alone needs no such care.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from stacktrend_spark.functions.hashing import sql_hex40
from stacktrend_spark.functions.rounding import fround, sql_round
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.similarity import rank_cells_arrow, with_cell_arrow
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

_K = 8  # centroid count: vec_id < _K seeds the quantizer deterministically

_SQL_D = "list_transform({0}, x -> CAST(x AS DOUBLE))"


@register(
    "kmeans_assign_cells",
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, {_SQL_D.format("embedding")} AS cvec
            FROM embeddings WHERE vec_id < {_K}
        ),
        pts AS (
            SELECT vec_id, {_SQL_D.format("embedding")} AS v FROM embeddings
        ),
        d AS (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        r AS (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM d
        )
        SELECT vec_id,
               CAST(cid AS BIGINT)                             AS cell,
               CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS cell_size
        FROM r WHERE rn = 1
    """,
    doc=(
        f"Lloyd assignment to {_K} broadcast centroids by squared L2 — "
        "the IVF coarse-quantizer training step; integer-only hashed surface."
    ),
)
def kmeans_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _assignment(emb).select(
        "vec_id",
        F.col("cid").cast("long").alias("cell"),
        F.count(F.lit(1)).over(W.partitionBy("cid")).cast("long").alias("cell_size"),
    )


def _assignment(emb: DataFrame) -> DataFrame:
    """(vec_id, cid) for every vector — the argmin over broadcast
    centroids (rn=1 of the ranked assignment below)."""
    return _assignment_ranked(emb).filter(F.col("rn") == 1).select("vec_id", "cid")


@register(
    "kmeans_recompute_centroids",
    # components are quantized to 1e-6 BEFORE summing (floor(x·1e6+0.5),
    # the iscale pattern): integer sums are order-independent, so the
    # recomputed centroid is bit-identical across engines — the float
    # pitfall a naive AVG(component) would hit (partial-agg order).
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, {_SQL_D.format("embedding")} AS cvec
            FROM embeddings WHERE vec_id < {_K}
        ),
        pts AS (
            SELECT vec_id, {_SQL_D.format("embedding")} AS v FROM embeddings
        ),
        d AS (
            SELECT p.vec_id, p.v, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        comps AS (
            SELECT cid, unnest(generate_series(1, 64)) AS dim, v
            FROM assigned
        )
        SELECT
            CAST(cid AS BIGINT)  AS cell,
            CAST(dim AS BIGINT)  AS dim,
            CAST(COUNT(*) AS BIGINT) AS n_members,
            CAST(SUM(CAST(FLOOR(v[dim] * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                                 AS sum_scaled,
            CAST(SUM(CAST(FLOOR(v[dim] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / (1000000.0 * COUNT(*)) AS centroid_val
        FROM comps
        GROUP BY 1, 2
    """,
    doc=(
        "Lloyd centroid recompute with exact scaled-int component sums "
        "(order-independent, engine-identical) — the full k-means step."
    ),
)
def kmeans_recompute_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _assigned(emb)  # fused row+cell kernel — no corpus join
    comps = assigned.select(
        F.col("cid"),
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "cid",
        (F.col("dim0") + 1).alias("dim"),  # 1-based to match the SQL side
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("xs"),
    )
    return comps.groupBy("cid", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("xs").cast("long").alias("sum_scaled"),
    ).select(
        F.col("cid").cast("long").alias("cell"),
        F.col("dim").cast("long").alias("dim"),
        "n_members",
        "sum_scaled",
        (
            F.col("sum_scaled").cast("double")
            / (F.lit(1000000.0) * F.col("n_members"))
        ).alias("centroid_val"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup for
# pretraining corpora — cluster embeddings with k-means, prune
# near-identical pairs WITHIN each cluster, keep one representative per
# duplicate group. The published motivation is exactly the IVF
# argument: within-cluster pairing makes the pair volume sum(cellᵢ²)
# instead of N², and cells are independent join tasks. Composed here
# from three already-proven operators: the Lloyd assignment above
# (broadcast centroids, map-side argmin), the bucketed
# cosine_near_dup_pairs (with its hot-bucket triangle-grid guard), and
# iterative min-label connected components. The corpus is northstar's
# planted near-dup corpus so the prune provably fires.
# ---------------------------------------------------------------------------


@register(
    "pipeline_semdedup",
    oracle=f"""
        WITH RECURSIVE
        emb0 AS (
            SELECT vec_id, embedding, label FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   embedding[1:56] || [{", ".join("CAST(0 AS FLOAT)" for _ in range(8))}] AS embedding,
                   label
            FROM embeddings WHERE vec_id % 10 = 0
        ),
        cent AS (
            SELECT vec_id AS cid, {_SQL_D.format("embedding")} AS cvec
            FROM emb0 WHERE vec_id < {_K}
        ),
        pts AS (SELECT vec_id, {_SQL_D.format("embedding")} AS v FROM emb0),
        d AS (
            SELECT p.vec_id, p.v, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        asg AS (
            SELECT vec_id, v, cid FROM (
                SELECT vec_id, v, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE FLOOR((list_dot_product(a.v, b.v)
                    / (SQRT(list_dot_product(a.v, a.v))
                       * SQRT(list_dot_product(b.v, b.v)))) * 1000000.0 + 0.5)
                  / 1000000.0 >= 0.85
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT vec_id, vec_id FROM pts
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
        ),
        comp AS (
            SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
        )
        SELECT
            c.vec_id,
            CAST(a.cid AS BIGINT)        AS cell,
            CAST(c.cluster_id AS BIGINT) AS cluster_id,
            c.vec_id = c.cluster_id      AS kept
        FROM comp c JOIN asg a ON c.vec_id = a.vec_id
    """,
    doc=(
        "SemDeDup (arXiv:2303.09540): k-means cells -> within-cell "
        "cosine prune -> component representative; kept = min-id of the "
        "duplicate group."
    ),
)
def pipeline_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.graph import connected_components
    from stacktrend_spark.operators.similarity import cosine_near_dup_pairs
    from stacktrend_spark.plans.northstar import _NEAR_DUP_THRESHOLD, _emb_corpus

    corpus = _emb_corpus(spark, sf_dir)
    # checkpoint once: the assigned corpus feeds the pair kernel (rows +
    # the hot-cell counts) and the final labeling join — without this
    # the centroid argmin recomputes per consumer (A10 cache-once
    # rule). r5: _assigned fuses row+cell in the map kernel, so the
    # r4 corpus ⋈ assignment shuffle (both sides corpus-sized) is gone.
    pe = local_checkpoint(_assigned(corpus).withColumnRenamed("cid", "cell"))
    pairs = cosine_near_dup_pairs(
        pe,
        threshold=_NEAR_DUP_THRESHOLD,
        bucket_col="cell",
        dim=64,
        max_bucket_rows=2000,  # hot-cell triangle-grid guard armed
    ).select("id_a", "id_b")
    # nodes come from the checkpointed pe (same vec_id set as corpus —
    # the assignment join is key-preserving), not from corpus, whose
    # plan would re-run the scan + fan-out per consumer
    comp = connected_components(
        pairs, nodes=pe.select(F.col("vec_id").alias("node"))
    )
    return (
        comp.select(F.col("node").alias("vec_id"), "component")
        .join(pe.select("vec_id", "cell"), "vec_id")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.col("component").cast("long").alias("cluster_id"),
            (F.col("vec_id") == F.col("component")).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-probe IVF top-k (nprobe=2): the standard IVF recall lever. A
# single-probe query misses true neighbors that fell just across its
# cell boundary; probing the nprobe nearest cells recovers them at
# nprobe× the candidate cost (still sum(cellᵢ²)-shaped, never N²). The
# query side simply EXPLODES into one row per probed cell — the proven
# bucketed cosine_topk join then does the rest unchanged, because each
# corpus vector lives in exactly one cell so no (query, neighbor) pair
# can appear twice.
# ---------------------------------------------------------------------------

_NPROBE = 2


@register(
    "sim_ivf_multiprobe",
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, {_SQL_D.format("embedding")} AS cvec
            FROM embeddings WHERE vec_id < {_K}
        ),
        pts AS (SELECT vec_id, embedding, {_SQL_D.format("embedding")} AS v FROM embeddings),
        d AS (
            SELECT p.vec_id, p.embedding, p.v, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        ranked AS (
            SELECT vec_id, embedding, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM d
        ),
        corpus AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
        probes AS (
            SELECT vec_id, embedding, cid FROM ranked
            WHERE rn <= {_NPROBE} AND vec_id < 20
        )
        SELECT * FROM (
            SELECT
                q.vec_id AS query_id,
                c.vec_id AS neighbor_id,
                FLOOR((list_dot_product({_SQL_D.format("q.embedding")}, {_SQL_D.format("c.embedding")})
                    / (SQRT(list_dot_product({_SQL_D.format("q.embedding")}, {_SQL_D.format("q.embedding")}))
                       * SQRT(list_dot_product({_SQL_D.format("c.embedding")}, {_SQL_D.format("c.embedding")})))) * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY FLOOR((list_dot_product({_SQL_D.format("q.embedding")}, {_SQL_D.format("c.embedding")})
                        / (SQRT(list_dot_product({_SQL_D.format("q.embedding")}, {_SQL_D.format("q.embedding")}))
                           * SQRT(list_dot_product({_SQL_D.format("c.embedding")}, {_SQL_D.format("c.embedding")})))) * 1000000.0 + 0.5) / 1000000.0 DESC,
                        c.vec_id) AS BIGINT) AS sim_rank
            FROM probes q JOIN corpus c ON q.cid = c.cid
            WHERE q.vec_id <> c.vec_id
        ) t WHERE sim_rank <= 3
    """,
    doc=(
        f"Multi-probe IVF cosine top-k (nprobe={_NPROBE}): each query "
        "probes its 2 nearest k-means cells — the IVF recall lever; "
        "candidates stay cell-bounded."
    ),
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.similarity import cosine_topk
    from stacktrend_spark.sources.tables import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # two consumers (corpus rn=1, probes rn<=nprobe): checkpoint so the
    # centroid cross-join + window runs once, not per consumer
    ranked = local_checkpoint(_assignment_ranked(emb))
    corpus = emb.join(
        ranked.filter(F.col("rn") == 1).select("vec_id", F.col("cid").alias("cell")),
        "vec_id",
    )
    probes = emb.filter(F.col("vec_id") < 20).join(
        ranked.filter(F.col("rn") <= _NPROBE).select(
            "vec_id", F.col("cid").alias("cell")
        ),
        "vec_id",
    )
    return cosine_topk(corpus, probes, k=3, bucket_col="cell", dim=64)


_DIM = 64  # testdata embedding width (fixed — feeds the Arrow kernels)


def _centroids(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """COLLECTED seed centroids (bounded: K=8 rows — the
    broadcast-centroids pattern; K·dim floats ship in the kernel
    closure, the corpus never joins or fans out against them)."""
    rows = emb.filter(F.col("vec_id") < _K).select("vec_id", "embedding").collect()
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def _assignment_ranked(emb: DataFrame) -> DataFrame:
    """(vec_id, cid, rn): every vector's centroids ordered by distance —
    rn=1 is the Lloyd assignment, rn<=nprobe the probe set.

    r5: scored in the Arrow numpy kernel (rank_cells_arrow) against
    collected centroids. The r4 form cross-joined a broadcast centroid
    table with a 3×64-term unrolled codegen dist² per pair; MEASURED
    (r4 bench log) that paid MB-scale task binaries + seconds of
    Catalyst analysis per query, the dominant fixed cost of
    pipeline_semdedup / sim_ivf_multiprobe. The kernel is a
    constant-size closure, the corpus never fans out 8×, and dist²
    keeps the exact IEEE op order of the oracle (see rank_cells_arrow
    parity note). An r4 attempt to shrink the unroll by hoisting
    self-dots REGRESSED ~2× — the fix was to leave codegen entirely,
    not rearrange it."""
    return rank_cells_arrow(emb, _centroids(emb), _DIM)


def _assigned(emb: DataFrame) -> DataFrame:
    """Every emb row + its Lloyd cell as ``cid`` — the FUSED map-only
    form (with_cell_arrow): consumers that need assigned rows skip the
    corpus-sized ``emb ⋈ assignment`` shuffle entirely."""
    return with_cell_arrow(emb, _centroids(emb), _DIM, out_col="cid")


# ---------------------------------------------------------------------------
# Per-vector symmetric int8 scalar quantization — the compression stage
# a 100 TB ANN index needs before it fits in memory (4× smaller than
# float32; the IVF/LSH candidate join then reranks the few survivors
# against the full-precision vectors). Map-only: amax and codes are
# per-row column expressions, zero shuffles until the tiny per-vector
# aggregate. Every hashed output is an exact integer: codes come from
# FLOOR((x/amax)·127 + 0.5) with the identical IEEE op order on both
# engines, and the scale is emitted as a micro-unit BIGINT.
# Beyond-reference addition (training-data pipeline family).
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                       x -> ABS(CAST(x AS DOUBLE)))) AS amax,
                   embedding
            FROM embeddings
        ),
        d AS (SELECT vec_id, amax, unnest(embedding) AS x FROM e),
        c AS (
            SELECT vec_id, amax,
                   CASE WHEN amax = 0 THEN 0
                        ELSE CAST(FLOOR((CAST(x AS DOUBLE) / amax) * 127 + 0.5)
                                  AS BIGINT) END AS code
            FROM d
        )
        SELECT vec_id,
               CAST(FLOOR(MAX(amax) * 1000000.0 + 0.5) AS BIGINT) AS scale_micro,
               CAST(SUM(code) AS BIGINT)          AS sum_codes,
               CAST(SUM(ABS(code)) AS BIGINT)     AS sum_abs_codes,
               CAST(MAX(ABS(code)) AS BIGINT)     AS max_abs_code,
               CAST(COUNT(CASE WHEN ABS(code) = 127 THEN 1 END) AS BIGINT)
                                                  AS n_saturated
        FROM c GROUP BY 1
    """,
    doc=(
        "Per-vector symmetric int8 quantization (code = "
        "floor(x/amax*127 + 0.5)): the ANN index compression stage; "
        "map-only with integer-exact per-vector code summaries."
    ),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    amax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    d = emb.select(
        "vec_id",
        amax.alias("amax"),
        F.explode(F.col("embedding")).alias("x"),
    )
    code = (
        F.when(F.col("amax") == 0, F.lit(0))
        .otherwise(
            F.floor((F.col("x").cast("double") / F.col("amax")) * 127 + F.lit(0.5))
        )
        .cast("long")
    )
    return (
        d.select("vec_id", "amax", code.alias("code"))
        .groupBy("vec_id")
        .agg(
            F.floor(F.max("amax") * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("scale_micro"),
            F.sum("code").cast("long").alias("sum_codes"),
            F.sum(F.abs(F.col("code"))).cast("long").alias("sum_abs_codes"),
            F.max(F.abs(F.col("code"))).cast("long").alias("max_abs_code"),
            F.count(F.when(F.abs(F.col("code")) == 127, 1))
            .cast("long")
            .alias("n_saturated"),
        )
    )


_PQ_M = 8   # subspaces (64-dim → 8 × 8-dim)
_PQ_K = 16  # codewords per subspace: subvectors of vec_id < 16
_PQ_SUB = 8


def _pq_dist2(vec: str, pre: str, spark_side: bool) -> str:
    """Σ_j (vec[8m+j+1] − c{j})² with a FIXED left-associated op tree —
    identical IEEE doubles on both engines. ``pre`` prefixes the
    codeword component columns (c0..c7). Element access is 1-based on
    BOTH sides: DuckDB brackets are 1-based, Spark brackets are
    0-based, so the Spark text uses element_at (1-based)."""

    def at(i: str) -> str:
        return f"element_at({vec}, {i})" if spark_side else f"{vec}[{i}]"

    terms = [
        f"(({at(f'8 * m + {j + 1}')}) - {pre}c{j})"
        f" * (({at(f'8 * m + {j + 1}')}) - {pre}c{j})"
        for j in range(_PQ_SUB)
    ]
    return " + ".join(terms)


@register(
    "embedding_pq_codes",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        ms AS (SELECT UNNEST(range({_PQ_M})) AS m),
        cb AS (
            SELECT ms.m, p.vec_id AS k,
                   {", ".join(f"p.v[8 * ms.m + {j + 1}] AS c{j}" for j in range(_PQ_SUB))}
            FROM pts p CROSS JOIN ms
            WHERE p.vec_id < {_PQ_K}
        ),
        d AS (
            SELECT p.vec_id, cb.m, cb.k,
                   {_pq_dist2("p.v", "cb.", False)} AS dist2
            FROM pts p
            JOIN cb ON TRUE
        ),
        best AS (
            SELECT vec_id, m, k, dist2,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, m ORDER BY dist2, k) AS rn
            FROM d
        )
        SELECT vec_id,
               {", ".join(f"CAST(MAX(CASE WHEN m = {i} THEN k END) AS BIGINT) AS code{i}" for i in range(_PQ_M))},
               FLOOR(({" + ".join(f"MAX(CASE WHEN m = {i} THEN dist2 END)" for i in range(_PQ_M))}) * 1000000.0 + 0.5) / 1000000.0
                   AS recon_err
        FROM best WHERE rn = 1
        GROUP BY vec_id
    """,
    doc=(
        f"Product quantization (IVF-PQ residual codec): the 64-dim "
        f"embedding splits into {_PQ_M} subvectors, each assigned to "
        f"its nearest of {_PQ_K} deterministic codewords (subvectors "
        "of the first 16 vectors) by squared L2 — emitting the "
        f"{_PQ_M}-byte code and the reconstruction error. Distances "
        "ride one fixed IEEE op tree, so codes AND the rounded error "
        "hash bit-identically."
    ),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: 8× compression of the vector table (64×4B → 8B).

    100 TB: the codebook is M·K = 128 rows — broadcast; candidate
    generation is map-side (M·K per vector, no corpus shuffle) and the
    argmin collapses back to one row per vector in the single vec_id
    aggregate. At production K (256) the same plan holds; training the
    codebook per subspace is the kmeans_recompute_centroids loop run
    M times on slices.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    ms = F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m")
    cb = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("k"), "v")
        .select("k", "v", ms)
        .select(
            "m",
            "k",
            *[
                F.expr(f"element_at(v, 8 * m + {j + 1})").alias(f"c{j}")
                for j in range(_PQ_SUB)
            ],
        )
    )
    d = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "m",
        "k",
        F.expr(_pq_dist2("v", "", True)).alias("dist2"),
    )
    best = d.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("vec_id", "m").orderBy("dist2", "k")
        ),
    ).filter(F.col("rn") == 1)
    code_cols = [
        F.max(F.when(F.col("m") == i, F.col("k")))
        .cast("long")
        .alias(f"code{i}")
        for i in range(_PQ_M)
    ]
    err = " + ".join(
        f"MAX(CASE WHEN m = {i} THEN dist2 END)" for i in range(_PQ_M)
    )
    return emb.select("vec_id").join(
        best.groupBy("vec_id").agg(
            *code_cols,
            F.expr(
                f"CAST(FLOOR(({err}) * CAST(1000000 AS DOUBLE)"
                " + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
                " / CAST(1000000 AS DOUBLE)"
            ).alias("recon_err"),
        ),
        "vec_id",
    )


_ADC_NQ = 5   # query vectors: vec_id < 5
_ADC_K = 5    # neighbors returned per query


def _adc_oracle() -> str:
    codes_assign = f"""
        d AS (
            SELECT p.vec_id, cb.m, cb.k,
                   {_pq_dist2("p.v", "cb.", False)} AS dist2
            FROM pts p JOIN cb ON TRUE
        ),
        best AS (
            SELECT vec_id, m, k,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, m ORDER BY dist2, k) AS rn
            FROM d
        ),
        codes AS (SELECT vec_id, m, k FROM best WHERE rn = 1)
    """
    lut = f"""
        lut AS (
            SELECT q.vec_id AS qid, cb.m, cb.k,
                   {_pq_dist2("q.v", "cb.", False)} AS ld
            FROM pts q JOIN cb ON TRUE
            WHERE q.vec_id < {_ADC_NQ}
        )
    """
    dcols = " + ".join(
        f"MAX(CASE WHEN codes.m = {i} THEN ld END)" for i in range(_PQ_M)
    )
    return f"""
        WITH pts AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        ms AS (SELECT UNNEST(range({_PQ_M})) AS m),
        cb AS (
            SELECT ms.m, p.vec_id AS k,
                   {", ".join(f"p.v[8 * ms.m + {j + 1}] AS c{j}" for j in range(_PQ_SUB))}
            FROM pts p CROSS JOIN ms
            WHERE p.vec_id < {_PQ_K}
        ),
        {codes_assign},
        {lut},
        adc AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   FLOOR(({dcols}) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist2
            FROM pts q
            JOIN pts c ON c.label = q.label AND c.vec_id <> q.vec_id
            JOIN codes ON codes.vec_id = c.vec_id
            JOIN lut ON lut.qid = q.vec_id
                    AND lut.m = codes.m AND lut.k = codes.k
            WHERE q.vec_id < {_ADC_NQ}
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, adc_dist2,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist2, neighbor_id) AS rnk
            FROM adc
        ) WHERE rnk <= {_ADC_K}
    """


@register(
    "sim_ivfpq_adc_topk",
    oracle=_adc_oracle(),
    doc=(
        "IVF-PQ asymmetric-distance search (the FAISS IVFPQ query "
        "path): corpus vectors live only as 8-byte PQ codes; each "
        "query precomputes a 8×16 look-up table of subspace distances "
        "to every codeword, candidates come from the query's coarse "
        "cell (label) only, and the approximate distance is the "
        "table-lookup sum — top-5 per query, every double from one "
        "fixed op tree."
    ),
)
def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN serving stack: coarse prune + compressed rerank.

    100 TB: the corpus is touched only through its PQ code rows (8
    small ints per vector — 8× smaller than raw floats); the LUT is
    nq·M·K rows broadcast; candidates are an equi-join on the coarse
    cell. The ADC sum pivots the 8 subspace distances to COLUMNS so
    the float addition order is fixed (a row-stream SUM would
    re-associate). Exact-rerank of the ADC top-R with true distances
    is the standard second stage (sim_ivf_topk shows that shape).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    ms = F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m")
    cb = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("k"), "v")
        .select("k", "v", ms)
        .select(
            "m",
            "k",
            *[
                F.expr(f"element_at(v, 8 * m + {j + 1})").alias(f"c{j}")
                for j in range(_PQ_SUB)
            ],
        )
    )
    d = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id", "m", "k", F.expr(_pq_dist2("v", "", True)).alias("dist2")
    )
    codes = (
        d.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id", "m").orderBy("dist2", "k")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "k")
    )
    lut = (
        emb.filter(F.col("vec_id") < _ADC_NQ)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("m").alias("lm"),
            F.col("k").alias("lk"),
            F.expr(_pq_dist2("v", "", True)).alias("ld"),
        )
    )
    q = emb.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    cand = (
        q.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            (F.col("label") == F.col("qlabel"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(
            F.broadcast(lut),
            (F.col("qid") == F.col("query_id"))
            & (F.col("lm") == F.col("m"))
            & (F.col("lk") == F.col("k")),
        )
    )
    dcols = " + ".join(
        f"MAX(CASE WHEN m = {i} THEN ld END)" for i in range(_PQ_M)
    )
    adc = cand.groupBy("query_id", "neighbor_id").agg(
        F.expr(
            f"CAST(FLOOR(({dcols}) * CAST(1000000 AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
            " / CAST(1000000 AS DOUBLE)"
        ).alias("adc_dist2")
    )
    rnk = F.row_number().over(
        W.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    )
    return (
        adc.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= _ADC_K)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist2",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity matrix (r6) — how close are the embedding
# classes to each other? Per-label centroids from exact quantized
# component sums (the kmeans_recompute discipline: floor(x·10⁶+0.5)
# BEFORE summing), then pairwise cosine BETWEEN SUM VECTORS — the 1/n
# centroid factors cancel in cosine, so no division ever touches the
# aggregate side:
#
#   cos(centroid_a, centroid_b) = dot(S_a,S_b) / (√|S_a|² · √|S_b|²)
#
# dot/norms in DECIMAL(38,0)/HUGEINT, one fixed double tree at the
# end. The class-confusability audit for an embedding space.
# 100 TB: one posexplode + (label, dim) aggregate collapses the corpus
# to #labels·64 rows map-side; the pair matrix is #labels²/2.
# ---------------------------------------------------------------------------
@register(
    "lang_centroid_similarity",
    oracle=f"""
        WITH comps AS (
            SELECT label, unnest(generate_series(1, 64)) AS dim,
                   {_SQL_D.format("embedding")} AS v
            FROM embeddings
        ),
        sums AS (
            SELECT label, dim,
                   SUM(CAST(FLOOR(v[dim] * 1000000.0 + 0.5) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM comps GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   MAX(a.n) AS n_a, MAX(b.n) AS n_b,
                   SUM(CAST(a.s AS HUGEINT) * b.s) AS dot,
                   SUM(CAST(a.s AS HUGEINT) * a.s) AS na2,
                   SUM(CAST(b.s AS HUGEINT) * b.s) AS nb2
            FROM sums a
            JOIN sums b ON a.dim = b.dim AND a.label < b.label
            GROUP BY 1, 2
        )
        SELECT CAST(label_a AS BIGINT) AS label_a,
               CAST(label_b AS BIGINT) AS label_b,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               {sql_round('CAST(dot AS DOUBLE) / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE)))', 6)}
                   AS centroid_cosine
        FROM pairs
    """,
    doc=(
        "Pairwise cosine between per-label embedding centroids — exact "
        "quantized component sums (1/n factors cancel in cosine, so "
        "the hashed surface never divides), 128-bit dot/norms, one "
        "fixed double tree; the class-confusability audit."
    ),
)
def lang_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    sums = comps.groupBy("label", "dim").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    a = sums.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = sums.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, (a.dim == b.dim) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum(F.expr(f"CAST(sa AS {dec}) * sb")).alias("dot"),
            F.sum(F.expr(f"CAST(sa AS {dec}) * sa")).alias("na2"),
            F.sum(F.expr(f"CAST(sb AS {dec}) * sb")).alias("nb2"),
        )
    )
    return pairs.select(
        F.col("label_a").cast("long"),
        F.col("label_b").cast("long"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        fround(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("nb2").cast("double"))
            ),
            6,
        ).alias("centroid_cosine"),
    )


# ---------------------------------------------------------------------------
# HOF-only cosine top-k (r6) — the similarity baseline expressed in
# NOTHING but built-in higher-order functions: quantize components
# with TRANSFORM, multiply pairs with ZIP_WITH, left-fold the sum with
# AGGREGATE — zero UDFs, zero Arrow, the whole scorer lives inside
# whole-stage codegen. Complements the Arrow-kernel family
# (sim_bruteforce_topk et al.) by pinning the pure-JVM path the task
# brief names (F.zip_with / F.aggregate for the dot product).
# Exactness: components quantize to ⌊x·10⁶+0.5⌋ BEFORE any arithmetic,
# so dots/norms are exact integers (order-independent); the ranking
# surface is the signed ppb cosine²
#     cos_ppb = sign(dot) · (dot²·10⁹ DIV (na²·nb²))
# (monotone in cosine; 128-bit products). Top-5 corpus neighbors for
# the 3 lowest vec_ids, vec_id tiebreak.
# 100 TB: queries broadcast; scoring is a map-only scan of the corpus
# (the brute-force contract — IVF/PQ are the indexed paths).
# ---------------------------------------------------------------------------
@register(
    "array_hof_cosine_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid,
                   list_transform({_SQL_D.format("embedding")},
                                  x -> FLOOR(x * 1000000.0 + 0.5)) AS qv
            FROM embeddings WHERE vec_id < 3
        ),
        c AS (
            SELECT vec_id,
                   list_transform({_SQL_D.format("embedding")},
                                  x -> FLOOR(x * 1000000.0 + 0.5)) AS cv
            FROM embeddings WHERE vec_id >= 3
        ),
        -- quantized components <= ~2e6 and 64-dim partial sums <= 2.6e14
        -- are all exactly representable doubles, so list_dot_product is
        -- EXACT here whatever its summation order; cast back to integers
        scored AS (
            SELECT q.qid, c.vec_id,
                   CAST(CAST(list_dot_product(q.qv, c.cv) AS BIGINT)
                        AS HUGEINT) AS dot,
                   CAST(CAST(list_dot_product(q.qv, q.qv) AS BIGINT)
                        AS HUGEINT) AS na2,
                   CAST(CAST(list_dot_product(c.cv, c.cv) AS BIGINT)
                        AS HUGEINT) AS nb2
            FROM q CROSS JOIN c
        ),
        ranked AS (
            SELECT qid, vec_id,
                   CAST(dot AS BIGINT) AS dot_scaled,
                   CAST(CASE WHEN dot >= 0 THEN 1 ELSE -1 END
                        * (dot * dot * 1000000000 // (na2 * nb2))
                        AS BIGINT) AS cos_ppb,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY CASE WHEN dot >= 0 THEN 1 ELSE -1 END
                                * (dot * dot * 1000000000 // (na2 * nb2)) DESC,
                                vec_id ASC) AS rk
            FROM scored
        )
        SELECT qid AS query_id, vec_id AS neighbor_id, dot_scaled, cos_ppb,
               CAST(rk AS BIGINT) AS sim_rank
        FROM ranked WHERE rk <= 5
    """,
    doc=(
        "Cosine top-5 for 3 query vectors using ONLY built-in "
        "higher-order functions (TRANSFORM quantize, ZIP_WITH multiply, "
        "AGGREGATE left-fold) — zero UDF/Arrow, fully codegen'd; exact "
        "integer dots/norms, signed ppb cosine² ranking surface."
    ),
)
def array_hof_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W2

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = (
        "transform(embedding,"
        " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.expr(quant).alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 3).select(
        "vec_id", F.expr(quant).alias("cv")
    )
    dec = "DECIMAL(38,0)"
    scored = c.join(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.expr(
            f"aggregate(zip_with(qv, cv, (x, y) -> CAST(x AS {dec}) * y),"
            f" CAST(0 AS {dec}), (acc, v) -> acc + v)"
        ).alias("dot"),
        F.expr(
            f"aggregate(qv, CAST(0 AS {dec}),"
            f" (acc, x) -> acc + CAST(x AS {dec}) * x)"
        ).alias("na2"),
        F.expr(
            f"aggregate(cv, CAST(0 AS {dec}),"
            f" (acc, x) -> acc + CAST(x AS {dec}) * x)"
        ).alias("nb2"),
    )
    cosp = F.expr(
        "CAST(CASE WHEN dot >= 0 THEN 1 ELSE -1 END"
        " * (dot * dot * 1000000000 DIV (na2 * nb2)) AS BIGINT)"
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        F.col("dot").cast("long").alias("dot_scaled"),
        cosp.alias("cos_ppb"),
    ).withColumn(
        "rk",
        F.row_number().over(
            W2.partitionBy("qid").orderBy(F.desc("cos_ppb"), F.asc("vec_id"))
        ),
    )
    return ranked.filter(F.col("rk") <= 5).select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        "dot_scaled",
        "cos_ppb",
        F.col("rk").cast("long").alias("sim_rank"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation agreement (r7) — MRL embeddings (Kusupati et
# al. 2022, arXiv:2205.13147) are served truncated to a dimension
# prefix; before shipping a truncated index you measure how often the
# prefix retrieves the SAME top-1 neighbor as the full vector. Exact
# integer surface: components quantize to ⌊x·10⁶+0.5⌋ before any
# arithmetic, the ranking is the signed ppb cosine² (same discipline
# as array_hof_cosine_topk), and the top-1 per (k, query) is a
# (cos_ppb, −vec_id) struct max — a partial-aggregable argmax, no
# global window. dot ≤ 2.6e14 so dot²·10⁹ ≤ 7e37 < decimal(38,0).
# 100 TB: queries broadcast; the corpus is scanned ONCE computing all
# four prefix scores map-side; the only shuffle is the (k, qid) argmax
# combine (4·|Q| groups).
# ---------------------------------------------------------------------------
_MRL_Q = 6                    # query vectors: vec_id < _MRL_Q
_MRL_KS = (8, 16, 32, 64)     # dimension prefixes


@register(
    "matryoshka_truncation_agreement",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid,
                   list_transform({_SQL_D.format("embedding")},
                                  x -> FLOOR(x * 1000000.0 + 0.5)) AS qv
            FROM embeddings WHERE vec_id < {_MRL_Q}
        ),
        c AS (
            SELECT vec_id,
                   list_transform({_SQL_D.format("embedding")},
                                  x -> FLOOR(x * 1000000.0 + 0.5)) AS cv
            FROM embeddings WHERE vec_id >= {_MRL_Q}
        ),
        ks AS (SELECT unnest([{", ".join(str(k) for k in _MRL_KS)}]) AS k),
        scored AS (
            SELECT ks.k, q.qid, c.vec_id,
                   CAST(CAST(list_dot_product(list_slice(q.qv, 1, ks.k),
                                              list_slice(c.cv, 1, ks.k))
                             AS BIGINT) AS HUGEINT) AS dot,
                   CAST(CAST(list_dot_product(list_slice(q.qv, 1, ks.k),
                                              list_slice(q.qv, 1, ks.k))
                             AS BIGINT) AS HUGEINT) AS na2,
                   CAST(CAST(list_dot_product(list_slice(c.cv, 1, ks.k),
                                              list_slice(c.cv, 1, ks.k))
                             AS BIGINT) AS HUGEINT) AS nb2
            FROM q CROSS JOIN c CROSS JOIN ks
        ),
        ranked AS (
            SELECT k, qid, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY k, qid
                       ORDER BY CASE WHEN dot >= 0 THEN 1 ELSE -1 END
                                * (dot * dot * 1000000000 // (na2 * nb2)) DESC,
                                vec_id ASC) AS rk
            FROM scored
        ),
        top1 AS (SELECT k, qid, vec_id FROM ranked WHERE rk = 1),
        full_ AS (SELECT qid, vec_id AS full_nb FROM top1 WHERE k = 64)
        SELECT t.k,
               CAST(COUNT(*) AS BIGINT)                             AS n_queries,
               CAST(SUM(CASE WHEN t.vec_id = f.full_nb THEN 1 ELSE 0 END)
                    AS BIGINT)                                      AS n_agree,
               CAST(SUM(CASE WHEN t.vec_id = f.full_nb THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT)                AS agree_ppm
        FROM top1 t JOIN full_ f USING (qid)
        GROUP BY t.k
    """,
    doc=(
        "Matryoshka (MRL) truncation audit: top-1 neighbor agreement "
        "of 8/16/32/64-dim prefixes vs the full vector — exact ppb "
        "cosine² ranking, one corpus scan scoring all prefixes, "
        "partial-aggregable argmax."
    ),
)
def matryoshka_truncation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = (
        "transform(embedding,"
        " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )
    q = emb.filter(F.col("vec_id") < _MRL_Q).select(
        F.col("vec_id").alias("qid"), F.expr(quant).alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= _MRL_Q).select(
        "vec_id", F.expr(quant).alias("cv")
    )
    dec = "DECIMAL(38,0)"

    # Pair-independent factors hoisted OUT of the Q×C fan-out (guide
    # §2.2/§4 — pass the fan-out only what varies per pair; r13):
    # the prefix norms depend on one row each, so computing them
    # inside the pair projection (the old inline cosp() form) did
    # O(|C|·|Q|·k) lambda work that is O(|C|·k) here. Each row squares
    # its elements ONCE and the four prefix norms aggregate slices of
    # that shared array — same decimal(38,0) terms, same sums.
    def norms(arr: str, pfx: str) -> list:
        sq = f"transform({arr}, x -> CAST(x AS {dec}) * x)"
        return [
            F.expr(
                f"aggregate(slice({sq}, 1, {k}), CAST(0 AS {dec}),"
                f" (acc, v) -> acc + v)"
            ).alias(f"{pfx}{k}")
            for k in _MRL_KS
        ]

    q2 = q.select("qid", "qv", *norms("qv", "qn"))
    c2 = c.select("vec_id", "cv", *norms("cv", "cn"))

    # per pair: elementwise products computed ONCE as a materialized
    # array column (referenced 4×, so CollapseProject keeps it a
    # separate projection instead of re-inlining the zip_with), each
    # prefix dot aggregated from slices of it and materialized as ONE
    # column (the old form re-evaluated the dot aggregate three times
    # per k inside the CASE/square)
    keep = [F.col(f"qn{k}") for k in _MRL_KS] + [F.col(f"cn{k}") for k in _MRL_KS]
    paired = c2.join(F.broadcast(q2)).select(
        "qid",
        "vec_id",
        *keep,
        F.expr(
            f"zip_with(qv, cv, (x, y) -> CAST(x AS {dec}) * y)"
        ).alias("pv"),
    )
    dots = paired.select(
        "qid",
        "vec_id",
        *keep,
        *[
            F.expr(
                f"aggregate(slice(pv, 1, {k}), CAST(0 AS {dec}),"
                f" (acc, v) -> acc + v)"
            ).alias(f"dot{k}")
            for k in _MRL_KS
        ],
    )
    # explode the 4 (k, cos) structs map-side — scalar arithmetic on
    # the materialized columns, bit-identical to the inline form
    scored = dots.select(
        "qid",
        "vec_id",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct(CAST({k} AS BIGINT) AS k,"
                    f" CAST(CASE WHEN dot{k} >= 0 THEN 1 ELSE -1 END"
                    f" * (dot{k} * dot{k} * 1000000000"
                    f" DIV (qn{k} * cn{k})) AS BIGINT) AS cos_ppb)"
                    for k in _MRL_KS
                )
                + ")"
            )
        ).alias("kc"),
    ).select("qid", "vec_id", F.col("kc.k").alias("k"), F.col("kc.cos_ppb").alias("cos_ppb"))
    # argmax via struct max: highest cos_ppb, then LOWEST vec_id —
    # partial-aggregable, no window over the candidate set
    top1 = (
        scored.groupBy("k", "qid")
        .agg(
            F.max(
                F.struct(F.col("cos_ppb").alias("c"), (-F.col("vec_id")).alias("nv"))
            ).alias("best")
        )
        .select("k", "qid", (-F.col("best.nv")).alias("vec_id"))
    )
    full = top1.filter(F.col("k") == 64).select("qid", F.col("vec_id").alias("full_nb"))
    return (
        top1.join(F.broadcast(full), "qid")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(F.when(F.col("vec_id") == F.col("full_nb"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
            F.expr(
                "CAST(SUM(CASE WHEN vec_id = full_nb THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("agree_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss projection distortion (r7) — before replacing
# 64-dim vectors with an m=16 random ±1 projection (Achlioptas 2003,
# "Database-friendly random projections"), audit how well pairwise
# squared distances survive: distortion = ‖y_a−y_b‖²/(m·‖x_a−x_b‖²)
# should concentrate near 1. The sign matrix is the engine-neutral
# md5 hash of (d, j) — both engines rebuild it bit-identically; all
# distances are exact integers on µ-quantized components.
# Overflow ledger: |x|≤2e6 → d2_orig ≤ 64·(4e6)² ≈ 1e15 (BIGINT);
# |y|≤64·2e6=1.3e8 → d2_proj ≤ 16·(2.6e8)² ≈ 1.1e18 (BIGINT);
# d2_proj·10⁶ goes through HUGEINT/decimal(38,0).
# 100 TB: the projection is a (vec × 1024-row broadcast matrix) join
# → (vec_id, j) combine — linear, no fact-side shuffle beyond the
# per-vector aggregate; the PAIR audit is bounded by contract to the
# _JL_N lowest vec_ids (the production path projects everything but
# audits a fixed panel).
# ---------------------------------------------------------------------------
_JL_N = 40    # audit panel: all pairs of the _JL_N lowest vec_ids
_JL_M = 16    # projected dimensions


@register(
    "jl_projection_distortion",
    oracle=f"""
        WITH panel AS (
            SELECT vec_id,
                   list_transform({_SQL_D.format("embedding")},
                                  x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS v
            FROM embeddings WHERE vec_id < {_JL_N}
        ),
        dims AS (
            SELECT p.vec_id, d.d, p.v[d.d] AS x
            FROM panel p CROSS JOIN
                 (SELECT unnest(generate_series(1, 64)) AS d) d
        ),
        mat AS (
            SELECT d.d, j.j,
                   CASE WHEN ({sql_hex40("'jl|' || d.d || '|' || j.j")}) % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM (SELECT unnest(generate_series(1, 64)) AS d) d
            CROSS JOIN (SELECT unnest(generate_series(1, {_JL_M})) AS j) j
        ),
        proj AS (
            SELECT dims.vec_id, mat.j,
                   CAST(SUM(mat.s * dims.x) AS BIGINT) AS y
            FROM dims JOIN mat USING (d)
            GROUP BY 1, 2
        ),
        d2o AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2_orig
            FROM dims a JOIN dims b ON a.d = b.d AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        d2p AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
            FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        dist AS (
            SELECT d2o.va, d2o.vb,
                   CAST(CAST(d2p.d2_proj AS HUGEINT) * 1000000
                        // (CAST({_JL_M} AS HUGEINT) * d2o.d2_orig) AS BIGINT)
                       AS distortion_ppm
            FROM d2o JOIN d2p USING (va, vb)
        )
        SELECT distortion_ppm // 200000             AS bucket,
               CAST(COUNT(*) AS BIGINT)             AS n_pairs,
               CAST(MIN(distortion_ppm) AS BIGINT)  AS min_distortion_ppm,
               CAST(MAX(distortion_ppm) AS BIGINT)  AS max_distortion_ppm,
               CAST(SUM(distortion_ppm) // COUNT(*) AS BIGINT)
                                                    AS mean_distortion_ppm
        FROM dist GROUP BY 1
    """,
    doc=(
        "JL random-projection audit (64→16 dims, md5 ±1 matrix): "
        "pairwise squared-distance distortion in exact ppm over a "
        "fixed 40-vector panel, bucketed at 0.2 — concentrates near 1."
    ),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.hashing import spark_hex40

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _JL_N)
    panel = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
        ).alias("v"),
    )
    dims = panel.select(
        "vec_id", F.posexplode("v").alias("d0", "x")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "x")
    mat = (
        spark.range(1, 65)
        .select(F.col("id").alias("d"))
        .crossJoin(spark.range(1, _JL_M + 1).select(F.col("id").alias("j")))
        .select(
            "d",
            "j",
            F.when(
                spark_hex40(
                    F.concat(F.lit("jl|"), F.col("d"), F.lit("|"), F.col("j"))
                )
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("s"),
        )
    )
    proj = (
        dims.join(F.broadcast(mat), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("x")).cast("long").alias("y"))
    )
    a_o = dims.select(
        F.col("vec_id").alias("va"), F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b_o = dims.select(
        F.col("vec_id").alias("vb"), F.col("d").alias("db"), F.col("x").alias("xb")
    )
    d2o = (
        a_o.join(b_o, (F.col("da") == F.col("db")) & (F.col("va") < F.col("vb")))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
            .cast("long")
            .alias("d2_orig")
        )
    )
    a_p = proj.select(
        F.col("vec_id").alias("va"), F.col("j").alias("ja"), F.col("y").alias("ya")
    )
    b_p = proj.select(
        F.col("vec_id").alias("vb"), F.col("j").alias("jb"), F.col("y").alias("yb")
    )
    d2p = (
        a_p.join(b_p, (F.col("ja") == F.col("jb")) & (F.col("va") < F.col("vb")))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            .cast("long")
            .alias("d2_proj")
        )
    )
    dist = d2o.join(d2p, ["va", "vb"]).select(
        F.expr(
            f"CAST(CAST(d2_proj AS DECIMAL(38,0)) * 1000000"
            f" DIV (CAST({_JL_M} AS DECIMAL(38,0)) * d2_orig) AS BIGINT)"
        ).alias("distortion_ppm")
    )
    return dist.groupBy(
        F.expr("distortion_ppm DIV 200000").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("distortion_ppm").cast("long").alias("min_distortion_ppm"),
        F.max("distortion_ppm").cast("long").alias("max_distortion_ppm"),
        F.expr("CAST(SUM(distortion_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "mean_distortion_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# IVF nprobe recall sweep (r8) — the ANN tuning curve, the exact
# analog of minhash_band_tuning for the vector index: recall@3 vs
# exact brute force at nprobe in {1, 2, 4}, as ONE aggregate row per
# setting. The operational question a 100 TB index answers before
# deployment: how many cells must each query probe to hit its recall
# target, and what candidate volume does that cost?
#
# 100 TB: the ranked assignment is computed once and checkpointed (Arrow
# kernel, map-only); each sweep point is the proven cell-bounded
# cosine_topk equi-join (candidates = sum of probed cells, never N^2);
# ground truth is the broadcast-20-queries brute force (linear, one
# scan) shared by all points. Output: 3 rows.
# ---------------------------------------------------------------------------
_SWEEP_NPROBES = (1, 2, 4)
_SWEEP_NQ = 20  # query panel: vec_id < 20
_SWEEP_K = 3


def _sql_cos6(q: str, c: str) -> str:
    """The 6-dp-rounded cosine used by operators/similarity.cosine_topk,
    rendered for the oracle (same text as the sim_ivf_multiprobe twin)."""
    qd, cd = _SQL_D.format(q), _SQL_D.format(c)
    return (
        f"FLOOR((list_dot_product({qd}, {cd})"
        f" / (SQRT(list_dot_product({qd}, {qd}))"
        f" * SQRT(list_dot_product({cd}, {cd})))) * 1000000.0 + 0.5) / 1000000.0"
    )


def _sweep_oracle() -> str:
    cos_qc = _sql_cos6("q.embedding", "c.embedding")
    arms = []
    for p in _SWEEP_NPROBES:
        arms.append(f"""
        SELECT CAST({p} AS BIGINT) AS nprobe,
               CAST(COUNT(DISTINCT b.query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(a.neighbor_id) AS BIGINT)       AS n_hits,
               CAST(COUNT(a.neighbor_id) * 1000
                    // ({_SWEEP_K} * COUNT(DISTINCT b.query_id)) AS BIGINT)
                                                          AS recall_milli
        FROM bf b LEFT JOIN (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {cos_qc} DESC, c.vec_id) AS r
                FROM (SELECT r1.vec_id, r1.embedding, r1.cid FROM ranked r1
                      WHERE r1.rn <= {p} AND r1.vec_id < {_SWEEP_NQ}) q
                JOIN corpus c ON q.cid = c.cid
                WHERE q.vec_id <> c.vec_id
            ) t WHERE r <= {_SWEEP_K}
        ) a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        """)
    body = " UNION ALL ".join(arms)
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, {_SQL_D.format("embedding")} AS cvec
            FROM embeddings WHERE vec_id < {_K}
        ),
        pts AS (SELECT vec_id, embedding, {_SQL_D.format("embedding")} AS v
                FROM embeddings),
        d AS (
            SELECT p.vec_id, p.embedding, p.v, c.cid,
                   list_dot_product(p.v, p.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(p.v, c.cvec) AS dist2
            FROM pts p CROSS JOIN cent c
        ),
        ranked AS (
            SELECT vec_id, embedding, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2, cid) AS rn
            FROM d
        ),
        corpus AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
        bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {cos_qc} DESC, c.vec_id) AS r
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id < {_SWEEP_NQ} AND q.vec_id <> c.vec_id
            ) t WHERE r <= {_SWEEP_K}
        )
        {body}
    """


@register(
    "ann_nprobe_recall_sweep",
    oracle=_sweep_oracle(),
    doc=(
        f"IVF tuning curve: recall@{_SWEEP_K} vs brute force at nprobe "
        f"in {_SWEEP_NPROBES} over a {_SWEEP_NQ}-query panel — one "
        "aggregate row per setting, exact integer recall_milli."
    ),
)
def ann_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.similarity import cosine_topk
    from stacktrend_spark.sources.tables import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    ranked = local_checkpoint(_assignment_ranked(emb))
    corpus = emb.join(
        ranked.filter(F.col("rn") == 1).select("vec_id", F.col("cid").alias("cell")),
        "vec_id",
    )
    queries = emb.filter(F.col("vec_id") < _SWEEP_NQ)
    bf = local_checkpoint(
        cosine_topk(emb, queries, k=_SWEEP_K, dim=_DIM).select("query_id", "neighbor_id")
    )
    arms = []
    for p in _SWEEP_NPROBES:
        probes = queries.join(
            ranked.filter(F.col("rn") <= p).select(
                "vec_id", F.col("cid").alias("cell")
            ),
            "vec_id",
        )
        appr = cosine_topk(corpus, probes, k=_SWEEP_K, bucket_col="cell", dim=_DIM).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        arms.append(
            bf.join(appr, ["query_id", "neighbor_id"], "left").agg(
                F.lit(p).cast("long").alias("nprobe"),
                F.countDistinct("query_id").cast("long").alias("n_queries"),
                F.count("hit").cast("long").alias("n_hits"),
                # r13 degenerate-corpus fix: an empty ground-truth
                # panel (corpus too small for any bf pair) zeroed the
                # divisor — ANSI Spark crashed where DuckDB yields
                # NULL recall
                F.expr(
                    f"CASE WHEN COUNT(DISTINCT query_id) = 0 THEN NULL"
                    f" ELSE CAST(COUNT(hit) * 1000"
                    f" DIV ({_SWEEP_K} * COUNT(DISTINCT query_id))"
                    f" AS BIGINT) END"
                ).alias("recall_milli"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Embedding norm outliers (r8) — vector-quality audit: per label, the
# distribution of mu-quantized squared L2 norms and the count of
# 3-sigma outliers. Broken embeddings (all-zero, exploded magnitudes,
# truncated writes) show up as norm outliers before they poison ANN
# recall or clustering; this is the embedding-column twin of the
# outlier_iqr_filter quality gate.
#
# Exactness: components quantize to integer milli-units, norm2 is an
# integer fold; mean/variance are integer-quantized per label and the
# 3-sigma rule is evaluated WITHOUT sqrt as (x - mean)^2 > 9*var —
# both sides exact integers, so both engines agree bitwise.
# 100 TB: map-only fold + one |labels|-row aggregate broadcast back.
# The outlier PREDICATE (x-mean)^2 <= ~4e15 is bounded by quantization
# at any N, but the second-moment fold SUM(norm2^2) grows with N:
# ~1e12 per row means int64 saturates near 9e6 vectors per label —
# past that the fold switches to DecimalType (SCALE.md numeric
# policy; DuckDB's HUGEINT sum is already exact), same ceiling the
# brier/bh_fdr rows document.
# ---------------------------------------------------------------------------
@register(
    "embedding_norm_outliers",
    oracle="""
        WITH q AS (
            SELECT vec_id, label,
                   CAST(list_sum(list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
                           * CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)))
                        AS BIGINT) AS norm2
            FROM embeddings
        ),
        st AS (
            SELECT label,
                   CAST(COUNT(*) AS BIGINT)     AS n_vecs,
                   CAST(SUM(norm2) AS BIGINT)   AS s1,
                   CAST(SUM(norm2 * norm2) AS BIGINT) AS s2
            FROM q GROUP BY label
        ),
        m AS (
            SELECT label, n_vecs,
                   s1 // n_vecs AS mean_q,
                   (s2 // n_vecs) - (s1 // n_vecs) * (s1 // n_vecs) AS var_q
            FROM st
        )
        SELECT q.label,
               CAST(m.n_vecs AS BIGINT) AS n_vecs,
               CAST(m.mean_q AS BIGINT) AS mean_norm2,
               CAST(MIN(q.norm2) AS BIGINT) AS min_norm2,
               CAST(MAX(q.norm2) AS BIGINT) AS max_norm2,
               CAST(SUM(CASE WHEN (q.norm2 - m.mean_q) * (q.norm2 - m.mean_q)
                                  > 9 * m.var_q THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers
        FROM q JOIN m ON m.label = q.label
        GROUP BY q.label, m.n_vecs, m.mean_q
    """,
    doc=(
        "Embedding-column quality audit: per-label mu-quantized squared "
        "L2 norm stats + 3-sigma outlier counts, sqrt-free exact "
        "integer rule (x-mean)^2 > 9*var."
    ),
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            "CAST(aggregate(transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, v) -> a + v * v) AS BIGINT)"
        ).alias("norm2"),
    )
    st = q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("norm2").cast("long").alias("s1"),
        F.sum(F.expr("norm2 * norm2")).cast("long").alias("s2"),
    )
    m = st.select(
        "label",
        "n_vecs",
        F.expr("s1 DIV n_vecs").alias("mean_q"),
        F.expr("(s2 DIV n_vecs) - (s1 DIV n_vecs) * (s1 DIV n_vecs)").alias("var_q"),
    )
    return (
        q.join(F.broadcast(m), "label")
        .groupBy(q["label"], "n_vecs", "mean_q")
        .agg(
            F.min("norm2").cast("long").alias("min_norm2"),
            F.max("norm2").cast("long").alias("max_norm2"),
            F.sum(
                F.expr(
                    "CASE WHEN (norm2 - mean_q) * (norm2 - mean_q) > 9 * var_q"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("mean_q").cast("long").alias("mean_norm2"),
            "min_norm2",
            "max_norm2",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# PQ codebook training iteration (r8) — the missing third of the PQ
# story: embedding_pq_codes ENCODES against a codebook and
# sim_ivfpq_adc_topk SEARCHES with one; this row TRAINS one — a full
# per-subspace Lloyd update (assign every subvector to its nearest
# codeword, recompute codeword components as exact scaled-int means).
# 4 subspaces x 16 dims over the 64-dim embeddings, 16 seed codewords
# per subspace (vec_id < 16 subvectors, the embedding_pq_codes seed).
#
# Parity: dist^2 from three left-fold dot products over double-cast
# slices (== DuckDB list_dot_product, PARITY.md); (dist2, code)
# ordering breaks ties identically; centroid components quantize to
# 1e-6 BEFORE summing so the integer sums are order-independent.
# 100 TB: the codebook (4x16 subvectors) broadcasts; assignment is
# map-side k-fold candidate amplification + a per-(vec, subspace)
# struct-min; the only Exchange is the (subspace, code, dim) rollup —
# output bounded at 4*16*16 = 1024 rows at any corpus size.
# ---------------------------------------------------------------------------
_PQ_M_SUB = 4    # subspaces
_PQ_SUBDIM = 16  # dims per subspace
_PQ_CODES = 16   # codewords per subspace (seed: vec_id < 16)


@register(
    "pq_codebook_train_iter",
    oracle=f"""
        WITH ms AS (SELECT unnest(range({_PQ_M_SUB})) AS m),
        cw AS (
            SELECT e.vec_id AS code, ms.m,
                   list_transform(
                       e.embedding[ms.m * {_PQ_SUBDIM} + 1 : ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                       x -> CAST(x AS DOUBLE)) AS cvec
            FROM embeddings e CROSS JOIN ms WHERE e.vec_id < {_PQ_CODES}
        ),
        sub AS (
            SELECT e.vec_id, ms.m,
                   list_transform(
                       e.embedding[ms.m * {_PQ_SUBDIM} + 1 : ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                       x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings e CROSS JOIN ms
        ),
        d AS (
            SELECT s.vec_id, s.m, s.v, c.code,
                   list_dot_product(s.v, s.v) + list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(s.v, c.cvec) AS dist2
            FROM sub s JOIN cw c ON c.m = s.m
        ),
        a AS (
            SELECT m, code, v FROM (
                SELECT m, code, v, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, m ORDER BY dist2, code) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        comps AS (
            SELECT m, code, unnest(generate_series(1, {_PQ_SUBDIM})) AS dim, v
            FROM a
        )
        SELECT CAST(m AS BIGINT)    AS subspace,
               CAST(code AS BIGINT) AS code,
               CAST(dim AS BIGINT)  AS dim,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CAST(FLOOR(v[dim] * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                                    AS sum_scaled,
               CAST(SUM(CAST(FLOOR(v[dim] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (1000000.0 * COUNT(*)) AS centroid_val
        FROM comps GROUP BY 1, 2, 3
    """,
    doc=(
        f"PQ codebook Lloyd iteration: {_PQ_M_SUB} subspaces x "
        f"{_PQ_SUBDIM} dims, {_PQ_CODES} codewords each — nearest-"
        "codeword assignment (left-fold dot parity) + exact scaled-int "
        "centroid recompute; output bounded at 1024 rows."
    ),
)
def pq_codebook_train_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    ms = F.explode(F.array(*[F.lit(i) for i in range(_PQ_M_SUB)])).alias("m")
    sub = emb.select("vec_id", ms, "embedding").select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("v"),
    )
    cw = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").alias("code"), ms, "embedding")
        .select(
            "code",
            "m",
            F.expr(f"slice(embedding, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias(
                "cvec"
            ),
        )
    )
    d = sub.join(F.broadcast(cw), "m").select(
        "vec_id",
        "m",
        "v",
        "code",
        (
            dot(F.col("v"), F.col("v"), dim=_PQ_SUBDIM)
            + dot(F.col("cvec"), F.col("cvec"), dim=_PQ_SUBDIM)
            - F.lit(2.0) * dot(F.col("v"), F.col("cvec"), dim=_PQ_SUBDIM)
        ).alias("dist2"),
    )
    a = (
        d.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id", "m").orderBy("dist2", "code")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("m", "code", "v")
    )
    comps = a.select(
        "m",
        "code",
        F.posexplode("v").alias("dim0", "x"),
    ).select(
        "m",
        "code",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("long").alias("xs"),
    )
    return comps.groupBy(
        F.col("m").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
        F.col("dim").cast("long").alias("dim"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("xs").cast("long").alias("sum_scaled"),
        (F.sum("xs").cast("double") / (F.lit(1000000.0) * F.count(F.lit(1)))).alias(
            "centroid_val"
        ),
    )
