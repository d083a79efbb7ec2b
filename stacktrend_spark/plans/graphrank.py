"""Iterative graph analytics: PageRank over a co-purchase graph.

Graph: parts are nodes; two parts are connected when they appear in
the same order (distinct undirected pairs, materialized as both
directed edges). PageRank then surfaces the parts most central to
co-purchase behavior — the "customers who bought X also bought"
primitive.

Cross-engine discipline: the float PageRank update is NOT
reproducible across engines (summation order over in-edges is
engine-dependent), so ranks live in exact scaled-integer space — see
``operators/graph.pagerank_scaled``. The oracle unrolls the same
fixed-point iterations as SQL CTEs with identical integer division,
so both engines produce the same BIGINTs bit-for-bit.

Scale notes (100 TB): the edge build is a self-join on the order key
(co-partitioned) plus one distinct; each PageRank iteration is one
shuffle (ranks ⋈ edges on src, then groupBy dst). Edges are
checkpointed once; ranks are O(parts) ≪ O(lineitem). Top-k is
TakeOrdered — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    fround,
    sql_round,
    sql_xlog10,
    xlog10,
)
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.graph import (
    cobasket_pairs,
    pagerank_scaled,
    symmetrize,
)
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

_SCALE = 10**12
_ITER = 3
_TOP = 50


def _pagerank_oracle(iterations: int = _ITER) -> str:
    ctes = [
        """edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )""",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM deg)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, {_SCALE} // (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""r{k} AS (
                SELECT n2.node,
                       ({15 * _SCALE} // (100 * (SELECT n FROM nn)))
                       + (85 * COALESCE(c.incoming, 0)) // 100 AS pr
                FROM nodes n2 LEFT JOIN (
                    SELECT e.dst, SUM(r.pr // d.deg) AS incoming
                    FROM edges e
                    JOIN r{k - 1} r ON r.node = e.src
                    JOIN deg d ON d.src = e.src
                    GROUP BY e.dst
                ) c ON c.dst = n2.node
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT part_id, rank_scaled, pr_rank FROM (
            SELECT node AS part_id,
                   CAST(pr AS BIGINT) AS rank_scaled,
                   CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS BIGINT)
                       AS pr_rank
            FROM r{iterations}
        ) t WHERE pr_rank <= {_TOP}
    """


@register(
    "pagerank_copurchase",
    oracle=_pagerank_oracle(),
    doc="PageRank over the part co-purchase graph — exact scaled-int iterations, top-50.",
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # one groupBy shuffle + map-side pair explode instead of the
    # orderkey self-join, and the distinct dedups the <-oriented HALF
    # before mirroring (r13 optimization; operators/graph.cobasket_pairs)
    und = cobasket_pairs(li, "l_orderkey", "l_partkey", u="src", v="dst").distinct()
    edges = symmetrize(und, u="src", v="dst")
    ranks = pagerank_scaled(edges, iterations=_ITER, scale=_SCALE)
    top = ranks.orderBy(F.desc("rank_scaled"), "node").limit(_TOP)
    w = W.orderBy(F.desc("rank_scaled"), "node")
    return top.select(
        F.col("node").alias("part_id"),
        "rank_scaled",
        F.row_number().over(w).cast("long").alias("pr_rank"),
    )


# ---------------------------------------------------------------------------
# Bounded k-core peel (r5) — graph summarization by iterative degree
# pruning: repeatedly remove nodes of degree < k; what survives R
# rounds approximates the k-core (exact once a round removes nothing).
# The FIXED round count is what keeps the operator oracle-able: both
# engines unroll the same R peel stages, so the surviving node set and
# degrees are bit-identical — the same bounded-unroll discipline as
# the PageRank fixed-point above. Each round is one degree aggregate +
# one semi-join edge restriction (broadcast of the surviving-node set
# once it shrinks below the threshold; Catalyst/AQE picks that up).
# Beyond-reference addition (graph family).
# ---------------------------------------------------------------------------

_KCORE_K = 90  # degrees run 42-206 (median ~115): ~40% of nodes peel away
             # over the rounds while a substantial core survives — both the
             # removal cascade and the fixpoint are genuinely exercised
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    ctes = [
        """e0 AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{r} AS (
                SELECT src FROM e{r - 1} GROUP BY src
                HAVING COUNT(*) >= {_KCORE_K}
            )"""
        )
        ctes.append(
            f"""e{r} AS (
                SELECT e.src, e.dst FROM e{r - 1} e
                JOIN k{r} s ON e.src = s.src
                JOIN k{r} t ON e.dst = t.src
            )"""
        )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT CAST(src AS BIGINT) AS part_id,
               CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e{_KCORE_ROUNDS} GROUP BY src
        """
    )


@register(
    "kcore_copurchase_peel",
    oracle=_kcore_oracle(),
    doc=(
        f"Bounded k-core (k={_KCORE_K}, {_KCORE_ROUNDS} peel rounds) of "
        "the co-purchase graph: iterative degree-prune unrolled to a "
        "fixed depth so both engines produce the identical surviving "
        "node set and degrees."
    ),
)
def kcore_copurchase_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        # groupBy + map-side pair explode, distinct on the <-oriented
        # half, mirror after (r13 optimization; cobasket_pairs) — the
        # cheaper subtree matters triply here because each peel round
        # replays it (see the no-persist A/B below)
        symmetrize(
            cobasket_pairs(li, "l_orderkey", "l_partkey", u="src", v="dst").distinct(),
            u="src",
            v="dst",
        )
        # NO persist anywhere — A/B MEASURED at sf0.1 (fresh sessions):
        # unpersisted 8.3-11.6 s vs persist-per-round 14.7 s vs
        # base-persist-only 24.2 s. Each round reads the previous edge
        # set three times, but recomputing the pipelined self-join +
        # restriction chain is cheaper than materializing millions of
        # edge rows to cache memory at every step. At cluster scale
        # with >3 rounds, checkpoint every few rounds to cut lineage
        # depth — the checkpoint_every knob below; A/B at depth 6 in
        # SCALE.md (r6).
    )
    edges = kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    ).select(F.col("src").cast("long").alias("part_id"), "core_degree")


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, checkpoint_every: int = 0
) -> DataFrame:
    """Fixed-depth k-core peel: each round drops nodes with out-degree
    < k and restricts edges to survivors on BOTH endpoints.

    ``checkpoint_every=R`` truncates lineage every R rounds via an
    eager ``localCheckpoint`` — at depth ≤3 recomputation beats
    materialization (the A/B above), but each un-checkpointed round
    TRIPLES the replay of everything before it (the edge set feeds the
    degree agg and both restriction joins), so beyond ~4-6 rounds the
    3^depth replay blowup dominates and periodic truncation wins.
    A/B at sf0.1, depth 6 (SCALE.md r6). On a real cluster prefer
    ``checkpoint()`` with a reliable dir: localCheckpoint pins blocks
    to executors and does not survive executor loss."""
    for r in range(1, rounds + 1):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        edges = (
            edges.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
        )
        if checkpoint_every and r % checkpoint_every == 0 and r < rounds:
            edges = local_checkpoint(edges)
    return edges


_JAC_MIN_QTY = 40   # same bulk-copurchase gate as the triangle/k-core family
_JAC_MIN_COMMON = 3  # min shared neighbors for an emitted pair


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= {_JAC_MIN_QTY}
        ),
        p AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS (
            SELECT u, v FROM p UNION ALL SELECT v, u FROM p
        ),
        deg AS (SELECT u AS node, COUNT(*) AS d FROM e GROUP BY 1),
        common AS (
            SELECT e1.u AS a, e2.u AS b, COUNT(*) AS c
            FROM e e1 JOIN e e2
              ON e1.v = e2.v AND e1.u < e2.u
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_JAC_MIN_COMMON}
        )
        SELECT common.a AS part_a, common.b AS part_b,
               CAST(common.c AS BIGINT) AS n_common,
               CAST(common.c * 1000000 // (da.d + db.d - common.c)
                    AS BIGINT) AS jaccard_ppm
        FROM common
        JOIN deg da ON da.node = common.a
        JOIN deg db ON db.node = common.b
    """,
    doc=(
        "Structural similarity: neighborhood Jaccard |N(a)∩N(b)| / "
        "|N(a)∪N(b)| between parts of the bulk co-purchase graph — "
        "the 'customers who bought these also bought those' pair "
        "score, exact ppm integers."
    ),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-join neighborhood overlap.

    100 TB: the wedge join on the shared neighbor is Σ deg(w)² work —
    the standard mitigations (hub cap / orientation) trade exactness,
    so this exact form keeps the common-count gate (≥3) AFTER a
    map-side-combinable count and notes that production corpora should
    pre-cap hub degrees (drop w with deg > ~10⁴: a neighbor shared by
    everyone carries no similarity signal, same rationale as the
    MinHash posting-list cap in operators/dedup.py).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _JAC_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    # groupBy + map-side pair explode (collect_set subsumes the old
    # pre-distinct); r13 optimization, operators/graph.cobasket_pairs
    # NOTE (r13): deliberately NOT persisted despite 6 static-plan
    # replays of the cobasket subtree — an A/B at sf0.1 read warm
    # 1.6 s unpersisted vs 2.8 s persisted (cache write + stats
    # hidden from AQE outweigh the replays, which the runtime largely
    # serves via exchange reuse)
    p = cobasket_pairs(li, "l_orderkey", "l_partkey").distinct()
    e = p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = e.alias("e1"), e.alias("e2")
    common = (
        e1.join(
            e2,
            (F.col("e1.v") == F.col("e2.v"))
            & (F.col("e1.u") < F.col("e2.u")),
        )
        .groupBy(F.col("e1.u").alias("a"), F.col("e2.u").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _JAC_MIN_COMMON)
    )
    da, db = deg.alias("da"), deg.alias("db")
    return (
        common.join(da, F.col("da.node") == F.col("a"))
        .join(db, F.col("db.node") == F.col("b"))
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("c").cast("long").alias("n_common"),
            F.expr("c * 1000000 DIV (da.d + db.d - c)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Power-law degree-distribution fit — "is this graph scale-free?" as a
# query. Degree histogram of the co-purchase graph, then a least-
# squares slope on the log-log points. Logs come from the repo's
# deterministic decade-interpolated xlog10 (functions/rounding.py — no
# libm), and each log is floored to an exact ppm INTEGER before the
# regression sums, so every aggregate is order-independent integer
# arithmetic; the slope is one final correctly-rounded division.
#
# 100 TB: degree agg + histogram agg are map-side combinable; the
# regression runs over #distinct-degrees rows (hundreds).
# ---------------------------------------------------------------------------
@register(
    "powerlaw_degree_fit",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        deg AS (SELECT src, COUNT(*) AS k FROM edges GROUP BY src),
        hist AS (SELECT k, COUNT(*) AS cnt FROM deg GROUP BY k),
        pts AS (
            SELECT CAST(FLOOR(({sql_xlog10('k')}) * 1000000.0) AS BIGINT) AS xi,
                   CAST(FLOOR(({sql_xlog10('cnt')}) * 1000000.0) AS BIGINT) AS yi
            FROM hist
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(xi) AS sx, SUM(yi) AS sy,
                   SUM(CAST(xi * yi AS HUGEINT)) AS sxy,
                   SUM(CAST(xi * xi AS HUGEINT)) AS sxx
            FROM pts
        )
        SELECT
            n AS n_points,
            (SELECT CAST(MAX(k) AS BIGINT) FROM deg) AS max_degree,
            {sql_round(
                "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))",
                6,
            )} AS loglog_slope
        FROM s
    """,
    doc=(
        "Power-law fit of the co-purchase degree distribution: "
        "deterministic xlog10 floored to ppm integers -> exact "
        "regression sums -> one mirrored slope division. Negative "
        "slope magnitude ~ the power-law exponent."
    ),
)
def powerlaw_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # groupBy + map-side pair explode, distinct on the <-oriented half,
    # mirror after (r13 optimization; operators/graph.cobasket_pairs)
    edges = symmetrize(
        cobasket_pairs(li, "l_orderkey", "l_partkey", u="src", v="dst").distinct(),
        u="src",
        v="dst",
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("k"))
    hist = deg.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    pts = hist.select(
        F.floor(xlog10(F.col("k")) * F.lit(1000000.0)).cast("long").alias("xi"),
        F.floor(xlog10(F.col("cnt")) * F.lit(1000000.0)).cast("long").alias("yi"),
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum((F.col("xi") * F.col("yi")).cast(dec)).alias("sxy"),
        F.sum((F.col("xi") * F.col("xi")).cast(dec)).alias("sxx"),
    )
    mx = deg.agg(F.max("k").cast("long").alias("max_degree"))
    slope = fround(
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ),
        6,
    )
    return (
        s.join(F.broadcast(mx))
        .select(
            F.col("n").cast("long").alias("n_points"),
            "max_degree",
            slope.alias("loglog_slope"),
        )
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous LPA, fixed 3 rounds) on
# the weighted co-purchase graph — community detection, the graph
# operator family's complement to connected components (structure
# within a component, not just reachability). Weight = #co-orders;
# edges below weight 2 are dropped, which keeps real affinity and
# sparsifies the hairball. Determinism: each round every node adopts
# the label with the LARGEST incoming weight sum, ties broken by
# SMALLEST label — a total order, so both engines converge
# identically; the fixed round count is the same bounded-unroll
# discipline as the PageRank/k-core fixpoints above.
#
# 100 TB: per-round cost is one equi-join (labels are (node,lbl)
# pairs, hash-partitioned) + one (node,label) aggregate + one
# per-node window (PARTITIONED by node — no global sort). Hub caps /
# weight thresholds bound the message volume the same way the wedge
# join above does.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3
_LPA_MIN_W = 2


def _lpa_oracle() -> str:
    ctes = [
        """p0 AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
                            a.l_orderkey AS ok
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )""",
        f"""ew AS (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM p0 GROUP BY src, dst HAVING COUNT(*) >= {_LPA_MIN_W}
        )""",
        "nodes AS (SELECT DISTINCT src AS node FROM ew)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""c{r} AS (
                SELECT e.dst AS node, l.lbl, SUM(e.w) AS cw
                FROM ew e JOIN l{r - 1} l ON l.node = e.src
                GROUP BY e.dst, l.lbl
            )"""
        )
        ctes.append(
            f"""w{r} AS (
                SELECT node, lbl FROM (
                    SELECT node, lbl, ROW_NUMBER() OVER (
                        PARTITION BY node ORDER BY cw DESC, lbl ASC) AS rn
                    FROM c{r}
                ) t WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""l{r} AS (
                SELECT p.node, COALESCE(w.lbl, p.lbl) AS lbl
                FROM l{r - 1} p LEFT JOIN w{r} w ON w.node = p.node
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT CAST(l.node AS BIGINT) AS part_id,
               CAST(l.lbl AS BIGINT)  AS community,
               CAST(s.sz AS BIGINT)   AS community_size
        FROM l{_LPA_ROUNDS} l
        JOIN (SELECT lbl, COUNT(*) AS sz FROM l{_LPA_ROUNDS} GROUP BY lbl) s
          ON s.lbl = l.lbl
    """


@register(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
    doc=(
        f"Synchronous label propagation ({_LPA_ROUNDS} rounds) on the "
        f"weight>={_LPA_MIN_W} co-purchase graph: max-weight-sum label, "
        "min-label tie-break — deterministic communities + sizes."
    ),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-basket pairs emit once per order, so groupBy(pair).count IS
    # the shared-order weight — no (src,dst,orderkey) distinct needed;
    # weights aggregate on the <-oriented half and mirror after (r13
    # optimization; operators/graph.cobasket_pairs)
    # read by every round; ~|E| rows
    ew = local_checkpoint(
        symmetrize(
            cobasket_pairs(li, "l_orderkey", "l_partkey", u="src", v="dst")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= _LPA_MIN_W),
            u="src",
            v="dst",
        )
    )
    labels = ew.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    win = W.partitionBy("node").orderBy(F.desc("cw"), F.asc("lbl"))
    for _ in range(_LPA_ROUNDS):
        counts = (
            ew.join(labels, ew["src"] == labels["node"])
            .groupBy(ew["dst"].alias("node2"), "lbl")
            .agg(F.sum("w").alias("cw"))
            .withColumnRenamed("node2", "node")
        )
        winners = (
            counts.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        # checkpoint each round's (node,lbl) frame: round r reads round
        # r-1 TWICE (message join + keep-old left join) and the final
        # sizes join reads the result twice more — unmaterialized, the
        # lineage doubles per round (2^R plan blowup, measured 14.2 s
        # -> 4.4 s at sf0.01). #nodes rows.
        labels = local_checkpoint(
            labels.join(winners, "node", "left").select(
                "node", F.coalesce("new_lbl", "lbl").alias("lbl")
            )
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    return labels.join(sizes, "lbl").select(
        F.col("node").cast("long").alias("part_id"),
        F.col("lbl").cast("long").alias("community"),
        F.col("sz").cast("long").alias("community_size"),
    )


_HITS_SCALE = 10**9  # L1-normalized each half-step => raw*SCALE <= 1e18 (int64)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (r6) — the second classic link-analysis
# fixpoint next to PageRank, on the customer→part bipartite purchase
# graph (hubs = customers, authorities = parts). Same exact
# scaled-integer discipline as pagerank_scaled: scores live as BIGINTs
# in units of 1/10⁹, every propagation is an integer sum, and each
# half-step L1-normalizes with integer division
#     v ← (v_raw · 10¹²) DIV Σ v_raw
# so two unrolled iterations produce bit-identical scores in both
# engines (the float/L2 textbook form would hit the libm-sqrt and
# summation-order lotteries). Fixed iteration count keeps the plan
# static — the bounded-unroll discipline of the k-core/PageRank rows.
# 100 TB: the distinct edge list is one (cust,part) shuffle; each
# half-step is edges⋈scores (co-partitioned on the join key after the
# first round under AQE) + a groupBy sum; the Σ normalizers are 1-row
# broadcast scalars. Scores are O(nodes) ≪ O(edges).
# ---------------------------------------------------------------------------
@register(
    "hits_hubs_authorities",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        nc AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n FROM edges),
        a1r AS (
            SELECT p, COUNT(*) * ({_HITS_SCALE} // (SELECT n FROM nc)) AS raw
            FROM edges GROUP BY p
        ),
        a1 AS (
            SELECT p, raw * {_HITS_SCALE} // (SELECT SUM(raw) FROM a1r) AS a
            FROM a1r
        ),
        h1r AS (
            SELECT e.c, SUM(a1.a) AS raw
            FROM edges e JOIN a1 ON e.p = a1.p GROUP BY e.c
        ),
        h1 AS (
            SELECT c, raw * {_HITS_SCALE} // (SELECT SUM(raw) FROM h1r) AS h
            FROM h1r
        ),
        a2r AS (
            SELECT e.p, SUM(h1.h) AS raw
            FROM edges e JOIN h1 ON e.c = h1.c GROUP BY e.p
        ),
        a2 AS (
            SELECT p, raw * {_HITS_SCALE} // (SELECT SUM(raw) FROM a2r) AS a
            FROM a2r
        )
        SELECT p AS part_id,
               CAST(a AS BIGINT) AS auth_scaled,
               CAST(ROW_NUMBER() OVER (ORDER BY a DESC, p ASC) AS BIGINT)
                   AS auth_rank
        FROM a2
        ORDER BY a DESC, p ASC
        LIMIT {_TOP}
    """,
    doc=(
        "HITS on the customer→part purchase bipartite: two unrolled "
        "hub/authority iterations in exact 1/10⁹ scaled integers with "
        "integer-DIV L1 normalization each half-step; top-50 "
        "authorities with full tiebreak. PageRank's sibling fixpoint, "
        "engine-exact by construction."
    ),
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: per half-step one edges⋈scores join + one groupBy sum
    (scores are node-sized); Σ normalizers broadcast as 1-row scalars.
    The edge list is checkpointed once for the 3 joins. L1 mass keeps
    every score and every raw propagation sum ≤ 10⁹, so the normalization
    product raw·10⁹ ≤ 10¹⁸ — int64-safe at ANY graph size (the scale
    choice is the overflow proof, not a tuning knob)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # materialized NOW: the plan below embeds edges in four
    # broadcast/scalar subtrees that otherwise all race to rebuild the
    # distinct (measured 21.8 s -> see COVERAGE)
    edges = local_checkpoint(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    nc = edges.agg(F.countDistinct("c").cast("long").alias("n"))
    # Checkpoint the RAW score tables a later half-step builds on
    # (node-sized): without this, every Σ-normalizer's broadcast job
    # recomputes the same edges⋈scores join + groupBy that the main
    # plan then computes AGAIN — and the replay compounds per level
    # (a1r feeds a1 feeds h1r feeds ...), so the three heavy joins ran
    # ~2× each per execution. Measured solo A/B at sf0.1 in OPTIMIZATION_r13.md;
    # plan diff: plans/r13/hits_hubs_authorities_{before,after}.txt.
    a1r = local_checkpoint(
        edges.groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(F.broadcast(nc))
        .select("p", (F.col("deg") * F.expr(f"{_HITS_SCALE} DIV n")).alias("raw"))
    )
    s1 = a1r.agg(F.sum("raw").alias("s"))
    a1 = a1r.join(F.broadcast(s1)).select(
        "p", F.expr(f"raw * {_HITS_SCALE} DIV s").alias("a")
    )
    h1r = local_checkpoint(edges.join(a1, "p").groupBy("c").agg(F.sum("a").alias("raw")))
    s2 = h1r.agg(F.sum("raw").alias("s"))
    h1 = h1r.join(F.broadcast(s2)).select(
        "c", F.expr(f"raw * {_HITS_SCALE} DIV s").alias("h")
    )
    # the last half-step: its two readers recompute it faster (measured)
    a2r = edges.join(h1, "c").groupBy("p").agg(F.sum("h").alias("raw"))
    s3 = a2r.agg(F.sum("raw").alias("s"))
    a2 = a2r.join(F.broadcast(s3)).select(
        "p", F.expr(f"raw * {_HITS_SCALE} DIV s").alias("a")
    )
    w = W.orderBy(F.desc("a"), F.asc("p"))
    return (
        a2.orderBy(F.desc("a"), F.asc("p"))
        .limit(_TOP)
        .select(
            F.col("p").alias("part_id"),
            F.col("a").cast("long").alias("auth_scaled"),
            F.row_number().over(w).cast("long").alias("auth_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity (r6) — Newman's r: the Pearson correlation of
# endpoint degrees across edges, the one-number answer to "do hubs
# connect to hubs?" (r>0) or "hub-and-spoke?" (r<0), on the bulk
# co-purchase graph. Both edge orientations contribute (the undirected
# convention), so the sums are symmetric; degrees are exact integers
# and the correlation is one fixed double op tree over five exact
# 128-bit sums — the OLS/dstd parity discipline on an edge list.
# 100 TB: degree agg + one degree join per endpoint (broadcast: the
# degree table is node-sized), then a 1-row reduce. No windows.
# ---------------------------------------------------------------------------
@register(
    "degree_assortativity",
    oracle=f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= 40
        ),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1
        ),
        ends AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
            UNION ALL
            SELECT dv.d AS dx, du.d AS dy
            FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(dx) AS DOUBLE) AS sx,
                   CAST(SUM(dy) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(dx AS HUGEINT) * dx) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(dx AS HUGEINT) * dy) AS DOUBLE) AS sxy,
                   CAST(COUNT(*) AS BIGINT) AS n_edge_ends
            FROM ends
        )
        SELECT n_edge_ends,
               {sql_round('(n*sxy - sx*sy) / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy))', 6)}
                   AS assortativity_r
        FROM sums
    """,
    doc=(
        "Newman degree assortativity of the bulk co-purchase graph: "
        "Pearson correlation of endpoint degrees over both edge "
        "orientations — exact 128-bit degree power sums, one fixed "
        "double op tree; hubs-to-hubs (r>0) vs hub-and-spoke (r<0) in "
        "one number."
    ),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    # groupBy + map-side pair explode (collect_set subsumes the old
    # pre-distinct); r13 optimization, operators/graph.cobasket_pairs
    e = local_checkpoint(cobasket_pairs(li, "l_orderkey", "l_partkey").distinct())
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = F.broadcast(deg).alias("du")
    dv = F.broadcast(deg).alias("dv")
    one = (
        e.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(F.col("du.d").alias("dx"), F.col("dv.d").alias("dy"))
    )
    # ONE pass instead of union-with-mirror (r13, guide §2.4): the
    # mirrored unionAll replayed the deg⋈deg join subtree for the
    # swapped orientation. Both orientations' aggregates derive
    # EXACTLY from one pass — every partial is an exact long/decimal
    # sum, added/doubled in integer space BEFORE the cast to double,
    # so the downstream float op tree sees bit-identical inputs.
    dec = "decimal(38,0)"
    part = one.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("dx").alias("sdx"),
        F.sum("dy").alias("sdy"),
        F.sum(F.expr(f"CAST(dx AS {dec}) * dx")).alias("sdxx"),
        F.sum(F.expr(f"CAST(dy AS {dec}) * dy")).alias("sdyy"),
        F.sum(F.expr(f"CAST(dx AS {dec}) * dy")).alias("sdxy"),
    )
    sums = part.select(
        (F.col("n1") * 2).cast("double").alias("n"),
        (F.col("sdx") + F.col("sdy")).cast("double").alias("sx"),
        (F.col("sdy") + F.col("sdx")).cast("double").alias("sy"),
        (F.col("sdxx") + F.col("sdyy")).cast("double").alias("sxx"),
        (F.col("sdyy") + F.col("sdxx")).cast("double").alias("syy"),
        (F.col("sdxy") * 2).cast("double").alias("sxy"),
        (F.col("n1") * 2).cast("long").alias("n_edge_ends"),
    )
    return sums.select(
        "n_edge_ends",
        fround(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity_r"),
    )
