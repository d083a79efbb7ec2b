"""Connected components over a pair/edge DataFrame — the step that
turns near-duplicate PAIRS (dedup.py / similarity.py output) into
duplicate CLUSTERS, so a pipeline can keep one canonical doc per
component.

Algorithm: iterative min-label propagation. Each node starts labeled
with itself; every iteration each node takes the min of its own and
its neighbors' labels; fixpoint = components labeled by their smallest
member. Iterations = graph diameter, which for dedup graphs is tiny —
near-dup components are small dense clumps, not long chains — so 3-5
rounds close real corpora.

Scale notes (100 TB): each iteration is one hash-shuffle join of the
edge list against the label table plus a groupBy-min — both partition
by node id, so AQE coalesces them; labels are checkpointed per round
(bounded lineage). The convergence check is an O(1)-row count action
per round — the driver-loop-with-actions pattern SURVEY §2.10/A11
sanctions for iterative algorithms. For
graphs with genuinely long chains, swap the body for the large-star/
small-star rounds of Kiveris et al. (MapReduce CC) behind this same
signature; the simple propagation is the right default for dedup
workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    max_iter: int = 20,
    driver_fastpath_max_edges: int = 100_000,
) -> DataFrame:
    """Label every node in ``nodes`` with the min node id reachable via
    ``edges`` (undirected). Nodes without edges label themselves.
    Returns (node, component).

    Near-dup graphs are SPARSE — edges ≪ nodes (above-threshold pairs
    are rare by construction), so when the edge list is small it is
    union-found on the driver and broadcast back as a (node, component)
    mapping; the NODES table never leaves the cluster, only the edge
    endpoints do (same bounded-collect policy as sources/rest.py).
    Measured at sf0.1 this removes ~7 s of per-iteration job-scheduling
    overhead for a 152-edge graph. Edge lists above the bound take the
    distributed min-label loop, whose per-iteration cost is two keyed
    shuffles — the 100 TB path. Both paths produce the identical
    min-reachable-id labeling, INCLUDING through bridge endpoints that
    appear in ``edges`` but not in ``nodes``: the distributed loop
    seeds labels from nodes ∪ edge endpoints so propagation relays
    through them (r8 review — the fastpath's union-find always did),
    then returns only ``nodes`` rows. A graph whose diameter exceeds
    ``max_iter`` raises instead of silently returning unconverged
    labels (use the large-star/small-star variant for long chains).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    if e.count() <= driver_fastpath_max_edges:
        pairs = e.collect()  # bounded by the guard above
        e.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            ra, rb = find(row.a), find(row.b)
            if ra != rb:
                # min id becomes the root → labels match the
                # distributed min-label fixpoint exactly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in parent]
        spark = nodes.sparkSession
        node_type = dict(nodes.dtypes)[node_col]
        map_df = spark.createDataFrame(
            mapping or [], f"node {node_type}, _comp {node_type}"
        )
        return (
            nodes.select(F.col(node_col).alias("node"))
            .join(F.broadcast(map_df), "node", "left")
            .select(
                "node", F.coalesce(F.col("_comp"), F.col("node")).alias("component")
            )
        )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .persist()
    )
    labels = (
        nodes.select(F.col(node_col).alias("node"))
        .unionByName(e.select(F.col("a").alias("node")))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    changed = -1
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("_nc"))
        )
        # localCheckpoint, not persist (r6): persist caches the DATA
        # but the logical plan still nests one level per iteration, so
        # Catalyst re-analyzes an ever-deeper tree each round —
        # measured 9.5+ min for a diameter-9 path in the property
        # suite. Truncating lineage keeps per-iteration planning O(1);
        # labels is O(nodes) rows, cheap to materialize. At cluster
        # scale use checkpoint() with a reliable dir (executor-loss
        # recovery), same policy as kcore_peel / the star rounds.
        new_labels = local_checkpoint(
            labels.join(neigh, labels["node"] == neigh["a"], "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nc"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    e.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "min-label rounds (graph diameter too large) — raise "
            "max_iter or use the large-star/small-star rounds"
        )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def cobasket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Ordered co-basket item pairs (``u < v``), ONE ROW PER
    (basket, pair): a ``groupBy(basket).collect_set(item)`` followed by
    a map-side combination explode over the sorted set.

    Row-for-row identical to the classic pair self-join

        ``a JOIN b ON a.basket = b.basket AND a.item < b.item``

    over the per-basket DISTINCT items (collect_set dedups within the
    basket, exactly like the self-join's pre-``distinct()``), but with
    ONE keyed shuffle of the item table instead of a self-join — the
    pair fan-out happens map-side after the aggregate (r13
    optimization: A/B at sf0.1 measured 2.0→1.8 s for the <-oriented
    form and 3.4→2.3 s for the symmetric form, and callers also drop
    their now-redundant input ``distinct()``).

    Downstream picks the semantics: ``.distinct()`` for an edge set,
    ``groupBy(u, v).count()`` for co-occurrence weight = number of
    baskets containing both (each basket emits each pair once).

    100 TB: the per-basket set must fit in one row — bounded by basket
    size, the same bound that already caps the self-join's per-key
    fan-out (TPC-H baskets are ≤7 items; corpora with unbounded
    baskets have a quadratic pair OUTPUT either way and need a hub
    cap first). NULL items never pair on either form (collect_set
    drops NULLs; the self-join's <> / < predicates reject them).
    """
    sets = df.groupBy(basket_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    pair_expr = (
        "flatten(transform(_items, (x, i) -> "
        "transform(slice(_items, i + 2, size(_items)), "
        f"y -> struct(x AS {u}, y AS {v}))))"
    )
    return sets.select(F.explode(F.expr(pair_expr)).alias("_p")).select(
        f"_p.{u}", f"_p.{v}"
    )


def symmetrize(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Both orientations of an ordered pair list — the undirected →
    directed edge-list convention every co-purchase query uses. Applied
    AFTER distinct/weight aggregation so those operate on half the
    rows."""
    return pairs.unionByName(
        pairs.select(
            F.col(v).alias(u), F.col(u).alias(v), *[c for c in pairs.columns if c not in (u, v)]
        )
    )


def pagerank_scaled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank (d=0.85) in exact scaled-integer arithmetic.

    Every quantity is a BIGINT in units of ``1/scale``: ranks start at
    ``scale // N``, each node contributes ``rank // out_degree`` along
    its out-edges, and the damping update is
    ``(15*scale) // (100*N) + (85 * incoming) // 100`` — all integer
    division, so the result is bit-identical in any engine (the float
    formulation would accumulate engine-dependent summation order).
    Total mass stays ≤ ``scale``, so intermediates fit int64 with
    85× headroom.

    Scale notes (100 TB): the edge list (with out-degrees) is
    checkpointed once; each iteration is one shuffle — join ranks
    (partitioned by node) to edges (partitioned by src, co-located
    after the first round under AQE), then a groupBy(dst) sum. Ranks are O(nodes) ≪ O(edges). A fixed
    iteration count (not a convergence loop) keeps the plan static and
    the output deterministic.

    Returns (node, rank_scaled). Nodes are taken from edge sources —
    for symmetric edge lists that is every node; pass dangling nodes
    as self-loop-free extra sources if needed.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # every iteration reads both: the edges with their source's
    # out-degree, and the node set (the sources)
    edeg = local_checkpoint(e.join(deg, "src"))
    nodes = local_checkpoint(edeg.select(F.col("src").alias("node")).distinct())
    n_nodes = nodes.count()  # O(1) driver scalar, sanctioned iterative pattern
    if n_nodes == 0:
        # r13 degenerate-corpus fix: an edgeless graph (no co-purchase
        # pair anywhere) divided by zero ON THE DRIVER and killed the
        # query; the rank of an empty node set is the empty result
        # (the SQL oracle's unrolled CTEs naturally produce 0 rows).
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_scaled")
        )
    base = (15 * scale) // (100 * n_nodes)
    ranks = nodes.select("node", F.lit(scale // n_nodes).alias("rank"))
    for _ in range(iterations):
        contrib = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        # read once, by the next iteration: no materialization
        ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (F.lit(base) + F.expr("(85 * coalesce(incoming, 0)) DIV 100")).alias("rank"),
        )
    return ranks.select("node", F.col("rank").cast("long").alias("rank_scaled"))


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star round: every node's LARGER neighbors connect
    to the minimum of its closed neighborhood."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("mn"), F.col("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star round: every node's SMALLER-or-equal
    neighbors (and itself) connect to its neighborhood minimum."""
    d = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    j = d.join(m, "u")
    out = (
        j.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(j.select("u", F.col("m").alias("v")).distinct())
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds regardless of
    graph DIAMETER, where the min-label loop in
    :func:`connected_components` needs diameter rounds — this is the
    scale path for chain-shaped graphs (lineage chains, session
    stitching), while min-label stays the default for dedup clumps
    (diameter ≈ 2, fewer shuffles per round).

    Identical output contract: (node, component) with component = the
    minimum reachable node id. Each round is two keyed shuffles; the
    edge set only shrinks toward the star forest, and the convergence
    probe is a checksum action per round (bounded driver data).
    """
    e = local_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iter):
        # localCheckpoint, not persist: each star round references the
        # previous frame ~4×, so an UNTRUNCATED logical plan grows
        # exponentially — round 3 already OOM'd the driver on a
        # 14-edge graph. Checkpointing materializes AND cuts lineage
        # (at cluster scale use reliable checkpoint() so executor loss
        # can recompute; localCheckpoint trades that for speed).
        e2 = local_checkpoint(_small_star(_large_star(e)))
        # BIT_XOR, not SUM: summing 64-bit hashes overflows int64
        # (ANSI mode raises); xor is overflow-free and order-independent
        sig_row = e2.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("BIT_XOR(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        e = e2
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged edge set is a star forest: (member, root)
    stars = e.select(F.col("u").alias("node"), F.col("v").alias("_comp"))
    out = (
        nodes.select(F.col(node_col).alias("node"))
        .join(stars, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_comp"), F.col("node")).alias("component"),
        )
    )
    return out
