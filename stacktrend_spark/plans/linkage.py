"""Record-linkage + graph-analytics operators: blocked entity
resolution, interval-concurrency sweep-line, and co-purchase triangle
counting.

Beyond-reference additions (the reference's joins stop at equi/anti
shapes — SURVEY §2.3); these are the classic "the data is dirty / the
data is a graph" steps of a large-scale data-curation pipeline.

100 TB notes:

- **Blocked ER** never goes pairwise over RECORDS: candidate pairs are
  generated over DISTINCT attribute values per block (64 names here vs
  2 000–20 000 rows; real corpora: thousands of distinct names vs
  billions of rows), then weighted back by per-value record counts.
  Pairwise cost scales with distinct-value cardinality, not corpus
  size — the only shuffles are two small aggregates and a within-block
  value join.
- **Sweep-line concurrency** is per-key windowed (each event_type's
  delta stream sorts independently) plus ONE global sweep via the
  two-phase range-partition running sum (operators/ranking.py) — no
  single-partition window anywhere.
- **Triangle counting** orients every edge low-degree → high-degree
  (rank-based orientation): wedge volume drops from Σ deg² to
  O(m^1.5) — the standard distributed triangle bound (Suri & Vassilvitskii,
  WWW'11) — and each triangle is enumerated exactly once. Edges come
  pre-deduped from a quantity-filtered co-purchase projection, so the
  heavy lineitem table is scanned once, narrowly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.graph import cobasket_pairs
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

#: levenshtein radii for the ER match tiers (0 = exact duplicate)
_ER_NEAR1 = 1
_ER_NEAR2 = 2


@register(
    "er_blocked_name_match",
    oracle=f"""
        WITH p AS (
            SELECT p_partkey,
                   p_name,
                   string_split(p_name, ' ')[-1] AS blk
            FROM part
        ),
        g AS (
            SELECT blk, p_name, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM p GROUP BY 1, 2
        ),
        cross_pairs AS (
            SELECT a.blk,
                   levenshtein(a.p_name, b.p_name) AS d,
                   a.cnt * b.cnt                   AS w
            FROM g a JOIN g b
              ON a.blk = b.blk AND a.p_name < b.p_name
        )
        SELECT
            g.blk                                   AS block,
            CAST(SUM(g.cnt) AS BIGINT)              AS n_records,
            CAST(COUNT(*) AS BIGINT)                AS n_distinct_names,
            CAST(SUM(g.cnt * (g.cnt - 1) / 2) AS BIGINT) AS n_exact_pairs,
            CAST(COALESCE((SELECT SUM(w) FROM cross_pairs c
                           WHERE c.blk = g.blk AND c.d <= {_ER_NEAR1}), 0)
                 AS BIGINT)                         AS n_near1_pairs,
            CAST(COALESCE((SELECT SUM(w) FROM cross_pairs c
                           WHERE c.blk = g.blk AND c.d <= {_ER_NEAR2}), 0)
                 AS BIGINT)                         AS n_near2_pairs
        FROM g
        GROUP BY 1
    """,
    doc=(
        "Blocked entity resolution over part names: block on the noun "
        "token, collapse to distinct names per block, levenshtein-match "
        "distinct values, weight matches back by record counts — "
        "pairwise cost scales with distinct values, not rows."
    ),
)
def er_blocked_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    g = p.groupBy("blk", "p_name").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a, b = g.alias("a"), g.alias("b")
    # distinct-value candidate pairs within a block: at most
    # |values|^2/2 per block regardless of corpus size
    cross = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.blk").alias("blk"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("d"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        )
        .groupBy("blk")
        .agg(
            F.sum(F.when(F.col("d") <= _ER_NEAR1, F.col("w"))).alias("w1"),
            F.sum(F.when(F.col("d") <= _ER_NEAR2, F.col("w"))).alias("w2"),
        )
    )
    per_block = g.groupBy(F.col("blk").alias("block")).agg(
        F.sum("cnt").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_names"),
        F.sum((F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long"))
        .cast("long")
        .alias("n_exact_pairs"),
    )
    return (
        per_block.join(
            F.broadcast(cross), per_block.block == cross.blk, "left"
        )
        .select(
            "block",
            "n_records",
            "n_distinct_names",
            "n_exact_pairs",
            F.coalesce(F.col("w1"), F.lit(0)).cast("long").alias("n_near1_pairs"),
            F.coalesce(F.col("w2"), F.lit(0)).cast("long").alias("n_near2_pairs"),
        )
    )


#: sorted-neighborhood window (positions) and match radius
_SN_WINDOW = 8
_SN_MAX_D = 4


@register(
    "er_sorted_neighborhood",
    oracle=f"""
        WITH g AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM part GROUP BY 1
        ),
        r AS (
            SELECT p_name, cnt,
                   ROW_NUMBER() OVER (ORDER BY p_name) AS rn
            FROM g
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(b.rn - a.rn AS BIGINT)  AS rank_gap,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_d,
               CAST(a.cnt * b.cnt AS BIGINT) AS n_record_pairs
        FROM r a JOIN r b
          ON b.rn > a.rn AND b.rn - a.rn <= {_SN_WINDOW}
        WHERE levenshtein(a.p_name, b.p_name) <= {_SN_MAX_D}
    """,
    doc=(
        "Sorted-neighborhood entity resolution: distinct names ranked "
        "by sort key, candidates = pairs within a fixed window of the "
        "sorted order (O(N·w), independent of block-size skew), "
        "levenshtein-matched and weighted back by record counts."
    ),
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER classic ER blocking strategy (Hernández & Stolfo,
    SIGMOD'95), complementing ``er_blocked_name_match``: where hash
    blocking's candidate volume is Σ block² (a hot block melts it —
    same pathology as all-pairs LSH), the sorted-neighborhood window
    emits EXACTLY (N−w/2)·w candidates no matter how values cluster,
    and catches near-dups whose first tokens differ (which share no
    hash block but sort adjacently).

    Scale shape: like the blocked variant, pairing runs over DISTINCT
    values (cardinality ≪ rows), globally ordered by the two-phase
    range-partitioned rank (operators/ranking.py — no single-partition
    window). Window pairs come from an equi-join on the rank bucket
    ``rn DIV w``: the lower-ranked side tags buckets (g, g+1), so every
    pair within w positions meets in exactly one bucket — a co-located
    hash join, never a range/theta join.
    """
    from stacktrend_spark.operators.ranking import global_rank_scalable

    g = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = global_rank_scalable(
        g, order_cols=[F.col("p_name")], rank_col="rn"
    )
    a = ranked.select(
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(
                (F.col("rn") / _SN_WINDOW).cast("long"),
                (F.col("rn") / _SN_WINDOW).cast("long") + 1,
            )
        ).alias("jb"),
    )
    b = ranked.select(
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.col("rn").alias("rn_b"),
        (F.col("rn") / _SN_WINDOW).cast("long").alias("jb"),
    )
    return (
        a.join(b, "jb")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= _SN_WINDOW)
        )
        .filter(F.levenshtein("name_a", "name_b") <= _SN_MAX_D)
        .select(
            "name_a",
            "name_b",
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias("rank_gap"),
            F.levenshtein("name_a", "name_b").cast("long").alias("lev_d"),
            (F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("n_record_pairs"),
        )
    )


#: minimum line quantity for a "bulk co-purchase" edge
_TRI_MIN_QTY = 40


@register(
    "triangle_count_copurchase",
    oracle=f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= {_TRI_MIN_QTY}
        ),
        e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        nodes AS (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM nodes GROUP BY 1
    """,
    doc=(
        "Per-part triangle counts in the bulk co-purchase graph "
        "(parts sharing an order at qty >= 40). Edges oriented "
        "low-degree->high-degree so wedge volume is O(m^1.5), each "
        "triangle enumerated once."
    ),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    # groupBy + map-side pair explode (collect_set subsumes the old
    # pre-distinct); r13 optimization, operators/graph.cobasket_pairs
    # NOTE (r13): deliberately NOT persisted — an A/B at sf0.1 read
    # warm 1.6-1.9 s unpersisted vs 2.8-3.8 s with a persist here
    # (caching the pair frame costs a cache write and hides stats
    # from AQE's join planning, outweighing the 3 subtree replays)
    und = cobasket_pairs(li, "l_orderkey", "l_partkey").distinct()
    # rank-based orientation: direct each edge toward the higher
    # (degree, id) endpoint; every wedge then sits at its lowest-rank
    # corner, capping per-node wedge fan-out at out-degree^2 with
    # out-degree <= sqrt(2m) in aggregate -> O(m^1.5) wedges total
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = F.broadcast(deg).alias("du")
    dv = F.broadcast(deg).alias("dv")
    oriented = local_checkpoint(
        und.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(
            F.when(
                (F.col("du.deg") < F.col("dv.deg"))
                | ((F.col("du.deg") == F.col("dv.deg")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        # three consumers (e1/e2/e3): without the checkpoint each alias
        # recomputes the scan -> pair-join -> distinct -> degree chain
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
        )
    )
    # explode the 3 corners from ONE computation of the wedge join —
    # the old 3-way unionAll of projections replayed the triangle
    # triple-join per branch (guide §2.4; r13). Identical rows.
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("part_key")
    )
    return nodes.groupBy("part_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


@register(
    "max_concurrent_intervals",
    oracle="""
        WITH iv AS (
            SELECT event_id, event_type,
                   epoch_us(ts) AS s_us,
                   epoch_us(ts)
                     + CAST(FLOOR(value * 60000000.0 + 0.5) AS BIGINT) AS e_us
            FROM events
        ),
        deltas AS (
            SELECT event_type, s_us AS t_us, 1 AS delta, event_id FROM iv
            UNION ALL
            SELECT event_type, e_us AS t_us, -1 AS delta, event_id FROM iv
        ),
        swept AS (
            SELECT event_type,
                   SUM(delta) OVER (
                       PARTITION BY event_type
                       ORDER BY t_us, delta, event_id
                       ROWS UNBOUNDED PRECEDING) AS running
            FROM deltas
        ),
        per_type AS (
            SELECT event_type,
                   CAST(MAX(running) AS BIGINT) AS peak_concurrent,
                   CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
            FROM swept GROUP BY 1
        ),
        global_swept AS (
            SELECT SUM(delta) OVER (
                       ORDER BY t_us, delta, event_id
                       ROWS UNBOUNDED PRECEDING) AS running
            FROM deltas
        )
        SELECT * FROM per_type
        UNION ALL
        SELECT '__all__' AS event_type,
               CAST(MAX(running) AS BIGINT)     AS peak_concurrent,
               CAST(COUNT(*) / 2 AS BIGINT)     AS n_intervals
        FROM global_swept
    """,
    doc=(
        "Interval-concurrency sweep-line: events as [ts, ts+value min) "
        "intervals, +1/-1 deltas, peak overlap per type (partitioned "
        "window) and globally (two-phase scalable running sum — no "
        "single-partition window)."
    ),
)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    ev = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros("ts")
    e_us = s_us + F.floor(F.col("value") * 60000000.0 + F.lit(0.5)).cast("long")
    iv = ev.select(
        "event_id", "event_type", s_us.alias("s_us"), e_us.alias("e_us")
    )
    deltas = iv.select(
        "event_type", F.col("s_us").alias("t_us"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        iv.select(
            "event_type", F.col("e_us").alias("t_us"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    # per-type sweep: each type's delta stream sorts within its own
    # partition — parallel across types, no global sort
    w = (
        W.partitionBy("event_type")
        .orderBy("t_us", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per_type = (
        deltas.withColumn("running", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(
            F.max("running").cast("long").alias("peak_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
    )
    # global sweep: range-partitioned two-phase running sum (the
    # single-partition-window trap is the thing this operator avoids)
    swept = global_running_sum_scalable(
        deltas,
        order_cols=[F.col("t_us"), F.col("delta"), F.col("event_id")],
        value_col="delta",
        sum_col="running",
    )
    global_row = swept.agg(
        F.max("running").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    ).select(
        F.lit("__all__").alias("event_type"), "peak_concurrent", "n_intervals"
    )
    return per_type.unionAll(global_row)


_DAY_US = 86_400_000_000


@register(
    "interval_overlap_join",
    # oracle enumerates overlaps directly with the inequality join —
    # the banded equi-join below produces the identical pair SET
    oracle="""
        WITH iv AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(ts) AS s_us,
                   epoch_us(ts)
                     + CAST(FLOOR(value * 60000000.0 + 0.5) AS BIGINT) AS e_us
            FROM events
        )
        SELECT a.event_id                         AS purchase_id,
               b.event_id                         AS view_id,
               CAST(LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us)
                    AS BIGINT)                    AS overlap_us
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_type = 'purchase' AND b.event_type = 'view'
         AND a.s_us < b.e_us AND b.s_us < a.e_us
    """,
    doc=(
        "Interval-interval overlap join (purchase vs view activity "
        "windows per user): intervals explode to the day-bands they "
        "span (<=2 here), band+user equi-join bounds candidates, exact "
        "overlap verified second — never an unbounded inequality join."
    ),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros("ts")
    e_us = s_us + F.floor(F.col("value") * 60000000.0 + F.lit(0.5)).cast("long")
    iv = ev.select(
        "event_id", "user_id", "event_type", s_us.alias("s_us"), e_us.alias("e_us")
    )
    # each interval lands in every day-band it touches; spans are
    # bounded (value <= ~10h) so the explosion factor is <= 2
    banded = iv.select(
        "event_id",
        "user_id",
        "event_type",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / _DAY_US).cast("long"),
                (F.col("e_us") / _DAY_US).cast("long"),
            )
        ).alias("band"),
    )
    a = banded.filter(F.col("event_type") == "purchase").alias("a")
    b = banded.filter(F.col("event_type") == "view").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.s_us") < F.col("b.e_us"))
            & (F.col("b.s_us") < F.col("a.e_us")),
        )
        .select(
            F.col("a.event_id").alias("purchase_id"),
            F.col("b.event_id").alias("view_id"),
            (
                F.least(F.col("a.e_us"), F.col("b.e_us"))
                - F.greatest(F.col("a.s_us"), F.col("b.s_us"))
            )
            .cast("long")
            .alias("overlap_us"),
        )
        # a pair overlapping across a band boundary appears once per
        # shared band — dedup to the pair set
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# Golden-record survivorship (master-data-management): the step AFTER
# pair matching. Near-duplicate part-name VALUES (levenshtein <= 1
# within the noun block — same candidate discipline as
# er_blocked_name_match: pairwise over distinct values, never records)
# merge into entities via connected components; each entity then
# elects one golden record by survivorship rules — canonical name =
# lexicographic min (the component label itself), anchor key = min
# partkey, price = max retail over members, size = count-weighted
# membership. Only multi-variant entities are emitted (the actual
# merge events).
#
# 100 TB: distinct-value candidate generation + a component loop over
# the tiny matched-name graph; the record table contributes one
# groupBy (name -> stats) and is never pairwise-joined.
# ---------------------------------------------------------------------------
@register(
    "golden_record_survivorship",
    oracle="""
        WITH RECURSIVE p AS (
            SELECT p_partkey, p_name, p_retailprice,
                   string_split(p_name, ' ')[-1] AS blk
            FROM part
        ),
        g AS (
            SELECT blk, p_name,
                   COUNT(*)           AS cnt,
                   MIN(p_partkey)     AS min_key,
                   MAX(p_retailprice) AS max_retail
            FROM p GROUP BY 1, 2
        ),
        e AS (
            SELECT a.p_name AS na, b.p_name AS nb
            FROM g a JOIN g b
              ON a.blk = b.blk AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 1
        ),
        und AS (
            SELECT na AS x, nb AS y FROM e
            UNION ALL
            SELECT nb AS x, na AS y FROM e
        ),
        reach(node, lbl) AS (
            SELECT p_name, p_name FROM g
            UNION
            SELECT u.x, r.lbl FROM und u JOIN reach r ON r.node = u.y
        ),
        comp AS (
            SELECT node, MIN(lbl) AS canonical_name FROM reach GROUP BY node
        )
        SELECT
            comp.canonical_name,
            CAST(COUNT(*) AS BIGINT)       AS n_variants,
            CAST(SUM(g.cnt) AS BIGINT)     AS n_records,
            CAST(MIN(g.min_key) AS BIGINT) AS anchor_partkey,
            MAX(g.max_retail)              AS survived_retail
        FROM comp JOIN g ON comp.node = g.p_name
        GROUP BY comp.canonical_name
        HAVING COUNT(*) >= 2
    """,
    doc=(
        "Golden-record survivorship: near-dup name values -> connected "
        "components -> per-entity canonical name / anchor key / "
        "survived attributes; pairwise only over distinct values."
    ),
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.graph import connected_components

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    g = p.groupBy("blk", "p_name").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("p_partkey").alias("min_key"),
        F.max("p_retailprice").alias("max_retail"),
    )
    a, b = g.alias("a"), g.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 1)
        .select(F.col("a.p_name").alias("na"), F.col("b.p_name").alias("nb"))
    )
    comp = connected_components(
        edges, g.select(F.col("p_name").alias("node")), src="na", dst="nb"
    )
    return (
        comp.join(g, comp.node == g.p_name)
        .groupBy(F.col("component").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.sum("cnt").cast("long").alias("n_records"),
            F.min("min_key").cast("long").alias("anchor_partkey"),
            F.max("max_retail").alias("survived_retail"),
        )
        .filter(F.col("n_variants") >= 2)
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (r6) — per-node cohesion on the bulk
# co-purchase graph, built on the SAME degree-oriented O(m^1.5)
# triangle pipeline as triangle_count_copurchase:
#
#   cc(v) = 2·tri(v)·10⁶ DIV (deg(v)·(deg(v)−1))   (exact ppm)
#
# The ratio of closed to possible wedges — the "is this node's
# neighborhood a clique or a hub-spoke" classifier that drives
# community/anomaly heuristics. Top-20 by (cc desc, node asc) among
# nodes with deg ≥ 2. deg·(deg−1) ≤ 10¹² for degrees to 10⁶ —
# tri·2·10⁶ int64-safe alongside.
# ---------------------------------------------------------------------------
@register(
    "clustering_coefficient_topk",
    oracle=f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= {_TRI_MIN_QTY}
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
        tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        tcnt AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS t
            FROM (SELECT x AS node FROM tri
                  UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri)
            GROUP BY 1
        )
        SELECT deg.node AS part_key,
               deg.d AS degree,
               CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
               CAST(2 * COALESCE(tcnt.t, 0) * 1000000
                    // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
        FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
        WHERE deg.d >= 2
        ORDER BY cc_ppm DESC, part_key ASC
        LIMIT 20
    """,
    doc=(
        "Local clustering coefficient cc(v) = 2·tri(v)·10⁶ DIV "
        "(deg·(deg−1)) on the bulk co-purchase graph (same oriented "
        "O(m^1.5) triangle pipeline), top-20 with full tiebreak — the "
        "neighborhood-cohesion classifier, exact ppm."
    ),
)
def clustering_coefficient_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: identical shuffle budget to triangle_count_copurchase
    (edge gen + orientation + wedge join); the cc arithmetic adds one
    broadcast-degree join over the node-sized result. Note the UNDIRECTED
    triangle count here reuses the oriented enumeration — each triangle
    found once, credited to all three corners."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
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
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    # explode the 3 corners from ONE computation of the triangle
    # triple-join — the old 3-way unionAll replayed the join per
    # branch (guide §2.4; r13). Identical rows.
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr("2 * COALESCE(t, 0) * 1000000 DIV (d * (d - 1))")
            .cast("long")
            .alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.asc("part_key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter comparison-pattern weights (r7) — the probabilistic
# record-linkage theory underneath the blocking/survivorship operators
# above (Fellegi & Sunter 1969, JASA): each candidate pair gets a
# log-likelihood-ratio match weight Σ_f agree ? log(m_f/u_f)
# : log((1−m_f)/(1−u_f)). The u-probabilities (chance agreement) come
# from the EXACT value-frequency identity u_f = Σ_v (n_v/N)² — a
# corpus aggregate, no pair enumeration; m-probabilities are the
# documented fixed constants a production linker would learn by EM
# (m = 0.95 per field). Scoring demonstrates on a bounded panel
# (c_custkey < 200 → C(200,2) pairs BY CONTRACT), grouped into the 8
# comparison patterns over (nation, segment, balance band).
# All integer: u in ppm through 128-bit products, weights as exact
# µlog10 differences.
# 100 TB: u-stats are map-side-combinable value-count aggregates;
# weights are arithmetic on ≤ 8 rows; the panel self-join is bounded
# by contract (production pairs come from the blocking operators).
# ---------------------------------------------------------------------------
_FS_M_PPM = 950000      # documented fixed m-probability per field
_FS_PANEL = 200         # scoring panel: c_custkey < _FS_PANEL

from stacktrend_spark.functions.rounding import sql_xlog10, xlog10  # noqa: E402


def _fs_ilog(col):
    return F.floor(
        xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)
    ).cast("long")


def _fs_sql_ilog(expr: str) -> str:
    return (
        f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')}"
        f" * 1000000.0) AS BIGINT)"
    )


def _fs_sql_u(field: str) -> str:
    """Exact chance-agreement probability of ``field`` in ppm."""
    return f"""(
        SELECT CAST(SUM(CAST(c2 AS HUGEINT) * c2) * 1000000
                    // (CAST(MAX(n) AS HUGEINT) * MAX(n)) AS BIGINT)
        FROM (SELECT {field} AS v, COUNT(*) AS c2 FROM customer GROUP BY 1),
             (SELECT COUNT(*) AS n FROM customer)
    )"""


@register(
    "fellegi_sunter_weights",
    oracle=f"""
        WITH u AS (
            SELECT {_fs_sql_u('c_nationkey')}            AS u_nat,
                   {_fs_sql_u('c_mktsegment')}           AS u_seg,
                   {_fs_sql_u('CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)')}  AS u_ph
        ),
        panel AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS ph
            FROM customer WHERE c_custkey < {_FS_PANEL}
        ),
        pairs AS (
            SELECT a.c_nationkey = b.c_nationkey   AS agree_nation,
                   a.c_mktsegment = b.c_mktsegment AS agree_segment,
                   a.ph = b.ph                     AS agree_balband
            FROM panel a JOIN panel b ON a.c_custkey < b.c_custkey
        ),
        pat AS (
            SELECT agree_nation, agree_segment, agree_balband,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1, 2, 3
        )
        SELECT p.agree_nation, p.agree_segment, p.agree_balband, p.n_pairs,
               CAST(
                 (CASE WHEN p.agree_nation
                       THEN {_fs_sql_ilog(str(_FS_M_PPM))} - {_fs_sql_ilog('u.u_nat')}
                       ELSE {_fs_sql_ilog(str(1000000 - _FS_M_PPM))}
                            - {_fs_sql_ilog('1000000 - u.u_nat')} END)
               + (CASE WHEN p.agree_segment
                       THEN {_fs_sql_ilog(str(_FS_M_PPM))} - {_fs_sql_ilog('u.u_seg')}
                       ELSE {_fs_sql_ilog(str(1000000 - _FS_M_PPM))}
                            - {_fs_sql_ilog('1000000 - u.u_seg')} END)
               + (CASE WHEN p.agree_balband
                       THEN {_fs_sql_ilog(str(_FS_M_PPM))} - {_fs_sql_ilog('u.u_ph')}
                       ELSE {_fs_sql_ilog(str(1000000 - _FS_M_PPM))}
                            - {_fs_sql_ilog('1000000 - u.u_ph')} END)
               AS BIGINT) AS fs_weight_micro
        FROM pat p CROSS JOIN u
    """,
    doc=(
        "Fellegi-Sunter match weights: exact chance-agreement u from "
        "the value-frequency identity (ppm), fixed documented m, "
        "log-likelihood-ratio weights in exact µlog10 per comparison "
        "pattern over a bounded scoring panel."
    ),
)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    n_row = cust.agg(F.count(F.lit(1)).alias("n"))
    dec = "DECIMAL(38,0)"

    def u_of(col: F.Column, alias: str) -> DataFrame:
        return (
            cust.groupBy(col.alias("v"))
            .agg(F.count(F.lit(1)).alias("c2"))
            .join(F.broadcast(n_row))
            .agg(
                F.expr(
                    f"CAST(SUM(CAST(c2 AS {dec}) * c2) * 1000000"
                    f" DIV (CAST(MAX(n) AS {dec}) * MAX(n)) AS BIGINT)"
                ).alias(alias)
            )
        )

    u = (
        u_of(F.col("c_nationkey"), "u_nat")
        .crossJoin(u_of(F.col("c_mktsegment"), "u_seg"))
        .crossJoin(u_of(F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long"), "u_ph"))
    )
    panel = cust.filter(F.col("c_custkey") < _FS_PANEL).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("ph"),
    )
    a, b = panel.alias("pa"), panel.alias("pb")
    pairs = a.join(b, F.col("pa.c_custkey") < F.col("pb.c_custkey")).select(
        (F.col("pa.c_nationkey") == F.col("pb.c_nationkey")).alias("agree_nation"),
        (F.col("pa.c_mktsegment") == F.col("pb.c_mktsegment")).alias("agree_segment"),
        (F.col("pa.ph") == F.col("pb.ph")).alias("agree_balband"),
    )
    pat = pairs.groupBy("agree_nation", "agree_segment", "agree_balband").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    m_hi = _fs_ilog(F.lit(_FS_M_PPM))
    m_lo = _fs_ilog(F.lit(1000000 - _FS_M_PPM))

    def w(flag: str, ucol: str) -> F.Column:
        return F.when(
            F.col(flag), m_hi - _fs_ilog(F.col(ucol))
        ).otherwise(m_lo - _fs_ilog(F.lit(1000000) - F.col(ucol)))

    return (
        pat.join(F.broadcast(u))
        .select(
            "agree_nation",
            "agree_segment",
            "agree_balband",
            "n_pairs",
            (
                w("agree_nation", "u_nat")
                + w("agree_segment", "u_seg")
                + w("agree_balband", "u_ph")
            )
            .cast("long")
            .alias("fs_weight_micro"),
        )
    )
