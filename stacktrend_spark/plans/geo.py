"""Geospatial grid-join analytics (synthetic deterministic coordinates).

Beyond-reference addition: nearest-neighbor and density queries over
point data — the "closest depot / service-area rollup" family. The
testdata carries no coordinates, so each entity gets a DETERMINISTIC
synthetic position derived from 40-bit md5 hashes of its key (same
value in both engines — the geometry itself is on the hashed
correctness surface, not just the query shape).

Coordinates are integer MICRODEGREES on a planar (equirectangular,
no-wrap) earth: lat ∈ [−90e6, 90e6), lon ∈ [−180e6, 180e6). All
distances are exact-integer squared µdeg — no trig, no libm lottery.

100 TB notes: the nearest-neighbor query is the canonical GRID
equi-join — points bucket into 30°×30° cells, each probe expands to
its 3×3 cell neighborhood (9 map-side rows), and candidates arrive
through an equi-join on the cell id instead of a cross join. Work
scales with (probes × density of the 9 cells), not |probes|×|points|;
the cell edge is the density knob and callers shrink it as point
density grows. Matches within one cell edge of the true nearest are
exact; a cross-cell-diagonal nearest can be missed — the standard
grid-ANN contract, stated in the docstring. The density rollup is a
single cell-keyed aggregate (map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.hashing import spark_hex40, sql_hex40
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

#: grid cell edge in microdegrees (30°)
_CELL = 30_000_000


def _spark_coords(key: Column, prefix: str) -> tuple[Column, Column]:
    lat = spark_hex40(F.concat(F.lit(f"{prefix}lat:"), key.cast("string")))
    lon = spark_hex40(F.concat(F.lit(f"{prefix}lon:"), key.cast("string")))
    return (
        (lat % 180_000_000 - 90_000_000).alias("lat"),
        (lon % 360_000_000 - 180_000_000).alias("lon"),
    )


def _sql_coords(key: str, prefix: str) -> tuple[str, str]:
    lat = sql_hex40(f"'{prefix}lat:' || CAST({key} AS VARCHAR)")
    lon = sql_hex40(f"'{prefix}lon:' || CAST({key} AS VARCHAR)")
    return (
        f"(({lat}) % 180000000 - 90000000)",
        f"(({lon}) % 360000000 - 180000000)",
    )


@register(
    "geo_grid_nearest",
    oracle=(
        lambda clat, clon, slat, slon: f"""
        WITH cust AS (
            SELECT c_custkey, {clat} AS lat, {clon} AS lon
            FROM customer WHERE c_custkey % 10 = 0
        ),
        supp AS (
            SELECT s_suppkey, {slat} AS lat, {slon} AS lon
            FROM supplier
        ),
        sc AS (
            SELECT s_suppkey, lat, lon,
                   CAST(FLOOR(CAST(lat AS DOUBLE) / {_CELL}) AS BIGINT) AS cx,
                   CAST(FLOOR(CAST(lon AS DOUBLE) / {_CELL}) AS BIGINT) AS cy
            FROM supp
        ),
        probes AS (
            SELECT c.c_custkey, c.lat, c.lon,
                   CAST(FLOOR(CAST(c.lat AS DOUBLE) / {_CELL}) AS BIGINT) + dx.d AS cx,
                   CAST(FLOOR(CAST(c.lon AS DOUBLE) / {_CELL}) AS BIGINT) + dy.d AS cy
            FROM cust c
            CROSS JOIN (VALUES (-1), (0), (1)) dx(d)
            CROSS JOIN (VALUES (-1), (0), (1)) dy(d)
        ),
        cand AS (
            SELECT p.c_custkey, sc.s_suppkey,
                   (p.lat - sc.lat) * (p.lat - sc.lat)
                   + (p.lon - sc.lon) * (p.lon - sc.lon) AS dist2,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.c_custkey
                       ORDER BY (p.lat - sc.lat) * (p.lat - sc.lat)
                              + (p.lon - sc.lon) * (p.lon - sc.lon),
                                sc.s_suppkey
                   ) AS rn
            FROM probes p JOIN sc ON sc.cx = p.cx AND sc.cy = p.cy
        )
        SELECT cust.c_custkey,
               cand.s_suppkey,
               CAST(cand.dist2 AS BIGINT) AS dist2_udeg
        FROM cust
        LEFT JOIN cand ON cand.c_custkey = cust.c_custkey AND cand.rn = 1
    """
    )(*_sql_coords("c_custkey", "c"), *_sql_coords("s_suppkey", "s")),
    doc=(
        "Grid-bucketed nearest supplier per (sampled) customer: 30° "
        "cells, 3×3 neighborhood probe via equi-join on cell id, exact "
        "integer µdeg² distance, s_suppkey tiebreak; customers with an "
        "empty neighborhood keep a NULL match. The scale path for "
        "spatial nearest-neighbor — candidates are bounded by local "
        "density, never |C|×|S|."
    ),
)
def geo_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat_c, lon_c = _spark_coords(F.col("c_custkey"), "c")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", lat_c, lon_c)
    )
    lat_s, lon_s = _spark_coords(F.col("s_suppkey"), "s")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", lat_s, lon_s
    )
    cell = lambda c: F.floor(c.cast("double") / _CELL).cast("long")  # noqa: E731
    sc = supp.select(
        F.col("s_suppkey"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
        cell(F.col("lat")).alias("cx"),
        cell(F.col("lon")).alias("cy"),
    )
    offsets = F.explode(
        F.array(*[F.lit(d) for d in (-1, 0, 1)])
    )
    probes = (
        cust.withColumn("dx", offsets)
        .withColumn("dy", F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])))
        .select(
            "c_custkey",
            "lat",
            "lon",
            (cell(F.col("lat")) + F.col("dx")).alias("cx"),
            (cell(F.col("lon")) + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("lat") - F.col("slat")) * (F.col("lat") - F.col("slat")) + (
        F.col("lon") - F.col("slon")
    ) * (F.col("lon") - F.col("slon"))
    rn = F.row_number().over(
        W.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    )
    cand = (
        probes.join(sc, ["cx", "cy"])
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
    )
    return cust.select("c_custkey").join(
        cand.select(
            "c_custkey", "s_suppkey", F.col("dist2").cast("long").alias("dist2_udeg")
        ),
        "c_custkey",
        "left",
    )


@register(
    "geo_cell_density",
    oracle=(
        lambda slat, slon: f"""
        WITH supp AS (
            SELECT s_suppkey, s_acctbal, {slat} AS lat, {slon} AS lon
            FROM supplier
        )
        SELECT CAST(FLOOR(CAST(lat AS DOUBLE) / {_CELL}) AS BIGINT) AS cx,
               CAST(FLOOR(CAST(lon AS DOUBLE) / {_CELL}) AS BIGINT) AS cy,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(CAST(FLOOR(s_acctbal * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_acctbal_cents
        FROM supp
        GROUP BY 1, 2
    """
    )(*_sql_coords("s_suppkey", "s")),
    doc=(
        "Spatial density rollup: supplier count and exact-cents "
        "balance per 30° grid cell — the heatmap/service-area "
        "aggregate over the same deterministic grid as "
        "geo_grid_nearest."
    ),
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat_s, lon_s = _spark_coords(F.col("s_suppkey"), "s")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal", lat_s, lon_s
    )
    cell = lambda c: F.floor(c.cast("double") / _CELL).cast("long")  # noqa: E731
    return (
        supp.groupBy(
            cell(F.col("lat")).alias("cx"), cell(F.col("lon")).alias("cy")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(
                F.floor(F.col("s_acctbal") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sum_acctbal_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-DBSCAN: density-based spatial clustering without pairwise
# distances. Cells of a fine grid that hold >= minPts points are
# "dense"; dense cells that touch (8-neighborhood) merge into one
# cluster via connected components. This is the scalable DBSCAN
# approximation (cluster boundary resolution = one cell edge): the
# fact table is touched ONCE for the cell histogram; everything after
# runs on the tiny dense-cell table. Oracle = identical grid + a
# recursive-CTE component fixpoint (same pattern as dedup_clusters).
#
# 100 TB: cell histogram is map-side combinable; the dense-cell graph
# has |dense| << |points| nodes, so the CC loop (operators/graph.py —
# driver union-find under 100k edges, distributed min-label above)
# costs nothing next to the scan.
# ---------------------------------------------------------------------------
_DB_CELL = 15_000_000  # 15° cells
_DB_MINPTS = 9


@register(
    "dbscan_grid_clusters",
    oracle=(
        lambda clat, clon: f"""
        WITH RECURSIVE pts AS (
            SELECT c_custkey, {clat} AS lat, {clon} AS lon FROM customer
        ),
        cells AS (
            SELECT CAST(FLOOR(CAST(lat AS DOUBLE) / {_DB_CELL}) AS BIGINT) AS cx,
                   CAST(FLOOR(CAST(lon AS DOUBLE) / {_DB_CELL}) AS BIGINT) AS cy,
                   COUNT(*) AS n
            FROM pts GROUP BY 1, 2
        ),
        dense AS (
            SELECT (cx + 16) * 1000 + (cy + 16) AS k, cx, cy, n
            FROM cells WHERE n >= {_DB_MINPTS}
        ),
        e AS (
            SELECT a.k AS ka, b.k AS kb
            FROM dense a JOIN dense b
              ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1
             AND a.k < b.k
        ),
        und AS (
            SELECT ka AS a, kb AS b FROM e
            UNION ALL
            SELECT kb AS a, ka AS b FROM e
        ),
        reach(node, lbl) AS (
            SELECT k, k FROM dense
            UNION
            SELECT u.a, r.lbl FROM und u JOIN reach r ON r.node = u.b
        ),
        comp AS (
            SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
        )
        SELECT CAST(comp.cluster_id AS BIGINT)   AS cluster_id,
               CAST(COUNT(*) AS BIGINT)          AS n_cells,
               CAST(SUM(dense.n) AS BIGINT)      AS n_points
        FROM comp JOIN dense ON comp.node = dense.k
        GROUP BY comp.cluster_id
    """
    )(*_sql_coords("c_custkey", "c")),
    doc=(
        "Grid-DBSCAN over customer points (15° cells, minPts=9): dense "
        "cells -> 8-neighbor adjacency -> connected components; one "
        "fact pass, the clustering runs on the dense-cell table."
    ),
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.graph import connected_components

    lat_c, lon_c = _spark_coords(F.col("c_custkey"), "c")
    pts = load_table(spark, sf_dir, "customer").select("c_custkey", lat_c, lon_c)
    cell = lambda c: F.floor(c.cast("double") / _DB_CELL).cast("long")  # noqa: E731
    cells = pts.groupBy(
        cell(F.col("lat")).alias("cx"), cell(F.col("lon")).alias("cy")
    ).agg(F.count(F.lit(1)).alias("n"))
    # the dense-cell table is tiny by construction (bounded by the grid,
    # not the corpus) and is read three times (edge probes, edge build,
    # final rollup): checkpoint it so the fact scan + histogram run once
    dense = local_checkpoint(
        cells.filter(F.col("n") >= _DB_MINPTS)
        .withColumn("k", (F.col("cx") + 16) * 1000 + (F.col("cy") + 16))
        .coalesce(4)
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    probes = dense.select(
        F.col("k").alias("ka"),
        F.col("cx"),
        F.col("cy"),
        F.explode(offs).alias("o"),
    ).select(
        "ka",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = dense.select(
        F.col("k").alias("kb"), F.col("cx").alias("bx"), F.col("cy").alias("by")
    )
    edges = probes.join(
        nbr, (F.col("nx") == F.col("bx")) & (F.col("ny") == F.col("by"))
    ).filter(F.col("ka") < F.col("kb")).select("ka", "kb")
    comp = connected_components(
        edges, dense.select(F.col("k").alias("node")), src="ka", dst="kb"
    )
    return (
        comp.join(dense, comp.node == dense.k)
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-polygon (r7) — the geofencing primitive beside the grid
# family: integer ray casting against a NON-CONVEX polygon (an
# L-shaped service area in µdeg). Crossing test is pure int64 cross
# products — ((x2−x1)(py−y1) − (px−x1)(y2−y1))·sign(y2−y1) > 0 on
# straddling edges — no division, no floats, bit-identical in both
# engines (products ≤ ~1.3e17 < int64). Odd crossings = inside.
# 100 TB: the polygon's edges are a 6-row broadcast; the test is a
# map-side explode (|points| × |edges|) into a per-point parity
# aggregate — linear in points, no shuffle beyond the final rollup.
# Polygons with thousands of vertices would first grid-prune by cell
# (geo_grid_nearest's machinery) before the exact test.
# ---------------------------------------------------------------------------
_PIP_VERTS = [
    (-60_000_000, -60_000_000),
    (60_000_000, -60_000_000),
    (60_000_000, 0),
    (0, 0),
    (0, 60_000_000),
    (-60_000_000, 60_000_000),
]
_PIP_EDGES = [
    (x1, y1, x2, y2)
    for (x1, y1), (x2, y2) in zip(_PIP_VERTS, _PIP_VERTS[1:] + _PIP_VERTS[:1])
]


@register(
    "geo_point_in_polygon",
    oracle=f"""
        WITH pts AS (
            SELECT c_nationkey,
                   {_sql_coords('c_custkey', 'pip')[0]} AS py,
                   {_sql_coords('c_custkey', 'pip')[1]} AS px
            FROM customer
        ),
        edges AS (
            SELECT * FROM (VALUES
                {", ".join(f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in _PIP_EDGES)}
            ) t(x1, y1, x2, y2)
        ),
        crossings AS (
            SELECT p.c_nationkey, p.px, p.py,
                   SUM(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                             AND ((e.x2 - e.x1) * (p.py - e.y1)
                                  - (p.px - e.x1) * (e.y2 - e.y1))
                                 * SIGN(e.y2 - e.y1) > 0
                            THEN 1 ELSE 0 END) AS nc
            FROM pts p CROSS JOIN edges e
            GROUP BY 1, 2, 3
        )
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT)                 AS n_customers,
               CAST(SUM(nc % 2) AS BIGINT)              AS n_inside,
               CAST(SUM(nc % 2) * 1000000 // COUNT(*) AS BIGINT) AS inside_ppm
        FROM crossings GROUP BY 1
    """,
    doc=(
        "Point-in-polygon geofence (integer ray casting, non-convex "
        "L-shaped region, exact int64 cross products): per-nation "
        "inside counts and ppm share; 6-edge broadcast, map-side "
        "parity aggregate."
    ),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lat, lon = _spark_coords(F.col("c_custkey"), "pip")
    pts = cust.select("c_nationkey", lat.alias("py"), lon.alias("px"))
    edges = spark.createDataFrame(_PIP_EDGES, "x1 long, y1 long, x2 long, y2 long")
    crossings = (
        pts.join(F.broadcast(edges))
        .groupBy("c_nationkey", "px", "py")
        .agg(
            F.sum(
                F.when(
                    ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
                    & (
                        (
                            (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
                            - (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
                        )
                        * F.signum(F.col("y2") - F.col("y1")).cast("long")
                        > 0
                    ),
                    1,
                ).otherwise(0)
            ).alias("nc")
        )
    )
    return crossings.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("nc") % 2).cast("long").alias("n_inside"),
        F.expr("CAST(SUM(nc % 2) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "inside_ppm"
        ),
    )
