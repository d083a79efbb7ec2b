"""Statistical aggregates beyond the reference's surface.

SURVEY §2.4 notes the reference uses no median/percentile, no cube/
grouping-sets, and no approximate distinct ("available free if we
extend") — this module extends. All are single-shuffle groupBy plans;
the cube adds the standard 2^k grouping replication which Spark
computes with one Expand + one aggregate (no extra shuffles).

Parity note: percentiles interpolate, and interpolation of
2-decimal-grained doubles can differ by an ulp across engines — so the
percentile queries run on ``l_quantity``, whose values are small
integers: every interpolated midpoint (x.0 / x.25 / x.5 / x.75) is
exactly representable, making Spark's ``percentile`` and DuckDB's
``quantile_cont`` bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    comoments,
    dstd,
    dsum,
    fround,
    iscale,
    sql_comoments,
    sql_dstd,
    sql_dsum,
    sql_iscale,
    sql_round,
)
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table


@register(
    "agg_percentiles",
    oracle="""
        SELECT
            l_returnflag,
            quantile_cont(l_quantity, 0.5)   AS median_qty,
            quantile_cont(l_quantity, 0.25)  AS p25_qty,
            quantile_cont(l_quantity, 0.9)   AS p90_qty,
            MAX(l_quantity)                  AS max_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (median/p25/p90) per group — sort-based agg.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@register(
    "cube_revenue",
    # cube null-markers are projected to 'ALL' labels on both sides so
    # the comparison never depends on engine-specific null grouping ids
    oracle=f"""
        SELECT
            COALESCE(l_returnflag, 'ALL') AS returnflag,
            COALESCE(l_linestatus, 'ALL') AS linestatus,
            CAST(COUNT(*) AS BIGINT)      AS n_items,
            {sql_dsum('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus): 2^k groupings in one Expand+agg, one shuffle.",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_price",
        )
    )


@register(
    "grouping_sets_orders",
    oracle=f"""
        SELECT
            COALESCE(o_orderpriority, 'ALL') AS orderpriority,
            COALESCE(o_orderstatus, 'ALL')   AS orderstatus,
            CAST(COUNT(*) AS BIGINT)         AS n_orders,
            {sql_dsum('o_totalprice')}       AS sum_total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
    doc="Explicit GROUPING SETS: two independent rollup dimensions in one aggregate.",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        f"""
        SELECT
            COALESCE(o_orderpriority, 'ALL') AS orderpriority,
            COALESCE(o_orderstatus, 'ALL')   AS orderstatus,
            CAST(COUNT(*) AS BIGINT)         AS n_orders,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


@register(
    "approx_distinct_users",
    # The HLL ESTIMATE is engine-specific, so it can't be hashed — but
    # the row no longer hides behind a rows-only check (r4 verdict
    # task 4): the hashed surface is the exact count plus a boolean
    # asserting the Spark-side estimate landed within ±10 % of exact
    # (5σ at rsd=0.02 — astronomically safe; observed ≤2 % at sf0.01).
    # The oracle asserts the same columns with the bound literally
    # TRUE, so a drifting/broken HLL flips the hash and the driver
    # catches it.
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS approx_within_10pct
        FROM events GROUP BY event_type
    """,
    doc=(
        "approx_count_distinct (HLL) per event_type vs exact — the "
        "100 TB distinct-count path, with a hash-checkable error-bound "
        "surface (estimate within ±10% of exact, asserted as a column)."
    ),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.lit(0.10) * F.col("exact_users")
        ).alias("approx_within_10pct"),
    )


@register(
    "agg_regression",
    oracle=f"""
        WITH m AS (
            SELECT l_returnflag, {sql_comoments('l_quantity', 'l_extendedprice', 0, 2)}
            FROM lineitem GROUP BY l_returnflag
        ),
        d AS (
            SELECT l_returnflag, n,
                CAST(n AS DOUBLE)   AS nn,
                CAST(sx AS DOUBLE)  AS dsx,
                CAST(sy AS DOUBLE)  AS dsy,
                CAST(sxy AS DOUBLE) AS dsxy,
                CAST(sxx AS DOUBLE) AS dsxx,
                CAST(syy AS DOUBLE) AS dsyy
            FROM m
        ),
        e AS (
            SELECT l_returnflag, n, nn, dsx, dsy,
                (dsxy - dsx * dsy / nn) AS cxy,
                (dsxx - dsx * dsx / nn) AS vx,
                (dsyy - dsy * dsy / nn) AS vy
            FROM d
        ),
        f AS (
            SELECT *,
                CASE WHEN vx > 0.0 THEN (cxy / vx) / 100.0 ELSE NULL END       AS slope_u,
                CASE WHEN vx * vy > 0.0 THEN cxy / SQRT(vx * vy) ELSE NULL END AS corr_raw
            FROM e
        )
        SELECT
            l_returnflag,
            {sql_round('slope_u', 6)}                                       AS slope,
            {sql_round('(dsy / nn) / 100.0 - slope_u * (dsx / nn)', 4)}     AS intercept,
            {sql_round('corr_raw * corr_raw', 8)}                           AS r2,
            n                                                               AS n_pairs
        FROM f
    """,
    doc=(
        "Linear-regression aggregates (slope/intercept/r2) per group from "
        "exact scaled-integer co-moments — one shuffle, and deterministic "
        "across engines (built-in regr_* stream doubles in engine-dependent "
        "order; see functions/rounding.py)."
    ),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        *comoments("l_quantity", "l_extendedprice", 0, 2)
    )
    nn = F.col("n").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxy = F.col("sxy").cast("double")
    dsxx, dsyy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cxy = dsxy - dsx * dsy / nn
    vx = dsxx - dsx * dsx / nn
    vy = dsyy - dsy * dsy / nn
    slope_u = F.when(vx > 0.0, (cxy / vx) / F.lit(100.0))
    corr_raw = F.when(vx * vy > 0.0, cxy / F.sqrt(vx * vy))
    return m.select(
        "l_returnflag",
        fround(slope_u, 6).alias("slope"),
        fround((dsy / nn) / F.lit(100.0) - slope_u * (dsx / nn), 4).alias("intercept"),
        fround(corr_raw * corr_raw, 8).alias("r2"),
        F.col("n").alias("n_pairs"),
    )


@register(
    "histogram_value_buckets",
    # both sides bucket with the IDENTICAL double formula (min/max from
    # exact 2-decimal values), so bin edges are bit-identical; the last
    # bucket is closed via LEAST
    oracle="""
        WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
        SELECT
            event_type,
            CAST(LEAST(FLOOR((value - lo) / (hi - lo) * 10.0), 9.0) AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n
        FROM events, b
        GROUP BY event_type, CAST(LEAST(FLOOR((value - lo) / (hi - lo) * 10.0), 9.0) AS BIGINT)
    """,
    doc="Equal-width 10-bin histogram per event_type — global bounds via a broadcast scalar agg.",
)
def histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # r13 degenerate-corpus fix: an all-equal value column has
    # hi = lo, and ANSI Spark crashed on the 0/0 where DuckDB yields
    # NULL — which LEAST then ignores, putting the whole corpus in
    # the closed top bucket (9) on both engines. try_divide restores
    # that NULL path.
    bucket = F.least(
        F.floor(
            F.try_divide(
                F.col("value") - F.col("lo"), F.col("hi") - F.col("lo")
            )
            * 10.0
        ),
        F.lit(9.0),
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# IQR outlier filter — the classic robust quality gate for training-data
# curation. Parity trick per the module docstring: quantiles run in
# cent-SCALED integer space (iscale), where interpolation at dyadic
# fractions (.25/.75) and the ×1.5 fence arithmetic are all exact
# dyadic-double operations — bit-identical across engines, so the
# kept/outlier row SET is too. Plan: one groupBy for the per-type
# fences (5 rows → broadcast back), one final agg. Two shuffles total;
# the fence table stays dimension-sized at any data scale.
# ---------------------------------------------------------------------------
@register(
    "outlier_iqr_filter",
    oracle=f"""
        WITH vals AS (
            SELECT event_type, {sql_iscale("value")} AS v
            FROM events WHERE value IS NOT NULL
        ),
        fences AS (
            SELECT
                event_type,
                quantile_cont(v, 0.25) - 1.5 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) AS lo,
                quantile_cont(v, 0.75) + 1.5 * (quantile_cont(v, 0.75) - quantile_cont(v, 0.25)) AS hi
            FROM vals GROUP BY event_type
        )
        SELECT
            vals.event_type,
            COUNT(*) AS n_total,
            COUNT(CASE WHEN v < lo OR v > hi THEN 1 END) AS n_outliers,
            CAST(COALESCE(SUM(CASE WHEN v >= lo AND v <= hi THEN v END), 0) AS DOUBLE)
                / 100.0 AS kept_value,
            lo / 100.0 AS fence_lo,
            hi / 100.0 AS fence_hi
        FROM vals JOIN fences USING (event_type)
        GROUP BY vals.event_type, lo, hi
    """,
    doc="IQR (1.5×) outlier gate per event type — exact scaled-int quantile space.",
)
def outlier_iqr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    vals = events.filter(F.col("value").isNotNull()).select(
        "event_type", iscale("value").alias("v")
    )
    fences = vals.groupBy("event_type").agg(
        (
            F.expr("percentile(v, 0.25)")
            - 1.5 * (F.expr("percentile(v, 0.75)") - F.expr("percentile(v, 0.25)"))
        ).alias("lo"),
        (
            F.expr("percentile(v, 0.75)")
            + 1.5 * (F.expr("percentile(v, 0.75)") - F.expr("percentile(v, 0.25)"))
        ).alias("hi"),
    )
    out = F.col("v") < F.col("lo")
    hi_out = F.col("v") > F.col("hi")
    return (
        vals.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(out | hi_out, 1)).alias("n_outliers"),
            (
                F.coalesce(F.sum(F.when(~out & ~hi_out, F.col("v"))), F.lit(0)).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("kept_value"),
        )
        .select(
            "event_type",
            "n_total",
            "n_outliers",
            "kept_value",
            (F.col("lo") / F.lit(100.0)).alias("fence_lo"),
            (F.col("hi") / F.lit(100.0)).alias("fence_hi"),
        )
    )


@register(
    "rolling_zscore_anomaly",
    # the z² test stays ENTIRELY in integer space: with window count n,
    # sum S and sum-of-squares Q over scaled cents x,
    #     |z| > 3  ⟺  (n·x − S)²·(n−1) > 9·n·(n·Q − S²)
    # (multiply the z definition through by its denominators). No
    # division, no sqrt, no floats → bit-identical flags in any engine.
    # Magnitudes at cents scale: x ≤ ~6e4 ⇒ (n·x−S)²·(n−1) ≤ ~3e13 and
    # 9n(nQ−S²) ≤ ~3e14 — comfortable int64 headroom.
    oracle=f"""
        WITH v AS (
            SELECT event_id, user_id, ts, {sql_iscale("value")} AS cents
            FROM events WHERE value IS NOT NULL
        ),
        w AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, cents,
                   CAST(COUNT(*) OVER win AS BIGINT)           AS win_n,
                   CAST(SUM(cents) OVER win AS BIGINT)         AS s1,
                   CAST(SUM(cents * cents) OVER win AS BIGINT) AS s2
            FROM v
            WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, ts_us, cents AS value_cents, win_n,
               (win_n >= 10 AND
                (win_n * cents - s1) * (win_n * cents - s1) * (win_n - 1)
                    > 9 * win_n * (win_n * s2 - s1 * s1)) AS is_anomaly
        FROM w
    """,
    doc="Rolling 20-event z-score anomaly flag per user — exact integer z² test, no floats.",
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: flag events whose value sits
    more than 3 sample standard deviations from the trailing-20 mean.

    One window pass = one shuffle on user_id; the three window
    aggregates share a frame so Spark computes them in a single
    WindowExec. At 100 TB the same plan runs inside date-partitioned
    buckets (the window needs only 19 rows of lookback across a
    boundary — handled by reading one partition of overlap).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        iscale("value").alias("cents"),
    )
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    n = F.count(F.lit(1)).over(win).cast("long")
    s1 = F.sum("cents").over(win).cast("long")
    s2 = F.sum(F.col("cents") * F.col("cents")).over(win).cast("long")
    dev = n * F.col("cents") - s1
    flagged = v.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("cents").alias("value_cents"),
        n.alias("win_n"),
        s1.alias("s1"),
        s2.alias("s2"),
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "value_cents",
        "win_n",
        (
            (F.col("win_n") >= 10)
            & (
                (F.col("win_n") * F.col("value_cents") - F.col("s1"))
                * (F.col("win_n") * F.col("value_cents") - F.col("s1"))
                * (F.col("win_n") - 1)
                > 9
                * F.col("win_n")
                * (F.col("win_n") * F.col("s2") - F.col("s1") * F.col("s1"))
            )
        ).alias("is_anomaly"),
    )
    return flagged


@register(
    "feature_quantile_bins",
    # decile fences are DISCRETE order statistics picked by a pure
    # integer index — fence_k = value at row 1 + ((n−1)·k) // 10 of the
    # (cents, orderkey) ordering — so unlike interpolated quantiles
    # there is no float arithmetic for engines to disagree on. Bin id =
    # number of fences strictly below the value.
    oracle="""
        WITH v AS (
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rn
            FROM v
        ),
        nn AS (SELECT COUNT(*) AS n FROM v),
        fences AS (
            SELECT k, (SELECT cents FROM ranked
                       WHERE rn = 1 + ((n - 1) * k) // 10) AS fence
            FROM nn, UNNEST(range(1, 10)) t(k)
        ),
        bins AS (
            SELECT o.o_orderkey, o.cents,
                   (SELECT COUNT(*) FROM fences f WHERE o.cents > f.fence)
                       AS bin_id
            FROM v o
        )
        SELECT CAST(bin_id AS BIGINT)   AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(cents)               AS min_cents,
               MAX(cents)               AS max_cents,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM bins GROUP BY bin_id
    """,
    doc="Decile feature binning with exact integer-index fences (QuantileDiscretizer shape).",
)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bin a numeric feature with deterministic discrete fences.

    The fence computation ranks (cents, key) globally through the
    two-phase range-partitioned ``global_rank_scalable`` (r9 verdict
    task 2) — one range shuffle + O(#partitions) broadcast offsets, no
    single-partition window, identical ranks because (cents,
    o_orderkey) is a total order. The bin-assignment side (broadcast
    9 fences, one comparison scan) scales as-is.
    """
    from stacktrend_spark.operators.ranking import global_rank_scalable

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        "o_orderkey", iscale("o_totalprice").alias("cents")
    )
    ranked = global_rank_scalable(
        v, order_cols=[F.col("cents"), F.col("o_orderkey")], rank_col="rn"
    ).select("cents", "rn")
    nn = v.agg(F.count(F.lit(1)).alias("n"))
    # integer index: (n-1)*k/10 floor — integer DIV matches DuckDB `//`
    targets = (
        spark.range(1, 10)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(nn))
        .select("k", F.expr("1 + ((n - 1) * k) DIV 10").alias("target_rn"))
    )
    fences = ranked.join(
        F.broadcast(targets), ranked["rn"] == targets["target_rn"]
    ).select(F.col("cents").alias("fence"))
    fence_arr = fences.agg(F.sort_array(F.collect_list("fence")).alias("farr"))
    binned = v.crossJoin(F.broadcast(fence_arr)).select(
        "o_orderkey",
        "cents",
        F.expr("size(filter(farr, f -> cents > f))").cast("long").alias("bin_id"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


#: the four lineitem measures for the correlation matrix, with their
#: decimal grains (corr is scale-free, so grains only guarantee
#: exactness of the integer sums, never the statistic's units)
_CORR_VARS = [("qty", "l_quantity", 0), ("price", "l_extendedprice", 2),
              ("disc", "l_discount", 2), ("tax", "l_tax", 2)]
_CORR_PAIRS = [(a, b) for i, (a, _, _) in enumerate(_CORR_VARS)
               for (b, _, _) in _CORR_VARS[i + 1:]]


def _corr_matrix_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS nn"]
    for name, col, d in _CORR_VARS:
        i = sql_iscale(col, d)
        sums.append(f"CAST(SUM({i}) AS DOUBLE) AS s_{name}")
        sums.append(
            f"CAST(SUM(CAST(({i}) AS HUGEINT) * CAST(({i}) AS HUGEINT)) AS DOUBLE)"
            f" AS q_{name}"
        )
    for a, b in _CORR_PAIRS:
        ia = sql_iscale(dict((n, c) for n, c, _ in _CORR_VARS)[a],
                        dict((n, d) for n, _, d in _CORR_VARS)[a])
        ib = sql_iscale(dict((n, c) for n, c, _ in _CORR_VARS)[b],
                        dict((n, d) for n, _, d in _CORR_VARS)[b])
        sums.append(
            f"CAST(SUM(CAST(({ia}) AS HUGEINT) * CAST(({ib}) AS HUGEINT)) AS DOUBLE)"
            f" AS x_{a}_{b}"
        )
    rows = []
    for a, b in _CORR_PAIRS:
        corr = (
            f"(x_{a}_{b} - s_{a} * s_{b} / nn) / "
            f"(SQRT(q_{a} - s_{a} * s_{a} / nn) * SQRT(q_{b} - s_{b} * s_{b} / nn))"
        )
        rows.append(
            f"SELECT '{a}' AS var_x, '{b}' AS var_y, "
            f"{sql_round(corr, 8)} AS corr FROM m"
        )
    return f"WITH m AS (SELECT {', '.join(sums)} FROM lineitem) " + \
        " UNION ALL ".join(rows)


@register(
    "corr_matrix_lineitem",
    oracle=_corr_matrix_oracle(),
    doc="Pairwise correlation matrix over four measures — ONE exact-sums pass, 6 pairs.",
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise correlations from a single aggregate: 4 sums +
    4 sums-of-squares + 6 cross-sums in one shuffle-free partial-agg
    pass (vs 6 separate corr() scans). The 128-bit sums keep cross
    products exact past 1e12 rows; each corr derives through the same
    mirrored op tree as agg_corr_covar.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ints = {n: iscale(c, d) for n, c, d in _CORR_VARS}
    aggs = [F.count(F.lit(1)).cast("double").alias("nn")]
    for n, _, _ in _CORR_VARS:
        aggs.append(F.sum(ints[n]).cast("double").alias(f"s_{n}"))
        aggs.append(
            F.sum((ints[n] * ints[n]).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"q_{n}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((ints[a] * ints[b]).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"x_{a}_{b}")
        )
    m = li.agg(*aggs)
    out = None
    for a, b in _CORR_PAIRS:
        # r13 degenerate-corpus fix: a zero-variance measure makes the
        # denominator exactly 0 — ANSI Spark crashed where DuckDB
        # yields NULL; try_divide restores the NULL (corr undefined).
        corr = F.try_divide(
            F.col(f"x_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}") / F.col("nn"),
            F.sqrt(F.col(f"q_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}") / F.col("nn"))
            * F.sqrt(F.col(f"q_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}") / F.col("nn")),
        )
        row = m.select(
            F.lit(a).alias("var_x"),
            F.lit(b).alias("var_y"),
            fround(corr, 8).alias("corr"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "agg_weighted_median",
    # weighted median: smallest price whose cumulative quantity share
    # reaches half the group's total — all arithmetic exact-integer
    # (cents x quantity), the threshold an integer cross-multiplication
    oracle="""
        WITH v AS (
            SELECT l_returnflag,
                   CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
                   CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem
        ),
        cum AS (
            SELECT l_returnflag, cents, qty,
                   SUM(qty) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY cents, qty
                       ROWS UNBOUNDED PRECEDING) AS cq,
                   SUM(qty) OVER (PARTITION BY l_returnflag) AS tq
            FROM v
        )
        SELECT l_returnflag,
               CAST(MIN(cents) AS BIGINT) AS weighted_median_cents,
               CAST(MIN(tq) AS BIGINT)    AS total_quantity
        FROM cum
        WHERE cq * 2 >= tq
        GROUP BY 1
    """,
    doc=(
        "Weighted median price per return flag (weights = quantities): "
        "per-group cumulative-weight window, threshold by integer "
        "cross-multiplication (cq*2 >= tq) — the robust-stat the plain "
        "median family lacks; windows partition per group, no global "
        "sort."
    ),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("cents", "qty")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("l_returnflag")
    cum = v.select(
        "l_returnflag",
        "cents",
        F.sum("qty").over(wcum).alias("cq"),
        F.sum("qty").over(wall).alias("tq"),
    )
    return (
        cum.filter(F.col("cq") * 2 >= F.col("tq"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("long").alias("weighted_median_cents"),
            F.min("tq").cast("long").alias("total_quantity"),
        )
    )


@register(
    "agg_winsorized_balance",
    # winsorization clamps at exact rank-selected p5/p95 cut values
    # (row_number selection, never interpolating percentiles), so the
    # clamped sum is an exact integer on both engines
    oracle="""
        WITH v AS (
            SELECT s_nationkey,
                   CAST(FLOOR(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
            FROM supplier
        ),
        ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents) AS r,
                   COUNT(*) OVER () AS n
            FROM v
        ),
        cuts AS (
            SELECT
                MAX(CASE WHEN r = GREATEST((n * 5) // 100, 1) THEN cents END)
                    AS lo,
                MAX(CASE WHEN r = LEAST((n * 95) // 100 + 1, n) THEN cents END)
                    AS hi
            FROM ranked
        )
        SELECT v.s_nationkey                     AS nation_key,
               CAST(COUNT(*) AS BIGINT)          AS n_suppliers,
               CAST(SUM(LEAST(GREATEST(v.cents, c.lo), c.hi)) AS BIGINT)
                                                 AS winsorized_sum_cents,
               CAST(SUM(CASE WHEN v.cents < c.lo OR v.cents > c.hi
                             THEN 1 ELSE 0 END) AS BIGINT)
                                                 AS n_clamped
        FROM v CROSS JOIN cuts c
        GROUP BY 1
    """,
    doc=(
        "Winsorized account balances per nation: p5/p95 cut values "
        "selected by exact global rank (two-phase scalable ranker, no "
        "percentile interpolation), broadcast back as a 1-row cut "
        "table; clamped sums exact-integer."
    ),
)
def agg_winsorized_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    sup = load_table(spark, sf_dir, "supplier")
    v = sup.select(
        "s_nationkey",
        F.floor(F.col("s_acctbal") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = global_rank_scalable(
        v.select("cents"), order_cols=[F.col("cents")], rank_col="r"
    )
    n = v.count()  # bounded scalar
    lo_r = max((n * 5) // 100, 1)
    hi_r = min((n * 95) // 100 + 1, n)
    cuts = ranked.agg(
        F.max(F.when(F.col("r") == lo_r, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("r") == hi_r, F.col("cents"))).alias("hi"),
    )
    return (
        v.crossJoin(F.broadcast(cuts))
        .groupBy(F.col("s_nationkey").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")))
            .cast("long")
            .alias("winsorized_sum_cents"),
            F.sum(
                F.when(
                    (F.col("cents") < F.col("lo"))
                    | (F.col("cents") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
        )
    )


@register(
    "pareto_revenue_deciles",
    # Pareto / concentration analysis: customers ranked by monetary
    # desc, bucketed into deciles by exact integer arithmetic, each
    # decile's cumulative revenue share in exact ppm
    oracle="""
        WITH m AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS r,
                   COUNT(*) OVER () AS n,
                   SUM(cents) OVER () AS total
            FROM m
        ),
        dec AS (
            SELECT CAST(((r - 1) * 10) // n + 1 AS BIGINT) AS decile,
                   cents, total
            FROM ranked
        ),
        per AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS decile_cents,
                   MIN(total) AS total
            FROM dec GROUP BY 1
        )
        SELECT decile, n_customers, decile_cents,
               CAST(SUM(decile_cents) OVER (
                   ORDER BY decile ROWS UNBOUNDED PRECEDING) * 1000000
                   // total AS BIGINT) AS cum_share_ppm
        FROM per
    """,
    doc=(
        "Pareto concentration: customers ranked by revenue desc into "
        "exact-arithmetic deciles; cumulative share per decile in "
        "exact ppm — the 'top 10% carries X%' analysis. Global rank "
        "via the two-phase scalable ranker; the decile window runs "
        "over 10 rows."
    ),
)
def pareto_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    ranked = global_rank_scalable(
        m, order_cols=[F.desc("cents"), F.asc("o_custkey")], rank_col="r"
    )
    # r13 empty-corpus fix: zero customers interpolated None/0 into
    # the literal divisors ("DIV None" → unresolved column). The
    # clamped n only divides over an EMPTY ranked frame, and a
    # zero/NULL total mirrors the oracle's NULL share.
    n = max(m.count(), 1)  # bounded scalar
    total = m.agg(F.sum("cents")).collect()[0][0]  # bounded scalar
    per = (
        ranked.select(
            (F.expr(f"((r - 1) * 10) DIV {n}") + 1).cast("long").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("decile_cents"),
        )
    )
    share = (
        F.expr(
            f"sum(decile_cents) over (order by decile rows between "
            f"unbounded preceding and current row) * 1000000 DIV {total}"
        )
        if total
        else F.lit(None)
    )
    return per.select(
        "decile",
        "n_customers",
        "decile_cents",
        share.cast("long").alias("cum_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Bounded approx-quantile — the approx_distinct_users pattern applied
# to percentile_approx (the 100 TB quantile path: mergeable KLL/GK-ish
# sketch, one pass, no sort). The sketch value is engine-specific, so
# the hashed surface is (exact discrete percentiles) + booleans
# asserting the Spark-side estimate landed inside the rank-error
# window (±1% of n around the target rank — percentile_approx with
# accuracy=10000 guarantees ±0.01% rank error, so 1% is a 100× margin
# and the booleans are deterministically TRUE in any conforming build).
# The exact side computes VALUE-AT-RANK (percentile_disc semantics) on
# exact cents via one ranked window — engine-identical integers, no
# interpolation ambiguity.
# ---------------------------------------------------------------------------


@register(
    "approx_quantile_bounded",
    oracle="""
        WITH v AS (
            SELECT l_returnflag AS flag,
                   CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
            FROM lineitem
        ),
        r AS (
            SELECT flag, cents,
                   ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents) AS rn,
                   COUNT(*) OVER (PARTITION BY flag) AS n
            FROM v
        )
        SELECT flag,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.5) AS BIGINT), 1)
                             THEN cents END) AS BIGINT) AS exact_p50_cents,
               CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.9) AS BIGINT), 1)
                             THEN cents END) AS BIGINT) AS exact_p90_cents,
               TRUE AS p50_within_rank_bound,
               TRUE AS p90_within_rank_bound
        FROM r GROUP BY flag
    """,
    doc=(
        "Mergeable approx-quantile sketch (percentile_approx) with a "
        "hash-checkable surface: exact value-at-rank percentiles plus "
        "booleans pinning the estimate inside a ±1%-of-n rank window "
        "(100x the sketch's guaranteed rank error)."
    ),
)
def approx_quantile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w = W.partitionBy("flag").orderBy("cents")
    r = v.select(
        "flag",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("flag")).alias("n"),
    )

    def at_rank(q: float) -> F.Column:
        target = F.greatest(F.ceil(F.col("n") * q).cast("long"), F.lit(1))
        return F.max(F.when(F.col("rn") == target, F.col("cents")))

    exact = r.groupBy("flag").agg(
        F.max("n").cast("long").alias("n_rows"),
        at_rank(0.5).cast("long").alias("exact_p50_cents"),
        at_rank(0.9).cast("long").alias("exact_p90_cents"),
    )
    approx = v.groupBy("flag").agg(
        F.percentile_approx("cents", 0.5, 10000).alias("a50"),
        F.percentile_approx("cents", 0.9, 10000).alias("a90"),
    )
    # rank-window bound: the approx value's RANK must sit within ±1% of
    # n around the target rank — check via exact values at the window
    # edges (value-monotone ⇔ rank-monotone on sorted data)
    def edge(q: float, sign: int) -> F.Column:
        tol = F.greatest(F.ceil(F.col("n") * 0.01).cast("long"), F.lit(1))
        base = F.greatest(F.ceil(F.col("n") * q).cast("long"), F.lit(1))
        tgt = base + sign * tol
        clamped = F.greatest(F.least(tgt, F.col("n").cast("long")), F.lit(1))
        return F.max(F.when(F.col("rn") == clamped, F.col("cents")))

    edges = r.groupBy("flag").agg(
        edge(0.5, -1).alias("lo50"), edge(0.5, +1).alias("hi50"),
        edge(0.9, -1).alias("lo90"), edge(0.9, +1).alias("hi90"),
    )
    return (
        exact.join(approx, "flag").join(edges, "flag").select(
            "flag",
            "n_rows",
            "exact_p50_cents",
            "exact_p90_cents",
            ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50")))
            .alias("p50_within_rank_bound"),
            ((F.col("a90") >= F.col("lo90")) & (F.col("a90") <= F.col("hi90")))
            .alias("p90_within_rank_bound"),
        )
    )


_MED_BUCKET = 65536  # coarse bucket width in cents


@register(
    "exact_median_distributed",
    oracle=f"""
        WITH vals AS (
            SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS cents
            FROM lineitem
        ),
        n AS (SELECT COUNT(*) AS n_rows, (COUNT(*) + 1) // 2 AS r FROM vals),
        coarse AS (
            SELECT cents // {_MED_BUCKET} AS b, COUNT(*) AS c
            FROM vals GROUP BY 1
        ),
        cum AS (
            SELECT b, c,
                   SUM(c) OVER (ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_c
            FROM coarse
        ),
        target AS (
            SELECT MIN(b) AS tb FROM cum, n WHERE cum_c >= n.r
        ),
        before AS (
            SELECT COALESCE(SUM(c), 0) AS cnt_before
            FROM coarse, target WHERE b < target.tb
        ),
        fine AS (
            SELECT v.cents, COUNT(*) AS c
            FROM vals v, target
            WHERE v.cents // {_MED_BUCKET} = target.tb
            GROUP BY 1
        ),
        fcum AS (
            SELECT cents,
                   SUM(c) OVER (ORDER BY cents
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_c
            FROM fine
        )
        SELECT CAST(n.n_rows AS BIGINT)  AS n_rows,
               CAST(target.tb AS BIGINT) AS bucket_id,
               CAST((SELECT MIN(cents) FROM fcum, before, n
                     WHERE fcum.cum_c >= n.r - before.cnt_before)
                    AS BIGINT)           AS median_cents
        FROM n, target
    """,
    doc=(
        "Exact distributed median (two-phase selection): coarse "
        "65536-cent bucket histogram locates the target bucket, a "
        "second pass ranks only inside it — the k-th-element algorithm "
        "that needs no global sort and no quantile sketch; lower-"
        "median rank (N+1)÷2, all integer."
    ),
)
def exact_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: pass 1 reduces the corpus to #buckets rows (map-side
    combinable); the bucket cumulative runs on that bounded table; pass
    2 scans ONLY the target bucket's rows (predicate pushed to the
    scan) and ranks #distinct-values-in-bucket rows. Selection without
    sort — the pattern generalizes to any exact quantile."""
    from stacktrend_spark.functions.rounding import iscale

    vals = load_table(spark, sf_dir, "lineitem").select(
        iscale("l_extendedprice").alias("cents")
    )
    n = vals.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("(COUNT(*) + 1) DIV 2").alias("r"),
    )
    coarse = vals.groupBy(
        F.expr(f"cents DIV {_MED_BUCKET}").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    # bounded spine (#buckets rows): single-partition window by
    # construction, not by accident
    cum = coarse.withColumn(
        "cum_c",
        F.sum("c").over(W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)),
    )
    target = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("cum_c") >= F.col("r"))
        .agg(F.min("b").alias("tb"))
    )
    before = (
        coarse.crossJoin(F.broadcast(target))
        .filter(F.col("b") < F.col("tb"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("cnt_before"))
    )
    fine = (
        vals.crossJoin(F.broadcast(target))
        .filter(F.expr(f"cents DIV {_MED_BUCKET}") == F.col("tb"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fcum = fine.withColumn(
        "cum_c",
        F.sum("c").over(
            W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    median = (
        fcum.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(before))
        .filter(F.col("cum_c") >= F.col("r") - F.col("cnt_before"))
        .agg(F.min("cents").alias("median_cents"))
    )
    return (
        n.crossJoin(F.broadcast(target))
        .crossJoin(F.broadcast(median))
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("tb").cast("long").alias("bucket_id"),
            F.col("median_cents").cast("long").alias("median_cents"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy / release-readiness for a training-data
# pipeline). Quasi-identifier = (nation, market segment, account-balance
# band): a record is k-anonymous iff its QI equivalence class has ≥ k
# members. The audit reports, per nation, the class-size distribution
# that matters for release decisions: number of classes, the smallest
# class, how many classes violate k=5, and how many RECORDS sit in
# violating classes (the re-identification surface).
#
# 100 TB: one groupBy on the QI tuple (map-side combined), then a
# per-nation rollup of the tiny class table — no row-level data leaves
# the first aggregation.
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    oracle="""
        WITH classes AS (
            SELECT
                c_nationkey,
                c_mktsegment,
                CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                COUNT(*) AS k
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT
            c_nationkey,
            CAST(COUNT(*) AS BIGINT)                                   AS n_classes,
            CAST(MIN(k) AS BIGINT)                                     AS min_k,
            CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)     AS classes_lt5,
            CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)     AS records_at_risk,
            CAST(SUM(k) AS BIGINT)                                     AS n_records
        FROM classes
        GROUP BY c_nationkey
    """,
    doc="k-anonymity audit over QI=(nation, segment, balance band): "
    "per-nation class counts, min class size, k<5 violations and the "
    "records they expose; two cascaded map-side-combined aggregations.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0)).alias("classes_lt5"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).alias(
            "records_at_risk"
        ),
        F.sum("k").alias("n_records"),
    )


# ---------------------------------------------------------------------------
# 2-D Mahalanobis outlier flagging — multivariate outlier detection
# with the repo's deterministic-statistics discipline: the five co-
# moment sums aggregate as EXACT scaled integers (comoments helper),
# every derived quantity (means, covariances, the inverse-covariance
# quadratic form) is ONE mirrored op tree of correctly-rounded IEEE
# arithmetic, so the d² > 9 decision (3-sigma ellipse) selects the
# IDENTICAL row set in both engines.
#
# 100 TB: pass 1 is a map-side-combined co-moment aggregate (3 groups
# × 6 numbers); pass 2 re-scans the fact with the per-group stats
# BROADCAST — the fact table itself never shuffles.
# ---------------------------------------------------------------------------
@register(
    "outlier_mahalanobis_2d",
    oracle=f"""
        WITH s AS (
            SELECT l_returnflag, {sql_comoments('l_extendedprice', 'l_quantity', 2, 0)}
            FROM lineitem GROUP BY l_returnflag
        ),
        derived AS (
            SELECT l_returnflag,
                   CAST(n AS DOUBLE)   AS nd,
                   CAST(sx AS DOUBLE)  AS sxd,
                   CAST(sy AS DOUBLE)  AS syd,
                   CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(sxx AS DOUBLE) AS sxxd,
                   CAST(syy AS DOUBLE) AS syyd
            FROM s
        ),
        v AS (
            SELECT l_returnflag, nd, sxd, syd,
                   (sxxd - sxd * sxd / nd) / (nd - 1.0) AS vxx,
                   (syyd - syd * syd / nd) / (nd - 1.0) AS vyy,
                   (sxyd - sxd * syd / nd) / (nd - 1.0) AS vxy
            FROM derived
        ),
        scored AS (
            SELECT l.l_returnflag,
                   ((CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE) - v.syd / v.nd)
                    * (CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE) - v.syd / v.nd)
                    * v.vxx
                    - 2.0 * (CAST({sql_iscale('l.l_extendedprice', 2)} AS DOUBLE)
                             - v.sxd / v.nd)
                          * (CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE)
                             - v.syd / v.nd)
                          * v.vxy
                    + (CAST({sql_iscale('l.l_extendedprice', 2)} AS DOUBLE)
                       - v.sxd / v.nd)
                      * (CAST({sql_iscale('l.l_extendedprice', 2)} AS DOUBLE)
                         - v.sxd / v.nd)
                      * v.vyy)
                   / (v.vxx * v.vyy - v.vxy * v.vxy) AS d2
            FROM lineitem l JOIN v ON l.l_returnflag = v.l_returnflag
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT)                       AS n_rows,
               CAST(SUM(CASE WHEN d2 > 9.0 THEN 1 ELSE 0 END)
                    AS BIGINT)                                AS n_outliers,
               {sql_round('MAX(d2)', 6)}                      AS max_d2
        FROM scored GROUP BY l_returnflag
    """,
    doc=(
        "2-D Mahalanobis outliers per returnflag over (price, qty): "
        "exact integer co-moments -> one mirrored IEEE op tree for the "
        "inverse-covariance quadratic form; group stats broadcast, fact "
        "never shuffles."
    ),
)
def outlier_mahalanobis_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        *comoments("l_extendedprice", "l_quantity", 2, 0)
    )
    # r13 degenerate-corpus fix: a single-row group has n - 1 = 0, and
    # ANSI Spark crashed on the sample-variance division where DuckDB
    # yields NULL (variance undefined at n = 1; d² then NULLs through,
    # the 3-sigma CASE counts 0 outliers, max_d2 is NULL). try_divide
    # restores the NULL path; the determinant division gets the same
    # guard (singular covariance → d² undefined).
    v = s.select(
        "l_returnflag",
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.try_divide(
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
            / F.col("n").cast("double"),
            F.col("n").cast("double") - F.lit(1.0),
        ).alias("vxx"),
        F.try_divide(
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
            / F.col("n").cast("double"),
            F.col("n").cast("double") - F.lit(1.0),
        ).alias("vyy"),
        F.try_divide(
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
            / F.col("n").cast("double"),
            F.col("n").cast("double") - F.lit(1.0),
        ).alias("vxy"),
    )
    xd = iscale("l_extendedprice").cast("double")
    yd = F.col("l_quantity").cast("long").cast("double")
    dx = xd - F.col("sxd") / F.col("nd")
    dy = yd - F.col("syd") / F.col("nd")
    d2 = F.try_divide(
        dy * dy * F.col("vxx")
        - F.lit(2.0) * dx * dy * F.col("vxy")
        + dx * dx * F.col("vyy"),
        F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"),
    )
    return (
        li.join(F.broadcast(v), "l_returnflag")
        .select("l_returnflag", d2.alias("d2"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("d2") > 9.0, 1).otherwise(0)).alias("n_outliers"),
            fround(F.max("d2"), 6).alias("max_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Exact skewness & excess kurtosis per nation — distribution-shape
# moments from raw power sums, fully engine-exact until the last op
# tree. Values are order totals quantized to k$ (y = cents DIV 100000)
# so the four power sums stay inside 128-bit headroom:
#
#   A2 = n·P2 − P1²                                 = n ·Σ(y−ȳ)²
#   A3 = n²·P3 − 3n·P2·P1 + 2·P1³                   = n²·Σ(y−ȳ)³
#   A4 = n³·P4 − 4n²·P3·P1 + 6n·P2·P1² − 3·P1⁴      = n³·Σ(y−ȳ)⁴
#
# all exact DECIMAL(38,0)/HUGEINT (dominant term 3·P1⁴: at y≤600 k$
# and n=6·10⁶ rows/group it reaches ~1.7e38 — the 128-bit ceiling;
# past that, quantize coarser). Skew/kurtosis then come from ONE
# mirrored double tree: m_k = A_k/n^(k+1); g1 = m3/(m2·sqrt(m2));
# g2 = m4/m2² − 3.
#
# 100 TB: one groupBy(nation) with map-side-combinable power sums —
# a single shuffle of 25 groups; everything else is constant work.
# ---------------------------------------------------------------------------
@register(
    "moments_skew_kurtosis",
    oracle=f"""
        WITH y AS (
            SELECT c.c_nationkey AS nation,
                   CAST({sql_iscale('o.o_totalprice')} // 100000 AS BIGINT)
                       AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        p AS (
            SELECT nation,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(y AS HUGEINT)) AS p1,
                   SUM(CAST(y AS HUGEINT) * y) AS p2,
                   SUM(CAST(y AS HUGEINT) * y * y) AS p3,
                   SUM(CAST(y AS HUGEINT) * y * y * y) AS p4
            FROM y GROUP BY nation
        ),
        a AS (
            SELECT nation, n,
                   n * p2 - p1 * p1 AS a2,
                   n * n * p3 - 3 * n * p2 * p1 + 2 * p1 * p1 * p1 AS a3,
                   n * n * n * p4 - 4 * n * n * p3 * p1
                       + 6 * n * p2 * p1 * p1 - 3 * p1 * p1 * p1 * p1 AS a4
            FROM p
        )
        SELECT CAST(nation AS BIGINT) AS nation,
               CAST(n AS BIGINT) AS n_orders,
               {sql_round(
                   "(CAST(a3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
                   " / ((CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
                   "    * SQRT(CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))",
                   6,
               )} AS skewness,
               {sql_round(
                   "(CAST(a4 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
                   " / ((CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
                   "    * (CAST(a2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) - 3.0",
                   6,
               )} AS excess_kurtosis
        FROM a
    """,
    doc=(
        "Per-nation skewness and excess kurtosis of k$-quantized order "
        "totals: exact 128-bit central power sums (A2/A3/A4 from raw "
        "P1..P4), one mirrored double tree at the end. One map-side-"
        "combinable shuffle of 25 groups."
    ),
)
def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dec = "decimal(38,0)"
    y = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nation"),
            F.expr(
                "CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
                " DIV 100000 AS BIGINT)"
            ).alias("y"),
        )
    )
    p = y.groupBy("nation").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("y").cast(dec)).alias("p1"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("p2"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y * y")).alias("p3"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y * y * y")).alias("p4"),
    )
    a = p.select(
        "nation",
        "n",
        F.expr("n * p2 - p1 * p1").alias("a2"),
        F.expr("n * n * p3 - 3 * n * p2 * p1 + 2 * p1 * p1 * p1").alias("a3"),
        F.expr(
            "n * n * n * p4 - 4 * n * n * p3 * p1"
            " + 6 * n * p2 * p1 * p1 - 3 * p1 * p1 * p1 * p1"
        ).alias("a4"),
    )
    nd = F.col("n").cast("double")
    m2 = F.col("a2").cast("double") / (nd * nd)
    m3 = F.col("a3").cast("double") / (nd * nd * nd)
    m4 = F.col("a4").cast("double") / (nd * nd * nd * nd)
    # r13 property-campaign fix: a zero-variance nation (e.g. a single
    # order) has a2 = 0, and ANSI Spark turns the m2 division into a
    # DIVIDE_BY_ZERO crash where DuckDB yields NULL. Moments are
    # UNDEFINED at zero variance → NULL, matching the oracle's
    # natural NULL.
    degenerate = F.col("a2") == F.lit(0).cast("decimal(38,0)")
    return a.select(
        F.col("nation").cast("long"),
        F.col("n").cast("long").alias("n_orders"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(fround(m3 / (m2 * F.sqrt(m2)), 6))
        .alias("skewness"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(fround(m4 / (m2 * m2) - F.lit(3.0), 6))
        .alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Benford leading-digit audit — the classic anomaly screen for
# financial/measurement columns: does the first significant digit of
# the extended-price population follow log10(1 + 1/d)? The expected
# ppm values are PYTHON-precomputed literals shared by both engines
# (never engine math — PARITY decimal-literal rule); the observed
# shares are exact integer ppm; the per-digit deviation and the total
# variation distance come out as exact integers too. Leading digit =
# first character of the integer cents rendering — pure string op,
# no logs, no floats anywhere.
#
# 100 TB: map-only digit extraction fused into the scan + one 9-group
# map-side-combinable aggregate.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def _benford_case(col: str) -> str:
    cases = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    return f"CASE {col} {cases} END"


@register(
    "benford_leading_digit",
    oracle=f"""
        WITH d AS (
            SELECT CAST(SUBSTR(CAST({sql_iscale('l_extendedprice')}
                               AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM lineitem
        ),
        c AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM d GROUP BY digit
        ),
        t AS (SELECT SUM(n_rows) AS n FROM c)
        SELECT digit, n_rows,
               CAST(n_rows * 1000000 // (SELECT n FROM t)
                    AS BIGINT) AS obs_ppm,
               CAST({_benford_case('digit')} AS BIGINT) AS benford_ppm,
               CAST(ABS(n_rows * 1000000 // (SELECT n FROM t)
                        - {_benford_case('digit')}) AS BIGINT) AS abs_dev_ppm
        FROM c
    """,
    doc=(
        "Benford leading-digit audit of l_extendedprice: exact integer "
        "observed ppm vs Python-precomputed log10(1+1/d) literals, "
        "per-digit absolute deviation. Map-only + one 9-group agg."
    ),
)
def benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    d = li.select(
        F.substring(iscale("l_extendedprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_rows"))
    t = c.agg(F.sum("n_rows").alias("n"))
    bcase = _benford_case("digit")
    return (
        c.join(F.broadcast(t))
        .select(
            "digit",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr("n_rows * 1000000 DIV n").cast("long").alias("obs_ppm"),
            F.expr(f"CAST({bcase} AS BIGINT)").alias("benford_ppm"),
            F.expr(f"ABS(n_rows * 1000000 DIV n - {bcase})")
            .cast("long")
            .alias("abs_dev_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Shannon entropy + KL divergence (r6). The information-theoretic pair
# every corpus-curation pipeline needs (domain-mix balance, drift vs a
# reference distribution) — here per-nation order-priority mixes vs the
# global mix. All logs go through the repo's deterministic
# decade-interpolated xlog10 on ppm-quantized proportions, and each
# per-group sum is a sum of INTEGER terms (order-independent across
# partial aggregation), so both engines emit identical bits:
#
#   p_ppm   = n_il·10⁶ DIV n_i          (clamped ≥ 1)
#   q_ppm   = m_l·10⁶ DIV m             (global mix)
#   H_num_i = Σ_l n_il·(6·10⁶ − ilog(p_ppm))       (= n_i·H_i, µlog10)
#   KL_num  = Σ_l n_il·(ilog(p_ppm) − ilog(q_ppm)) (= n_i·KL_i, µlog10)
#
# where ilog(x) = ⌊xlog10(x)·10⁶⌋. ppm proportions bound every factor
# by 10⁶ regardless of corpus size — no overflow at any sf.
# 100 TB: one orders⟷customer key shuffle, then a 125-row (nation ×
# priority) aggregate; the 5-row global mix is a broadcast scalar.
# ---------------------------------------------------------------------------
from stacktrend_spark.functions.rounding import sql_xlog10, xlog10


def _ilog(col: F.Column) -> F.Column:
    return F.floor(xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)).cast("long")


def _sql_ilog(expr: str) -> str:
    return f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')} * 1000000.0) AS BIGINT)"


@register(
    "entropy_kl_priority_mix",
    oracle=f"""
        WITH cells AS (
            SELECT n.n_name AS nation, o.o_orderpriority AS pri,
                   CAST(COUNT(*) AS BIGINT) AS n_il
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        nat AS (SELECT nation, SUM(n_il) AS n_i FROM cells GROUP BY 1),
        gmix AS (
            SELECT pri, SUM(n_il) AS m_l, SUM(SUM(n_il)) OVER () AS m
            FROM cells GROUP BY 1
        ),
        terms AS (
            SELECT c.nation, c.n_il,
                   c.n_il * 1000000 // nat.n_i AS p_ppm,
                   g.m_l * 1000000 // g.m      AS q_ppm
            FROM cells c
            JOIN nat  ON c.nation = nat.nation
            JOIN gmix g ON c.pri = g.pri
        )
        SELECT nation,
               CAST(SUM(n_il) AS BIGINT) AS n_orders,
               CAST(SUM(n_il * (6000000 - {_sql_ilog('p_ppm')}))
                    AS BIGINT) AS entropy_num,
               CAST(SUM(n_il * ({_sql_ilog('p_ppm')} - {_sql_ilog('q_ppm')}))
                    AS BIGINT) AS kl_num
        FROM terms
        GROUP BY nation
    """,
    doc=(
        "Per-nation Shannon entropy and KL divergence (vs the global "
        "mix) of the order-priority distribution, in exact µlog10 "
        "integer numerators (ppm-quantized proportions through the "
        "deterministic xlog10) — information-theoretic drift/balance "
        "audit with a bit-exact oracle."
    ),
)
def entropy_kl_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the only corpus shuffle is orders⟷customer on custkey
    (nation broadcast); entropy/KL math happens on the 125-row
    (nation × priority) cell table, with the 5-row global mix joined
    broadcast. ppm proportions keep every integer < 10¹³ at any corpus
    size. Quantization note: H/KL carry xlog10's decade-interpolation
    error (≤0.031·log10-unit per term) — fine for ranking/drift
    gating, and identically so in both engines."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_orderpriority").alias("pri"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_il"))
    )
    nat = cells.groupBy("nation").agg(F.sum("n_il").alias("n_i"))
    glob = cells.groupBy("pri").agg(F.sum("n_il").alias("m_l"))
    m = glob.agg(F.sum("m_l").alias("m"))
    terms = (
        cells.join(nat, "nation")
        .join(F.broadcast(glob), "pri")
        .join(F.broadcast(m))
        .select(
            "nation",
            "n_il",
            F.expr("n_il * 1000000 DIV n_i").alias("p_ppm"),
            F.expr("m_l * 1000000 DIV m").alias("q_ppm"),
        )
    )
    ilp = _ilog(F.col("p_ppm"))
    ilq = _ilog(F.col("q_ppm"))
    return terms.groupBy("nation").agg(
        F.sum("n_il").cast("long").alias("n_orders"),
        F.sum(F.col("n_il") * (F.lit(6000000) - ilp)).cast("long").alias("entropy_num"),
        F.sum(F.col("n_il") * (ilp - ilq)).cast("long").alias("kl_num"),
    )


# ---------------------------------------------------------------------------
# Two-feature OLS via Cramer's rule on the normal equations (r6).
# `agg_regression` covers the one-feature regr_slope surface; real
# feature pipelines need MULTIVARIATE fits, and the distributed recipe
# is the classic one: aggregate the exact sufficient statistics in one
# map-side-combinable pass (Σq, Σd, Σy, Σq², Σd², Σqd, Σqy, Σdy, Σy² as
# 128-bit integers — order-independent), then solve the 3×3 normal
# system on the 1-row result with Cramer determinants. The solve is a
# FIXED double op tree over exact integers (the dstd/comoments parity
# pattern), so betas and R² hash bit-identically.
#
#   y = cents(l_extendedprice),  q = l_quantity,  d = discount (0-10)
#
# Overflow headroom: Σy² ≤ 2.5e13/row — DECIMAL(38,0)/HUGEINT sums hold
# past 10²⁴ rows; the determinant products live in doubles by design.
# 100 TB: ONE scan, ONE 1-row reduce — no joins, no windows; this is
# the cheapest possible distributed shape for any GLM-normal-equations
# fit (MLlib's normal-equation solver does exactly this).
# ---------------------------------------------------------------------------
_OLS_DET = (
    "(n*(sqq*sdd - sqd*sqd) - sq*(sq*sdd - sqd*sd) + sd*(sq*sqd - sqq*sd))"
)
_OLS_DET0 = (
    "(sy*(sqq*sdd - sqd*sqd) - sq*(sqy*sdd - sqd*sdy) + sd*(sqy*sqd - sqq*sdy))"
)
_OLS_DET1 = (
    "(n*(sqy*sdd - sqd*sdy) - sy*(sq*sdd - sqd*sd) + sd*(sq*sdy - sqy*sd))"
)
_OLS_DET2 = (
    "(n*(sqq*sdy - sqy*sqd) - sq*(sq*sdy - sqy*sd) + sy*(sq*sqd - sqq*sd))"
)


@register(
    "ols_two_feature_cramer",
    oracle=f"""
        WITH sums AS (
            SELECT
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sq,
                CAST(SUM({sql_iscale('l_discount')}) AS DOUBLE) AS sd,
                CAST(SUM({sql_iscale('l_extendedprice')}) AS DOUBLE) AS sy,
                CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sqq,
                CAST(SUM(CAST({sql_iscale('l_discount')} AS HUGEINT) * {sql_iscale('l_discount')}) AS DOUBLE) AS sdd,
                CAST(SUM(CAST(l_quantity AS HUGEINT) * {sql_iscale('l_discount')}) AS DOUBLE) AS sqd,
                CAST(SUM(CAST(l_quantity AS HUGEINT) * {sql_iscale('l_extendedprice')}) AS DOUBLE) AS sqy,
                CAST(SUM(CAST({sql_iscale('l_discount')} AS HUGEINT) * {sql_iscale('l_extendedprice')}) AS DOUBLE) AS sdy,
                CAST(SUM(CAST({sql_iscale('l_extendedprice')} AS HUGEINT) * {sql_iscale('l_extendedprice')}) AS DOUBLE) AS syy,
                CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem
        ),
        betas AS (
            SELECT n_rows, n, sy, sqy, sdy, syy,
                   {_OLS_DET0} / {_OLS_DET} AS b0,
                   {_OLS_DET1} / {_OLS_DET} AS b1,
                   {_OLS_DET2} / {_OLS_DET} AS b2
            FROM sums
        )
        SELECT n_rows,
               {sql_round('b0', 4)} AS beta0_cents,
               {sql_round('b1', 4)} AS beta_qty_cents,
               {sql_round('b2', 4)} AS beta_disc_cents,
               {sql_round('1.0 - (syy - (b0*sy + b1*sqy + b2*sdy)) / (syy - sy*sy/n)', 6)} AS r2
        FROM betas
    """,
    doc=(
        "Multivariate OLS (price ~ quantity + discount) by normal "
        "equations: one map-side pass accumulates the nine exact "
        "128-bit sufficient statistics, Cramer's rule solves the 3x3 "
        "system in a fixed double op tree — distributed GLM fitting "
        "with a bit-exact oracle (betas + R²)."
    ),
)
def ols_two_feature_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the entire fit is one scan + one 1-row reduce of nine
    integer sums (map-side combine; DECIMAL(38,0) accumulators hold
    past 10²⁴ rows) — no shuffle of the fact table at all. Adding
    features grows the statistic vector O(k²) but never adds a pass;
    k beyond ~8 is where you switch to L-BFGS-style iterations."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        iscale("l_discount").alias("d"),
        iscale("l_extendedprice").alias("y"),
    )
    dec = "DECIMAL(38,0)"
    sums = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("q").cast("double").alias("sq"),
        F.sum("d").cast("double").alias("sd"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr(f"CAST(q AS {dec}) * q")).cast("double").alias("sqq"),
        F.sum(F.expr(f"CAST(d AS {dec}) * d")).cast("double").alias("sdd"),
        F.sum(F.expr(f"CAST(q AS {dec}) * d")).cast("double").alias("sqd"),
        F.sum(F.expr(f"CAST(q AS {dec}) * y")).cast("double").alias("sqy"),
        F.sum(F.expr(f"CAST(d AS {dec}) * y")).cast("double").alias("sdy"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).cast("double").alias("syy"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    betas = sums.select(
        "n_rows",
        "n",
        "sy",
        "sqy",
        "sdy",
        "syy",
        # r13 degenerate-corpus fix: a rank-deficient design (e.g. a
        # single row, or constant features) has determinant 0 — ANSI
        # Spark crashed where DuckDB yields NULL betas. try_divide
        # restores the NULL path.
        F.expr(f"TRY_DIVIDE({_OLS_DET0}, {_OLS_DET})").alias("b0"),
        F.expr(f"TRY_DIVIDE({_OLS_DET1}, {_OLS_DET})").alias("b1"),
        F.expr(f"TRY_DIVIDE({_OLS_DET2}, {_OLS_DET})").alias("b2"),
    )
    return betas.select(
        "n_rows",
        fround(F.col("b0"), 4).alias("beta0_cents"),
        fround(F.col("b1"), 4).alias("beta_qty_cents"),
        fround(F.col("b2"), 4).alias("beta_disc_cents"),
        fround(
            F.lit(1.0)
            - F.try_divide(
                F.col("syy")
                - (
                    F.col("b0") * F.col("sy")
                    + F.col("b1") * F.col("sqy")
                    + F.col("b2") * F.col("sdy")
                ),
                F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"),
            ),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (r6) — the robust complement to
# agg_corr_covar's Pearson: correlation of RANKS of per-customer spend
# vs account balance. Ranks are assigned by row_number with the
# custkey tiebreak (deterministic total order — no tie-fraction
# arithmetic), so both rank columns are exact 1..n integers and the
# Pearson-on-ranks formula runs on exact integer power sums with ONE
# fixed double op tree at the end (the dstd/OLS parity pattern):
#
#     rho = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
#
# Σx² ≤ n³/3: DECIMAL(38,0)/HUGEINT sums hold past n = 10¹².
# 100 TB: per-customer spend = one fact aggregate; the two global rank
# windows use the documented scalable-rank alternative past ~10⁷ rows
# (operators/ranking.global_rank_scalable) — pinned here as the small-
# dimension form.
# ---------------------------------------------------------------------------
@register(
    "spearman_rank_corr",
    oracle=f"""
        WITH spend AS (
            SELECT c.c_custkey,
                   {sql_iscale('c.c_acctbal')} AS bal,
                   COALESCE(SUM({sql_iscale('o.o_totalprice')}), 0) AS sp
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY sp, c_custkey)  AS rx,
                   ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS ry
            FROM spend
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(rx) AS DOUBLE) AS sx,
                   CAST(SUM(ry) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM ranked
        )
        SELECT n_rows,
               {sql_round('(n*sxy - sx*sy) / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy))', 6)}
                   AS spearman_rho
        FROM sums
    """,
    doc=(
        "Spearman rank correlation (per-customer spend vs account "
        "balance): deterministic total-order ranks (custkey tiebreak), "
        "exact 128-bit rank power sums, one fixed double op tree — "
        "rank-based correlation with a bit-exact oracle."
    ),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: one fact aggregate + two rank assignments + one 1-row
    reduce. Both rank assignments run through the two-phase
    operators/ranking.global_rank_scalable (r10, extending r9 verdict
    task 2 to every fact-scale frame) — chained like
    customer_rfm_scores so no join-back is needed; (key, custkey) is a
    total order, so ranks are bit-identical to the windowed form."""
    from stacktrend_spark.operators.ranking import global_rank_scalable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", iscale("c_acctbal").alias("bal")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "bal")
        .agg(F.coalesce(F.sum(iscale("o_totalprice")), F.lit(0)).alias("sp"))
    )
    ranked = global_rank_scalable(
        global_rank_scalable(
            spend,
            order_cols=[F.col("sp"), F.col("c_custkey")],
            rank_col="rx",
        ),
        order_cols=[F.col("bal"), F.col("c_custkey")],
        rank_col="ry",
    ).select("rx", "ry")
    dec = "decimal(38,0)"
    sums = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.expr(f"CAST(rx AS {dec}) * rx")).cast("double").alias("sxx"),
        F.sum(F.expr(f"CAST(ry AS {dec}) * ry")).cast("double").alias("syy"),
        F.sum(F.expr(f"CAST(rx AS {dec}) * ry")).cast("double").alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    # r13 degenerate-corpus fix: at n = 1 the rank variance is 0 and
    # ANSI Spark crashed on the 0/0 where DuckDB yields NULL (rho
    # undefined for a single unit). try_divide restores the NULL.
    return sums.select(
        "n_rows",
        fround(
            F.try_divide(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Bootstrap confidence interval, RNG-free (r6) — the resampling
# counterpart to abtest_two_proportion_z's parametric inference: a
# 95% percentile-bootstrap CI for TOTAL daily revenue, with the B=100
# resamples drawn by the engine-neutral md5/hex40 hash instead of an
# RNG:  idx(r,k) = hex40('bs' || r || ':' || k) % n_days + 1.
# Every resample is therefore a pure function of (r, k) — identical in
# both engines, reproducible under re-runs and repartitioning (the
# sample_* family's discipline applied to inference). Resample totals
# are exact integer sums; the CI bounds are order statistics (ranks 3
# and 98 of 100) — no float ever.
# 100 TB: the corpus collapses to the ~2.4k-day spine first; the
# resample grid is B×n_days rows joined to that spine (map-side
# broadcastable), never to the fact table. B and the grid scale with
# the SPINE, not the corpus.
# ---------------------------------------------------------------------------
from stacktrend_spark.functions.hashing import sql_hex40  # noqa: E402

_BOOT_B = 100


@register(
    "bootstrap_ci_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        pts AS (
            SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, y FROM daily
        ),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS toty FROM pts),
        grid AS (
            SELECT r.r, k.k,
                   ({sql_hex40("'bs' || CAST(r.r AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)")})
                       % (SELECT n FROM s) + 1 AS idx
            FROM (SELECT UNNEST(RANGE(1, {_BOOT_B + 1})) AS r) r,
                 (SELECT UNNEST(RANGE(1, (SELECT n FROM s) + 1)) AS k) k
        ),
        totals AS (
            SELECT g.r, SUM(p.y) AS tot
            FROM grid g JOIN pts p ON g.idx = p.rn
            GROUP BY g.r
        ),
        ranked AS (
            SELECT tot, ROW_NUMBER() OVER (ORDER BY tot, r) AS rk
            FROM totals
        )
        SELECT (SELECT n FROM s) AS n_days,
               CAST({_BOOT_B} AS BIGINT) AS n_resamples,
               CAST((SELECT toty FROM s) AS BIGINT) AS obs_total_cents,
               CAST(MIN(CASE WHEN rk = 3  THEN tot END) AS BIGINT)
                   AS ci_low_total_cents,
               CAST(MIN(CASE WHEN rk = 98 THEN tot END) AS BIGINT)
                   AS ci_high_total_cents
        FROM ranked
    """,
    doc=(
        "RNG-free 95% percentile-bootstrap CI for total daily revenue: "
        "B=100 resamples indexed by the engine-neutral md5/hex40 hash "
        "(reproducible under re-runs/repartitioning), exact integer "
        "resample totals, CI = order statistics (ranks 3/98) — "
        "resampling inference on the hashed surface."
    ),
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: one corpus rollup to the day spine; the B×n_days grid
    (~240k rows at this spine) joins the SPINE, not the fact table,
    and the per-resample sums map-side combine. Bootstrapping a
    per-group statistic instead = same grid keyed by group (the spine
    stays the unit of resampling)."""
    from stacktrend_spark.functions.hashing import spark_hex40

    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    # two readers, recomputed: measured faster than a checkpoint
    pts = daily.select(F.row_number().over(W.orderBy("day")).alias("rn"), "y")
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("toty")
    )
    grid = (
        spark.range(1, _BOOT_B + 1)
        .select(F.col("id").alias("r"))
        .join(F.broadcast(s))
        .select("r", "n", "toty", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("k"))
        .select(
            "r",
            "n",
            (
                spark_hex40(
                    F.concat(
                        F.lit("bs"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("k").cast("string"),
                    )
                )
                % F.col("n")
                + 1
            ).alias("idx"),
        )
    )
    totals = grid.join(pts, grid.idx == pts.rn).groupBy("r").agg(
        F.sum("y").alias("tot")
    )
    ranked = totals.select(
        "tot", F.row_number().over(W.orderBy("tot", "r")).alias("rk")
    )
    return (
        ranked.agg(
            F.min(F.when(F.col("rk") == 3, F.col("tot"))).cast("long").alias("ci_low_total_cents"),
            F.min(F.when(F.col("rk") == 98, F.col("tot"))).cast("long").alias("ci_high_total_cents"),
        )
        .join(F.broadcast(s))
        .select(
            F.col("n").alias("n_days"),
            F.lit(_BOOT_B).cast("long").alias("n_resamples"),
            F.col("toty").cast("long").alias("obs_total_cents"),
            "ci_low_total_cents",
            "ci_high_total_cents",
        )
    )


# ---------------------------------------------------------------------------
# l-diversity audit (r6) — k-anonymity's stronger sibling: a QI class
# with many members is still unsafe if they all share one SENSITIVE
# value. QI = (nation, market segment); sensitive attribute = the
# account-balance band. Per nation: class count, the minimum number of
# distinct sensitive values in any class (min-l), classes violating
# l=3, and the records they expose. Same cascaded map-side-combined
# aggregation shape as k_anonymity_audit — no row-level data survives
# the first groupBy.
# ---------------------------------------------------------------------------
@register(
    "l_diversity_audit",
    oracle="""
        WITH classes AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                        AS BIGINT) AS l
            FROM customer
            GROUP BY 1, 2
        )
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT)                               AS n_classes,
               CAST(MIN(l) AS BIGINT)                                 AS min_l,
               CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt3,
               CAST(SUM(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS records_at_risk,
               CAST(SUM(k) AS BIGINT)                                 AS n_records
        FROM classes
        GROUP BY c_nationkey
    """,
    doc=(
        "l-diversity audit (QI = nation × segment, sensitive = balance "
        "band): per-nation class counts, minimum distinct-sensitive-"
        "value count, l<3 violations and exposed records — the "
        "homogeneity-attack complement to k_anonymity_audit."
    ),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
        )
        .cast("long")
        .alias("l"),
    )
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0)).cast("long").alias("classes_lt3"),
        F.sum(F.when(F.col("l") < 3, F.col("k")).otherwise(0))
        .cast("long")
        .alias("records_at_risk"),
        F.sum("k").cast("long").alias("n_records"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index (r6) — THE standard MLOps drift metric
# (credit-scoring lineage): PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)
# between a baseline and a comparison window of the o_totalprice
# distribution (1996 vs 1997 order years, $25k bins). Same exact
# µlog10-integer discipline as entropy/KL/PMI — log10 units instead of
# nats (a constant factor, stated in the column name), ppm proportions
# (clamped ≥1: the ±1-count Laplace guard is the standard PSI
# zero-bin fix, applied identically in both engines):
#
#   psi_term_micro = (p_ppm − q_ppm) · (ilog(p_ppm) − ilog(q_ppm))
#
# Output per bin + the term; Σ terms / 10¹² is PSI in log10 units.
# 100 TB: two year-filtered map-side histogram aggregates (pushed to
# the scan), all math on the ≤25-bin spine.
# ---------------------------------------------------------------------------
@register(
    "psi_feature_drift",
    oracle=f"""
        WITH base AS (
            SELECT CAST(FLOOR((o_totalprice) * 100.0 + 0.5) AS BIGINT)
                       // 2500000 AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY 1
        ),
        comp AS (
            SELECT CAST(FLOOR((o_totalprice) * 100.0 + 0.5) AS BIGINT)
                       // 2500000 AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        ),
        bins AS (
            SELECT bin FROM base UNION SELECT bin FROM comp
        ),
        joined AS (
            SELECT bins.bin,
                   COALESCE(base.n, 0) AS nb,
                   COALESCE(comp.n, 0) AS nc,
                   (SELECT SUM(n) FROM base) AS tb,
                   (SELECT SUM(n) FROM comp) AS tc
            FROM bins
            LEFT JOIN base ON bins.bin = base.bin
            LEFT JOIN comp ON bins.bin = comp.bin
        ),
        ppm AS (
            SELECT bin, nb, nc,
                   GREATEST(nb * 1000000 // tb, 1) AS p_ppm,
                   GREATEST(nc * 1000000 // tc, 1) AS q_ppm
            FROM joined
        )
        SELECT bin,
               nb AS n_base, nc AS n_comp,
               CAST(p_ppm AS BIGINT) AS p_ppm,
               CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST((p_ppm - q_ppm)
                    * (CAST(FLOOR({sql_xlog10('p_ppm')} * 1000000.0) AS BIGINT)
                       - CAST(FLOOR({sql_xlog10('q_ppm')} * 1000000.0) AS BIGINT))
                    AS BIGINT) AS psi_term_micro
        FROM ppm
    """,
    doc=(
        "Population Stability Index between the 1996 and 1997 order-"
        "value distributions ($25k bins): exact ppm proportions with "
        "the standard zero-bin clamp, per-bin PSI terms in µlog10 "
        "integer units (Σ/10¹² = PSI in log10 units) — the MLOps drift "
        "gate with a bit-exact oracle."
    ),
)
def psi_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: both histograms are year-pruned scans (PushedFilters)
    collapsing map-side to ≤25 bins; the PSI arithmetic never touches
    corpus-sized data. The same plan monitors any scored feature
    stream against its training baseline."""
    from stacktrend_spark.functions.rounding import xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(xlog10(col) * F.lit(1000000.0)).cast("long")

    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")

    def hist(y0: str, y1: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
            )
            .select(iscale("o_totalprice").alias("cents"))
            .select(F.expr("cents DIV 2500000").alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    base = hist("1996-01-01", "1997-01-01")
    comp = hist("1997-01-01", "1998-01-01")
    tb = base.agg(F.sum("n").alias("tb"))
    tc = comp.agg(F.sum("n").alias("tc"))
    bins = base.select("bin").union(comp.select("bin")).distinct()
    joined = (
        bins.join(base.withColumnRenamed("n", "nb"), "bin", "left")
        .join(comp.withColumnRenamed("n", "nc"), "bin", "left")
        .join(F.broadcast(tb))
        .join(F.broadcast(tc))
        .select(
            "bin",
            F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
            F.coalesce(F.col("nc"), F.lit(0)).alias("nc"),
            "tb",
            "tc",
        )
    )
    ppm = joined.select(
        "bin",
        "nb",
        "nc",
        F.greatest(F.expr("nb * 1000000 DIV tb"), F.lit(1)).alias("p_ppm"),
        F.greatest(F.expr("nc * 1000000 DIV tc"), F.lit(1)).alias("q_ppm"),
    )
    return ppm.select(
        "bin",
        F.col("nb").alias("n_base"),
        F.col("nc").alias("n_comp"),
        F.col("p_ppm").cast("long"),
        F.col("q_ppm").cast("long"),
        ((F.col("p_ppm") - F.col("q_ppm")) * (ilog(F.col("p_ppm")) - ilog(F.col("q_ppm"))))
        .cast("long")
        .alias("psi_term_micro"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS slopes (r6) — ols_two_feature_cramer generalized to
# GROUPED regression: one slope/intercept per nation (price ~
# quantity), fitted from exact per-group sufficient statistics in a
# single map-side-combinable aggregate, solved with the same fixed
# double op tree per group:
#
#   slope = (n·Σqy − Σq·Σy) / (n·Σq² − (Σq)²);  b0 = (Σy − slope·Σq)/n
#
# This is the shape MLlib cannot give you cheaply (one model per key =
# thousands of models in ONE pass) and the reason normal-equation
# fitting matters at scale.
# 100 TB: one orders⋈customer-free path — lineitem⋈supplier broadcast
# for the nation key; the fact table shuffles once on the 25-nation
# agg key (map-side combined to 25 rows before the exchange).
# ---------------------------------------------------------------------------
@register(
    "ols_slope_by_nation",
    oracle=f"""
        WITH sums AS (
            SELECT n.n_name AS nation,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sq,
                   CAST(SUM({sql_iscale('l_extendedprice')}) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sqq,
                   CAST(SUM(CAST(l_quantity AS HUGEINT) * {sql_iscale('l_extendedprice')}) AS DOUBLE) AS sqy,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT nation, n_rows,
               {sql_round('(n*sqy - sq*sy) / (n*sqq - sq*sq)', 4)}
                   AS slope_cents_per_unit,
               {sql_round('(sy - ((n*sqy - sq*sy) / (n*sqq - sq*sq)) * sq) / n', 4)}
                   AS intercept_cents
        FROM sums
    """,
    doc=(
        "Grouped OLS: one (price ~ quantity) regression per supplier "
        "nation from exact per-group sufficient statistics in a single "
        "map-side aggregate — thousands-of-models-in-one-pass, the "
        "normal-equations shape at scale; fixed double op tree per "
        "group."
    ),
)
def ols_slope_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("q"),
        iscale("l_extendedprice").alias("y"),
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    sums = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("q").cast("double").alias("sq"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.expr(f"CAST(q AS {dec}) * q")).cast("double").alias("sqq"),
            F.sum(F.expr(f"CAST(q AS {dec}) * y")).cast("double").alias("sqy"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    # r13 degenerate-corpus fix: a nation with constant quantity (e.g.
    # one lineitem) has zero design variance — ANSI Spark crashed
    # where DuckDB yields NULL slope/intercept (fit undefined); one
    # degenerate GROUP must not kill the other 24 nations' fits.
    slope = F.try_divide(
        F.col("n") * F.col("sqy") - F.col("sq") * F.col("sy"),
        F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq"),
    )
    return sums.select(
        "nation",
        "n_rows",
        fround(slope, 4).alias("slope_cents_per_unit"),
        fround((F.col("sy") - slope * F.col("sq")) / F.col("n"), 4).alias(
            "intercept_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Wilson lower-confidence-bound ranking (r6) — the "sort by LCB, not
# by rate" rule every ranking system learns the hard way: a segment
# with 3/3 high-priority orders must NOT outrank one with 950/1000.
# Wilson score interval at z = 1.96, entirely from the exact integer
# (pos, n) pair per segment through one fixed double op tree
# (sqrt is IEEE-correctly-rounded — the dstd discipline):
#
#   LCB = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
#
# 100 TB: one custkey join + 5-group aggregate; the LCB math runs on
# 5 rows.
# ---------------------------------------------------------------------------
_WILSON_Z = "CAST(1.96 AS DOUBLE)"  # a DECIMAL 1.96 squares exactly, off the double op tree


def _wilson_sql(p: str, n: str) -> str:
    z = _WILSON_Z
    return (
        f"(({p}) + {z}*{z}/(2.0*({n}))"
        f" - {z} * SQRT(({p})*(1.0-({p}))/({n}) + {z}*{z}/(4.0*({n})*({n}))))"
        f" / (1.0 + {z}*{z}/({n}))"
    )


@register(
    "wilson_lcb_category_ranking",
    oracle=f"""
        WITH seg AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS pos
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        ),
        scored AS (
            SELECT segment, n, pos,
                   {_wilson_sql('CAST(pos AS DOUBLE)/CAST(n AS DOUBLE)', 'CAST(n AS DOUBLE)')}
                       AS lcb
            FROM seg
        )
        SELECT segment, n, pos,
               {{RND}} AS wilson_lcb,
               CAST(ROW_NUMBER() OVER (ORDER BY lcb DESC, segment ASC)
                    AS BIGINT) AS lcb_rank
        FROM scored
    """.replace("{RND}", sql_round("lcb", 6)),
    doc=(
        "Wilson lower-confidence-bound (z=1.96) ranking of customer "
        "segments by high-priority order rate — uncertainty-aware "
        "ranking from exact (pos, n) integers through one fixed double "
        "op tree; the sort-by-LCB rule with a bit-exact oracle."
    ),
)
def wilson_lcb_category_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("pos"),
        )
    )
    scored = seg.withColumn(
        "lcb",
        F.expr(
            _wilson_sql(
                "CAST(pos AS DOUBLE)/CAST(n AS DOUBLE)", "CAST(n AS DOUBLE)"
            )
        ),
    )
    return scored.select(
        "segment",
        "n",
        "pos",
        fround(F.col("lcb"), 6).alias("wilson_lcb"),
        F.row_number()
        .over(W.orderBy(F.desc("lcb"), F.asc("segment")))
        .cast("long")
        .alias("lcb_rank"),
    )


# ---------------------------------------------------------------------------
# Quantile-boundary drift (r6) — PSI's complement: psi_feature_drift
# measures MASS shift across fixed bins; this measures where the
# QUANTILE BOUNDARIES themselves moved. Exact decile boundaries
# (P10..P90) of 1996 vs 1997 order values as order statistics (rank
# k·n DIV 10, clamped ≥1, orderkey tiebreak — no interpolation), with
# per-decile deltas and drift ppm. The pair (PSI, boundary drift) is
# the standard feature-monitoring dashboard row.
# 100 TB: two year-pruned scans; the rank windows are the global-rank
# class (two-phase scalable form past ~10⁷ rows/year); all math after
# is on the 9-row decile spine.
# ---------------------------------------------------------------------------
@register(
    "quantile_drift_boundaries",
    oracle=f"""
        WITH y96 AS (
            SELECT {sql_iscale('o_totalprice')} AS cents, o_orderkey
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
        ),
        y97 AS (
            SELECT {sql_iscale('o_totalprice')} AS cents, o_orderkey
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
        ),
        r96 AS (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk,
                   COUNT(*) OVER () AS n
            FROM y96
        ),
        r97 AS (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk,
                   COUNT(*) OVER () AS n
            FROM y97
        ),
        ks AS (SELECT UNNEST(RANGE(1, 10)) AS k),
        b96 AS (
            SELECT ks.k, MIN(r96.cents) AS b
            FROM ks JOIN r96 ON r96.rk = GREATEST(ks.k * r96.n // 10, 1)
            GROUP BY ks.k
        ),
        b97 AS (
            SELECT ks.k, MIN(r97.cents) AS b
            FROM ks JOIN r97 ON r97.rk = GREATEST(ks.k * r97.n // 10, 1)
            GROUP BY ks.k
        )
        SELECT CAST(b96.k AS BIGINT) AS decile,
               CAST(b96.b AS BIGINT) AS boundary_1996_cents,
               CAST(b97.b AS BIGINT) AS boundary_1997_cents,
               CAST(b97.b - b96.b AS BIGINT) AS delta_cents,
               CAST(ABS(b97.b - b96.b) * 1000000 // b96.b AS BIGINT)
                   AS drift_ppm
        FROM b96 JOIN b97 ON b96.k = b97.k
    """,
    doc=(
        "Exact decile-boundary drift between the 1996 and 1997 order-"
        "value distributions: order-statistic boundaries (rank k·n DIV "
        "10, orderkey tiebreak, no interpolation), per-decile delta + "
        "drift ppm — the quantile complement to psi_feature_drift's "
        "mass shift."
    ),
)
def quantile_drift_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each year's order-statistic rank runs through the two-phase
    ``global_rank_scalable`` (r9 verdict task 2) — no single-partition
    window over the fact-scale year slice; the total count joins back
    as a broadcast 1-row aggregate instead of a COUNT(*) OVER ()."""
    from stacktrend_spark.operators.ranking import global_rank_scalable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )

    # ONE pass for both years (r13, guide §2.4): the old per-year
    # boundaries() arms each scanned + range-shuffled + sorted the
    # orders slice separately (two full rank subtrees, two driver
    # offset collects). Ranking with the year as the LEADING order
    # key gives within-year rank = global rank − min(rank of year)
    # + 1 from a single sort; per-year counts ride the same
    # broadcast 1-row-per-year aggregate.
    both = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        F.when(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"),
            F.lit(1996),
        )
        .otherwise(F.lit(1997))
        .alias("yr"),
        iscale("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    r = global_rank_scalable(
        both,
        order_cols=[F.col("yr"), F.col("cents"), F.col("o_orderkey")],
        rank_col="rk",
    )
    per_year = r.groupBy("yr").agg(
        F.min("rk").alias("rk0"), F.count(F.lit(1)).alias("n")
    )
    rr = r.join(F.broadcast(per_year), "yr").select(
        "yr", "cents", (F.col("rk") - F.col("rk0") + 1).alias("rk_in"), "n"
    )
    ks = rr.sparkSession.range(1, 10).select(F.col("id").alias("k"))
    pivoted = (
        F.broadcast(ks)
        .join(rr, rr.rk_in == F.greatest(F.expr("k * n DIV 10"), F.lit(1)))
        .groupBy("k")
        .agg(
            F.min(F.when(F.col("yr") == 1996, F.col("cents"))).alias("b96"),
            F.min(F.when(F.col("yr") == 1997, F.col("cents"))).alias("b97"),
        )
        # inner-join parity of the old two-arm form: a k row exists
        # only when BOTH years produced a boundary
        .filter(F.col("b96").isNotNull() & F.col("b97").isNotNull())
    )
    return pivoted.select(
        F.col("k").cast("long").alias("decile"),
        F.col("b96").cast("long").alias("boundary_1996_cents"),
        F.col("b97").cast("long").alias("boundary_1997_cents"),
        (F.col("b97") - F.col("b96")).cast("long").alias("delta_cents"),
        F.expr("ABS(b97 - b96) * 1000000 DIV b96").cast("long").alias("drift_ppm"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa (r6) — chance-corrected agreement between two binary
# "raters" on every order: rater A = high order priority, rater B =
# finalized status ('F'). κ = (p_o − p_e)/(1 − p_e) from the 2×2
# confusion counts — all exact integers; the single division is one
# fixed double op tree over those integers. The label-quality /
# annotator-agreement primitive of a training-data pipeline (swap the
# raters for model-vs-human columns and the plan is unchanged).
# 100 TB: one map-side 2×2 conditional aggregate.
# ---------------------------------------------------------------------------
@register(
    "cohens_kappa_raters",
    oracle=f"""
        WITH c AS (
            SELECT
                CAST(SUM(CASE WHEN hi = 1 AND fi = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                CAST(SUM(CASE WHEN hi = 1 AND fi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                CAST(SUM(CASE WHEN hi = 0 AND fi = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                CAST(SUM(CASE WHEN hi = 0 AND fi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
            FROM (
                SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END AS hi,
                       CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS fi
                FROM orders
            )
        )
        SELECT n11, n10, n01, n00,
               CASE WHEN pe = 1.0 THEN NULL
                    ELSE {sql_round("(po - pe) / (1.0 - pe)", 6)}
               END AS cohens_kappa
        FROM (
            SELECT n11, n10, n01, n00,
                   (CAST(n11 AS DOUBLE) + n00)
                       / (n11 + n10 + n01 + n00) AS po,
                   ((CAST(n11 AS DOUBLE) + n10) * (n11 + n01)
                    + (CAST(n01 AS DOUBLE) + n00) * (n10 + n00))
                   / ((CAST(n11 AS DOUBLE) + n10 + n01 + n00)
                      * (n11 + n10 + n01 + n00)) AS pe
            FROM c
        )
    """,
    doc=(
        "Cohen's κ between two binary raters on orders (high priority "
        "vs finalized status): exact 2×2 confusion integers, one fixed "
        "double op tree — the annotator-agreement / label-quality "
        "primitive; swap raters for model-vs-human columns unchanged."
    ),
)
def cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fi"),
    )
    c = o.agg(
        F.sum(F.when((F.col("hi") == 1) & (F.col("fi") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("hi") == 1) & (F.col("fi") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("hi") == 0) & (F.col("fi") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("hi") == 0) & (F.col("fi") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    po = (F.col("n11").cast("double") + F.col("n00")) / n
    pe = (
        (F.col("n11").cast("double") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01").cast("double") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / ((F.col("n11").cast("double") + F.col("n10") + F.col("n01") + F.col("n00")) * n)
    # r13 property-campaign fix: when the raters agree perfectly
    # (pe = 1 — reachable on a one-row or all-identical slice) the
    # kappa denominator is exactly 0; Spark 4's default ANSI mode
    # turns that into a DIVIDE_BY_ZERO crash while DuckDB yields NaN.
    # Contract: kappa is UNDEFINED at pe = 1 → NULL on both sides.
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(pe == F.lit(1.0), F.lit(None).cast("double"))
        .otherwise(fround((po - pe) / (F.lit(1.0) - pe), 6))
        .alias("cohens_kappa"),
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size (r6) — the "is this difference MEANINGFUL"
# companion to abtest_two_proportion_z's significance: standardized
# mean difference of order value between BUILDING-segment customers
# and everyone else, with the pooled standard deviation derived from
# exact 128-bit per-group sums through one fixed double op tree.
# 100 TB: one custkey join + a 2-group sufficient-statistics agg.
# ---------------------------------------------------------------------------
@register(
    "cohens_d_segments",
    oracle=f"""
        WITH g AS (
            SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
                   {sql_iscale('o.o_totalprice')} AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        s AS (
            SELECT grp,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(y) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS s2,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM g GROUP BY grp
        ),
        w AS (
            SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                   MAX(CASE WHEN grp = 1 THEN s1 END) AS a1,
                   MAX(CASE WHEN grp = 1 THEN s2 END) AS q1,
                   MAX(CASE WHEN grp = 1 THEN n_rows END) AS nr1,
                   MAX(CASE WHEN grp = 0 THEN n END) AS n0,
                   MAX(CASE WHEN grp = 0 THEN s1 END) AS a0,
                   MAX(CASE WHEN grp = 0 THEN s2 END) AS q0,
                   MAX(CASE WHEN grp = 0 THEN n_rows END) AS nr0
            FROM s
        )
        SELECT nr1 AS n_building, nr0 AS n_rest,
               {sql_round(
                   "(a1/n1 - a0/n0) / SQRT("
                   " ((q1 - a1*a1/n1) + (q0 - a0*a0/n0)) / (n1 + n0 - 2.0))",
                   6,
               )} AS cohens_d
        FROM w
    """,
    doc=(
        "Cohen's d of order value, BUILDING segment vs rest: exact "
        "128-bit per-group sums, pooled-SD standardized mean "
        "difference in one fixed double op tree — the effect-size "
        "companion to the z-test's significance."
    ),
)
def cohens_d_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = "decimal(38,0)"
    g = o.join(c, o.o_custkey == c.c_custkey).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("grp"),
        iscale("o_totalprice").alias("y"),
    )
    s = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("s1"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).cast("double").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("q1"),
        F.max(F.when(F.col("grp") == 1, F.col("n_rows"))).alias("nr1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("a0"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("q0"),
        F.max(F.when(F.col("grp") == 0, F.col("n_rows"))).alias("nr0"),
    )
    d = (F.col("a1") / F.col("n1") - F.col("a0") / F.col("n0")) / F.sqrt(
        (
            (F.col("q1") - F.col("a1") * F.col("a1") / F.col("n1"))
            + (F.col("q0") - F.col("a0") * F.col("a0") / F.col("n0"))
        )
        / (F.col("n1") + F.col("n0") - F.lit(2.0))
    )
    return w.select(
        F.col("nr1").alias("n_building"),
        F.col("nr0").alias("n_rest"),
        fround(d, 6).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# Dispersion index (r6) — variance-to-mean ratio of lines-per-order
# (the basket-size distribution): 1 = Poisson, >1 over-dispersed
# (bursty baskets), <1 under-dispersed (regular). Mean and variance
# from exact integer sums (Σk, Σk² over per-order line counts) through
# one fixed double op tree; the distributional sanity check behind
# every "assume Poisson arrivals" capacity model.
# 100 TB: one orderkey count aggregate + one 1-row reduce.
# ---------------------------------------------------------------------------
@register(
    "dispersion_index_basket",
    oracle=f"""
        WITH k AS (
            SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
            FROM lineitem GROUP BY 1
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(k) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS s2
            FROM k
        )
        SELECT n_orders,
               {sql_round('s1 / n', 6)} AS mean_lines,
               {sql_round('(s2/n - (s1/n)*(s1/n)) / (s1/n)', 6)}
                   AS dispersion_index
        FROM s
    """,
    doc=(
        "Variance-to-mean dispersion index of lines-per-order (1 = "
        "Poisson, >1 bursty, <1 regular): exact integer count sums, "
        "population variance, one fixed double op tree — the "
        "distributional sanity check behind Poisson capacity models."
    ),
)
def dispersion_index_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("k"))
    dec = "decimal(38,0)"
    s = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("k").cast("double").alias("s1"),
        F.sum(F.expr(f"CAST(k AS {dec}) * k")).cast("double").alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    return s.select(
        "n_orders",
        fround(mu, 6).alias("mean_lines"),
        fround((F.col("s2") / F.col("n") - mu * mu) / mu, 6).alias(
            "dispersion_index"
        ),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (r7) — completes the anonymity triad: k_anonymity
# (class sizes), l_diversity (distinct sensitive values), t-closeness
# (DISTRIBUTION distance — a class can be large and diverse yet still
# leak because its sensitive mix differs from the population's). Per
# QI class (nation × segment): total-variation distance between the
# class-conditional sensitive distribution (balance band) and the
# global one, in EXACT integers over the common denominator k·N:
#
#   tv_num = Σ_{s present} |n_cs·N − n_s·k| + k·(N − Σ_{s present} n_s)
#   TV     = tv_num / (2·k·N)        → reported as exact ppm (DIV)
#
# The second term folds every band ABSENT from the class without ever
# materializing the class × band cross product.
# 100 TB: one (class, band) aggregate, class sizes joined on the QI
# key, global band counts BROADCAST; products stay < 2⁶³ up to ~10⁹
# customers x 10⁶-row classes — route through DECIMAL(38,0) beyond.
# ---------------------------------------------------------------------------
_T_PPM = 300_000  # flag classes with TV > 0.30


@register(
    "t_closeness_audit",
    oracle=f"""
        WITH cs AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
                   CAST(COUNT(*) AS BIGINT) AS n_cs
            FROM customer GROUP BY 1, 2, 3
        ),
        cls AS (
            SELECT c_nationkey, c_mktsegment, CAST(SUM(n_cs) AS BIGINT) AS k
            FROM cs GROUP BY 1, 2
        ),
        gl AS (
            SELECT band, CAST(SUM(n_cs) AS BIGINT) AS n_s FROM cs GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM gl),
        terms AS (
            SELECT c.c_nationkey, c.c_mktsegment, cl.k,
                   CAST(SUM(ABS(c.n_cs * t.n - g.n_s * cl.k)) AS BIGINT)
                       AS present_num,
                   CAST(SUM(g.n_s) AS BIGINT) AS present_ns
            FROM cs c
            JOIN cls cl ON c.c_nationkey = cl.c_nationkey
                       AND c.c_mktsegment = cl.c_mktsegment
            JOIN gl g ON c.band = g.band
            CROSS JOIN tot t
            GROUP BY 1, 2, 3
        )
        SELECT t1.c_nationkey, t1.c_mktsegment, t1.k,
               CAST((t1.present_num + t1.k * (t.n - t1.present_ns))
                    * 1000000 // (2 * t1.k * t.n) AS BIGINT) AS tv_ppm,
               (t1.present_num + t1.k * (t.n - t1.present_ns)) * 1000000
                   // (2 * t1.k * t.n) > {_T_PPM} AS exceeds_t
        FROM terms t1 CROSS JOIN tot t
    """,
    doc=(
        "t-closeness audit (QI = nation x segment, sensitive = balance "
        "band): exact-ppm total-variation distance between each class's "
        "sensitive distribution and the global one; absent bands folded "
        "algebraically - no class x band cross product."
    ),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cs = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_cs"))
    cls = cs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_cs").cast("long").alias("k")
    )
    gl = cs.groupBy("band").agg(F.sum("n_cs").cast("long").alias("n_s"))
    tot = gl.agg(F.sum("n_s").cast("long").alias("n"))
    terms = (
        cs.join(cls, ["c_nationkey", "c_mktsegment"])
        .join(F.broadcast(gl), "band")
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "k")
        .agg(
            F.sum(F.abs(F.col("n_cs") * F.col("n") - F.col("n_s") * F.col("k")))
            .cast("long")
            .alias("present_num"),
            F.sum("n_s").cast("long").alias("present_ns"),
        )
    )
    out = terms.crossJoin(F.broadcast(tot))
    tv_ppm = F.expr(
        "(present_num + k * (n - present_ns)) * 1000000 DIV (2 * k * n)"
    )
    return out.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        tv_ppm.cast("long").alias("tv_ppm"),
        (tv_ppm > _T_PPM).alias("exceeds_t"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (r7) — the missing omnibus test beside the pairwise
# family (cohens_d_segments, abtest_two_proportion_z): does order
# priority explain any variance in order value? Fully integer-exact:
# values quantize to whole currency units, the between/within sums of
# squares come from the ONE-PASS identities
#     SSW = Σx² − Σ_g s_g²/n_g          SSB = Σ_g s_g²/n_g − s²/N
# with every s_g²/n_g TRUNCATED to an integer (DECIMAL(38,0) DIV) so
# the 5-term cross-group sums are order-free integers — both engines
# produce identical bits with no double summation anywhere. The
# quantization error is < k units² — invisible at ppm output grain.
# Overflow ledger: s_g ≤ N·2e5 units → s_g² < 1e38 for N up to ~1e16
# rows (decimal(38,0) / HUGEINT); term_g = s_g² DIV n_g stays ≤ BIGINT
# through ~1e11 rows/group — parity-gate machinery bounds, same class
# as functions/rounding.py's note.
# 100 TB: one scan → 5-row group aggregate + 1-row total; everything
# downstream is arithmetic on ≤ 6 rows.
# ---------------------------------------------------------------------------
@register(
    "anova_oneway_f",
    oracle="""
        WITH vals AS (
            SELECT o_orderpriority AS g,
                   CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders
        ),
        cells AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(x) AS BIGINT)   AS s1_g
            FROM vals GROUP BY 1
        ),
        terms AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                   CAST(SUM(n_g) AS BIGINT) AS n_total,
                   CAST(SUM(s1_g) AS BIGINT) AS s1_tot,
                   CAST(SUM(CAST(CAST(s1_g AS HUGEINT) * s1_g // n_g AS BIGINT))
                        AS BIGINT) AS sum_term
            FROM cells
        ),
        tot AS (
            SELECT CAST(SUM(CAST(CAST(x AS HUGEINT) * x AS HUGEINT)) AS BIGINT)
                       AS s2_tot
            FROM vals
        ),
        ss AS (
            SELECT t.n_total, t.k_groups,
                   t.sum_term
                     - CAST(CAST(t.s1_tot AS HUGEINT) * t.s1_tot // t.n_total
                            AS BIGINT)                        AS ssb_units2,
                   tot.s2_tot - t.sum_term                    AS ssw_units2
            FROM terms t CROSS JOIN tot
        )
        SELECT n_total, k_groups, ssb_units2, ssw_units2,
               CAST(CAST(ssb_units2 AS HUGEINT) * (n_total - k_groups) * 1000000
                    // (CAST(ssw_units2 AS HUGEINT) * (k_groups - 1))
                    AS BIGINT)                                AS f_micro,
               CAST(CAST(ssb_units2 AS HUGEINT) * 1000000
                    // (ssb_units2 + ssw_units2) AS BIGINT)   AS eta2_ppm
        FROM ss
    """,
    doc=(
        "One-way ANOVA omnibus (order value ~ priority): integer-"
        "truncated SSB/SSW from one-pass sufficient statistics, "
        "F and eta-squared in exact µ/ppm units — no double summation "
        "on any hashed surface."
    ),
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "DECIMAL(38,0)"
    vals = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("x"),
    )
    cells = vals.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s1_g"),
    )
    terms = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("s1_g").cast("long").alias("s1_tot"),
        F.sum(
            F.expr(f"CAST(CAST(s1_g AS {dec}) * s1_g DIV n_g AS BIGINT)")
        )
        .cast("long")
        .alias("sum_term"),
    )
    tot = vals.agg(
        F.sum(F.expr(f"CAST(CAST(x AS {dec}) * x AS {dec})"))
        .cast("long")
        .alias("s2_tot")
    )
    ss = (
        terms.join(F.broadcast(tot))
        .select(
            "n_total",
            "k_groups",
            F.expr(
                f"sum_term - CAST(CAST(s1_tot AS {dec}) * s1_tot DIV n_total"
                f" AS BIGINT)"
            ).alias("ssb_units2"),
            F.expr("s2_tot - sum_term").alias("ssw_units2"),
        )
    )
    # r13 degenerate-corpus fix: one group (k = 1) or zero
    # within-group variance (ssw = 0) zeroes the F denominator, and an
    # all-equal corpus zeroes ssb + ssw — ANSI Spark crashed on the
    # integer DIV where DuckDB yields NULL (the omnibus is undefined
    # there). Explicit NULL guards restore parity.
    return ss.select(
        "n_total",
        "k_groups",
        "ssb_units2",
        "ssw_units2",
        F.expr(
            f"CASE WHEN ssw_units2 = 0 OR k_groups = 1 THEN NULL"
            f" ELSE CAST(CAST(ssb_units2 AS {dec})"
            f" * (n_total - k_groups) * 1000000"
            f" DIV (CAST(ssw_units2 AS {dec}) * (k_groups - 1))"
            f" AS BIGINT) END"
        ).alias("f_micro"),
        F.expr(
            f"CASE WHEN ssb_units2 + ssw_units2 = 0 THEN NULL"
            f" ELSE CAST(CAST(ssb_units2 AS {dec}) * 1000000"
            f" DIV (ssb_units2 + ssw_units2) AS BIGINT) END"
        ).alias("eta2_ppm"),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H (r7) — the rank-based omnibus twin of
# anova_oneway_f, robust to the value distribution. Ranks are the
# TIE-BROKEN total order (value, o_orderkey) — deterministic across
# engines by construction (the classic mid-rank tie correction would
# reintroduce doubles; on a continuous-valued column the difference is
# negligible and the contract is documented). Spark ranks via the
# two-phase range-partitioned row numbering (operators/ranking.py) —
# no single-partition window over the fact table; the oracle uses the
# plain window, asserting the distributed rank IS the total-order rank.
#     H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
# computed with R_g²/n_g truncated to integers (order-free cross-group
# sum), H in exact µ units through 128-bit products.
# 100 TB: one range shuffle + O(#partitions) offsets + 5-row group
# aggregate. R_g² < 1e38 holds through ~1e12 total rows.
# ---------------------------------------------------------------------------
@register(
    "kruskal_wallis_h",
    oracle="""
        WITH vals AS (
            SELECT o_orderpriority AS g,
                   CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x,
                   o_orderkey
            FROM orders
        ),
        ranked AS (
            SELECT g, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS r
            FROM vals
        ),
        cells AS (
            SELECT g,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(r) AS BIGINT)   AS r_g
            FROM ranked GROUP BY 1
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT)  AS k_groups,
                   CAST(SUM(n_g) AS BIGINT)  AS n_total,
                   CAST(SUM(r_g) AS BIGINT)  AS sum_ranks,
                   CAST(SUM(CAST(CAST(r_g AS HUGEINT) * r_g // n_g AS BIGINT))
                        AS BIGINT)           AS sum_term
            FROM cells
        )
        SELECT n_total, k_groups,
               sum_ranks = n_total * (n_total + 1) // 2 AS rank_sum_ok,
               CAST(CAST(12 AS HUGEINT) * sum_term * 1000000
                    // (CAST(n_total AS HUGEINT) * (n_total + 1))
                    - CAST(3000000 AS HUGEINT) * (n_total + 1)
                    AS BIGINT)                          AS h_micro
        FROM agg
    """,
    doc=(
        "Kruskal-Wallis rank omnibus (tie-broken total-order ranks, "
        "two-phase distributed ranking, integer-truncated "
        "R_g^2/n_g terms, H in exact µ units)."
    ),
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    dec = "DECIMAL(38,0)"
    vals = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("x"),
        "o_orderkey",
    )
    ranked = global_rank_scalable(
        vals, [F.col("x"), F.col("o_orderkey")], rank_col="r"
    )
    cells = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("r").cast("long").alias("r_g"),
    )
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("r_g").cast("long").alias("sum_ranks"),
        F.sum(F.expr(f"CAST(CAST(r_g AS {dec}) * r_g DIV n_g AS BIGINT)"))
        .cast("long")
        .alias("sum_term"),
    )
    return agg.select(
        "n_total",
        "k_groups",
        F.expr("sum_ranks = n_total * (n_total + 1) DIV 2").alias("rank_sum_ok"),
        F.expr(
            f"CAST(CAST(12 AS {dec}) * sum_term * 1000000"
            f" DIV (CAST(n_total AS {dec}) * (n_total + 1))"
            f" - CAST(3000000 AS {dec}) * (n_total + 1) AS BIGINT)"
        ).alias("h_micro"),
    )


# ---------------------------------------------------------------------------
# Experimentation analytics (r7 batch 10) — the three audits an
# A/B-testing platform runs on every experiment readout:
# CUPED variance reduction (Deng et al. 2013, WSDM — "Improving the
# sensitivity of online controlled experiments"), the
# difference-in-differences estimator, and the sample-ratio-mismatch
# guardrail. All on exact-integer sufficient statistics; the only
# doubles are single correctly-rounded op trees over exact ints
# (the dstd discipline), rounded via the shared formula.
# ---------------------------------------------------------------------------
_CUPED_CUTOFF = "1998-01-01"   # pre-period strictly before (testdata orders span 1995-2001)


@register(
    "cuped_variance_reduction",
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CASE WHEN o_orderdate <  DATE '{_CUPED_CUTOFF}'
                        THEN CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN o_orderdate >= DATE '{_CUPED_CUTOFF}'
                        THEN CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
            FROM per_cust
        )
        SELECT n AS n_units,
               {{TH}} AS theta_micro,
               {{R2}} AS rho2_ppm
        FROM (
            SELECT n,
                   CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n,
                   CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n
            FROM m
        )
    """.replace(
        "{TH}", "CAST(FLOOR(cov_n / varx_n * 1000000.0 + 0.5) AS BIGINT)"
    ).replace(
        "{R2}",
        "CAST(FLOOR(cov_n * cov_n / (varx_n * vary_n) * 1000000.0 + 0.5) AS BIGINT)",
    ),
    doc=(
        "CUPED variance reduction: theta = cov(pre,post)/var(pre) and "
        "the achieved variance-reduction fraction rho^2 (exact-integer "
        "co-moments, one correctly-rounded double op tree, µ/ppm "
        "outputs). Var(Y - theta*X) = (1 - rho^2) Var(Y)."
    ),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: one groupBy(custkey) pass builds per-unit (pre, post)
    pairs; the co-moments collapse to ONE row of exact integers
    (HUGEINT/decimal-widened products exact past 1e12 units); theta
    and rho^2 come from identical IEEE op trees in both engines."""
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("units"),
    )
    cut = F.lit(_CUPED_CUTOFF).cast("date")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cut, F.col("units")).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("o_orderdate") >= cut, F.col("units")).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    m = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * y")).alias("sxy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * x")).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("syy"),
    )
    t = m.select(
        "n",
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        ).alias("cov_n"),
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ).alias("varx_n"),
        (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        ).alias("vary_n"),
    )
    # r13 degenerate-corpus fix: zero pre-period variance (e.g. a
    # single unit) made ANSI Spark crash on cov/var where DuckDB
    # yields NULL (theta undefined without pre-period signal);
    # try_divide restores the NULL path for theta and rho².
    return t.select(
        F.col("n").alias("n_units"),
        F.floor(
            F.try_divide(F.col("cov_n"), F.col("varx_n")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("theta_micro"),
        F.floor(
            F.try_divide(
                F.col("cov_n") * F.col("cov_n"),
                F.col("varx_n") * F.col("vary_n"),
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rho2_ppm"),
    )


@register(
    "did_revenue_estimator",
    oracle=f"""
        WITH cells AS (
            SELECT (c.c_mktsegment = 'BUILDING')                    AS treated,
                   (o.o_orderdate >= DATE '{_CUPED_CUTOFF}')        AS post,
                   CAST(COUNT(*) AS BIGINT)                         AS n,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT)                                  AS s_cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated AND post THEN CAST(s_cents AS DOUBLE) / n END)         AS m_t_post,
                MAX(CASE WHEN treated AND NOT post THEN CAST(s_cents AS DOUBLE) / n END)     AS m_t_pre,
                MAX(CASE WHEN NOT treated AND post THEN CAST(s_cents AS DOUBLE) / n END)     AS m_c_post,
                MAX(CASE WHEN NOT treated AND NOT post THEN CAST(s_cents AS DOUBLE) / n END) AS m_c_pre,
                CAST(SUM(n) AS BIGINT) AS n_total
            FROM cells
        )
        SELECT n_total,
               CAST(FLOOR(m_t_post * 100.0 + 0.5) AS BIGINT)  AS mean_t_post_c,
               CAST(FLOOR(m_t_pre  * 100.0 + 0.5) AS BIGINT)  AS mean_t_pre_c,
               CAST(FLOOR(m_c_post * 100.0 + 0.5) AS BIGINT)  AS mean_c_post_c,
               CAST(FLOOR(m_c_pre  * 100.0 + 0.5) AS BIGINT)  AS mean_c_pre_c,
               CAST(FLOOR(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                          * 100.0 + 0.5) AS BIGINT)           AS did_centicents
        FROM wide
    """,
    doc=(
        "Difference-in-differences: 2x2 (treated=BUILDING x pre/post) "
        "mean order value from exact cents sums, DiD estimate through "
        "one correctly-rounded op tree (centicent grain)."
    ),
)
def did_revenue_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.rounding import iscale

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", iscale("o_totalprice").alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            (F.col("o_orderdate") >= F.lit(_CUPED_CUTOFF).cast("date")).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s_cents"),
        )
    )
    mean = F.col("s_cents").cast("double") / F.col("n")
    wide = cells.agg(
        F.max(F.when(F.col("treated") & F.col("post"), mean)).alias("m_t_post"),
        F.max(F.when(F.col("treated") & ~F.col("post"), mean)).alias("m_t_pre"),
        F.max(F.when(~F.col("treated") & F.col("post"), mean)).alias("m_c_post"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), mean)).alias("m_c_pre"),
        F.sum("n").cast("long").alias("n_total"),
    )

    def cc(col: F.Column) -> F.Column:
        return F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long")

    return wide.select(
        "n_total",
        cc(F.col("m_t_post")).alias("mean_t_post_c"),
        cc(F.col("m_t_pre")).alias("mean_t_pre_c"),
        cc(F.col("m_c_post")).alias("mean_c_post_c"),
        cc(F.col("m_c_pre")).alias("mean_c_pre_c"),
        cc(
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        ).alias("did_centicents"),
    )


@register(
    "srm_allocation_check",
    oracle=f"""
        WITH assigned AS (
            SELECT c_mktsegment AS segment,
                   ({sql_hex40("'srm|' || c_custkey")}) % 2 AS arm
            FROM customer
        ),
        counts AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT)                       AS n,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM assigned GROUP BY 1
        )
        SELECT segment, n, n_a, n_b,
               CAST((n_a - n_b) * (n_a - n_b) * 1000000 // n AS BIGINT)
                   AS chi2_micro,
               (n_a - n_b) * (n_a - n_b) * 1000000 // n > 3841459
                   AS srm_flag
        FROM counts
    """,
    doc=(
        "Sample-ratio-mismatch guardrail: hash-assigned 50/50 arms per "
        "segment, chi-square statistic (obs-exp)^2/exp in exact µ "
        "units, flagged past the 3.841 critical value (p<0.05, df=1)."
    ),
)
def srm_allocation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: assignment is a map-side hash; one |segments|-row
    aggregate. chi2 for a 50/50 split reduces to (n_a−n_b)²/n — exact
    integers end to end."""
    from stacktrend_spark.functions.hashing import spark_hex40

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    assigned = cust.select(
        F.col("c_mktsegment").alias("segment"),
        (spark_hex40(F.concat(F.lit("srm|"), F.col("c_custkey"))) % 2).alias("arm"),
    )
    counts = assigned.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return counts.select(
        "segment",
        "n",
        "n_a",
        "n_b",
        F.expr("CAST((n_a - n_b) * (n_a - n_b) * 1000000 DIV n AS BIGINT)").alias(
            "chi2_micro"
        ),
        F.expr("(n_a - n_b) * (n_a - n_b) * 1000000 DIV n > 3841459").alias(
            "srm_flag"
        ),
    )


# ---------------------------------------------------------------------------
# Neyman optimal allocation (r7) — the survey-sampling design step
# beside the proportional stratified sampler (sample_stratified_hash):
# allocate a fixed budget K across strata proportionally to n_h·s_h
# (stddev-weighted — more sample where there is more variance), with
# LARGEST-REMAINDER integer rounding so Σ alloc_h = K EXACTLY (mass
# conservation by construction, ties on segment name). s_h comes from
# the deterministic dstd tree (exact scaled-integer moments → one
# correctly-rounded IEEE op tree), so both engines compute identical
# weights, identical floors, identical remainder ranks.
# 100 TB: one |strata|-row sufficient-statistics aggregate; the
# allocation arithmetic runs on ≤ 5 rows.
# ---------------------------------------------------------------------------
_NEYMAN_K = 1000


@register(
    "neyman_allocation_plan",
    oracle=f"""
        WITH stats AS (
            SELECT c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n_h,
                   {sql_dstd('c_acctbal')}  AS s_h
            FROM customer GROUP BY 1
        ),
        w AS (
            SELECT segment, n_h, s_h,
                   CAST(n_h AS DOUBLE) * s_h AS wt
            FROM stats
        ),
        tot AS (SELECT SUM(wt) AS wsum FROM w),
        base AS (
            SELECT segment, n_h, s_h, wt,
                   FLOOR(wt * {_NEYMAN_K} / tot.wsum)      AS alloc_floor,
                   wt * {_NEYMAN_K} / tot.wsum
                     - FLOOR(wt * {_NEYMAN_K} / tot.wsum)  AS frac
            FROM w CROSS JOIN tot
        ),
        seats AS (SELECT {_NEYMAN_K} - SUM(alloc_floor) AS r FROM base),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, segment) AS rk
            FROM base
        )
        SELECT segment, n_h, s_h,
               CAST(alloc_floor + CASE WHEN rk <= seats.r THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_n
        FROM ranked CROSS JOIN seats
    """,
    doc=(
        f"Neyman optimal allocation of K={_NEYMAN_K} samples across "
        "market segments (weights n_h*stddev_h from the deterministic "
        "dstd tree), largest-remainder integer rounding — allocations "
        "sum to exactly K."
    ),
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W2

    stats = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            dstd("c_acctbal").alias("s_h"),
        )
    )
    w = stats.withColumn("wt", F.col("n_h").cast("double") * F.col("s_h"))
    tot = w.agg(F.sum("wt").alias("wsum"))
    base = w.join(F.broadcast(tot)).select(
        "segment",
        "n_h",
        "s_h",
        F.floor(F.col("wt") * _NEYMAN_K / F.col("wsum")).alias("alloc_floor"),
        (
            F.col("wt") * _NEYMAN_K / F.col("wsum")
            - F.floor(F.col("wt") * _NEYMAN_K / F.col("wsum"))
        ).alias("frac"),
    )
    seats = base.agg((F.lit(_NEYMAN_K) - F.sum("alloc_floor")).alias("r"))
    ranked = base.withColumn(
        # bounded |strata|-row frame: single-partition by construction
        "rk",
        F.row_number().over(W2.orderBy(F.desc("frac"), F.col("segment"))),
    )
    return (
        ranked.join(F.broadcast(seats))
        .select(
            "segment",
            "n_h",
            "s_h",
            (
                F.col("alloc_floor")
                + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_n"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control (r8) — the multiple-testing layer the
# experimentation family was missing: m per-segment two-proportion
# tests (is this segment's high-value-order rate different from the
# global rate?) corrected by the BH step-up procedure at alpha=0.10.
# p-values are the CHEBYSHEV bound p <= 1/z^2 — a conservative,
# distribution-free surrogate chosen because it is an exact rational
# (normal-CDF p-values would hit the engine-dependent erf lottery);
# the BH mechanics (sort, compare to rank*alpha/m, step-up) are the
# operator under test and are exact integer arithmetic either way.
#
# 100 TB: the fact scan folds to ONE m-row aggregate (m = #segments);
# everything after — quantized z^2, p, ranks, the step-up max — runs
# on those m rows (bounded spine; the global window is m<=5 rows by
# construction). dp_ppm^2 * n fits int64 through n ~ 10^6 per segment;
# beyond that the same fold switches to DecimalType (SCALE.md numeric
# policy).
# ---------------------------------------------------------------------------
_BH_ALPHA_PPM = 100_000  # alpha = 0.10
_BH_CENTS = 20_000_000   # "high-value order" threshold: > $200k


@register(
    "bh_fdr_segment_tests",
    oracle=f"""
        WITH o AS (
            SELECT c.c_mktsegment AS segment,
                   CASE WHEN CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
                             > {_BH_CENTS} THEN 1 ELSE 0 END AS hi
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        seg AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(hi) AS BIGINT) AS k
            FROM o GROUP BY segment
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(k) AS BIGINT) AS kk,
                   CAST(COUNT(*) AS BIGINT) AS m
            FROM seg
        ),
        z AS (
            SELECT s.segment, s.n, s.k, t.m,
                   (s.k * 1000000 // s.n - t.kk * 1000000 // t.nn) AS dp_ppm,
                   (t.kk * 1000000 // t.nn) AS p0_ppm
            FROM seg s CROSS JOIN tot t
        ),
        p AS (
            SELECT segment, n, k, m,
                   LEAST(1000000, 1000000000000 // GREATEST(
                       dp_ppm * dp_ppm * n
                       // GREATEST(p0_ppm * (1000000 - p0_ppm) // 1000000, 1),
                       1)) AS p_ppm
            FROM z
        ),
        ranked AS (
            SELECT segment, n, k, m, p_ppm,
                   ROW_NUMBER() OVER (ORDER BY p_ppm, segment) AS rnk
            FROM p
        ),
        stepped AS (
            SELECT *,
                   rnk * {_BH_ALPHA_PPM} // m AS thr_ppm,
                   MAX(CASE WHEN p_ppm <= rnk * {_BH_ALPHA_PPM} // m
                            THEN rnk ELSE 0 END) OVER () AS kstar
            FROM ranked
        )
        SELECT segment,
               CAST(n AS BIGINT)       AS n,
               CAST(k AS BIGINT)       AS k_high,
               CAST(p_ppm AS BIGINT)   AS p_ppm,
               CAST(rnk AS BIGINT)     AS rnk,
               CAST(thr_ppm AS BIGINT) AS thr_ppm,
               CAST(CASE WHEN rnk <= kstar THEN 1 ELSE 0 END AS BIGINT)
                                       AS rejected
        FROM stepped
    """,
    doc=(
        "Benjamini-Hochberg step-up FDR control (alpha=0.10) over "
        "per-segment two-proportion tests; Chebyshev-bounded exact "
        "rational p-values (no erf), rank thresholds and the step-up "
        "max all exact integers on the m-row segment spine."
    ),
)
def bh_fdr_segment_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (iscale("o_totalprice") > _BH_CENTS).cast("int").alias("hi"),
    )
    seg = o.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hi").cast("long").alias("k"),
    )
    tot = seg.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("k").cast("long").alias("kk"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    z = seg.join(F.broadcast(tot)).select(
        "segment",
        "n",
        "k",
        "m",
        F.expr("k * 1000000 DIV n - kk * 1000000 DIV nn").alias("dp_ppm"),
        F.expr("kk * 1000000 DIV nn").alias("p0_ppm"),
    )
    p = z.select(
        "segment",
        "n",
        "k",
        "m",
        F.expr(
            "LEAST(1000000, 1000000000000 DIV GREATEST("
            "dp_ppm * dp_ppm * n"
            " DIV GREATEST(p0_ppm * (1000000 - p0_ppm) DIV 1000000, 1), 1))"
        ).alias("p_ppm"),
    )
    # m-row spine by construction (segments) — the global window is
    # bounded, not corpus-sized
    win = W.orderBy("p_ppm", "segment")
    ranked = p.withColumn("rnk", F.row_number().over(win))
    stepped = ranked.select(
        "segment",
        "n",
        F.col("k").alias("k_high"),
        "p_ppm",
        "rnk",
        F.expr(f"rnk * {_BH_ALPHA_PPM} DIV m").alias("thr_ppm"),
        F.max(
            F.expr(f"CASE WHEN p_ppm <= rnk * {_BH_ALPHA_PPM} DIV m THEN rnk ELSE 0 END")
        )
        .over(W.partitionBy())
        .alias("kstar"),
    )
    return stepped.select(
        "segment",
        "n",
        "k_high",
        "p_ppm",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("thr_ppm").cast("long").alias("thr_ppm"),
        (F.col("rnk") <= F.col("kstar")).cast("long").alias("rejected"),
    )


# ---------------------------------------------------------------------------
# SPRT sequential monitor (r8) — Wald's sequential probability ratio
# test as a daily experiment monitor: per arm, the cumulative Bernoulli
# log-likelihood ratio for H1: p=0.55 vs H0: p=0.50 over the event
# stream's day spine, with the alpha=beta=0.05 decision boundaries
# ln(19) = +/-2.944439. The per-success/per-failure LLR increments are
# CONSTANTS, precomputed once in Python and embedded as identical
# micro-nat integer literals in BOTH engines — so every cumulative
# value is an exact integer and the crossing day is deterministic.
#
# 100 TB: the event scan folds to one (arm, day) aggregate (2 x 30
# rows here; #arms x #days generally); the cumulative window is
# partitioned by arm over the bounded day spine.
# ---------------------------------------------------------------------------
_SPRT_LA = 95_310     # round(ln(0.55/0.50) * 1e6)
_SPRT_LB = -105_361   # round(ln(0.45/0.50) * 1e6)
_SPRT_BOUND = 2_944_439  # round(ln(0.95/0.05) * 1e6)
_SPRT_THRESH = 245.0  # success = event value above this (~p=0.5)


@register(
    "sprt_sequential_monitor",
    oracle=f"""
        WITH e AS (
            SELECT user_id % 2 AS arm,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
                   CASE WHEN value > {_SPRT_THRESH} THEN 1 ELSE 0 END AS s
            FROM events
        ),
        d AS (
            SELECT arm, day_no, CAST(COUNT(*) AS BIGINT) AS t,
                   CAST(SUM(s) AS BIGINT) AS s
            FROM e GROUP BY 1, 2
        ),
        c AS (
            SELECT arm, day_no, t, s,
                   SUM(s * {_SPRT_LA} + (t - s) * ({_SPRT_LB}))
                       OVER (PARTITION BY arm ORDER BY day_no) AS llr
            FROM d
        )
        SELECT CAST(arm AS BIGINT)    AS arm,
               day_no,
               t                      AS n_trials,
               s                      AS n_success,
               CAST(llr AS BIGINT)    AS llr_micro,
               CASE WHEN llr >= {_SPRT_BOUND} THEN 'accept_h1'
                    WHEN llr <= -{_SPRT_BOUND} THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM c
    """,
    doc=(
        "Wald SPRT daily monitor: per-arm cumulative Bernoulli LLR "
        "(H1 p=0.55 vs H0 p=0.50) in exact micro-nat integers with "
        "ln(19) boundaries; increments are shared precomputed integer "
        "literals so both engines agree bitwise."
    ),
)
def sprt_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    d = (
        ev.select(
            (F.col("user_id") % 2).cast("long").alias("arm"),
            F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day_no"),
            (F.col("value") > _SPRT_THRESH).cast("int").alias("s"),
        )
        .groupBy("arm", "day_no")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trials"),
            F.sum("s").cast("long").alias("n_success"),
        )
    )
    win = W.partitionBy("arm").orderBy("day_no")
    c = d.withColumn(
        "llr_micro",
        F.sum(
            F.expr(
                f"n_success * {_SPRT_LA} + (n_trials - n_success) * ({_SPRT_LB})"
            )
        )
        .over(win)
        .cast("long"),
    )
    return c.select(
        "arm",
        "day_no",
        "n_trials",
        "n_success",
        "llr_micro",
        F.when(F.col("llr_micro") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("llr_micro") <= -_SPRT_BOUND, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
