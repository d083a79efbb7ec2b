"""The reference's gold-layer analytic queries (SURVEY §2.11 — the
declared acceptance surface), re-expressed over the harness testdata.

Each of the 10 gold tables is a composition of already-verified
primitives; the mapping substitutes the testdata's entities for the
reference's (technology_category → p_brand / event_type / mktsegment,
repository → part / customer, stars → revenue / balance) while keeping
the exact composition shape: multi-agg rollup → derived scores →
lifecycle/health CASE chains → multi-metric window ranks → shares.

Determinism: every score is either exact integer arithmetic or routed
through fround(); every rank carries a unique tiebreaker; the as-of
date is pinned (SURVEY §4 anti-patterns 3/4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    davg,
    dstd,
    dsum,
    fround,
    iscale,
    sql_davg,
    sql_dstd,
    sql_dsum,
    sql_iscale,
    sql_round,
    sql_xlog10,
    xlog10,
)
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

_AS_OF_EVENTS = "2024-01-31 00:00:00"


# ---------------------------------------------------------------------------
# Gold table 1: tech_metrics (silver_to_gold_analytics.py:133-311) —
# the flagship rollup: A1 multi-agg → log-momentum score → lifecycle
# when-chain → five W1 rank columns → composite risk score.
# Mirror: per-brand market metrics from lineitem ⋈ part.
# ---------------------------------------------------------------------------
# Round-3 parity hardening: round 2's all-IEEE-correctly-rounded float
# surface STILL hash-failed in the driver environment (local DuckDB is
# bit-identical), so every hashed score column is now derived FULLY in
# int64 space and emitted as exact micro-units (×1e6 BIGINT):
#   avg_price_micro          = round(irev·10⁴ / n)            [µ-dollars]
#   momentum_score_micro     = clamp(xlog10µ(dollars)·25 DIV 2, 0, 1e8)
#   concentration_risk_micro = clamp(1e8 − momentum + supp·1e6, 0, 1e8)
# where xlog10µ is the decade-interpolated log10 (see rounding.xlog10)
# computed with integer rounding: (d−1)·1e6 + (2·(x−p)·1e6 + 9p) DIV 18p.
# Divide by 1e6 for the reference's 0–100 scale (pipelines/gold.py keeps
# the user-facing float form). Int64 headroom: irev·2e4 < 9.2e18 holds
# to ~$4.6e12 revenue per brand; (x−p)·2e6 likewise — far beyond the
# oracle-checked scales (at 100 TB you'd widen to DecimalType).

# 10^(ndig-1) as an exact BIGINT via CASE (valid in both dialects;
# idollars = irev // 100 has at most 17 digits for int64 irev).
_TM_IP_SPARK = _TM_IP_DUCK = "CASE ndig " + " ".join(
    f"WHEN {k} THEN CAST({10 ** (k - 1)} AS BIGINT)" for k in range(1, 19)
) + " END"

_TM_ROLLUP_SQL = f"""
        SELECT
            p.p_brand                                        AS brand,
            CAST(COUNT(*) AS BIGINT)                         AS n_lineitems,
            CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT)      AS n_parts,
            CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT)      AS n_suppliers,
            CAST(SUM({sql_iscale('l.l_extendedprice')}) AS BIGINT) AS irev,
            CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
"""


def _tm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum(iscale("l_extendedprice")).alias("irev"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


@register(
    "gold_tech_metrics",
    oracle=f"""
        WITH rollup_ AS ({_TM_ROLLUP_SQL}),
        dig AS (
            SELECT *, LENGTH(CAST(GREATEST(irev // 100, 1) AS VARCHAR)) AS ndig,
                   CAST(GREATEST(irev // 100, 1) AS BIGINT) AS idollars
            FROM rollup_
        ),
        pw AS (
            SELECT *, {_TM_IP_DUCK} AS ip FROM dig
        ),
        scored AS (
            SELECT *,
                CAST(CAST(ndig - 1 AS BIGINT) * 1000000
                     + (2 * (idollars - ip) * 1000000 + 9 * ip) // (18 * ip) AS BIGINT) AS ilogm,
                CAST((2 * irev * 10000 + n_lineitems) // (2 * n_lineitems) AS BIGINT) AS avg_price_micro
            FROM pw
        ),
        mom AS (
            SELECT *,
                CAST(LEAST(100000000, GREATEST(0, (ilogm * 25) // 2)) AS BIGINT) AS momentum_score_micro
            FROM scored
        ),
        staged AS (
            SELECT *,
                CASE WHEN momentum_score_micro >= 80000000 THEN 'Mainstream'
                     WHEN momentum_score_micro >= 60000000 THEN 'Growth'
                     WHEN momentum_score_micro >= 40000000 THEN 'Emerging'
                     ELSE 'Experimental' END AS lifecycle_stage
            FROM mom
        )
        SELECT
            brand, n_lineitems, n_parts, n_suppliers, total_qty,
            CAST(irev AS BIGINT) AS revenue_cents,
            avg_price_micro, momentum_score_micro, lifecycle_stage,
            CAST(ROW_NUMBER() OVER (ORDER BY irev DESC, brand)          AS BIGINT) AS revenue_rank,
            CAST(ROW_NUMBER() OVER (ORDER BY total_qty DESC, brand)    AS BIGINT) AS volume_rank,
            CAST(ROW_NUMBER() OVER (ORDER BY n_parts DESC, brand)      AS BIGINT) AS breadth_rank,
            CAST(ROW_NUMBER() OVER (ORDER BY n_suppliers DESC, brand)  AS BIGINT) AS supplier_rank,
            CAST(ROW_NUMBER() OVER (ORDER BY momentum_score_micro DESC, brand) AS BIGINT) AS momentum_rank,
            CAST(LEAST(100000000, GREATEST(0,
                 100000000 - momentum_score_micro + n_suppliers * 1000000)) AS BIGINT) AS concentration_risk_micro
        FROM staged
    """,
    doc="Gold tech_metrics: A1 → momentum → lifecycle CASE → 5 W1 ranks → risk (s2g:133-311); scores as exact µ-unit BIGINTs.",
)
def gold_tech_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = (
        _tm_rollup(spark, sf_dir)
        .withColumn("idollars", F.greatest(F.expr("irev DIV 100"), F.lit(1).cast("long")))
        .withColumn("ndig", F.length(F.col("idollars").cast("string")))
        .withColumn("ip", F.expr(_TM_IP_SPARK))
        .withColumn(
            "ilogm",
            F.expr(
                "CAST(CAST(ndig - 1 AS BIGINT) * 1000000"
                " + (2 * (idollars - ip) * 1000000 + 9 * ip) DIV (18 * ip) AS BIGINT)"
            ),
        )
        .withColumn(
            "avg_price_micro",
            F.expr("CAST((2 * irev * 10000 + n_lineitems) DIV (2 * n_lineitems) AS BIGINT)"),
        )
        .withColumn(
            "momentum_score_micro",
            F.expr("CAST(LEAST(100000000, GREATEST(0, (ilogm * 25) DIV 2)) AS BIGINT)"),
        )
        .withColumn(
            "lifecycle_stage",
            F.when(F.col("momentum_score_micro") >= 80000000, "Mainstream")
            .when(F.col("momentum_score_micro") >= 60000000, "Growth")
            .when(F.col("momentum_score_micro") >= 40000000, "Emerging")
            .otherwise("Experimental"),
        )
    )

    # Five ranks over five different orderings in ONE window pass: a
    # single unordered global window collects the (bounded: 25 brands)
    # group rows once — one Exchange, ZERO sorts — and each rank is
    # `1 + |rows strictly ahead of me in that ordering|` via codegen'd
    # array filters (brand is unique, so this equals ROW_NUMBER over
    # (key DESC, brand ASC)). Five separate row_number windows would
    # plan one exchange + five sorts. Only valid because cardinality is
    # reference-bounded; the unbounded-scale rank lives in
    # operators/ranking.py (rank_global_scalable, driver-green).
    rows = F.collect_list(
        F.struct("irev", "total_qty", "n_parts", "n_suppliers", "momentum_score_micro", "brand")
    ).over(W.partitionBy())

    def rank(key: str) -> F.Column:
        ahead = F.filter(
            rows,
            lambda r: (r[key] > F.col(key))
            | ((r[key] == F.col(key)) & (r["brand"] < F.col("brand"))),
        )
        return (F.size(ahead) + 1).cast("long")

    return staged.select(
        "brand",
        "n_lineitems",
        "n_parts",
        "n_suppliers",
        "total_qty",
        F.col("irev").alias("revenue_cents"),
        "avg_price_micro",
        "momentum_score_micro",
        "lifecycle_stage",
        rank("irev").alias("revenue_rank"),
        rank("total_qty").alias("volume_rank"),
        rank("n_parts").alias("breadth_rank"),
        rank("n_suppliers").alias("supplier_rank"),
        rank("momentum_score_micro").alias("momentum_rank"),
        F.expr(
            "CAST(LEAST(100000000, GREATEST(0,"
            " 100000000 - momentum_score_micro + n_suppliers * 1000000)) AS BIGINT)"
        ).alias("concentration_risk_micro"),
    )


# ---------------------------------------------------------------------------
# Gold table 2: repo_ranks (s2g:359-388) — per-entity momentum, rank
# within category (W2) + global rank (W1).
# Mirror: per-part revenue momentum, ranked within brand and globally.
# ---------------------------------------------------------------------------
@register(
    "gold_repo_ranks",
    oracle=f"""
        WITH per_part AS (
            SELECT
                p.p_brand                               AS brand,
                l.l_partkey                             AS partkey,
                SUM({sql_iscale('l.l_extendedprice')})  AS irev,
                CAST(COUNT(*) AS BIGINT)                AS n_lineitems
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand, l.l_partkey
        )
        SELECT
            brand, partkey, n_lineitems,
            CAST(irev AS DOUBLE) / 100.0 AS revenue,
            {sql_round(f"{sql_xlog10('GREATEST(irev // 100, 1)')} * 20.0", 6)} AS momentum_score,
            CAST(ROW_NUMBER() OVER (PARTITION BY brand ORDER BY irev DESC, partkey) AS BIGINT) AS brand_rank,
            CAST(ROW_NUMBER() OVER (ORDER BY irev DESC, partkey) AS BIGINT)                    AS global_rank
        FROM per_part
        QUALIFY brand_rank <= 20
    """,
    doc="Gold repo_ranks: per-entity momentum + partitioned (W2) and global (W1) ranks.",
)
def gold_repo_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(iscale("l_extendedprice")).alias("irev"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    revenue = F.col("irev").cast("double") / 100.0
    w_brand = W.partitionBy("brand").orderBy(F.desc("irev"), F.asc("partkey"))
    w_global = W.orderBy(F.desc("irev"), F.asc("partkey"))
    return (
        per_part.select(
            "brand",
            "partkey",
            "n_lineitems",
            revenue.alias("revenue"),
            # xlog10 over exact integer dollars: transcendental-free
            # hashed surface (see gold_tech_metrics).
            fround(
                xlog10(F.greatest(F.expr("irev DIV 100"), F.lit(1))) * 20.0, 6
            ).alias("momentum_score"),
            F.row_number().over(w_brand).cast("long").alias("brand_rank"),
            F.row_number().over(w_global).cast("long").alias("global_rank"),
        )
        .filter(F.col("brand_rank") <= 20)
    )


# ---------------------------------------------------------------------------
# Gold table 3: trend_daily (s2g:410-438) — (category, day) agg → W3
# market share per day → REAL lag-based momentum change (the reference
# stubbed momentum_change/rank_change with lit(0): s2g:423-424).
# Mirror: (event_type, day) over events.
# ---------------------------------------------------------------------------
@register(
    "gold_trend_daily",
    oracle=f"""
        WITH daily AS (
            SELECT
                DATE_TRUNC('day', ts)            AS day,
                event_type,
                CAST(COUNT(*) AS BIGINT)         AS n_events,
                SUM({sql_iscale('value')})       AS ivalue,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events
            GROUP BY 1, 2
        )
        SELECT
            day, event_type, n_events, n_users,
            CAST(ivalue AS DOUBLE) / 100.0 AS total_value,
            {sql_round('CAST(ivalue AS DOUBLE) / CAST(SUM(ivalue) OVER (PARTITION BY day) AS DOUBLE)', 6)} AS market_share,
            CAST(COALESCE(ivalue - LAG(ivalue) OVER (PARTITION BY event_type ORDER BY day), 0) AS DOUBLE) / 100.0 AS momentum_change,
            CAST(COALESCE(n_events - LAG(n_events) OVER (PARTITION BY event_type ORDER BY day), 0) AS BIGINT) AS volume_change
        FROM daily
    """,
    doc="Gold trend_daily: A2 → W3 day-share → real lag momentum (reference stubbed W5).",
)
def gold_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(iscale("value")).alias("ivalue"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    w_day = W.partitionBy("day")
    w_type = W.partitionBy("event_type").orderBy("day")
    return daily.select(
        "day",
        "event_type",
        "n_events",
        "n_users",
        (F.col("ivalue").cast("double") / 100.0).alias("total_value"),
        # r13 degenerate-corpus fix: a day whose value sum is exactly 0
        # (all-zero purchase values) made ANSI Spark crash where DuckDB
        # yields NULL market share; try_divide restores the NULL path.
        fround(
            F.try_divide(
                F.col("ivalue").cast("double"),
                F.sum("ivalue").over(w_day).cast("double"),
            ),
            6,
        ).alias("market_share"),
        (
            F.coalesce(F.col("ivalue") - F.lag("ivalue").over(w_type), F.lit(0)).cast(
                "double"
            )
            / 100.0
        ).alias("momentum_change"),
        F.coalesce(F.col("n_events") - F.lag("n_events").over(w_type), F.lit(0))
        .cast("long")
        .alias("volume_change"),
    )


# ---------------------------------------------------------------------------
# Gold table 4: tech_health (s2g:460-492) — A1 variant + stddev (A8) →
# sustainability / risk when-chains.
# Mirror: supplier-balance health per nation.
# ---------------------------------------------------------------------------
@register(
    "gold_tech_health",
    oracle=f"""
        WITH stats AS (
            SELECT
                n.n_name                                   AS nation,
                CAST(COUNT(*) AS BIGINT)                   AS n_suppliers,
                {sql_davg('s.s_acctbal')}                  AS avg_balance,
                {sql_dstd('s.s_acctbal')} AS balance_dispersion,
                CAST(SUM(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT *,
            CASE WHEN avg_balance >= 5000 AND n_negative = 0 THEN 'Sustainable'
                 WHEN avg_balance >= 2000                    THEN 'Stable'
                 WHEN avg_balance >= 0                       THEN 'At Risk'
                 ELSE 'Critical' END AS sustainability_status,
            CASE WHEN n_negative * 4 >= n_suppliers THEN 'High'
                 WHEN n_negative > 0                THEN 'Medium'
                 ELSE 'Low' END AS abandonment_risk
        FROM stats
    """,
    doc="Gold tech_health: agg + stddev (A8) → sustainability/risk CASE chains (s2g:460-492).",
)
def gold_tech_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    stats = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            davg("s_acctbal").alias("avg_balance"),
            # dstd: sample stddev from exact scaled-integer sums —
            # STDDEV_SAMP's double summation order is engine-dependent.
            dstd("s_acctbal").alias("balance_dispersion"),
            F.sum(F.when(F.col("s_acctbal") < 0, 1).otherwise(0)).alias("n_negative"),
        )
    )
    return stats.select(
        "*",
        F.when((F.col("avg_balance") >= 5000) & (F.col("n_negative") == 0), "Sustainable")
        .when(F.col("avg_balance") >= 2000, "Stable")
        .when(F.col("avg_balance") >= 0, "At Risk")
        .otherwise("Critical")
        .alias("sustainability_status"),
        F.when(F.col("n_negative") * 4 >= F.col("n_suppliers"), "High")
        .when(F.col("n_negative") > 0, "Medium")
        .otherwise("Low")
        .alias("abandonment_risk"),
    )


# ---------------------------------------------------------------------------
# Gold table 5: lang_stats (s2g:514-545) — rollup → W4 global share →
# W1 rank → adoption-stage when-chain.
# Mirror: nation-level order stats.
# ---------------------------------------------------------------------------
@register(
    "gold_lang_stats",
    oracle=f"""
        WITH nat AS (
            SELECT
                n.n_name                                 AS nation,
                CAST(COUNT(*) AS BIGINT)                 AS n_orders,
                SUM({sql_iscale('o.o_totalprice')})      AS irev,
                CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT
            nation, n_orders, n_customers,
            CAST(irev AS DOUBLE) / 100.0 AS revenue,
            {sql_round('CAST(irev AS DOUBLE) / CAST(SUM(irev) OVER () AS DOUBLE)', 6)} AS global_share,
            CAST(ROW_NUMBER() OVER (ORDER BY irev DESC, nation) AS BIGINT) AS revenue_rank,
            CASE WHEN CAST(irev AS DOUBLE) / CAST(SUM(irev) OVER () AS DOUBLE) >= 0.06 THEN 'Dominant'
                 WHEN CAST(irev AS DOUBLE) / CAST(SUM(irev) OVER () AS DOUBLE) >= 0.04 THEN 'Major'
                 WHEN CAST(irev AS DOUBLE) / CAST(SUM(irev) OVER () AS DOUBLE) >= 0.02 THEN 'Established'
                 ELSE 'Niche' END AS adoption_stage
        FROM nat
    """,
    doc="Gold lang_stats: rollup → W4 global share → W1 rank → adoption stage (s2g:514-545).",
)
def gold_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(iscale("o_totalprice")).alias("irev"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    share = F.col("irev").cast("double") / F.sum("irev").over(W.partitionBy()).cast(
        "double"
    )
    return nat.select(
        "nation",
        "n_orders",
        "n_customers",
        (F.col("irev").cast("double") / 100.0).alias("revenue"),
        fround(share, 6).alias("global_share"),
        F.row_number()
        .over(W.orderBy(F.desc("irev"), F.asc("nation")))
        .cast("long")
        .alias("revenue_rank"),
        F.when(share >= 0.06, "Dominant")
        .when(share >= 0.04, "Major")
        .when(share >= 0.02, "Established")
        .otherwise("Niche")
        .alias("adoption_stage"),
    )


# ---------------------------------------------------------------------------
# Gold table 6: market_pulse (s2g:567-580) — single-row market summary
# with derived indicator columns, all in-plan (no collect()).
# ---------------------------------------------------------------------------
@register(
    "gold_market_pulse",
    oracle=f"""
        WITH g AS (
            SELECT
                CAST(COUNT(*) AS BIGINT)                   AS n_events,
                CAST(COUNT(DISTINCT user_id) AS BIGINT)    AS n_users,
                CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
                SUM({sql_iscale('value')})                 AS ivalue,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
            FROM events
        )
        SELECT
            n_events, n_users, n_event_types, n_errors,
            CAST(ivalue AS DOUBLE) / 100.0 AS total_value,
            {sql_round('CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)', 6)} AS error_rate,
            {sql_round('CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)', 6)}  AS events_per_user,
            CASE WHEN CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) > 0.25 THEN 'Degraded'
                 ELSE 'Healthy' END AS market_status
        FROM g
    """,
    doc="Gold market_pulse: single-row global indicators, fully in-plan (A5/A11 ⟲).",
)
def gold_market_pulse(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    g = events.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.sum(iscale("value")).alias("ivalue"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )
    # r13 empty-corpus fix: zero events (or zero users) made ANSI
    # Spark crash on the rate divisions where DuckDB yields NULL;
    # try_divide restores the NULL path (status then falls through
    # the CASE to 'Healthy' on both engines).
    error_rate = F.try_divide(
        F.col("n_errors").cast("double"), F.col("n_events").cast("double")
    )
    return g.select(
        "n_events",
        "n_users",
        "n_event_types",
        "n_errors",
        (F.col("ivalue").cast("double") / 100.0).alias("total_value"),
        fround(error_rate, 6).alias("error_rate"),
        fround(
            F.try_divide(
                F.col("n_events").cast("double"),
                F.col("n_users").cast("double"),
            ),
            6,
        ).alias("events_per_user"),
        F.when(error_rate > 0.25, "Degraded").otherwise("Healthy").alias("market_status"),
    )


# ---------------------------------------------------------------------------
# Gold table 7: adoption_matrix (s2g:603-630) — explode → self-pair →
# HAVING → correlation strength co/sqrt(na*nb).
# Mirror: word co-occurrence in part names with correlation scores.
# ---------------------------------------------------------------------------
@register(
    "gold_adoption_matrix",
    oracle=f"""
        WITH words AS (
            SELECT DISTINCT p_partkey, UNNEST(STRING_SPLIT(LOWER(p_name), ' ')) AS word
            FROM part
        ),
        counts AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY word
        ),
        pairs AS (
            SELECT a.word AS word_a, b.word AS word_b, CAST(COUNT(*) AS BIGINT) AS co_count
            FROM words a
            JOIN words b ON a.p_partkey = b.p_partkey AND a.word < b.word
            GROUP BY a.word, b.word
            HAVING COUNT(*) >= 3
        )
        SELECT
            p.word_a, p.word_b, p.co_count,
            ca.n AS count_a,
            cb.n AS count_b,
            {sql_round('CAST(p.co_count AS DOUBLE) / SQRT(CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE))', 6)} AS correlation_strength
        FROM pairs p
        JOIN counts ca ON p.word_a = ca.word
        JOIN counts cb ON p.word_b = cb.word
    """,
    doc="Gold adoption_matrix: explode → pair counts → HAVING → co/sqrt(na*nb) (s2g:603-630).",
)
def gold_adoption_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    words = (
        part.select(
            "p_partkey", F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("word")
        )
        .distinct()
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    a = words.alias("a")
    b = words.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_partkey") == F.col("b.p_partkey"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .agg(F.count(F.lit(1)).alias("co_count"))
        .filter(F.col("co_count") >= 3)
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        pairs.join(F.broadcast(ca), pairs.word_a == F.col("ca.word"))
        .join(F.broadcast(cb), pairs.word_b == F.col("cb.word"))
        .select(
            "word_a",
            "word_b",
            "co_count",
            F.col("ca.n").alias("count_a"),
            F.col("cb.n").alias("count_b"),
            fround(
                F.col("co_count").cast("double")
                / F.sqrt(F.col("ca.n").cast("double") * F.col("cb.n").cast("double")),
                6,
            ).alias("correlation_strength"),
        )
    )


# ---------------------------------------------------------------------------
# Gold table 8: portfolio_overview (personal_repos_silver_to_gold.py:
# 104-149) — global totals + top-5 breakdown + diversity score.
# Mirror: one "portfolio" = customers of nation 0; top segments by
# revenue as ranked rows (arrays → rows, hash-friendly).
# ---------------------------------------------------------------------------
@register(
    "gold_portfolio_overview",
    oracle=f"""
        WITH mine AS (
            SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, o.o_orderkey, o.o_totalprice
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE c.c_nationkey = 0
        ),
        seg AS (
            SELECT
                c_mktsegment                                   AS segment,
                CAST(COUNT(DISTINCT c_custkey) AS BIGINT)      AS n_customers,
                CAST(COUNT(o_orderkey) AS BIGINT)              AS n_orders,
                SUM(COALESCE({sql_iscale('o_totalprice')}, 0)) AS irev
            FROM mine
            GROUP BY c_mktsegment
        )
        SELECT
            segment, n_customers, n_orders,
            CAST(irev AS DOUBLE) / 100.0 AS revenue,
            CAST(ROW_NUMBER() OVER (ORDER BY irev DESC, segment) AS BIGINT) AS segment_rank,
            {sql_round('CAST(n_orders AS DOUBLE) / CAST(NULLIF(n_customers, 0) AS DOUBLE)', 6)} AS orders_per_customer
        FROM seg
        QUALIFY segment_rank <= 5
    """,
    doc="Gold portfolio_overview: scoped totals + top-5 breakdown as ranked rows (prs2g:104-149).",
)
def gold_portfolio_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 0)
    orders = load_table(spark, sf_dir, "orders")
    mine = customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
    seg = mine.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.countDistinct("c_custkey").alias("n_customers"),
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.coalesce(iscale("o_totalprice"), F.lit(0))).alias("irev"),
    )
    return (
        seg.select(
            "segment",
            "n_customers",
            "n_orders",
            (F.col("irev").cast("double") / 100.0).alias("revenue"),
            F.row_number()
            .over(W.orderBy(F.desc("irev"), F.asc("segment")))
            .cast("long")
            .alias("segment_rank"),
            fround(
                F.col("n_orders").cast("double")
                / F.nullif(F.col("n_customers"), F.lit(0)).cast("double"),
                6,
            ).alias("orders_per_customer"),
        )
        .filter(F.col("segment_rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Gold table 9: repo_health_dashboard (prs2g:158-254) — left join to
# activity metrics (J3) → weighted health score → grade/status/actions.
# Mirror: per-user event health from the events table; "recommended
# actions" emitted as a deterministic concat string (array → string for
# hash-stable output; the array variant is in the pipelines module).
# ---------------------------------------------------------------------------
_HEALTH_SQL = sql_round(
    "LEAST(100.0, GREATEST(0.0, "
    "0.5 * LEAST(100.0, CAST(n_events AS DOUBLE)) "
    "+ 30.0 * (CAST(n_purchases AS DOUBLE) / CAST(n_events AS DOUBLE)) "
    "- 50.0 * (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)) "
    "+ LEAST(20.0, CAST(ivalue AS DOUBLE) / 10000.0)))",
    6,
)


@register(
    "gold_repo_health_dashboard",
    oracle=f"""
        WITH activity AS (
            SELECT
                user_id,
                CAST(COUNT(*) AS BIGINT)   AS n_events,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)    AS n_errors,
                SUM({sql_iscale('value')}) AS ivalue,
                MAX(ts)                    AS last_seen
            FROM events
            GROUP BY user_id
        ),
        scored AS (
            SELECT *, {_HEALTH_SQL} AS health_score
            FROM activity
        )
        SELECT
            user_id, n_events, n_purchases, n_errors, last_seen,
            CAST(ivalue AS DOUBLE) / 100.0 AS total_value,
            health_score,
            CASE WHEN health_score >= 80 THEN 'A'
                 WHEN health_score >= 65 THEN 'B'
                 WHEN health_score >= 50 THEN 'C'
                 WHEN health_score >= 35 THEN 'D'
                 ELSE 'F' END AS health_grade,
            CASE WHEN last_seen >= TIMESTAMP '{_AS_OF_EVENTS}' - INTERVAL 7 DAY THEN 'active'
                 WHEN last_seen >= TIMESTAMP '{_AS_OF_EVENTS}' - INTERVAL 30 DAY THEN 'recent'
                 ELSE 'dormant' END AS activity_status,
            CONCAT(
                CASE WHEN n_errors * 4 > n_events THEN 'investigate-errors;' ELSE '' END,
                CASE WHEN n_purchases = 0 THEN 'no-conversions;' ELSE '' END,
                CASE WHEN health_score < 50 THEN 'needs-attention;' ELSE '' END
            ) AS recommended_actions
        FROM scored
    """,
    doc="Gold repo_health_dashboard: J3 join → weighted score → grade/status/actions (prs2g:158-254).",
)
def gold_repo_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    activity = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
        F.sum(iscale("value")).alias("ivalue"),
        F.max("ts").alias("last_seen"),
    )
    n_events_d = F.col("n_events").cast("double")
    health = fround(
        F.least(
            F.lit(100.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.5) * F.least(F.lit(100.0), n_events_d)
                + F.lit(30.0) * (F.col("n_purchases").cast("double") / n_events_d)
                - F.lit(50.0) * (F.col("n_errors").cast("double") / n_events_d)
                + F.least(F.lit(20.0), F.col("ivalue").cast("double") / 10000.0),
            ),
        ),
        6,
    )
    scored = activity.withColumn("health_score", health)
    as_of = F.lit(_AS_OF_EVENTS).cast("timestamp")
    hs = F.col("health_score")
    return scored.select(
        "user_id",
        "n_events",
        "n_purchases",
        "n_errors",
        "last_seen",
        (F.col("ivalue").cast("double") / 100.0).alias("total_value"),
        "health_score",
        F.when(hs >= 80, "A")
        .when(hs >= 65, "B")
        .when(hs >= 50, "C")
        .when(hs >= 35, "D")
        .otherwise("F")
        .alias("health_grade"),
        F.when(F.col("last_seen") >= as_of - F.expr("INTERVAL 7 DAYS"), "active")
        .when(F.col("last_seen") >= as_of - F.expr("INTERVAL 30 DAYS"), "recent")
        .otherwise("dormant")
        .alias("activity_status"),
        F.concat(
            F.when(F.col("n_errors") * 4 > F.col("n_events"), "investigate-errors;").otherwise(""),
            F.when(F.col("n_purchases") == 0, "no-conversions;").otherwise(""),
            F.when(hs < 50, "needs-attention;").otherwise(""),
        ).alias("recommended_actions"),
    )


# ---------------------------------------------------------------------------
# Gold table 10: development_velocity (prs2g:263-289) — 30d-window
# per-entity velocity projections + trend label.
# Mirror: per-user 30d event velocity with week-over-week trend.
# ---------------------------------------------------------------------------
@register(
    "gold_development_velocity",
    oracle=f"""
        WITH win AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS events_30d,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_AS_OF_EVENTS}' - INTERVAL 7 DAY
                                 THEN 1 ELSE 0 END) AS BIGINT) AS events_7d,
                   SUM({sql_iscale('value')}) AS ivalue_30d
            FROM events
            WHERE ts >= TIMESTAMP '{_AS_OF_EVENTS}' - INTERVAL 30 DAY
            GROUP BY user_id
        )
        SELECT
            user_id, events_30d, events_7d,
            CAST(ivalue_30d AS DOUBLE) / 100.0 AS value_30d,
            {sql_round('CAST(events_30d AS DOUBLE) / 30.0', 6)} AS daily_velocity,
            {sql_round('CAST(events_7d AS DOUBLE) * 30.0 / 7.0', 6)} AS projected_30d,
            CASE WHEN CAST(events_7d AS DOUBLE) * 30.0 / 7.0 > CAST(events_30d AS DOUBLE) * 1.2 THEN 'accelerating'
                 WHEN CAST(events_7d AS DOUBLE) * 30.0 / 7.0 < CAST(events_30d AS DOUBLE) * 0.8 THEN 'decelerating'
                 ELSE 'steady' END AS velocity_trend
        FROM win
    """,
    doc="Gold development_velocity: 30d window velocity + projection + trend (prs2g:263-289).",
)
def gold_development_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    as_of = F.lit(_AS_OF_EVENTS).cast("timestamp")
    win = (
        events.filter(F.col("ts") >= as_of - F.expr("INTERVAL 30 DAYS"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events_30d"),
            F.sum(
                F.when(F.col("ts") >= as_of - F.expr("INTERVAL 7 DAYS"), 1).otherwise(0)
            ).alias("events_7d"),
            F.sum(iscale("value")).alias("ivalue_30d"),
        )
    )
    projected = F.col("events_7d").cast("double") * 30.0 / 7.0
    return win.select(
        "user_id",
        "events_30d",
        "events_7d",
        (F.col("ivalue_30d").cast("double") / 100.0).alias("value_30d"),
        fround(F.col("events_30d").cast("double") / 30.0, 6).alias("daily_velocity"),
        fround(projected, 6).alias("projected_30d"),
        F.when(projected > F.col("events_30d").cast("double") * 1.2, "accelerating")
        .when(projected < F.col("events_30d").cast("double") * 0.8, "decelerating")
        .otherwise("steady")
        .alias("velocity_trend"),
    )
