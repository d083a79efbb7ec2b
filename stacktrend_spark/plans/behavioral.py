"""Behavioral analytics over the events table (beyond-reference).

The reference's analytics layer stops at per-entity aggregates; a
training-data / product-analytics engine also needs the classic
user-behavior shapes: cohort retention, ordered funnels, and
deterministic stratified sampling. All three are pure DataFrame plans
with DuckDB oracle twins.

Cross-engine determinism notes:
- week indexes are integer arithmetic on epoch days (both engines);
- the funnel's ordered stages use strict ``ts >`` comparisons on the
  original TIMESTAMP values (µs precision, identical in both engines);
- sampling is content-hashed: ``substr(md5(key), 1, 4)`` compared
  lexicographically against a per-stratum hex threshold — md5 hex is
  bit-identical across engines, so the sampled SET is too (no RNG, so
  retries/AQE re-plans at 100 TB cannot change the sample).

Scale notes: cohort/funnel shuffle once on user_id (the per-user
aggregates are tiny relative to raw events; AQE picks broadcast when
the user dimension fits). Stratified sampling is map-only — the
filter fuses into the parquet scan, zero shuffles before the final
summary agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from stacktrend_spark.functions.rounding import (
    fround,
    iscale,
    sql_iscale,
    sql_round,
    sql_xlog10,
    xlog10,
)
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.graph import cobasket_pairs
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table


def _week_idx(ts_col: str) -> F.Column:
    """Weeks since 1970-01-01 as exact integer arithmetic."""
    days = F.datediff(F.to_date(ts_col), F.to_date(F.lit("1970-01-01")))
    return F.floor(days / F.lit(7.0)).cast("long")


_SQL_WEEK = (
    "CAST(FLOOR(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT)"
)


@register(
    "cohort_retention_weekly",
    oracle=f"""
        WITH user_weeks AS (
            SELECT DISTINCT user_id, {_SQL_WEEK} AS week_idx FROM events
        ),
        cohorts AS (
            SELECT user_id, MIN(week_idx) AS cohort_week
            FROM user_weeks GROUP BY user_id
        )
        SELECT
            c.cohort_week,
            w.week_idx - c.cohort_week      AS offset_weeks,
            COUNT(DISTINCT w.user_id)       AS active_users
        FROM user_weeks w
        JOIN cohorts c ON w.user_id = c.user_id
        GROUP BY c.cohort_week, offset_weeks
    """,
    doc="Weekly cohort retention triangle: first-active week per user × offset.",
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    user_weeks = events.select(
        "user_id", _week_idx("ts").alias("week_idx")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week_idx").alias("cohort_week")
    )
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("offset_weeks"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "funnel_signup_conversion",
    oracle=f"""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
            WHERE e.event_type = 'view' GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT
            (SELECT COUNT(*) FROM s1) AS signup_users,
            (SELECT COUNT(*) FROM s2) AS viewed_users,
            (SELECT COUNT(*) FROM s3) AS purchased_users,
            {sql_round("(SELECT COUNT(*) FROM s2) * 1.0 / (SELECT COUNT(*) FROM s1)", 6)}
                AS view_rate,
            {sql_round("(SELECT COUNT(*) FROM s3) * 1.0 / (SELECT COUNT(*) FROM s1)", 6)}
                AS purchase_rate
    """,
    doc="Strictly-ordered signup→view→purchase funnel with conversion rates.",
)
def funnel_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    c1 = s1.agg(F.count("*").alias("signup_users"))
    c2 = s2.agg(F.count("*").alias("viewed_users"))
    c3 = s3.agg(F.count("*").alias("purchased_users"))
    # r13 degenerate-corpus fix: a corpus with no signups at all made
    # ANSI Spark crash on rate/0 where DuckDB yields NULL (rates are
    # undefined with an empty funnel top); try_divide restores NULL.
    return c1.crossJoin(c2).crossJoin(c3).select(
        "signup_users",
        "viewed_users",
        "purchased_users",
        fround(
            F.try_divide(
                F.col("viewed_users") * F.lit(1.0), F.col("signup_users")
            ),
            6,
        ).alias("view_rate"),
        fround(
            F.try_divide(
                F.col("purchased_users") * F.lit(1.0), F.col("signup_users")
            ),
            6,
        ).alias("purchase_rate"),
    )


# Per-stratum hex thresholds: keep-fraction f → first-4-hex-chars <
# hex(floor(f·16⁴)). 'g' sorts after every hex digit → keep-all.
_STRATA_THRESHOLDS = {
    "purchase": "g",  # 100%
    "signup": "g",  # 100%
    "view": "1999",  # ~10%
    "click": "1999",  # ~10%
    "error": "0ccc",  # ~5%
}


@register(
    "sample_stratified_hash",
    oracle=f"""
        WITH tagged AS (
            SELECT
                event_type, value,
                substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS h,
                CASE event_type
                    WHEN 'purchase' THEN 'g'
                    WHEN 'signup'   THEN 'g'
                    WHEN 'view'     THEN '1999'
                    WHEN 'click'    THEN '1999'
                    ELSE '0ccc'
                END AS thr
            FROM events
        )
        SELECT
            event_type,
            COUNT(*) AS total_rows,
            COUNT(CASE WHEN h < thr THEN 1 END) AS sampled_rows,
            CAST(COALESCE(SUM(CASE WHEN h < thr
                THEN {sql_iscale("value")} END), 0) AS DOUBLE) / 100.0
                AS sampled_value
        FROM tagged
        GROUP BY event_type
    """,
    doc="Deterministic stratified sampling: per-stratum md5-hex threshold, no RNG.",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    h = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 4)
    thr = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(v))
            for k, v in _STRATA_THRESHOLDS.items()
            if k != "error"
        ],
        F.lit(_STRATA_THRESHOLDS["error"]),
    )
    kept = h < thr
    return (
        events.select("event_type", "value", kept.alias("kept"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("total_rows"),
            F.count(F.when(F.col("kept"), 1)).alias("sampled_rows"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("kept"), iscale("value"))), F.lit(0)
                ).cast("double")
                / F.lit(100.0)
            ).alias("sampled_value"),
        )
    )


@register(
    "sample_exact_k_per_group",
    # md5-hex ranks sort identically in both engines; the (hash, id)
    # tiebreaker makes the selected SET deterministic, and row_number
    # semantics agree — so the sample is bit-reproducible anywhere
    oracle="""
        WITH ranked AS (
            SELECT event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ) AS rk
            FROM events
        )
        SELECT event_type,
               CAST(event_id AS BIGINT) AS event_id,
               CAST(rk AS BIGINT)       AS sample_rank
        FROM ranked WHERE rk <= 100
    """,
    doc=(
        "Exact-k-per-group deterministic sample (k=100): hash-ranked "
        "row_number per stratum — the reproducible fixed-size "
        "eval-split primitive (threshold sampling gives a RATE, this "
        "gives a COUNT). Per-group window, no global sort."
    ),
)
def sample_exact_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string").cast("binary"))
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(h, F.col("event_id"))
    )
    return (
        ev.select("event_type", "event_id", rk.alias("sample_rank"))
        .filter(F.col("sample_rank") <= 100)
        .select(
            "event_type",
            F.col("event_id").cast("long").alias("event_id"),
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


@register(
    "event_pattern_match",
    # MATCH_RECOGNIZE-style sequence detection: a strict
    # view -> click -> purchase run (no intervening events for the
    # user) completing within 24 hours of the first step
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, event_type,
                   epoch_us(ts) AS t_us,
                   LAG(event_type, 1) OVER w AS p1_type,
                   LAG(event_type, 2) OVER w AS p2_type,
                   LAG(event_id, 2)  OVER w AS start_id,
                   LAG(t_us, 2)      OVER w AS start_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               start_id                           AS view_event_id,
               event_id                           AS purchase_event_id,
               CAST(t_us - start_us AS BIGINT)    AS elapsed_us
        FROM seq
        WHERE event_type = 'purchase'
          AND p1_type = 'click'
          AND p2_type = 'view'
          AND t_us - start_us <= 86400000000
    """,
    doc=(
        "Sequence-pattern detection (MATCH_RECOGNIZE analog): strict "
        "consecutive view->click->purchase within 24h via per-user "
        "ordered lags — one window partition per user, no self-joins, "
        "no per-user arrays; state is 2 lagged rows."
    ),
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.lag("event_type", 1).over(w).alias("p1_type"),
        F.lag("event_type", 2).over(w).alias("p2_type"),
        F.lag("event_id", 2).over(w).alias("start_id"),
        F.lag(F.unix_micros("ts"), 2).over(w).alias("start_us"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & (F.col("p1_type") == "click")
            & (F.col("p2_type") == "view")
            & (F.col("t_us") - F.col("start_us") <= 86_400_000_000)
        )
        .select(
            "user_id",
            F.col("start_id").alias("view_event_id"),
            F.col("event_id").alias("purchase_event_id"),
            (F.col("t_us") - F.col("start_us")).cast("long").alias("elapsed_us"),
        )
    )


@register(
    "market_basket_rules",
    # association rules over bulk co-purchases: support exact-integer,
    # confidence/lift as exact ppm via integer DIV (no float division
    # on the hashed surface)
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem WHERE l_quantity >= 40
        ),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        item AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
        pair AS (
            SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS cxy
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        )
        SELECT p.x AS antecedent, p.y AS consequent,
               CAST(p.cxy AS BIGINT)                          AS support_n,
               CAST(p.cxy * 1000000 // ia.c AS BIGINT)        AS confidence_ppm,
               CAST(CAST(p.cxy AS HUGEINT) * n.n_orders * 1000000
                    // (CAST(ia.c AS HUGEINT) * ic.c) AS BIGINT) AS lift_ppm
        FROM pair p
        JOIN item ia ON ia.l_partkey = p.x
        JOIN item ic ON ic.l_partkey = p.y
        CROSS JOIN n
    """,
    doc=(
        "Association rules (support/confidence/lift) over bulk "
        "co-purchases: pair supports from one self-join + HAVING gate; "
        "confidence and lift as exact ppm integers (DIV, no float "
        "division); item counts broadcast back onto surviving pairs."
    ),
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().count()  # bounded scalar
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 2)
    )
    ia = F.broadcast(item.select(F.col("l_partkey").alias("x"), F.col("c").alias("ca")))
    ic = F.broadcast(item.select(F.col("l_partkey").alias("y"), F.col("c").alias("cc")))
    return (
        pair.join(ia, "x")
        .join(ic, "y")
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("cxy").cast("long").alias("support_n"),
            # headroom (r5 ADVICE): confidence numerator cxy·1e6 stays
            # int64-safe to cxy ≈ 9.2e12 pairs/rule — beyond any sf.
            # The LIFT numerator cxy·n_orders·1e6 would overflow int64
            # past ~1e2 TB-scale (cxy·n_orders > 9.2e12), where Spark
            # non-ANSI silently wraps while DuckDB errors → both sides
            # now widen to 128-bit (DECIMAL(38,0) / HUGEINT) before the
            # exact integer DIV, so the surface is identical at any sf.
            F.expr("cxy * 1000000 DIV ca").cast("long").alias("confidence_ppm"),
            F.expr(
                f"CAST(cxy AS DECIMAL(38,0)) * {n_orders}L * 1000000"
                " DIV (CAST(ca AS DECIMAL(38,0)) * cc)"
            )
            .cast("long")
            .alias("lift_ppm"),
        )
    )


@register(
    "events_markov_transition",
    # event-type transition counts from per-user ordered sequences;
    # row-normalized probabilities as exact ppm integers
    oracle="""
        WITH seq AS (
            SELECT event_type AS cur,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        t AS (
            SELECT cur, nxt, COUNT(*) AS c FROM seq
            WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        row_tot AS (SELECT cur, SUM(c) AS tot FROM t GROUP BY 1)
        SELECT t.cur AS from_type, t.nxt AS to_type,
               CAST(t.c AS BIGINT)                     AS n_transitions,
               CAST(t.c * 1000000 // r.tot AS BIGINT)  AS prob_ppm
        FROM t JOIN row_tot r USING (cur)
    """,
    doc=(
        "Markov transition matrix over per-user event sequences: LEAD "
        "per user partition (no self-join), row-normalized to exact "
        "ppm integers — the behavioral-model fitting step."
    ),
)
def events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    t = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    row_tot = t.groupBy("cur").agg(F.sum("c").alias("tot"))
    return (
        t.join(F.broadcast(row_tot), "cur")
        .select(
            F.col("cur").alias("from_type"),
            F.col("nxt").alias("to_type"),
            F.col("c").cast("long").alias("n_transitions"),
            F.expr("c * 1000000 DIV tot").cast("long").alias("prob_ppm"),
        )
    )


@register(
    "customer_rfm_scores",
    # RFM quintiles via the exact arithmetic bucket formula
    # ((rank-1)*5) DIV n + 1 (identical on both engines; never NTILE)
    oracle="""
        WITH base AS (
            SELECT o_custkey,
                   MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us,
                   CAST(COUNT(*) AS BIGINT)                      AS freq,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT)                               AS monetary_cents
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY last_us, o_custkey)        AS rr,
                   ROW_NUMBER() OVER (ORDER BY freq, o_custkey)           AS rf,
                   ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey) AS rm,
                   COUNT(*) OVER ()                                       AS n
            FROM base
        )
        SELECT o_custkey AS cust_key, freq, monetary_cents,
               CAST(((rr - 1) * 5) // n + 1 AS BIGINT) AS r_score,
               CAST(((rf - 1) * 5) // n + 1 AS BIGINT) AS f_score,
               CAST(((rm - 1) * 5) // n + 1 AS BIGINT) AS m_score
        FROM ranked
    """,
    doc=(
        "RFM quintile scoring per customer (recency/frequency/"
        "monetary): three global ranks via the two-phase scalable "
        "ranker, bucketed by exact integer arithmetic — the classic "
        "marketing-mart scoring table."
    ),
)
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey")).agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    ranked = base
    for rank_col, order_col in (
        ("rr", "last_us"),
        ("rf", "freq"),
        ("rm", "monetary_cents"),
    ):
        ranked = global_rank_scalable(
            ranked,
            order_cols=[F.col(order_col), F.col("o_custkey")],
            rank_col=rank_col,
        )
    # NOTE: an in-plan broadcast `ranked.agg(count)` replacing this
    # eager count was measured slower (warm 7.33 s against 3.46 s)
    # while the ranks were cache-persisted: an evicted cache made the
    # broadcast branch recompute all three ranks. Each rank is now an
    # eager local checkpoint, so nothing upstream recomputes; the
    # eager count stays because it is one bounded map-side-combined
    # aggregate over `base`.
    n = base.count()  # bounded scalar
    return ranked.select(
        F.col("o_custkey").alias("cust_key"),
        "freq",
        "monetary_cents",
        (F.expr(f"((rr - 1) * 5) DIV {n}") + 1).cast("long").alias("r_score"),
        (F.expr(f"((rf - 1) * 5) DIV {n}") + 1).cast("long").alias("f_score"),
        (F.expr(f"((rm - 1) * 5) DIV {n}") + 1).cast("long").alias("m_score"),
    )


@register(
    "user_activity_streaks",
    # gaps-and-islands: consecutive-day runs via the day_no - rank
    # constant-per-island trick (no self-joins, no iteration)
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no
            FROM events
        ),
        grp AS (
            SELECT user_id, day_no,
                   day_no - ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY day_no) AS island
            FROM days
        ),
        islands AS (
            SELECT user_id, island,
                   CAST(COUNT(*) AS BIGINT) AS len,
                   CAST(MIN(day_no) AS BIGINT) AS start_day
            FROM grp GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT)  AS n_streaks,
               CAST(MAX(len) AS BIGINT)  AS longest_streak,
               CAST(MIN(start_day) AS BIGINT) AS first_active_day
        FROM islands GROUP BY 1
    """,
    doc=(
        "Gaps-and-islands: per-user consecutive-active-day streaks via "
        "the day_no - row_number constant-per-island identity — one "
        "partitioned window + two aggregates, no self-joins or "
        "iteration."
    ),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day_no")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_no")
    grp = days.withColumn(
        "island", F.col("day_no") - F.row_number().over(w)
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day_no").cast("long").alias("start_day"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
        F.min("start_day").cast("long").alias("first_active_day"),
    )


# ---------------------------------------------------------------------------
# Top event paths — the per-entity ordered journey, aggregated. The
# corpus-side cost is ONE groupBy (user, day) building the ordered
# path string, then a tiny (path) count aggregate; the per-group sort
# happens inside array_sort on collected structs — bounded by events/
# user/day, never a global sort. Deterministic: the struct sort key is
# (ts, event_id, type) — a total order both engines replicate.
# Beyond-reference addition (behavioral family).
# ---------------------------------------------------------------------------

_TOP_PATHS = 15


@register(
    "top_user_paths",
    oracle=f"""
        WITH paths AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
            FROM events GROUP BY 1, 2
        ),
        counted AS (
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
            FROM paths GROUP BY 1
        )
        SELECT path, n_journeys,
               CAST(rn AS BIGINT) AS path_rank
        FROM (
            SELECT path, n_journeys,
                   ROW_NUMBER() OVER (ORDER BY n_journeys DESC, path) AS rn
            FROM counted
        ) WHERE rn <= {_TOP_PATHS}
    """,
    doc=(
        f"Top-{_TOP_PATHS} per-(user, day) event journeys: ordered path "
        "strings built per group (array_sort over (ts, event_id) "
        "structs — no global sort), counted, ranked with a unique "
        "tiebreak."
    ),
)
def top_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_journeys")
    )
    # TakeOrdered top-k FIRST (scalable global top-k: per-partition
    # heaps, no global sort), then rank the <=K survivors — the only
    # unpartitioned window runs over K rows (pagerank_copurchase shape)
    top = counted.orderBy(F.desc("n_journeys"), F.asc("path")).limit(_TOP_PATHS)
    rn = F.row_number().over(W.orderBy(F.desc("n_journeys"), F.asc("path")))
    return top.select(
        "path", "n_journeys", rn.cast("long").alias("path_rank")
    )


_AES_K = 200  # sample size


def _aes_oracle() -> str:
    from stacktrend_spark.functions.hashing import sql_hex40
    from stacktrend_spark.functions.rounding import sql_xlog10

    xlog = sql_xlog10(
        "(" + sql_hex40("'aes:' || CAST(o_orderkey AS VARCHAR)") + ") + 1"
    )
    return f"""
        WITH keyed AS (
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS weight_cents,
                   (({xlog}) - 13.0)
                   / CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                          AS DOUBLE) AS k
            FROM orders
        ),
        ranked AS (
            SELECT o_orderkey, weight_cents, k,
                   ROW_NUMBER() OVER (ORDER BY k DESC, o_orderkey) AS rnk
            FROM keyed
        )
        SELECT o_orderkey, weight_cents, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= {_AES_K}
    """


@register(
    "weighted_sample_aes",
    oracle=_aes_oracle(),
    doc=(
        "Deterministic weighted sampling without replacement "
        "(Efraimidis–Spirakis A-ES): each order draws u from a 40-bit "
        "md5 hash and ranks by log(u)/weight (decade-interpolated "
        "xlog10 — engine-neutral); the top-200 keys ARE the weighted "
        "sample. Re-runs, retries, and both engines select the "
        "identical sample — the property RAND()-based sampling can't "
        "give."
    ),
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted reservoir, Spark-side.

    100 TB: keying is map-only; the top-k is orderBy().limit(k) —
    Catalyst plans TakeOrderedAndProject (per-partition top-k, driver
    merge of k·P rows), never a global sort. The rank column is
    re-derived on the 200-row result, not on the corpus.
    """
    from stacktrend_spark.functions.hashing import spark_hex40
    from stacktrend_spark.functions.rounding import xlog10

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("weight_cents"),
    )
    h = spark_hex40(
        F.concat(F.lit("aes:"), F.col("o_orderkey").cast("string"))
    ) + F.lit(1)
    keyed = o.select(
        "o_orderkey",
        "weight_cents",
        (
            (xlog10(h) - F.lit(13.0))
            / F.col("weight_cents").cast("double")
        ).alias("k"),
    )
    top = keyed.orderBy(F.desc("k"), "o_orderkey").limit(_AES_K)
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.orderBy(F.desc("k"), "o_orderkey"))
    return top.select(
        "o_orderkey", "weight_cents", rnk.cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# First/last-touch marketing attribution. For every purchase, the
# crediting touches are the FIRST and LAST view/click in the 7 days
# strictly before the purchase; each gets half the purchase value, and
# purchases with no preceding touch credit 'direct' in full.
#
# The arg-min/arg-max inside a RANGE frame is done with an ENCODED
# integer key — (epoch_micros·1000 + event_id%1000)·2 + is_view — so
# MIN/MAX simultaneously select the extreme timestamp AND carry its
# channel bit. Both engines build the identical key, so the selected
# touch is identical even under timestamp ties (the key is engine-
# neutral; no min_by/arg_min portability surface).
#
# 100 TB: ONE window pass per user partition computes both frames
# (same window spec), then three map-only projections union into the
# final tiny groupBy. No joins, no touch-table blowup: the range frame
# is evaluated inside the per-user sort the window already owns.
# ---------------------------------------------------------------------------
_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "attribution_first_last_touch",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, value,
                   epoch_us(ts) AS us,
                   (epoch_us(ts) * 1000 + event_id % 1000) * 2
                   + CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS k
            FROM events
        ),
        wnd AS (
            SELECT user_id, event_type, value,
                   MIN(CASE WHEN event_type IN ('view', 'click') THEN k END)
                       OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN {_WEEK_US} PRECEDING
                                       AND 1 PRECEDING) AS first_k,
                   MAX(CASE WHEN event_type IN ('view', 'click') THEN k END)
                       OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN {_WEEK_US} PRECEDING
                                       AND 1 PRECEDING) AS last_k
            FROM e
        ),
        sel AS (SELECT * FROM wnd WHERE event_type = 'purchase'),
        credits AS (
            SELECT CASE WHEN first_k % 2 = 1 THEN 'view' ELSE 'click' END AS channel,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) * 5 AS cr
            FROM sel WHERE first_k IS NOT NULL
            UNION ALL
            SELECT CASE WHEN last_k % 2 = 1 THEN 'view' ELSE 'click' END,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) * 5
            FROM sel WHERE last_k IS NOT NULL
            UNION ALL
            SELECT 'direct',
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) * 10
            FROM sel WHERE first_k IS NULL
        )
        SELECT channel,
               CAST(SUM(cr) AS DOUBLE) / 1e3 AS credited_revenue,
               CAST(COUNT(*) AS BIGINT)      AS n_credits
        FROM credits GROUP BY channel
    """,
    doc=(
        "First/last-touch attribution via encoded arg-min/arg-max keys in "
        "a 7-day RANGE frame: one window pass, map-only credit explosion, "
        "exact tenth-cent integers."
    ),
)
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    k = (
        (F.unix_micros("ts") * 1000 + F.col("event_id") % 1000) * 2
        + F.when(F.col("event_type") == "view", 1).otherwise(0)
    )
    touch_k = F.when(F.col("event_type").isin("view", "click"), k)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_WEEK_US, -1)
    )
    sel = (
        ev.select(
            "user_id",
            "event_type",
            iscale("value").alias("cents"),
            F.min(touch_k).over(w).alias("first_k"),
            F.max(touch_k).over(w).alias("last_k"),
        )
        .filter(F.col("event_type") == "purchase")
    )
    # ONE projection emits all credits as an exploded array — a 3-way
    # union of selects over `sel` would clone the Window subplan and
    # sort every user partition three times (caught by
    # test_attribution_single_window_pass).
    chan = lambda c: F.when(F.col(c) % 2 == 1, "view").otherwise("click")  # noqa: E731
    credit = F.when(
        F.col("first_k").isNull(),
        F.array(
            F.struct(
                F.lit("direct").alias("channel"),
                (F.col("cents") * 10).alias("cr"),
            )
        ),
    ).otherwise(
        F.array(
            F.struct(
                chan("first_k").alias("channel"), (F.col("cents") * 5).alias("cr")
            ),
            F.struct(
                chan("last_k").alias("channel"), (F.col("cents") * 5).alias("cr")
            ),
        )
    )
    return (
        sel.select(F.explode(credit).alias("c"))
        .select("c.channel", "c.cr")
        .groupBy("channel")
        .agg(
            (F.sum("cr").cast("double") / F.lit(1e3)).alias("credited_revenue"),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test — the experimentation readout. Users split
# into arms by id parity (deterministic assignment); conversion =
# heavy buyer (>= 15 purchases — "at least one" is degenerate on this
# data: every user converts, p=1 in both arms, z denominator exactly
# 0, and ANSI mode turns that 0/0 into DIVIDE_BY_ZERO). The z statistic
#
#     z = (p1 − p0) / sqrt( p̂(1−p̂) (1/n1 + 1/n0) )
#
# uses ONLY +,−,×,/ and sqrt — all correctly-rounded IEEE ops — on
# doubles derived from exact integer counts, so the mirrored op tree
# yields identical bits in both engines (same discipline as dstd in
# functions/rounding.py). Lift is emitted as an exact integer ppm.
#
# 100 TB: one per-user aggregate (conversion flag), one 2-row arm
# rollup — the z arithmetic runs on four integers.
# ---------------------------------------------------------------------------
@register(
    "abtest_two_proportion_z",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   user_id % 2 AS arm,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 15
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, COUNT(*) AS n, SUM(converted) AS c
            FROM u GROUP BY arm
        ),
        w AS (
            SELECT
                MAX(CASE WHEN arm = 1 THEN n END) AS n1,
                MAX(CASE WHEN arm = 1 THEN c END) AS c1,
                MAX(CASE WHEN arm = 0 THEN n END) AS n0,
                MAX(CASE WHEN arm = 0 THEN c END) AS c0
            FROM arms
        )
        SELECT
            CAST(n1 AS BIGINT) AS n_treat,
            CAST(c1 AS BIGINT) AS conv_treat,
            CAST(n0 AS BIGINT) AS n_control,
            CAST(c0 AS BIGINT) AS conv_control,
            CAST(CAST(c1 AS HUGEINT) * n0 * 1000000
                 // (CAST(c0 AS HUGEINT) * n1) - 1000000 AS BIGINT)
                AS lift_ppm,
            FLOOR((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                  / SQRT((CAST(c1 + c0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                         * (1.0 - CAST(c1 + c0 AS DOUBLE)
                                  / CAST(n1 + n0 AS DOUBLE))
                         * (1.0 / CAST(n1 AS DOUBLE)
                            + 1.0 / CAST(n0 AS DOUBLE)))
                  * 1000000.0 + 0.5) / 1000000.0 AS z_score
        FROM w
    """,
    doc=(
        "Two-proportion z-test over id-parity arms: exact integer "
        "counts, mirrored IEEE op tree (+,-,*,/,sqrt only) for z, "
        "exact-ppm lift; one per-user aggregate + a 2-row rollup."
    ),
)
def abtest_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("c")
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("c1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("c0"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    c1d, c0d = F.col("c1").cast("double"), F.col("c0").cast("double")
    pp = (F.col("c1") + F.col("c0")).cast("double") / (
        F.col("n1") + F.col("n0")
    ).cast("double")
    z = (c1d / n1d - c0d / n0d) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n0d)
    )
    return w.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("c1").cast("long").alias("conv_treat"),
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        # width: treatment/control counts are fact-table-scale — both
        # the numerator product and the c0*n1 denominator can exceed
        # 2^63 at ~1e10 users; widen to DECIMAL(38,0)/HUGEINT (r9
        # width sweep), result is ppm-bounded BIGINT
        F.expr(
            "CAST(CAST(c1 AS DECIMAL(38, 0)) * n0 * 1000000"
            " DIV (CAST(c0 AS DECIMAL(38, 0)) * n1) - 1000000 AS BIGINT)"
        )
        .cast("long")
        .alias("lift_ppm"),
        (F.floor(z * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "z_score"
        ),
    )


# ---------------------------------------------------------------------------
# Association rules (market basket) over order contents — support /
# confidence / lift for co-purchased part pairs, the classic
# recommender primitive. All three metrics are exact integer ppm
# (n_both·10⁶ DIV denominator — everything positive, so truncating
# integer division agrees across engines); top-100 by lift with a
# full (lift, item_a, item_b) tiebreak so the selected row SET is
# deterministic.
#
# 100 TB: baskets = distinct (order, part) — one dedup shuffle;
# per-item counts are map-side combinable; the pair join shuffles on
# orderkey with per-basket fan-out bounded by basket size (TPC-H ~4-7
# items); the min-support HAVING prunes the tail before the ppm math.
# ---------------------------------------------------------------------------
_AR_MIN_BOTH = 3  # min co-occurrence count (absolute support)
_AR_TOP = 100


@register(
    "assoc_rules_lift",
    oracle=f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem
        ),
        nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM baskets),
        items AS (
            SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
            FROM baskets GROUP BY item
        ),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM baskets a JOIN baskets b
              ON a.ok = b.ok AND a.item < b.item
            GROUP BY a.item, b.item
            HAVING COUNT(*) >= {_AR_MIN_BOTH}
        )
        SELECT item_a, item_b, n_both, n_a, n_b,
               support_ppm, confidence_ppm, lift_ppm
        FROM (
            SELECT p.item_a, p.item_b, p.n_both,
                   ia.n_item AS n_a, ib.n_item AS n_b,
                   p.n_both * 1000000 // (SELECT n FROM nb) AS support_ppm,
                   p.n_both * 1000000 // ia.n_item AS confidence_ppm,
                   CAST(CAST(p.n_both AS HUGEINT) * (SELECT n FROM nb)
                        * 1000000
                       // (CAST(ia.n_item AS HUGEINT) * ib.n_item)
                        AS BIGINT) AS lift_ppm,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST(p.n_both AS HUGEINT)
                                * (SELECT n FROM nb) * 1000000
                                // (CAST(ia.n_item AS HUGEINT) * ib.n_item)
                                DESC,
                                p.item_a, p.item_b) AS rk
            FROM pairs p
            JOIN items ia ON ia.item = p.item_a
            JOIN items ib ON ib.item = p.item_b
        ) t WHERE rk <= {_AR_TOP}
    """,
    doc=(
        f"Association rules on order baskets: exact-ppm support/"
        f"confidence/lift for part pairs with n_both>={_AR_MIN_BOTH}, "
        f"top-{_AR_TOP} by lift with full tiebreak."
    ),
)
def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    )
    # three readers, recomputed: measured faster than a checkpoint
    baskets = li.distinct()
    nb = baskets.agg(F.countDistinct("ok").cast("long").alias("n"))
    items = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    # groupBy + map-side pair explode replaces the basket self-join:
    # each basket emits each distinct pair once, so groupBy(pair).count
    # is n_both exactly as before (r13 optimization;
    # operators/graph.cobasket_pairs)
    pairs = (
        cobasket_pairs(baskets, "ok", "item", u="item_a", v="item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _AR_MIN_BOTH)
    )
    ia = items.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(ia, "item_a")
        .join(ib, "item_b")
        .join(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("n_both * 1000000 DIV n").alias("support_ppm"),
            F.expr("n_both * 1000000 DIV n_a").alias("confidence_ppm"),
            # width: n_both*n and n_a*n_b are products of fact-scale
            # counts (>2^63 at ~1e10 baskets) — DECIMAL(38,0) both
            # sides (r9 width sweep)
            F.expr(
                "CAST(CAST(n_both AS DECIMAL(38, 0)) * n * 1000000"
                " DIV (CAST(n_a AS DECIMAL(38, 0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_ppm"), "item_a", "item_b")
        .limit(_AR_TOP)
        .select(
            F.col("item_a").cast("long"),
            F.col("item_b").cast("long"),
            "n_both",
            "n_a",
            "n_b",
            F.col("support_ppm").cast("long"),
            F.col("confidence_ppm").cast("long"),
            F.col("lift_ppm").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve — time from signup to first error event,
# with deterministic administrative censoring at day 5 (the data is
# dense enough that every user eventually errors, so the censoring
# horizon is what makes the estimator's censored path real). The
# hashed surface is integer-exact end to end:
#
#   per user: dur = days(signup → first error), event if dur ≤ 5,
#             else censored at 5
#   per distinct day t: d_t (events), c_t (censored),
#             n_t = N − Σ_{u<t}(d_u + c_u)   (risk set)
#   log₁₀ S(t) = Σ_{u≤t} [ ⌊xlog10(n_u−d_u)·10⁶⌋ − ⌊xlog10(n_u)·10⁶⌋ ]
#
# — the KM product ∏(1 − d/n) carried in ppm-integer log space with
# the repo's deterministic decade-interpolated xlog10 (no libm), so
# the cumulative sum is order-independent integer arithmetic.
#
# 100 TB: two per-user aggregates (first signup, first error) — both
# map-side combinable on user_id — then the whole estimator runs on
# the ≤ horizon+1-row day spine (global windows bounded by
# construction).
# ---------------------------------------------------------------------------
_KM_HORIZON = 5


@register(
    "survival_km_curve",
    oracle=f"""
        WITH s AS (
            SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        fe AS (
            SELECT e.user_id, MIN(e.ts) AS t1
            FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t0
            WHERE e.event_type = 'error' GROUP BY e.user_id
        ),
        obs AS (
            SELECT s.user_id,
                   CASE WHEN fe.t1 IS NOT NULL
                             AND datediff('day', CAST(s.t0 AS DATE),
                                          CAST(fe.t1 AS DATE)) <= {_KM_HORIZON}
                        THEN datediff('day', CAST(s.t0 AS DATE),
                                      CAST(fe.t1 AS DATE))
                        ELSE {_KM_HORIZON} END AS t,
                   CASE WHEN fe.t1 IS NOT NULL
                             AND datediff('day', CAST(s.t0 AS DATE),
                                          CAST(fe.t1 AS DATE)) <= {_KM_HORIZON}
                        THEN 1 ELSE 0 END AS ev
            FROM s LEFT JOIN fe ON fe.user_id = s.user_id
        ),
        per AS (
            SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
                   CAST(SUM(1 - ev) AS BIGINT) AS c
            FROM obs GROUP BY t
        ),
        spine AS (
            SELECT t, d, c,
                   (SELECT COUNT(*) FROM obs)
                   - COALESCE(SUM(d + c) OVER (
                         ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS n_risk
            FROM per
        ),
        lg AS (
            SELECT t, d, c, n_risk,
                   CAST(FLOOR({sql_xlog10('GREATEST(n_risk - d, 1)')}
                              * 1000000.0) AS BIGINT)
                   - CAST(FLOOR({sql_xlog10('GREATEST(n_risk, 1)')}
                                * 1000000.0) AS BIGINT) AS step
            FROM spine
        )
        SELECT CAST(t AS BIGINT)  AS t_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               d AS d_events,
               c AS c_censored,
               CAST(SUM(step) OVER (
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS log10_surv_ppm
        FROM lg
    """,
    doc=(
        f"Kaplan-Meier survival (signup → first error, administrative "
        f"censoring at day {_KM_HORIZON}): exact risk sets, KM product "
        "carried as ppm-integer xlog10 steps — integer-exact curve."
    ),
)
def survival_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    fe = (
        ev.filter(F.col("event_type") == "error")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    dur = F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date"))
    obs = (
        s.join(fe, "user_id", "left")
        .select(
            F.when(
                F.col("t1").isNotNull() & (dur <= _KM_HORIZON), dur
            )
            .otherwise(F.lit(_KM_HORIZON))
            .alias("t"),
            F.when(
                F.col("t1").isNotNull() & (dur <= _KM_HORIZON), 1
            )
            .otherwise(0)
            .alias("ev"),
        )
    )
    per = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    nn = obs.agg(F.count(F.lit(1)).alias("n_total"))
    # ≤ horizon+1-row spine: global windows bounded by construction
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_incl = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    spine = (
        per.join(F.broadcast(nn))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
        )
    )
    step = (
        F.floor(xlog10(F.greatest(F.col("n_risk") - F.col("d"), F.lit(1)))
                * F.lit(1000000.0)).cast("long")
        - F.floor(xlog10(F.greatest(F.col("n_risk"), F.lit(1)))
                  * F.lit(1000000.0)).cast("long")
    )
    return spine.withColumn("step", step).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.sum("step").over(w_incl).cast("long").alias("log10_surv_ppm"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining: 3-step event sequences (r6). Extends
# top_user_paths' bigrams to the PrefixSpan-style question "which
# 3-step journeys dominate?" — consecutive event-type trigrams per
# user (ordered by ts with event_id tiebreak), counted globally, plus
# the support fraction of users exhibiting each pattern (exact ppm).
# 100 TB: trigram extraction is two LEADs over the (user_id) window —
# one shuffle on user_id, per-user partitions are session-sized; the
# trigram space is |types|³ ≤ tiny, so the count agg is map-side
# combinable into almost nothing. Top-20 with full lexical tiebreak.
# ---------------------------------------------------------------------------
@register(
    "seq_pattern_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS t1,
                   LEAD(event_type, 1) OVER w AS t2,
                   LEAD(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        tri AS (
            SELECT t1, t2, t3,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM seq WHERE t3 IS NOT NULL
            GROUP BY 1, 2, 3
        ),
        u AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events)
        SELECT t1, t2, t3, n_occurrences, n_users,
               CAST(n_users * 1000000 // (SELECT nu FROM u) AS BIGINT)
                   AS user_support_ppm
        FROM tri
        ORDER BY n_occurrences DESC, t1, t2, t3
        LIMIT 20
    """,
    doc=(
        "3-step sequential patterns: consecutive event-type trigrams "
        "per user (ts order, event_id tiebreak), global occurrence "
        "count + distinct-user support in exact ppm; top-20 with full "
        "lexical tiebreak. One user_id shuffle; trigram space is "
        "|types|³-bounded."
    ),
)
def seq_pattern_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    tri = seq.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    u = ev.agg(F.countDistinct("user_id").alias("nu"))
    return (
        tri.join(F.broadcast(u))
        .select(
            "t1",
            "t2",
            "t3",
            "n_occurrences",
            "n_users",
            F.expr("n_users * 1000000 DIV nu").cast("long").alias("user_support_ppm"),
        )
        .orderBy(F.desc("n_occurrences"), "t1", "t2", "t3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (r6) — the classic recommender
# primitive (Sarwar et al. 2001 / Amazon item-to-item): cosine
# similarity between items over the order-basket incidence matrix,
# top-5 neighbors for the 20 most-purchased items. With binary
# baskets, cos(i,j) = co(i,j) / √(deg_i·deg_j); ranking by cos is
# ranking by cos², so the hashed surface is the EXACT integer
#     cos2_ppm = co²·10⁶ DIV (deg_i·deg_j)
# — no square root ever happens (the libm-free trick; co ≤ min deg
# bounds co²·10⁶ below 10¹⁸ for degrees to 10⁶).
# 100 TB: basket dedup + one orderkey self-join (fan-out = basket
# size, the assoc_rules pipeline); co ≥ 2 prunes the pair tail before
# the window; neighbor ranking partitions per item — no global sort.
# ---------------------------------------------------------------------------
@register(
    "item_item_collab_filter",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        deg AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
            FROM baskets GROUP BY 1
        ),
        pairs AS (
            SELECT a.l_partkey AS i, b.l_partkey AS j,
                   CAST(COUNT(*) AS BIGINT) AS co
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        sym AS (
            SELECT i, j, co FROM pairs
            UNION ALL
            SELECT j AS i, i AS j, co FROM pairs
        ),
        hot AS (
            SELECT l_partkey AS i FROM deg
            ORDER BY d DESC, l_partkey ASC LIMIT 20
        ),
        scored AS (
            SELECT sym.i, sym.j, sym.co,
                   CAST(CAST(co AS HUGEINT) * co * 1000000
                        // (CAST(di.d AS HUGEINT) * dj.d) AS BIGINT)
                       AS cos2_ppm
            FROM sym
            JOIN hot ON sym.i = hot.i
            JOIN deg di ON sym.i = di.l_partkey
            JOIN deg dj ON sym.j = dj.l_partkey
        ),
        ranked AS (
            SELECT i, j, co, cos2_ppm,
                   ROW_NUMBER() OVER (PARTITION BY i
                                      ORDER BY cos2_ppm DESC, j ASC) AS rk
            FROM scored
        )
        SELECT i AS item_id, j AS neighbor_id,
               co AS n_cobaskets,
               CAST(cos2_ppm AS BIGINT) AS cos2_ppm,
               CAST(rk AS BIGINT) AS neighbor_rank
        FROM ranked WHERE rk <= 5
    """,
    doc=(
        "Item-to-item collaborative filtering: cosine similarity over "
        "binary order baskets as the exact integer co²·10⁶ DIV "
        "(deg_i·deg_j) (rank-equivalent to cosine, sqrt-free), top-5 "
        "neighbors for the 20 hottest items with full tiebreaks."
    ),
)
def item_item_collab_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the co-occurrence self-join is the canonical recommender
    batch job — fan-out bounded by basket size; co ≥ 2 prunes before
    scoring; per-item windows never sort globally. Swap the hot-20
    filter for all items and the same plan writes the full neighbor
    index (LSH-bucket it past ~10⁹ pairs)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    deg = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # groupBy + map-side pair explode replaces the basket self-join
    # (collect_set subsumes the pre-distinct for pair purposes); each
    # basket emits each pair once -> groupBy(pair).count is co exactly
    # (r13 optimization; operators/graph.cobasket_pairs)
    pairs = (
        cobasket_pairs(li, "l_orderkey", "l_partkey", u="i", v="j")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= 2)
    )
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "co")
    )
    hot = deg.orderBy(F.desc("d"), F.asc("l_partkey")).limit(20).select(
        F.col("l_partkey").alias("i")
    )
    di = deg.select(F.col("l_partkey").alias("i"), F.col("d").alias("d_i"))
    dj = deg.select(F.col("l_partkey").alias("j"), F.col("d").alias("d_j"))
    scored = (
        sym.join(F.broadcast(hot), "i")
        .join(di, "i")
        .join(dj, "j")
        .select(
            "i",
            "j",
            "co",
            # width: co and the degree product grow with basket mass
            # (staple-pair co ~1e7 at 100 TB -> co^2*1e6 > 2^63) —
            # DECIMAL(38,0)/HUGEINT both sides (r9 width sweep)
            F.expr(
                "CAST(CAST(co AS DECIMAL(38, 0)) * co * 1000000"
                " DIV (CAST(d_i AS DECIMAL(38, 0)) * d_j) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    w = W.partitionBy("i").orderBy(F.desc("cos2_ppm"), F.asc("j"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("i").alias("item_id"),
            F.col("j").alias("neighbor_id"),
            F.col("co").alias("n_cobaskets"),
            F.col("cos2_ppm").cast("long"),
            F.col("rk").cast("long").alias("neighbor_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Churn training-set assembly (r6) — the label-generation counterpart
# to negative_sampling_pairs: build a supervised churn dataset from
# the event stream with a point-in-time split that cannot leak. The
# observation cutoff is (max ts − 7 days): features are counted ONLY
# from events strictly before the cutoff (trailing 7/14/28-day windows
# plus lifetime), the label is "no activity in the 7-day post-window".
# Everything derives from one pass over events; the cutoff is an exact
# timestamp both engines compute identically.
# 100 TB: one user_id-keyed conditional aggregate (map-side combined)
# — the leakage-safe feature/label split is CASE arithmetic, not a
# second scan; this is the assembly job upstream of every churn model.
# ---------------------------------------------------------------------------
@register(
    "churn_training_assembly",
    oracle="""
        WITH mx AS (SELECT MAX(ts) AS mt FROM events),
        feat AS (
            SELECT user_id,
                   SUM(CASE WHEN ts <  mt - INTERVAL 7 DAY
                            AND  ts >= mt - INTERVAL 14 DAY
                            THEN 1 ELSE 0 END) AS ev_7_14d,
                   SUM(CASE WHEN ts <  mt - INTERVAL 7 DAY
                            AND  ts >= mt - INTERVAL 21 DAY
                            THEN 1 ELSE 0 END) AS ev_7_21d,
                   SUM(CASE WHEN ts <  mt - INTERVAL 7 DAY
                            AND  ts >= mt - INTERVAL 35 DAY
                            THEN 1 ELSE 0 END) AS ev_7_35d,
                   SUM(CASE WHEN ts < mt - INTERVAL 7 DAY
                            THEN 1 ELSE 0 END) AS ev_life,
                   SUM(CASE WHEN ts < mt - INTERVAL 7 DAY
                            AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS buys_life,
                   SUM(CASE WHEN ts >= mt - INTERVAL 7 DAY
                            THEN 1 ELSE 0 END) AS post_events
            FROM events, mx
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(ev_7_14d AS BIGINT)  AS ev_7_14d,
               CAST(ev_7_21d AS BIGINT)  AS ev_7_21d,
               CAST(ev_7_35d AS BIGINT)  AS ev_7_35d,
               CAST(ev_life AS BIGINT)   AS ev_life,
               CAST(buys_life AS BIGINT) AS buys_life,
               post_events = 0           AS churned
        FROM feat
        WHERE ev_life > 0
    """,
    doc=(
        "Point-in-time churn dataset assembly: per-user trailing "
        "7/14/28-day (pre-cutoff) activity features + lifetime counts, "
        "label = zero activity in the 7-day post-window — leakage-safe "
        "by construction (features read only pre-cutoff events), one "
        "conditional aggregate over the stream."
    ),
)
def churn_training_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    mx = ev.agg(F.max("ts").alias("mt"))
    cut = "mt - INTERVAL 7 DAYS"
    feat = (
        ev.join(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN ts < {cut} AND ts >= mt - INTERVAL 14 DAYS"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("ev_7_14d"),
            F.sum(
                F.expr(
                    f"CASE WHEN ts < {cut} AND ts >= mt - INTERVAL 21 DAYS"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("ev_7_21d"),
            F.sum(
                F.expr(
                    f"CASE WHEN ts < {cut} AND ts >= mt - INTERVAL 35 DAYS"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("ev_7_35d"),
            F.sum(F.expr(f"CASE WHEN ts < {cut} THEN 1 ELSE 0 END")).alias("ev_life"),
            F.sum(
                F.expr(
                    f"CASE WHEN ts < {cut} AND event_type = 'purchase'"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("buys_life"),
            F.sum(F.expr(f"CASE WHEN ts >= {cut} THEN 1 ELSE 0 END")).alias(
                "post_events"
            ),
        )
    )
    return feat.filter(F.col("ev_life") > 0).select(
        "user_id",
        F.col("ev_7_14d").cast("long"),
        F.col("ev_7_21d").cast("long"),
        F.col("ev_7_35d").cast("long"),
        F.col("ev_life").cast("long"),
        F.col("buys_life").cast("long"),
        (F.col("post_events") == 0).alias("churned"),
    )


# ---------------------------------------------------------------------------
# Conversion-latency order statistics (r6) — "how long from first
# view to first purchase?", answered with EXACT order statistics (the
# funnel family reports rates; this reports the latency distribution).
# Per user: latency = first purchase ts − first view ts (only users
# whose first view precedes their first purchase). Lower-median, p90
# (rank = ⌈0.9·n⌉ via (9n+9)//10 on 1-based ranks), and max — all
# row-number order statistics with user_id tiebreak, no averaging, no
# floats.
# 100 TB: two per-user MIN aggregates on the same user_id shuffle;
# order statistics on the user-count spine via the global-rank class
# (two-phase scalable form past ~10⁷ users).
# ---------------------------------------------------------------------------
@register(
    "conversion_latency_quantiles",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS v0,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p0
            FROM events GROUP BY user_id
        ),
        lat AS (
            SELECT user_id,
                   epoch_us(p0) - epoch_us(v0) AS lat_us
            FROM firsts
            WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 > v0
        ),
        ranked AS (
            SELECT lat_us,
                   ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rk,
                   COUNT(*) OVER () AS nn
            FROM lat
        )
        SELECT CAST(MAX(nn) AS BIGINT) AS n_users,
               CAST(MIN(CASE WHEN rk = (nn + 1) // 2 THEN lat_us END)
                    AS BIGINT) AS median_latency_us,
               CAST(MIN(CASE WHEN rk = (9 * nn + 9) // 10 THEN lat_us END)
                    AS BIGINT) AS p90_latency_us,
               CAST(MAX(lat_us) AS BIGINT) AS max_latency_us
        FROM ranked
    """,
    doc=(
        "First-view → first-purchase conversion latency: exact lower-"
        "median / p90 / max via row-number order statistics with "
        "user_id tiebreak (no averaging, no floats); two conditional "
        "MINs on one user shuffle."
    ),
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p0"),
    )
    lat = firsts.filter(
        F.col("v0").isNotNull() & F.col("p0").isNotNull() & (F.col("p0") > F.col("v0"))
    ).select(
        "user_id",
        (F.unix_micros("p0") - F.unix_micros("v0")).alias("lat_us"),
    )
    # two-phase global rank over the user-scale latency frame (r10,
    # extending r9 verdict task 2); the total count joins back as a
    # broadcast 1-row aggregate instead of COUNT(*) OVER ()
    from stacktrend_spark.operators.ranking import global_rank_scalable

    nn = lat.agg(F.count(F.lit(1)).alias("nn"))
    ranked = (
        global_rank_scalable(
            lat,
            order_cols=[F.col("lat_us"), F.col("user_id")],
            rank_col="rk",
        )
        .select("lat_us", "rk")
        .crossJoin(F.broadcast(nn))
    )
    return ranked.agg(
        F.max("nn").cast("long").alias("n_users"),
        F.min(F.when(F.col("rk") == F.expr("(nn + 1) DIV 2"), F.col("lat_us")))
        .cast("long")
        .alias("median_latency_us"),
        F.min(F.when(F.col("rk") == F.expr("(9 * nn + 9) DIV 10"), F.col("lat_us")))
        .cast("long")
        .alias("p90_latency_us"),
        F.max("lat_us").cast("long").alias("max_latency_us"),
    )


# ---------------------------------------------------------------------------
# Same-session type affinity (r6) — events_markov_transition scores
# CONSECUTIVE steps; this scores CO-PRESENCE: for every ordered pair
# of event types, the lift of "a session containing A also contains
# B" over B's base session rate. Sessions are the 30-minute-gap
# sessionization (same lag/flag/prefix-sum construction as
# stream_session_windows' oracle), distinct types per session, then
# pair counts vs marginals — exact ppm with HUGEINT/DECIMAL(38)
# products for the lift cross-multiplication.
# 100 TB: sessionization is per-user windows (one user shuffle);
# sessions collapse to distinct (session, type) rows; the pair join
# fans out by types-per-session (≤ |types|), and the affinity matrix
# is |types|² — constant.
# ---------------------------------------------------------------------------
@register(
    "session_type_affinity",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            >= 1800000000
                        OR LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ),
        sess AS (
            SELECT user_id, event_type,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM seq
        ),
        st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        n_sess AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS ns
                   FROM st),
        marg AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
            FROM st GROUP BY 1
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM st a JOIN st b
              ON a.user_id = b.user_id AND a.sid = b.sid
             AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, p.n_both,
               ma.n_t AS n_a, mb.n_t AS n_b,
               CAST(CAST(p.n_both AS HUGEINT) * ns.ns * 1000000
                    // (CAST(ma.n_t AS HUGEINT) * mb.n_t) AS BIGINT)
                   AS lift_ppm
        FROM pairs p
        JOIN marg ma ON p.type_a = ma.event_type
        JOIN marg mb ON p.type_b = mb.event_type
        CROSS JOIN n_sess ns
    """,
    doc=(
        "Same-session type-affinity lift: 30-min-gap sessionization, "
        "distinct types per session, pairwise co-presence vs marginal "
        "session rates — lift_ppm = n_both·n_sessions·10⁶ DIV "
        "(n_a·n_b), exact 128-bit products. The co-presence complement "
        "to the Markov transition matrix."
    ),
)
def session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.when(
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) >= 1800000000)
            | F.lag(F.unix_micros("ts")).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    ws = W.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    st = local_checkpoint(
        seq.select(
            "user_id", "event_type", F.sum("is_new").over(ws).alias("sid")
        ).distinct()
    )
    n_sess = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    marg = st.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a = st.select("user_id", "sid", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "sid", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    dec = "decimal(38,0)"
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("event_type").alias("type_a"),
                                    F.col("n_t").alias("n_a"))), "type_a"
        )
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("type_b"),
                                    F.col("n_t").alias("n_b"))), "type_b"
        )
        .join(F.broadcast(n_sess))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                f"CAST(CAST(n_both AS {dec}) * ns * 1000000"
                f" DIV (CAST(n_a AS {dec}) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-event burstiness (r6) — Goh & Barabási's B = (σ−μ)/(σ+μ) of
# inter-event times: −1 = metronome, 0 = Poisson, →1 = extreme bursts.
# Per event type over user streams (gaps within each user's own
# sequence), with σ/μ derived from EXACT integer gap sums
# (Σgap, Σgap² in 128-bit) through one fixed double op tree — the
# dstd discipline; population σ (the paper's form).
# 100 TB: one LAG per user window (user_id shuffle), then a
# #types-row reduce of two integer sums.
# ---------------------------------------------------------------------------
@register(
    "interevent_burstiness",
    oracle=f"""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS g
            FROM events
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(g) AS BIGINT) AS s1i,
                   CAST(SUM(g) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS s2,
                   CAST(COUNT(*) AS DOUBLE) AS nd
            FROM gaps WHERE g IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n AS n_gaps,
               CAST(s1i // n AS BIGINT) AS mean_gap_us,
               {sql_round(
                   "(SQRT(GREATEST(s2/nd - (s1/nd)*(s1/nd), 0.0)) - s1/nd)"
                   " / (SQRT(GREATEST(s2/nd - (s1/nd)*(s1/nd), 0.0)) + s1/nd)",
                   6,
               )} AS burstiness_b
        FROM s
    """,
    doc=(
        "Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of per-user inter-"
        "event gaps, by event type: exact 128-bit gap sums, population "
        "σ through one fixed double op tree — metronome (−1) vs "
        "Poisson (0) vs bursty (→1) in one number per type."
    ),
)
def interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("g"),
    ).filter(F.col("g").isNotNull())
    dec = "decimal(38,0)"
    s = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s1i"),
        F.sum("g").cast("double").alias("s1"),
        F.sum(F.expr(f"CAST(g AS {dec}) * g")).cast("double").alias("s2"),
        F.count(F.lit(1)).cast("double").alias("nd"),
    )
    mu = F.col("s1") / F.col("nd")
    sig = F.sqrt(F.greatest(F.col("s2") / F.col("nd") - mu * mu, F.lit(0.0)))
    # r13 property-campaign fix: a type whose every gap is 0 (two
    # same-microsecond events per user — duplicate-ts ingestion) has
    # σ = μ = 0, and ANSI Spark turns the (σ−μ)/(σ+μ) division into a
    # DIVIDE_BY_ZERO crash where DuckDB yields NULL. B is UNDEFINED
    # there → NULL on both sides.
    return s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr("s1i DIV n").cast("long").alias("mean_gap_us"),
        F.when(sig + mu == F.lit(0.0), F.lit(None).cast("double"))
        .otherwise(fround((sig - mu) / (sig + mu), 6))
        .alias("burstiness_b"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate (r6) — Lincoln-Petersen from
# ecology applied to coverage estimation: treat 'view' users and
# 'click' users as two independent captures of the same population;
# N̂ = n₁·n₂ DIV m (m = users in both). The audit column compares the
# estimate against the TRUE distinct-user count — the estimator's
# bias under non-independent captures is itself the measurement (the
# same trick estimates corpus coverage from two crawl snapshots).
# Exact integers end to end.
# 100 TB: three distinct-count aggregates over one user_id shuffle.
# ---------------------------------------------------------------------------
@register(
    "capture_recapture_estimate",
    oracle="""
        WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        m AS (SELECT COUNT(*) AS m FROM a JOIN b USING (user_id)),
        t AS (SELECT COUNT(DISTINCT user_id) AS truth FROM events)
        SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_capture1,
               CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_capture2,
               CAST((SELECT m FROM m) AS BIGINT) AS n_both,
               CAST(CAST((SELECT COUNT(*) FROM a) AS HUGEINT)
                    * (SELECT COUNT(*) FROM b)
                    // (SELECT m FROM m) AS BIGINT) AS lincoln_petersen_est,
               CAST((SELECT truth FROM t) AS BIGINT) AS true_users,
               CAST(ABS(CAST((SELECT COUNT(*) FROM a) AS HUGEINT)
                        * (SELECT COUNT(*) FROM b)
                        // (SELECT m FROM m) - (SELECT truth FROM t))
                    * 1000000 // (SELECT truth FROM t) AS BIGINT) AS err_ppm
    """,
    doc=(
        "Lincoln–Petersen capture-recapture estimate of the user "
        "population from the view/click capture pair, audited against "
        "the true distinct count with exact ppm error — coverage "
        "estimation from overlapping samples (two-crawl corpus "
        "coverage uses the same arithmetic)."
    ),
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    a = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    n1 = a.agg(F.count(F.lit(1)).cast("long").alias("n_capture1"))
    n2 = b.agg(F.count(F.lit(1)).cast("long").alias("n_capture2"))
    m = a.join(b, "user_id").agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    t = ev.agg(F.countDistinct("user_id").cast("long").alias("true_users"))
    return (
        n1.join(F.broadcast(n2))
        .join(F.broadcast(m))
        .join(F.broadcast(t))
        .select(
            "n_capture1",
            "n_capture2",
            "n_both",
            # width: the capture product is two distinct-user counts
            # (>2^63 at ~1e10 users each) — DECIMAL(38,0) (r9 width
            # sweep). r13 property-campaign fix: a disjoint capture
            # pair (n_both = 0 — no user in both samples) made ANSI
            # Spark crash with DIVIDE_BY_ZERO where DuckDB yields
            # NULL; the Lincoln-Petersen estimate is UNDEFINED at
            # m = 0 → NULL on both sides.
            F.expr(
                "CASE WHEN n_both = 0 THEN NULL"
                " ELSE CAST(CAST(n_capture1 AS DECIMAL(38, 0)) * n_capture2"
                " DIV n_both AS BIGINT) END"
            ).alias("lincoln_petersen_est"),
            "true_users",
            F.expr(
                "CASE WHEN n_both = 0 THEN NULL"
                " ELSE ABS(CAST(n_capture1 AS DECIMAL(38, 0)) * n_capture2"
                " DIV n_both - true_users)"
                " * 1000000 DIV true_users END"
            )
            .cast("long")
            .alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution (r7) — the
# 40/20/40 model beside first/last-touch above: 40% of conversion
# credit to the first touch, 40% to the last, 20% spread over the
# middle touches. Exact integer ppm: the middle share is
# 200000 DIV (n−2) per touch with the remainder assigned to the FIRST
# touch (deterministic), so every conversion's credits sum to exactly
# 1,000,000 ppm — mass conservation is an invariant, not a rounding
# hope. Same single-window-pass shape as attribution_first_last_touch:
# encoded argmin/argmax keys + two conditional counts in ONE 7-day
# RANGE frame; per-channel credit is then pure map-side arithmetic —
# middle touches are NEVER enumerated.
# 100 TB: one user_id window pass; no joins, no touch explosion.
# ---------------------------------------------------------------------------
@register(
    "attribution_position_based",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, event_id,
                   epoch_us(ts) AS us,
                   (epoch_us(ts) * 1000 + event_id % 1000) * 2
                   + CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS k
            FROM events
        ),
        wnd AS (
            SELECT user_id, event_type,
                   MIN(CASE WHEN event_type IN ('view', 'click') THEN k END)
                       OVER w AS first_k,
                   MAX(CASE WHEN event_type IN ('view', 'click') THEN k END)
                       OVER w AS last_k,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                       OVER w AS cv,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                       OVER w AS cc
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us
                         RANGE BETWEEN {_WEEK_US} PRECEDING AND 1 PRECEDING)
        ),
        sel AS (
            SELECT cv + cc AS n,
                   CASE WHEN first_k % 2 = 1 THEN 1 ELSE 0 END AS fv,
                   CASE WHEN last_k % 2 = 1 THEN 1 ELSE 0 END  AS lv,
                   cv, cc
            FROM wnd WHERE event_type = 'purchase'
        ),
        credited AS (
            SELECT n, cv, cc, fv, lv,
                   CASE WHEN n >= 3 THEN 200000 // (n - 2) ELSE 0 END AS q,
                   CASE WHEN n >= 3
                        THEN 200000 - (200000 // (n - 2)) * (n - 2)
                        ELSE 0 END AS r
            FROM sel
        ),
        percase AS (
            SELECT
                CASE WHEN n = 0 THEN 1000000 ELSE 0 END AS cr_direct,
                CASE WHEN n = 1 THEN fv * 1000000
                     WHEN n = 2 THEN fv * 500000 + lv * 500000
                     WHEN n >= 3 THEN fv * 400000 + lv * 400000
                          + (cv - fv - lv) * q + fv * r
                     ELSE 0 END AS cr_view,
                CASE WHEN n = 1 THEN (1 - fv) * 1000000
                     WHEN n = 2 THEN (1 - fv) * 500000 + (1 - lv) * 500000
                     WHEN n >= 3 THEN (1 - fv) * 400000 + (1 - lv) * 400000
                          + (cc - (1 - fv) - (1 - lv)) * q + (1 - fv) * r
                     ELSE 0 END AS cr_click
            FROM credited
        ),
        longf AS (
            SELECT 'direct' AS channel, cr_direct AS cr FROM percase
            UNION ALL SELECT 'view', cr_view FROM percase
            UNION ALL SELECT 'click', cr_click FROM percase
        )
        SELECT channel,
               CAST(SUM(cr) AS BIGINT)  AS total_credit_ppm,
               CAST(SUM(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                        AS n_conversions
        FROM longf WHERE cr > 0 OR channel = 'direct'
        GROUP BY channel
        HAVING SUM(cr) > 0
    """,
    doc=(
        "Position-based (40/20/40) multi-touch attribution: one 7-day "
        "RANGE window pass (argmin/argmax keys + conditional counts), "
        "middle credit 200000 DIV (n-2) ppm with remainder to the "
        "first touch — per-conversion credits sum to exactly 1e6 ppm."
    ),
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    k = (
        (F.unix_micros("ts") * 1000 + F.col("event_id") % 1000) * 2
        + F.when(F.col("event_type") == "view", 1).otherwise(0)
    )
    touch_k = F.when(F.col("event_type").isin("view", "click"), k)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_WEEK_US, -1)
    )
    sel = (
        ev.select(
            "event_type",
            F.min(touch_k).over(w).alias("first_k"),
            F.max(touch_k).over(w).alias("last_k"),
            F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias("cv"),
            F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias("cc"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            (F.col("cv") + F.col("cc")).alias("n"),
            F.when(F.col("first_k") % 2 == 1, 1).otherwise(0).alias("fv"),
            F.when(F.col("last_k") % 2 == 1, 1).otherwise(0).alias("lv"),
            "cv",
            "cc",
        )
        .withColumn(
            "q", F.expr("CASE WHEN n >= 3 THEN 200000 DIV (n - 2) ELSE 0 END")
        )
        .withColumn(
            "r",
            F.expr(
                "CASE WHEN n >= 3"
                " THEN 200000 - (200000 DIV (n - 2)) * (n - 2) ELSE 0 END"
            ),
        )
    )
    percase = sel.select(
        F.expr("CASE WHEN n = 0 THEN 1000000 ELSE 0 END").alias("cr_direct"),
        F.expr(
            "CASE WHEN n = 1 THEN fv * 1000000"
            " WHEN n = 2 THEN fv * 500000 + lv * 500000"
            " WHEN n >= 3 THEN fv * 400000 + lv * 400000"
            "      + (cv - fv - lv) * q + fv * r"
            " ELSE 0 END"
        ).alias("cr_view"),
        F.expr(
            "CASE WHEN n = 1 THEN (1 - fv) * 1000000"
            " WHEN n = 2 THEN (1 - fv) * 500000 + (1 - lv) * 500000"
            " WHEN n >= 3 THEN (1 - fv) * 400000 + (1 - lv) * 400000"
            "      + (cc - (1 - fv) - (1 - lv)) * q + (1 - fv) * r"
            " ELSE 0 END"
        ).alias("cr_click"),
    )
    longf = percase.select(
        F.explode(
            F.array(
                F.struct(F.lit("direct").alias("channel"), F.col("cr_direct").alias("cr")),
                F.struct(F.lit("view").alias("channel"), F.col("cr_view").alias("cr")),
                F.struct(F.lit("click").alias("channel"), F.col("cr_click").alias("cr")),
            )
        ).alias("c")
    ).select("c.channel", "c.cr")
    return (
        longf.filter((F.col("cr") > 0) | (F.col("channel") == "direct"))
        .groupBy("channel")
        .agg(
            F.sum("cr").cast("long").alias("total_credit_ppm"),
            F.sum(F.when(F.col("cr") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_conversions"),
        )
        .filter(F.col("total_credit_ppm") > 0)
    )


# ---------------------------------------------------------------------------
# Maximum drawdown (r7) — the running-max/peak-to-trough metric
# (finance's risk statistic, equally the "engagement collapse" signal
# on cumulative user value): per user, cumulative purchase value, its
# running maximum, and the largest peak-to-trough drop — all exact
# cents through per-user window frames (state bounded per user), then
# a distributed top-10 by drawdown. Drawdown ppm of peak uses the
# 128-bit-safe integer DIV.
# 100 TB: one user_id window pass + TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "running_max_drawdown",
    oracle="""
        WITH p AS (
            SELECT user_id, epoch_us(ts) AS us, event_id,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        cum1 AS (
            SELECT user_id, us, event_id,
                   SUM(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_cents
            FROM p
        ),
        cum AS (
            SELECT user_id, cum_cents,
                   MAX(cum_cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS peak_cents
            FROM cum1
        ),
        dd AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT)                    AS n_purchases,
                   CAST(MAX(peak_cents) AS BIGINT)             AS peak_cents,
                   CAST(MAX(peak_cents - cum_cents) AS BIGINT) AS max_drawdown_cents
            FROM cum GROUP BY 1
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       ORDER BY max_drawdown_cents DESC, user_id) AS rnk
            FROM dd
        )
        SELECT user_id, n_purchases, peak_cents, max_drawdown_cents,
               CAST(max_drawdown_cents * 1000000 // GREATEST(peak_cents, 1)
                    AS BIGINT) AS drawdown_ppm_of_peak,
               CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= 10
    """,
    doc=(
        "Maximum drawdown per user (cumulative purchase cents, running "
        "peak, largest peak-to-trough drop, ppm of peak), distributed "
        "top-10 — one user-partitioned window pass."
    ),
)
def running_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            iscale("value").alias("cents"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        p.select(
            "user_id",
            "us",
            "event_id",
            F.sum("cents").over(w).alias("cum_cents"),
        )
        .withColumn("peak_cents", F.max("cum_cents").over(w))
        .drop("us", "event_id")
    )
    dd = cum.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.max("peak_cents").cast("long").alias("peak_cents"),
        F.max(F.col("peak_cents") - F.col("cum_cents"))
        .cast("long")
        .alias("max_drawdown_cents"),
    )
    top = dd.orderBy(F.desc("max_drawdown_cents"), F.col("user_id")).limit(10)
    w2 = W.orderBy(F.desc("max_drawdown_cents"), F.col("user_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .select(
            "user_id",
            "n_purchases",
            "peak_cents",
            "max_drawdown_cents",
            F.expr(
                "CAST(max_drawdown_cents * 1000000"
                " DIV GREATEST(peak_cents, 1) AS BIGINT)"
            ).alias("drawdown_ppm_of_peak"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# RFM segment migration matrix (r8) — the period-over-period customer
# lifecycle view next to customer_rfm_scores: tier every customer in
# the 1995-1997 half and the 1998-2001 half by frequency + monetary
# thresholds, then cross-tabulate the transitions ('none' = absent in
# that half). The churn/upsell planning table every retention team
# asks for.
#
# 100 TB: two per-(customer, half) aggregates in ONE groupBy (the half
# is a CASE column), a self-equi-join on custkey (hash, one shuffle),
# then a <= 4x4-row matrix rollup with the total broadcast back.
# ---------------------------------------------------------------------------
_RFM_HI_F = 4                 # orders in a half for the 'high' gate
_RFM_HI_M = 80_000_000        # cents in a half for the 'high' gate


@register(
    "rfm_migration_matrix",
    oracle=f"""
        WITH h AS (
            SELECT o_custkey AS ck,
                   CASE WHEN o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END
                       AS half,
                   CAST(COUNT(*) AS BIGINT) AS f,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS m_cents
            FROM orders GROUP BY 1, 2
        ),
        t AS (
            SELECT ck, half,
                   CASE WHEN f >= {_RFM_HI_F} AND m_cents >= {_RFM_HI_M}
                             THEN 'high'
                        WHEN f >= 2 THEN 'mid'
                        ELSE 'low' END AS tier
            FROM h
        ),
        mat AS (
            SELECT COALESCE(b.tier, 'none') AS tier_before,
                   COALESCE(a.tier, 'none') AS tier_after,
                   CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM (SELECT ck, tier FROM t WHERE half = 0) b
            FULL OUTER JOIN (SELECT ck, tier FROM t WHERE half = 1) a
              ON a.ck = b.ck
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS nn FROM mat)
        SELECT m.tier_before, m.tier_after, m.n_customers,
               CAST(m.n_customers * 10000 // t.nn AS BIGINT) AS share_bp
        FROM mat m CROSS JOIN tot t
    """,
    doc=(
        "Period-over-period RFM tier migration: frequency+monetary "
        "tiers per half (1995-97 vs 1998-2001), full-outer transition "
        "matrix with 'none' for absence, exact share in basis points."
    ),
)
def rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    h = (
        orders.select(
            F.col("o_custkey").alias("ck"),
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), 0
            )
            .otherwise(1)
            .alias("half"),
            iscale("o_totalprice").alias("cents"),
        )
        .groupBy("ck", "half")
        .agg(
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum("cents").cast("long").alias("m_cents"),
        )
    )
    t = h.select(
        "ck",
        "half",
        F.when(
            (F.col("f") >= _RFM_HI_F) & (F.col("m_cents") >= _RFM_HI_M), "high"
        )
        .when(F.col("f") >= 2, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    b = t.filter(F.col("half") == 0).select("ck", F.col("tier").alias("tb"))
    a = t.filter(F.col("half") == 1).select("ck", F.col("tier").alias("ta"))
    mat = (
        b.join(a, "ck", "full_outer")
        .groupBy(
            F.coalesce("tb", F.lit("none")).alias("tier_before"),
            F.coalesce("ta", F.lit("none")).alias("tier_after"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    tot = mat.agg(F.sum("n_customers").cast("long").alias("nn"))
    return mat.join(F.broadcast(tot)).select(
        "tier_before",
        "tier_after",
        "n_customers",
        F.expr("CAST(n_customers * 10000 DIV nn AS BIGINT)").alias("share_bp"),
    )
