"""As-of and banded range join queries over the events table.

Oracle notes: DuckDB has a native ASOF JOIN — the Spark side must
reproduce its exact semantics (backward, inclusive) with the
union+window plan from operators/temporal.py. Timestamps are emitted
as epoch-µs longs throughout (the repo's cross-engine convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    fround,
    iscale,
    sql_iscale,
    sql_round,
)
from stacktrend_spark.operators.temporal import asof_join, range_join_banded
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table


@register(
    "asof_purchase_login",
    # DuckDB ASOF JOIN picks the right row with the LARGEST right.ts
    # <= left.ts per key — exactly the backward-inclusive semantics of
    # operators/temporal.asof_join. Ties inside the right side (two
    # signups at the same instant) don't occur in the testdata; the
    # event_id tiebreaker below is for the LEFT side only.
    # r5: the right side is the 'signup' stream — the regenerated
    # testdata carries NO 'login' event type, which silently turned
    # this into an all-miss LEFT join (every asof_* column NULL): still
    # hash-green, but proving only the unmatched path. 'signup' plays
    # the session-start role so the backward match is genuinely
    # exercised; the registered name stays for ledger/bench continuity.
    oracle="""
        WITH purchases AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        ),
        logins AS (
            SELECT event_id AS login_event_id, user_id, ts AS login_ts
            FROM events WHERE event_type = 'signup'
        )
        SELECT
            p.event_id,
            p.user_id,
            epoch_us(p.ts)                         AS ts_us,
            p.value,
            l.login_event_id                       AS asof_event_id,
            epoch_us(l.login_ts)                   AS asof_ts_us,
            epoch_us(p.ts) - epoch_us(l.login_ts)  AS gap_us
        FROM purchases p
        ASOF LEFT JOIN logins l
            ON p.user_id = l.user_id AND p.ts >= l.login_ts
    """,
    doc=(
        "As-of join: each purchase ⟵ most recent prior signup per user "
        "(union+window plan; both matched and unmatched paths live)."
    ),
)
def asof_purchase_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    logins = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        logins,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.col("asof_event_id"),
        F.unix_micros("asof_ts").alias("asof_ts_us"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("gap_us"),
    )


@register(
    "range_join_halfday_windows",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('day', MIN(ts)) AS t0 FROM events
        ),
        intervals AS (
            SELECT
                k AS window_id,
                t0 + to_microseconds(k * 86400000000 + 21600000000) AS w_start,
                t0 + to_microseconds(k * 86400000000 + 64800000000) AS w_end
            FROM bounds, UNNEST(range(30)) AS t(k)
        )
        SELECT
            i.window_id,
            CAST(COUNT(*) AS BIGINT)                 AS n_events,
            CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e
        JOIN intervals i
          ON e.ts >= i.w_start AND e.ts < i.w_end
        GROUP BY i.window_id
    """,
    doc="Banded range join: 30 half-day windows × events via day-bucket equi-join + exact check.",
)
def range_join_halfday_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t0 = events.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    # 30 half-day windows [06:00, 18:00) on consecutive days — each
    # interval sits inside one day-band by construction
    intervals = (
        spark.range(30)
        .withColumnRenamed("id", "window_id")
        .crossJoin(F.broadcast(t0))
        .select(
            "window_id",
            F.timestamp_micros(
                F.unix_micros("t0") + F.col("window_id") * 86_400_000_000 + 21_600_000_000
            ).alias("w_start"),
            F.timestamp_micros(
                F.unix_micros("t0") + F.col("window_id") * 86_400_000_000 + 64_800_000_000
            ).alias("w_end"),
        )
    )
    joined = range_join_banded(
        events,
        intervals,
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        band=F.date_trunc("day", F.col("w_start")),
        point_band=F.date_trunc("day", F.col("ts")),
        # [06:00, 18:00) sits inside one day-band, so this adds no
        # replica — passed for correct-by-default operator usage (r8)
        end_band=F.date_trunc("day", F.col("w_end")),
        band_step=F.expr("INTERVAL 1 DAY"),
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "resample_daily_gapfill",
    # exact int-cents throughout; cumulative window is per-user over
    # unique days so RANGE/ROWS framing differences can't matter
    oracle="""
        WITH ev AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events WHERE user_id < 50
        ),
        daily AS (
            SELECT user_id, day, SUM(cents) AS c FROM ev GROUP BY user_id, day
        ),
        bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        days AS (
            SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ),
        users AS (SELECT DISTINCT user_id FROM ev)
        SELECT
            u.user_id,
            epoch_us(d.day)                        AS day_us,
            CAST(COALESCE(daily.c, 0) AS BIGINT)   AS day_value_cents,
            CAST(SUM(COALESCE(daily.c, 0)) OVER (
                PARTITION BY u.user_id ORDER BY d.day) AS BIGINT)
                AS cum_value_cents
        FROM users u
        CROSS JOIN days d
        LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
    """,
    doc="Time-series resample: dense daily grid (sequence+explode), zero-fill, cumulative carry.",
)
def resample_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from stacktrend_spark.functions.rounding import iscale

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    day = F.date_trunc("day", F.col("ts")).alias("day")
    daily = ev.groupBy("user_id", day).agg(F.sum(iscale("value", 2)).alias("c"))
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    # the day spine and user list are both tiny → broadcast the grid
    # sides; the only data-sized shuffles are the daily agg and the
    # (user, day) left join
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    filled = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "day_value_cents", F.coalesce(F.col("c"), F.lit(0)).cast("long")
    )
    w = W.partitionBy("user_id").orderBy("day")
    return filled.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        "day_value_cents",
        F.sum("day_value_cents").over(w).cast("long").alias("cum_value_cents"),
    )


@register(
    "twap_user_value",
    # exact integer surface: duration in whole seconds (µs DIV 1e6),
    # value in cents; Σ(cents·dur_s) ≤ ~6e4 · 2.6e6 · segments — summed
    # 128-bit-wide on both sides (Spark long sum is exact here with
    # ~1e3 headroom at any oracle-checked sf; DuckDB sums to HUGEINT
    # and casts back). TWAP itself is integer division — no floats.
    oracle=f"""
        WITH seq AS (
            SELECT user_id,
                   epoch_us(ts) AS ts_us,
                   {sql_iscale('value')} AS cents,
                   LEAD(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS next_us
            FROM events WHERE value IS NOT NULL
        ),
        seg AS (
            SELECT user_id, cents, (next_us - ts_us) // 1000000 AS dur_s
            FROM seq WHERE next_us IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT)            AS n_segments,
               CAST(SUM(cents * dur_s) AS BIGINT)  AS weighted_cents_s,
               CAST(SUM(dur_s) AS BIGINT)          AS held_s,
               CAST(CASE WHEN SUM(dur_s) > 0
                         THEN SUM(cents * dur_s) // SUM(dur_s) END AS BIGINT)
                   AS twap_cents
        FROM seg GROUP BY user_id
    """,
    doc="Time-weighted average value per user: hold-until-next-event weighting, exact ints.",
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP: each event's value is 'held' until the user's next event;
    the average weights by hold duration, not event count — the
    standard market-data aggregation the naive AVG gets wrong.

    One window pass (lead) + one groupBy, both partitioned by user —
    a single shuffle. At 100 TB the same two-op plan runs per
    date-bucket with one row of cross-boundary lookahead.
    """
    from pyspark.sql import Window as W

    from stacktrend_spark.functions.rounding import iscale

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        iscale("value").alias("cents"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    seg = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "cents",
        F.expr("(next_us - ts_us) DIV 1000000").alias("dur_s"),
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("cents") * F.col("dur_s")).cast("long").alias("weighted_cents_s"),
        F.sum("dur_s").cast("long").alias("held_s"),
        F.when(
            F.sum("dur_s") > 0,
            F.expr("sum(cents * dur_s) DIV sum(dur_s)"),
        )
        .cast("long")
        .alias("twap_cents"),
    )


@register(
    "rollup_time_multigrain",
    # hypertable-style continuous aggregate: hour/day/week rollups in
    # ONE scan via GROUPING SETS (1 Expand + 1 shuffle, not 3 scans);
    # grain is labeled from GROUPING() so null buckets are unambiguous
    oracle=f"""
        SELECT
            CASE WHEN GROUPING(h) = 0 THEN 'hour'
                 WHEN GROUPING(d) = 0 THEN 'day'
                 ELSE 'week' END                        AS grain,
            epoch_us(COALESCE(h, d, w))                 AS bucket_us,
            CAST(COUNT(*) AS BIGINT)                    AS n_events,
            CAST(SUM({sql_iscale("value")}) AS BIGINT)  AS sum_cents
        FROM (
            SELECT value,
                   date_trunc('hour', ts) AS h,
                   date_trunc('day',  ts) AS d,
                   date_trunc('week', ts) AS w
            FROM events WHERE value IS NOT NULL
        )
        GROUP BY GROUPING SETS ((h), (d), (w))
    """,
    doc="Multi-resolution time rollup (hour/day/week) in one GROUPING SETS pass.",
)
def rollup_time_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downsampling ladder a time-series store maintains as
    continuous aggregates, computed in one pass: Expand replicates each
    row 3× with a grain tag, then one hash aggregate. At 100 TB the
    fine grain dominates output cardinality, so bucket keys stay
    near-uniform — no skew; partial aggregation collapses each
    partition's rows before the shuffle.
    """
    from stacktrend_spark.functions.rounding import iscale

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev.select(
        iscale("value").alias("cents"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("w"),
    ).createOrReplaceTempView("_mg_events")
    return ev.sparkSession.sql(
        """
        SELECT
            CASE WHEN GROUPING(h) = 0 THEN 'hour'
                 WHEN GROUPING(d) = 0 THEN 'day'
                 ELSE 'week' END                 AS grain,
            unix_micros(COALESCE(h, d, w))       AS bucket_us,
            COUNT(*)                             AS n_events,
            CAST(SUM(cents) AS BIGINT)           AS sum_cents
        FROM _mg_events
        GROUP BY GROUPING SETS ((h), (d), (w))
        """
    )


@register(
    "events_dow_seasonality",
    # day-of-week derived ARITHMETICALLY from the epoch day number
    # ((day + 4) % 7, 0=Sunday): Spark's dayofweek() is 1-based-Sunday
    # while DuckDB's dayofweek() is 0-based-Sunday — deriving from
    # integer arithmetic sidesteps the off-by-one entirely
    oracle="""
        WITH d AS (
            SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)  AS cents
            FROM events
        ),
        per AS (
            SELECT (day_no + 4) % 7 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM d GROUP BY 1
        ),
        tot AS (SELECT SUM(n_events) AS n FROM per)
        SELECT CAST(dow AS BIGINT) AS dow,
               n_events, sum_cents,
               CAST(n_events * 1000000 // tot.n AS BIGINT) AS share_ppm
        FROM per, tot
    """,
    doc=(
        "Day-of-week seasonality profile: DOW from integer epoch-day "
        "arithmetic ((day+4)%7 — engine-neutral, unlike the 0- vs "
        "1-based dayofweek() builtins), activity share per weekday in "
        "exact ppm."
    ),
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    per = d.groupBy(((F.col("day_no") + 4) % 7).cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    tot = per.agg(F.sum("n_events").alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_events",
        "sum_cents",
        F.expr("n_events * 1000000 DIV n").cast("long").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Nearest-within-tolerance join — the bidirectional as-of complement
# (operators/temporal.nearest_join). Beyond-reference addition.
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 24 * 3600 * 1_000_000  # ±24h (median nearest gap ~18h)


@register(
    "asof_nearest_click",
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ),
        l AS (
            SELECT event_id AS login_event_id, user_id, epoch_us(ts) AS l_us
            FROM events WHERE event_type = 'click'
        ),
        cand AS (
            SELECT p.event_id, p.user_id, p.p_us, l.login_event_id, l.l_us,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.event_id
                       ORDER BY ABS(p.p_us - l.l_us), l.login_event_id
                   ) AS rn
            FROM p JOIN l ON p.user_id = l.user_id
             AND ABS(p.p_us - l.l_us) <= {_NEAREST_TOL_US}
        )
        SELECT event_id, user_id,
               CAST(p_us AS BIGINT)            AS ts_us,
               CAST(login_event_id AS BIGINT)  AS nearest_click_id,
               CAST(l_us AS BIGINT)            AS click_ts_us,
               CAST(p_us - l_us AS BIGINT)     AS signed_gap_us
        FROM cand WHERE rn = 1
    """,
    doc=(
        "Nearest-within-±24h join (bidirectional as-of): each purchase "
        "matched to its closest click either direction via the "
        "tolerance-bucketed equi-join (no time-sorted merge, no cross "
        "product); ties to the lower login id."
    ),
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.temporal import nearest_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("p_us")
    )
    login = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("login_event_id"),
        "user_id",
        F.unix_micros("ts").alias("l_us"),
    )
    return nearest_join(
        p, login, key="user_id", left_us="p_us", right_us="l_us",
        tolerance_us=_NEAREST_TOL_US,
        left_id="event_id", right_id="login_event_id",
    ).select(
        "event_id",
        "user_id",
        F.col("p_us").cast("long").alias("ts_us"),
        F.col("login_event_id").cast("long").alias("nearest_click_id"),
        F.col("l_us").cast("long").alias("click_ts_us"),
        (F.col("p_us") - F.col("l_us")).cast("long").alias("signed_gap_us"),
    )


# ---------------------------------------------------------------------------
# Dyadic EWMA — exponentially-weighted trailing value with α = 1/2.
# Every weight is a power of two, so each term value·2^-(j+1) is an
# EXACT double (mantissa shift) and the fixed-order 8-term sum is
# bit-identical across engines (PARITY.md: IEEE + is correctly
# rounded; identical operand order → identical bits). The hashed
# surface therefore carries the raw double — no rounding needed.
# Beyond-reference addition (temporal family).
# ---------------------------------------------------------------------------

_EWMA_TERMS = 8


def _sql_ewma() -> str:
    parts = [
        "COALESCE(LAG(value, {j}) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), 0.0) / {d}".format(
            j=j, d=float(2 ** (j + 1))
        )
        if j
        else "value / 2.0"
        for j in range(_EWMA_TERMS)
    ]
    return " + ".join(parts)


@register(
    "ewma_purchase_value",
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        )
        SELECT event_id, user_id,
               epoch_us(ts) AS ts_us,
               {_sql_ewma()} AS ewma_value,
               CAST(LEAST(ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id),
                    {_EWMA_TERMS}) AS BIGINT) AS n_terms
        FROM p
    """,
    doc=(
        f"Dyadic EWMA (alpha=1/2, {_EWMA_TERMS} trailing terms) of "
        "purchase value per user: power-of-two weights make every term "
        "and the fixed-order sum IEEE-exact, so the raw double is "
        "hash-comparable with no rounding step."
    ),
)
def ewma_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    acc = F.col("value") / F.lit(2.0)
    for j in range(1, _EWMA_TERMS):
        acc = acc + F.coalesce(F.lag("value", j).over(w), F.lit(0.0)) / F.lit(
            float(2 ** (j + 1))
        )
    return p.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        acc.alias("ewma_value"),
        F.least(F.row_number().over(w), F.lit(_EWMA_TERMS))
        .cast("long")
        .alias("n_terms"),
    )


@register(
    "interval_merge_coverage",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id,
                   epoch_us(ts)                      AS s,
                   epoch_us(ts) + 1800000000         AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island_id
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island_id,
                   MIN(s) AS ms, MAX(e) AS me
            FROM islands GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT)           AS n_merged_intervals,
               CAST(SUM(me - ms) AS BIGINT)       AS covered_us,
               CAST(MAX(me - ms) AS BIGINT)       AS longest_us
        FROM merged GROUP BY 1
    """,
    doc=(
        "Interval coalescing (gaps-and-islands): each event opens a "
        "30-minute activity interval; overlapping intervals per user "
        "merge into islands via the running-max-of-end trick, yielding "
        "merged-interval count, total covered microseconds, and the "
        "longest contiguous stretch — the classic uptime/session-"
        "coverage operator."
    ),
)
def interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user intervals and measure coverage.

    100 TB: one shuffle on user_id; both windows share the same
    (user_id, s)-sort so Spark plans a single Sort + two WindowExecs in
    one stage. State per group is O(1) (running max / running sum) —
    no island's members materialize together until the final bounded
    per-(user, island) aggregate.
    """
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1_800_000_000)).alias("e"),
    )
    prev_max = F.max("e").over(
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # same (s, event_id) total order as the flag window — ties on s
    # must land in the same island in both engines
    island_id = F.sum("new_island").over(
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = (
        flagged.withColumn("island_id", island_id)
        .groupBy("user_id", "island_id")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_merged_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
        F.max(F.col("me") - F.col("ms")).cast("long").alias("longest_us"),
    )


def _bd_sql(d: str) -> str:
    """Weekday count from the 1970-01-05 (Monday) epoch to DATE ``d``
    (exclusive): 5 per full week + min(remainder, 5). Pure datediff
    arithmetic — no engine DOW function, no locale/week-start hazard."""
    n = f"DATEDIFF('day', DATE '1970-01-05', {d})"
    return f"(5 * (({n}) // 7) + LEAST(({n}) % 7, 5))"


def _bd_spark(d: str) -> str:
    n = f"datediff({d}, DATE'1970-01-05')"
    return f"(5 * (({n}) DIV 7) + LEAST(({n}) % 7, 5))"


@register(
    "business_days_sla",
    oracle=f"""
        WITH lat AS (
            SELECT o.o_orderpriority,
                   {_bd_sql("l.l_shipdate")} - {_bd_sql("o.o_orderdate")}
                       AS bdays
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE l.l_shipdate >= o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT)       AS n_lines,
               CAST(MIN(bdays) AS BIGINT)     AS min_bdays,
               CAST(MAX(bdays) AS BIGINT)     AS max_bdays,
               CAST(SUM(bdays) * 100 // COUNT(*) AS BIGINT)
                                              AS avg_bdays_x100
        FROM lat GROUP BY 1
    """,
    doc=(
        "Business-day SLA latency: weekday count between order date "
        "and line ship date via pure Monday-epoch datediff arithmetic "
        "(5·⌊n/7⌋ + min(n mod 7, 5) — no engine day-of-week function, "
        "so no week-start/locale divergence), aggregated per order "
        "priority in exact centi-days."
    ),
)
def business_days_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the weekday transform is map-side arithmetic fused into
    the scan; one join shuffle (orders side broadcastable per AQE) and
    one bounded aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            (
                F.expr(_bd_spark("l_shipdate"))
                - F.expr(_bd_spark("o_orderdate"))
            ).alias("bdays"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.min("bdays").cast("long").alias("min_bdays"),
        F.max("bdays").cast("long").alias("max_bdays"),
        F.expr("SUM(bdays) * 100 DIV COUNT(*)")
        .cast("long")
        .alias("avg_bdays_x100"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (lags 1..7) of the daily-revenue series —
# the "is there weekly structure?" time-series primitive. Exactness
# discipline: with n = #days and S = Σy (exact cents), the centered
# deviation n·y_t − S = n·(y_t − ȳ) is an exact integer, and
#
#     r_k = Σ_t dev_t·dev_{t+k} / Σ_t dev_t²
#
# (the n² factors cancel), so both engines compute identical integer
# sums — products in DECIMAL(38,0)/HUGEINT because dev² ~ 1e24 — and
# ONE final correctly-rounded division per lag.
#
# 100 TB: the daily rollup is the only corpus-scale aggregate
# (map-side combinable); everything after runs on the #days spine
# (~2.4k rows — the global row_number window is bounded by
# construction, same discipline as exact_median's histogram spine).
# ---------------------------------------------------------------------------
_ACF_LAGS = 7


@register(
    "acf_daily_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS sy FROM daily
        ),
        pts AS (
            SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   CAST((SELECT n FROM s) * y - (SELECT sy FROM s)
                        AS BIGINT) AS dev
            FROM daily
        ),
        den AS (
            SELECT SUM(CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)) AS d
            FROM pts
        ),
        lags AS (
            SELECT UNNEST(RANGE(1, {_ACF_LAGS + 1})) AS lag
        ),
        num AS (
            SELECT l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   SUM(CAST(a.dev AS HUGEINT) * CAST(b.dev AS HUGEINT)) AS nm
            FROM lags l
            JOIN pts a ON TRUE
            JOIN pts b ON b.rn = a.rn + l.lag
            GROUP BY l.lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
               {sql_round('CAST(nm AS DOUBLE) / CAST((SELECT d FROM den) AS DOUBLE)', 6)}
                   AS acf
        FROM num
    """,
    doc=(
        "ACF lags 1-7 of daily revenue: exact integer centered "
        "deviations (n*y - S), DECIMAL(38,0)/HUGEINT products, one "
        "mirrored division per lag; corpus touched once (daily rollup)."
    ),
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("sy")
    )
    # ~2.4k-day spine: global window bounded by construction; its three
    # readers recompute it, measured faster than a checkpoint
    pts = daily.join(F.broadcast(s)).select(
        F.row_number().over(W.orderBy("day")).alias("rn"),
        (F.col("n") * F.col("y") - F.col("sy")).cast("long").alias("dev"),
    )
    dec = "decimal(38,0)"
    den = pts.agg(
        F.sum(F.col("dev").cast(dec) * F.col("dev").cast(dec)).alias("d")
    )
    lags = pts.select(
        "rn",
        "dev",
        F.explode(F.array([F.lit(i) for i in range(1, _ACF_LAGS + 1)])).alias(
            "lag"
        ),
    )
    b = pts.select(F.col("rn").alias("rn_b"), F.col("dev").alias("dev_b"))
    num = (
        lags.join(b, F.col("rn_b") == F.col("rn") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dev").cast(dec) * F.col("dev_b").cast(dec)).alias("nm"),
        )
    )
    return num.join(F.broadcast(den)).select(
        F.col("lag").cast("long"),
        "n_pairs",
        fround(F.col("nm").cast("double") / F.col("d").cast("double"), 6).alias(
            "acf"
        ),
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing over the daily-revenue series —
# level + trend with α=1/2, β=1/4, the classic short-horizon
# forecaster. The recurrence
#
#     l_t = floor((y_t + l_{t-1} + b_{t-1}) / 2)
#     b_t = floor((3·b_{t-1} + (l_t − l_{t-1})) / 4)
#
# is a NON-ASSOCIATIVE scan (like capped_running_balance, the flooring
# breaks every prefix decomposition), kept exact by running it on
# integer cents with floor-division; magnitudes stay ≤ ~1e13, far
# inside the 2^53 window where FLOOR(x/2.0) IS exact floor division in
# both engines (Spark DIV truncates toward zero but trend can go
# NEGATIVE, so explicit FLOOR is the only division both engines agree
# on). One-step forecast errors e_t = y_t − (l_{t-1}+b_{t-1})
# accumulate into an exact HUGEINT/DECIMAL(38,0) SSE.
#
# 100 TB: the corpus-scale work is the daily rollup (map-side
# combinable); the sequential replay runs on the bounded #days spine
# (~2.4k rows) in ONE grouped-map task — same bounded-spine contract
# as exact_median's histogram. The oracle replays the identical
# recurrence as a recursive CTE.
# ---------------------------------------------------------------------------
@register(
    "holt_level_trend",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        pts AS (
            SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   CAST(y AS BIGINT) AS y,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM daily
        ),
        rec AS (
            SELECT rn, n, y AS lvl, CAST(0 AS BIGINT) AS trend,
                   CAST(0 AS HUGEINT) AS sse
            FROM pts WHERE rn = 1
            UNION ALL
            SELECT p.rn, p.n,
                   CAST(FLOOR((p.y + r.lvl + r.trend) / 2.0) AS BIGINT),
                   CAST(FLOOR((3 * r.trend
                               + (CAST(FLOOR((p.y + r.lvl + r.trend) / 2.0)
                                       AS BIGINT) - r.lvl)) / 4.0) AS BIGINT),
                   r.sse + CAST(p.y - (r.lvl + r.trend) AS HUGEINT)
                           * CAST(p.y - (r.lvl + r.trend) AS HUGEINT)
            FROM rec r JOIN pts p ON p.rn = r.rn + 1
        )
        SELECT CAST(n AS BIGINT)          AS n_days,
               CAST(lvl AS BIGINT)        AS level_cents,
               CAST(trend AS BIGINT)      AS trend_cents,
               CAST(lvl + 7 * trend AS BIGINT) AS forecast_7d_cents,
               CAST(sse AS DOUBLE)        AS sse_cents2
        FROM rec WHERE rn = n
    """,
    doc=(
        "Holt level+trend smoothing (alpha=1/2, beta=1/4) of daily "
        "revenue: exact integer-cents floor-division recurrence, "
        "non-associative scan on the bounded daily spine; oracle = "
        "recursive-CTE replay. Emits final level/trend, 7-day "
        "forecast, exact one-step-ahead SSE."
    ),
)
def holt_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).cast("long").alias("y")
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = pdf["y"].to_numpy()
        lvl = int(ys[0])
        trend = 0
        sse = 0
        for y in ys[1:]:
            y = int(y)
            e = y - (lvl + trend)
            sse += e * e
            new_lvl = (y + lvl + trend) // 2        # exact floor division
            trend = (3 * trend + (new_lvl - lvl)) // 4
            lvl = new_lvl
        return pd.DataFrame(
            {
                "n_days": [len(ys)],
                "level_cents": [lvl],
                "trend_cents": [trend],
                "forecast_7d_cents": [lvl + 7 * trend],
                "sse_cents2": [float(sse)],
            }
        )

    # bounded spine: one group of ~2.4k rows — the grouped-map task is
    # O(#days) regardless of corpus size
    return (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            replay,
            schema=(
                "n_days bigint, level_cents bigint, trend_cents bigint, "
                "forecast_7d_cents bigint, sse_cents2 double"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (r6) — the classic mean-shift detector
# (Page 1954) over the daily-revenue series. Exactness trick (same as
# ACF's centered deviations): with n = #days, S = Σy, P_t the prefix
# sum and t the day index,
#
#     CUSUM_t = Σ_{u≤t}(y_u − ȳ)·n = n·P_t − t·S     (exact integer)
#
# so the whole statistic — and the argmax |CUSUM| change-point — is
# integer-exact in both engines; no mean division ever happens.
# 100 TB: one map-side daily rollup touches the corpus; prefix sums
# and the peak rank run on the ~2.4k-day spine (global windows bounded
# by construction). Wide products in DECIMAL(38,0)/HUGEINT; the
# emitted BIGINT holds to ~10¹⁸ cents·days (≈ sf1000).
# ---------------------------------------------------------------------------
@register(
    "cusum_changepoint",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS sy FROM daily),
        pts AS (
            SELECT day, y,
                   ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   SUM(y) OVER (ORDER BY day) AS p
            FROM daily
        ),
        cus AS (
            SELECT day, y,
                   CAST((SELECT n FROM s) * CAST(p AS HUGEINT)
                        - CAST(rn AS HUGEINT) * (SELECT sy FROM s)
                        AS BIGINT) AS cusum
            FROM pts
        ),
        ranked AS (
            SELECT day, y, cusum,
                   ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day ASC) AS rk
            FROM cus
        )
        SELECT day, CAST(y AS BIGINT) AS revenue_cents, cusum,
               rk = 1 AS is_changepoint
        FROM ranked
    """,
    doc=(
        "CUSUM mean-shift detection on daily revenue: exact integer "
        "statistic n*P_t - t*S (no mean division), argmax |CUSUM| "
        "flagged as the change-point with day tiebreak; corpus touched "
        "once in the map-side daily rollup."
    ),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    s = daily.agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("sy"))
    pts = daily.join(F.broadcast(s)).select(
        "day",
        "y",
        "n",
        "sy",
        F.row_number().over(W.orderBy("day")).alias("rn"),
        F.sum("y").over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)).alias("p"),
    )
    dec = "decimal(38,0)"
    cus = pts.select(
        "day",
        "y",
        (
            F.col("n").cast(dec) * F.col("p").cast(dec)
            - F.col("rn").cast(dec) * F.col("sy").cast(dec)
        )
        .cast("long")
        .alias("cusum"),
    )
    rk = F.row_number().over(W.orderBy(F.abs(F.col("cusum")).desc(), F.asc("day")))
    return cus.select(
        "day",
        F.col("y").cast("long").alias("revenue_cents"),
        "cusum",
        (rk == 1).alias("is_changepoint"),
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition (r6): y = trend + seasonal + remainder
# on the daily-revenue series — the moving-average decomposition
# (classical STL's fixed-window ancestor), engine-exact:
#
#   trend_t    = Σ(y, t−3..t+3) DIV 7      (full 7-day windows only;
#                positive sums → trunc ≡ floor)
#   seasonal_w = FLOOR(Σ det / n_w)  per Monday-based weekday w, where
#                det = y − trend (can be NEGATIVE → the division is a
#                correctly-rounded double FLOOR on both sides, never
#                integer DIV — the PARITY DIV-on-negatives rule)
#   remainder  = det − seasonal
#
# 100 TB: corpus → daily rollup once; windows/aggregates on the
# ~2.4k-day spine (bounded by construction). Weekday basis is pinned
# Monday=0 (Spark WEEKDAY ≡ DuckDB isodow−1) — Sunday-based DAYOFWEEK
# differs across engines.
# ---------------------------------------------------------------------------
@register(
    "stl_lite_decompose",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        tr AS (
            SELECT day, y,
                   CASE WHEN COUNT(*) OVER w7 = 7
                        THEN SUM(y) OVER w7 // 7
                        ELSE NULL END AS trend
            FROM daily
            WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        det AS (
            SELECT day, y, trend,
                   CAST(isodow(day) - 1 AS BIGINT) AS dow,
                   y - trend AS d
            FROM tr
        ),
        seas AS (
            SELECT dow,
                   CAST(FLOOR(CAST(SUM(d) AS DOUBLE) / COUNT(d)) AS BIGINT)
                       AS seasonal
            FROM det WHERE d IS NOT NULL GROUP BY dow
        )
        SELECT det.day,
               CAST(det.y AS BIGINT) AS revenue_cents,
               CAST(det.trend AS BIGINT) AS trend_cents,
               CAST(seas.seasonal AS BIGINT) AS seasonal_cents,
               CAST(det.d - seas.seasonal AS BIGINT) AS remainder_cents
        FROM det JOIN seas ON det.dow = seas.dow
    """,
    doc=(
        "Classical moving-average seasonal decomposition of daily "
        "revenue (trend = exact 7-day centered mean on full windows, "
        "Monday-based weekday seasonal via double-FLOOR division — "
        "negative-safe, remainder = residual). Rows at series edges "
        "carry NULL trend/remainder; one corpus rollup, spine-only math."
    ),
)
def stl_lite_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "y",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.expr("SUM(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING"
                   " AND 3 FOLLOWING) DIV 7"),
        ).alias("trend"),
    )
    det = tr.select(
        "day",
        "y",
        "trend",
        F.weekday("day").cast("long").alias("dow"),
        (F.col("y") - F.col("trend")).alias("d"),
    )
    seas = (
        det.filter(F.col("d").isNotNull())
        .groupBy("dow")
        .agg(
            F.floor(
                F.sum("d").cast("double") / F.count("d").cast("double")
            )
            .cast("long")
            .alias("seasonal")
        )
    )
    return det.join(F.broadcast(seas), "dow").select(
        "day",
        F.col("y").cast("long").alias("revenue_cents"),
        F.col("trend").cast("long").alias("trend_cents"),
        F.col("seasonal").cast("long").alias("seasonal_cents"),
        (F.col("d") - F.col("seasonal")).cast("long").alias("remainder_cents"),
    )


# ---------------------------------------------------------------------------
# Dynamic Time Warping distance (r6) — elastic alignment of two
# monthly-revenue series (NATION_0 vs NATION_1). DTW's 2-D dynamic
# program D(i,j) = |a_i−b_j| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) is
# NON-ASSOCIATIVE IN TWO DIMENSIONS — the hardest oracle shape in the
# repo (capped_running_balance and holt are 1-D scans). The oracle
# replays it as a recursive CTE over ANTI-DIAGONAL WAVEFRONTS: each
# iteration carries the current and previous diagonal as BIGINT lists
# and computes the next via list_transform index arithmetic (cells of
# one diagonal are mutually independent; LEAST ignores NULL boundary
# predecessors, fuzz-proven against a reference DTW on 30 random
# shapes). Spark runs the same DP in ONE grouped-map task over the
# bounded month spine — exact Python ints, costs in cents.
# 100 TB: two corpus-side monthly rollups (map-side combinable) feed a
# constant ≤(84×84) DP — the classic "aggregate down, then sequential
# on the spine" split. For millions of SERIES PAIRS the same
# grouped-map parallelizes per pair key.
# ---------------------------------------------------------------------------
@register(
    "dtw_nation_revenue",
    oracle=f"""
        WITH RECURSIVE monthly AS (
            SELECT n.n_name AS nation,
                   DATE_TRUNC('month', o.o_orderdate) AS mth,
                   SUM({sql_iscale('o.o_totalprice')}) AS y
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            WHERE n.n_name IN ('NATION_0', 'NATION_1')
            GROUP BY 1, 2
        ),
        sa AS (
            SELECT LIST(y ORDER BY mth) AS av, CAST(COUNT(*) AS BIGINT) AS n
            FROM monthly WHERE nation = 'NATION_0'
        ),
        sb AS (
            SELECT LIST(y ORDER BY mth) AS bv, CAST(COUNT(*) AS BIGINT) AS m
            FROM monthly WHERE nation = 'NATION_1'
        ),
        rec AS (
            SELECT 2 AS d, [ABS(av[1] - bv[1])] AS diag,
                   CAST(NULL AS BIGINT[]) AS prev
            FROM sa, sb
            UNION ALL
            SELECT d + 1,
                   list_transform(
                     generate_series(GREATEST(1, d + 1 - m), LEAST(n, d)),
                     i -> ABS(av[i] - bv[d + 1 - i])
                          + LEAST(
                              CASE WHEN i - 1 >= GREATEST(1, d - m)
                                        AND i - 1 >= 1
                                   THEN diag[i - GREATEST(1, d - m)] END,
                              CASE WHEN d - i >= 1 AND i <= LEAST(n, d - 1)
                                   THEN diag[i - GREATEST(1, d - m) + 1] END,
                              CASE WHEN d >= 3 AND i - 1 >= 1 AND d - i >= 1
                                   THEN prev[i - GREATEST(1, d - 1 - m)] END
                            )
                   ) AS diag,
                   diag AS prev
            FROM rec, sa, sb
            WHERE d < n + m
        )
        SELECT n AS n_months_a, m AS n_months_b,
               CAST(diag[1] AS BIGINT) AS dtw_cost_cents
        FROM rec, sa, sb WHERE d = n + m
    """,
    doc=(
        "DTW distance between NATION_0's and NATION_1's monthly revenue "
        "series: exact integer-cents 2-D dynamic program — Spark side "
        "one grouped-map task on the bounded month spine, oracle side "
        "an anti-diagonal wavefront recursive CTE with list carries "
        "(fuzz-validated)."
    ),
)
def dtw_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin("NATION_0", "NATION_1"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("mth"),
        )
        .agg(F.sum(iscale("o_totalprice")).alias("y"))
        .withColumn("g", F.lit(1))
    )

    def dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("mth")
        a = [int(v) for v in pdf.loc[pdf["nation"] == "NATION_0", "y"]]
        b = [int(v) for v in pdf.loc[pdf["nation"] == "NATION_1", "y"]]
        n, m = len(a), len(b)
        inf = float("inf")
        row_prev = [inf] * (m + 1)
        row_prev[0] = 0
        for i in range(1, n + 1):
            row = [inf] * (m + 1)
            for j in range(1, m + 1):
                c = abs(a[i - 1] - b[j - 1])
                row[j] = c + min(row_prev[j], row[j - 1], row_prev[j - 1])
            row_prev = row
        return pd.DataFrame(
            {
                "n_months_a": [n],
                "n_months_b": [m],
                "dtw_cost_cents": [int(row_prev[m])],
            }
        )

    return monthly.groupBy("g").applyInPandas(
        dp, "n_months_a long, n_months_b long, dtw_cost_cents long"
    )


# ---------------------------------------------------------------------------
# Theil–Sen slope + Mann–Kendall trend test (r6) — the robust
# (outlier-proof) counterparts to OLS trend fitting: over the monthly
# revenue series, every month pair (i<j) yields a slope
# (y_j−y_i)/(j−i); the Theil–Sen estimator is the MEDIAN slope and the
# Mann–Kendall statistic S = Σ sign(y_j−y_i) tests monotone trend —
# both pure order/sign statistics, so no distributional assumption.
# Engine-exactness: y are exact cents, month indices exact ints, each
# pair slope is ONE correctly-rounded double division (ints < 2⁵³),
# the median is an order statistic with (i,j) tiebreak, and S is an
# integer sum — all bit-identical across engines.
# 100 TB: the corpus collapses to the ~84-month spine; the O(n²) pair
# grid is ~3.5k rows — constant. (On a DAILY spine past ~10⁴ points,
# switch to the randomized-median variant; the monthly form is the
# exact one.)
# ---------------------------------------------------------------------------
@register(
    "theilsen_mann_kendall",
    oracle=f"""
        WITH monthly AS (
            SELECT DATE_TRUNC('month', o_orderdate) AS mth,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY 1
        ),
        pts AS (
            SELECT ROW_NUMBER() OVER (ORDER BY mth) AS rn, y FROM monthly
        ),
        pairs AS (
            SELECT a.rn AS i, b.rn AS j,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.rn - a.rn AS DOUBLE)
                       AS slope,
                   CASE WHEN b.y > a.y THEN 1
                        WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
            FROM pts a JOIN pts b ON b.rn > a.rn
        ),
        ranked AS (
            SELECT slope, sgn,
                   ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rk,
                   COUNT(*) OVER () AS np
            FROM pairs
        )
        SELECT CAST(MAX(np) AS BIGINT)             AS n_pairs,
               CAST(SUM(sgn) AS BIGINT)            AS mk_s,
               {sql_round("MIN(CASE WHEN rk = (np + 1) // 2 THEN slope END)", 4)}
                   AS theilsen_slope_cents
        FROM ranked
    """,
    doc=(
        "Theil–Sen median slope + Mann–Kendall S over monthly revenue: "
        "all-pairs slopes on the bounded month spine (one correctly- "
        "rounded double division each), median by order statistic with "
        "(i,j) tiebreak, S an exact integer sign sum — robust trend "
        "inference with a bit-exact oracle."
    ),
)
def theilsen_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mth")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    pts = monthly.select(F.row_number().over(W.orderBy("mth")).alias("rn"), "y")
    a = pts.select(F.col("rn").alias("i"), F.col("y").alias("ya"))
    b = pts.select(F.col("rn").alias("j"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("j") > F.col("i")).select(
        "i",
        "j",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("j") - F.col("i")).cast("double")
        ).alias("slope"),
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    # Median-slope order statistic through the two-phase
    # global_rank_scalable (r9 verdict task 2): the pair grid is
    # O(spine²), so on a daily/hourly spine this frame is the one that
    # grows — no single-partition window over it; np joins back as a
    # broadcast 1-row count. (slope, i, j) is a total order, so ranks
    # are identical to the windowed form.
    from stacktrend_spark.operators.ranking import global_rank_scalable

    npairs = pairs.agg(F.count(F.lit(1)).alias("np"))
    ranked = (
        global_rank_scalable(
            pairs,
            order_cols=[F.col("slope"), F.col("i"), F.col("j")],
            rank_col="rk",
        )
        .select("slope", "sgn", "rk")
        .crossJoin(F.broadcast(npairs))
    )
    return ranked.agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.sum("sgn").cast("long").alias("mk_s"),
        fround(
            F.min(
                F.when(
                    F.col("rk") == F.expr("(np + 1) DIV 2"), F.col("slope")
                )
            ),
            4,
        ).alias("theilsen_slope_cents"),
    )


# ---------------------------------------------------------------------------
# ISO-week rollup (r6) — the calendar-boundary parity pin: Dec 29-31
# belong to week 1 of the NEXT iso-year (and Jan 1-3 can belong to
# week 52/53 of the previous), so a (calendar_year, weekofyear) rollup
# silently splits those weeks in two. The correct key is
# (YEAROFWEEK, weekofyear) — verified identical semantics in Spark
# (`extract(YEAROFWEEK ...)`, `weekofyear`) and DuckDB (`isoyear`,
# `weekofyear`), probed at the 1996→1997 boundary before registration.
# Revenue summed as exact cents; the boundary-week row count is the
# regression canary (a calendar_year key would change it).
# 100 TB: one map-side rollup to ~#weeks rows.
# ---------------------------------------------------------------------------
@register(
    "isoweek_rollup_parity",
    oracle=f"""
        SELECT CAST(isoyear(o_orderdate) AS BIGINT)    AS iso_year,
               CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
               CAST(COUNT(*) AS BIGINT)                AS n_orders,
               CAST(SUM({sql_iscale('o_totalprice')}) AS BIGINT)
                   AS revenue_cents
        FROM orders
        GROUP BY 1, 2
    """,
    doc=(
        "ISO-week revenue rollup keyed (YEAROFWEEK, weekofyear) — the "
        "year-boundary-correct weekly grain (calendar-year keys split "
        "boundary weeks); cross-engine ISO semantics probed at the "
        "1996→1997 boundary. One map-side rollup."
    ),
)
def isoweek_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("long").alias("iso_year"),
            F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(iscale("o_totalprice")).cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# STL-residual outlier days (r6) — the composition the STL
# decomposition exists FOR: flag days whose seasonal-adjusted residual
# is anomalous under the robust 3×MAD rule. Reuses the
# stl_lite_decompose plan (same Spark callable), then on the bounded
# day spine: med = lower-median of remainders (order statistic with
# day tiebreak — exact, no averaging), MAD = lower-median of
# |rem − med|, flag |rem − med| > 3·MAD. Every comparison is integer;
# the only windows are on the ≤2.4k-day spine.
# ---------------------------------------------------------------------------
@register(
    "stl_residual_outliers",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        tr AS (
            SELECT day, y,
                   CASE WHEN COUNT(*) OVER w7 = 7
                        THEN SUM(y) OVER w7 // 7
                        ELSE NULL END AS trend
            FROM daily
            WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        det AS (
            SELECT day, y, trend,
                   CAST(isodow(day) - 1 AS BIGINT) AS dow,
                   y - trend AS d
            FROM tr
        ),
        seas AS (
            SELECT dow,
                   CAST(FLOOR(CAST(SUM(d) AS DOUBLE) / COUNT(d)) AS BIGINT)
                       AS seasonal
            FROM det WHERE d IS NOT NULL GROUP BY dow
        ),
        rem AS (
            SELECT det.day, det.y,
                   CAST(det.d - seas.seasonal AS BIGINT) AS r
            FROM det JOIN seas ON det.dow = seas.dow
            WHERE det.d IS NOT NULL
        ),
        med AS (
            SELECT r AS m FROM (
                SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rk,
                       COUNT(*) OVER () AS nn
                FROM rem
            ) WHERE rk = (nn + 1) // 2
        ),
        madt AS (
            SELECT ad AS mad FROM (
                SELECT ABS(r - (SELECT m FROM med)) AS ad, day,
                       ROW_NUMBER() OVER (
                           ORDER BY ABS(r - (SELECT m FROM med)), day) AS rk,
                       COUNT(*) OVER () AS nn
                FROM rem
            ) WHERE rk = (nn + 1) // 2
        )
        SELECT rem.day,
               CAST(rem.y AS BIGINT) AS revenue_cents,
               rem.r AS remainder_cents,
               CAST((SELECT m FROM med) AS BIGINT)   AS median_rem,
               CAST((SELECT mad FROM madt) AS BIGINT) AS mad_rem
        FROM rem
        WHERE ABS(rem.r - (SELECT m FROM med)) > 3 * (SELECT mad FROM madt)
    """,
    doc=(
        "Seasonal-adjusted anomaly days: STL-lite remainders under the "
        "robust 3×MAD rule (lower-median order statistics with day "
        "tiebreak — exact integers, no averaging); emits only flagged "
        "days with the med/MAD evidence columns."
    ),
)
def stl_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = stl_lite_decompose(spark, sf_dir)
    rem = dec.filter(F.col("trend_cents").isNotNull()).select(
        "day",
        F.col("revenue_cents"),
        F.col("remainder_cents").alias("r"),
    )
    n_w = W.orderBy("r", "day")
    ranked = rem.select(
        "day",
        "revenue_cents",
        "r",
        F.row_number().over(n_w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nn"),
    )
    med = ranked.filter(F.col("rk") == F.expr("(nn + 1) DIV 2")).select(
        F.col("r").alias("m")
    )
    with_m = rem.join(F.broadcast(med))
    ad_w = W.orderBy(F.abs(F.col("r") - F.col("m")), F.col("day"))
    ad_ranked = with_m.select(
        "day",
        "revenue_cents",
        "r",
        "m",
        F.row_number().over(ad_w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nn"),
    )
    mad = ad_ranked.filter(F.col("rk") == F.expr("(nn + 1) DIV 2")).select(
        F.abs(F.col("r") - F.col("m")).alias("mad")
    )
    return (
        with_m.join(F.broadcast(mad))
        .filter(F.abs(F.col("r") - F.col("m")) > 3 * F.col("mad"))
        .select(
            "day",
            "revenue_cents",
            F.col("r").alias("remainder_cents"),
            F.col("m").cast("long").alias("median_rem"),
            F.col("mad").cast("long").alias("mad_rem"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 14-observation correlation (r6) — the multivariate rolling statistic
# (pairs-trading / co-movement monitoring): Pearson correlation of
# daily VIEW value vs PURCHASE value over a trailing 14-observation
# ROWS window on the matched-day spine,
# computed on FULL windows only. Exactness: each window's five
# sufficient statistics (Σx, Σy, Σx², Σy², Σxy) are EXACT integer
# window sums over cents (order-independent), and the correlation is
# one fixed double op tree per day (the dstd discipline, windowed).
# Degenerate windows (zero variance) emit NULL identically via a
# NULLIF guard on both sides.
# 100 TB: corpus → two daily rollups joined on the ~2.4k-day spine;
# the window sums are spine-sized. Wide products in DECIMAL(38,0)/
# HUGEINT (cents² ≤ 1e24-class at big sf).
# ---------------------------------------------------------------------------
@register(
    "rolling_correlation_14d",
    oracle=f"""
        WITH a AS (
            SELECT date_trunc('day', ts) AS day,
                   SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS x
            FROM events WHERE event_type = 'view'
            GROUP BY 1
        ),
        b AS (
            SELECT date_trunc('day', ts) AS day,
                   SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        j AS (
            SELECT a.day, a.x, b.y FROM a JOIN b ON a.day = b.day
        ),
        wsum AS (
            SELECT day,
                   CAST(COUNT(*) OVER w AS BIGINT)  AS n,
                   CAST(SUM(x) OVER w AS DOUBLE)    AS sx,
                   CAST(SUM(y) OVER w AS DOUBLE)    AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) OVER w AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y AS HUGEINT) * y) OVER w AS DOUBLE) AS syy,
                   CAST(SUM(CAST(x AS HUGEINT) * y) OVER w AS DOUBLE) AS sxy
            FROM j
            WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT day, n,
               {sql_round(
                   "(14.0*sxy - sx*sy)"
                   " / NULLIF(SQRT((14.0*sxx - sx*sx) * (14.0*syy - sy*sy)), 0.0)",
                   6,
               )} AS corr_14d
        FROM wsum WHERE n = 14
    """,
    doc=(
        "Trailing-14-observation Pearson correlation of two daily "
        "event-value series (view vs purchase; ROWS window): exact "
        "integer window sums of the five sufficient statistics, one "
        "fixed double op tree per day, NULLIF degenerate-window guard "
        "— the co-movement monitor, full windows only."
    ),
)
def rolling_correlation_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")

    def daily(etype: str, col: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(
                F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long"))
                .alias(col)
            )
        )

    j = daily("view", "x").join(daily("purchase", "y"), "day")
    w = W.orderBy("day").rowsBetween(-13, 0)
    dec = "decimal(38,0)"
    wsum = j.select(
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("double").alias("sx"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * x")).over(w).cast("double").alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).over(w).cast("double").alias("syy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * y")).over(w).cast("double").alias("sxy"),
    )
    num = F.lit(14.0) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.lit(14.0) * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.lit(14.0) * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        wsum.filter(F.col("n") == 14)
        .select(
            "day",
            "n",
            fround(num / F.nullif(den, F.lit(0.0)), 6).alias("corr_14d"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (r6) — the evaluation half the
# forecasting family lacked: holt_level_trend FITS a model; this
# BACKTESTS the standard baseline every forecaster must beat
# (ŷ_t = y_{t−7}, the seasonal-naive) over the daily revenue series,
# reporting exact integer MAE-numerator and ppm MAPE per weekday plus
# overall. Integer-only: absolute errors in cents, MAPE terms as
# |e|·10⁶ DIV y (y > 0 on this data). Weekday basis Monday-pinned
# (WEEKDAY ≡ isodow−1, the stl_lite rule).
# 100 TB: one daily rollup; LAG(7) + error aggregation on the day
# spine. Backtesting any other model = replacing the LAG with its
# fitted column — the harness shape is model-agnostic.
# ---------------------------------------------------------------------------
@register(
    "forecast_backtest_snaive",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   SUM({sql_iscale('o_totalprice')}) AS y
            FROM orders GROUP BY o_orderdate
        ),
        fc AS (
            SELECT day, y,
                   LAG(y, 7) OVER (ORDER BY day) AS yhat,
                   CAST(isodow(day) - 1 AS BIGINT) AS dow
            FROM daily
        ),
        err AS (
            SELECT dow, y, ABS(y - yhat) AS ae
            FROM fc WHERE yhat IS NOT NULL
        )
        SELECT dow,
               CAST(COUNT(*) AS BIGINT)  AS n_days,
               CAST(SUM(ae) AS BIGINT)   AS sum_abs_err_cents,
               CAST(SUM(ae * 1000000 // y) AS BIGINT) AS sum_ape_ppm
        FROM err
        GROUP BY dow
    """,
    doc=(
        "Seasonal-naive (lag-7) forecast backtest over daily revenue: "
        "per-weekday exact MAE numerator (cents) and summed absolute-"
        "percentage-error ppm — the baseline every forecaster must "
        "beat, as an integer-exact harness; swap the LAG for any "
        "fitted column to backtest a real model."
    ),
)
def forecast_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(iscale("o_totalprice")).alias("y")
    )
    fc = daily.select(
        "day",
        "y",
        F.lag("y", 7).over(W.orderBy("day")).alias("yhat"),
        F.weekday("day").cast("long").alias("dow"),
    ).filter(F.col("yhat").isNotNull())
    return (
        fc.select("dow", "y", F.abs(F.col("y") - F.col("yhat")).alias("ae"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("ae").cast("long").alias("sum_abs_err_cents"),
            F.sum(F.expr("ae * 1000000 DIV y")).cast("long").alias("sum_ape_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Half-life-decayed trending scores (r7) — the recency-weighted
# popularity ranking every feed/trending surface runs: each event
# contributes 2^(−age_days) with a 1-day half-life. EXACT arithmetic
# by construction: ages are whole days, so the weights are the dyadic
# integers 2^(W_MAX − age) — no pow(), no doubles, bit-identical sums
# in any engine; contributions older than W_MAX days are exactly 0
# (the honest truncation a production decay uses anyway).
# recency_share = the last-7-days share of the decayed mass, in ppm.
# 100 TB: one (event_type, day) aggregate — map-side combinable,
# bounded by |types|·|days|; the max-day anchor is a 1-row broadcast.
# ---------------------------------------------------------------------------
_DECAY_WMAX = 30   # ages beyond this contribute exactly 0
_RECENT_DAYS = 7


@register(
    "decayed_halflife_trending",
    oracle=f"""
        WITH days AS (
            SELECT event_type,
                   CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                       AS d,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        anchor AS (SELECT MAX(d) AS d_max FROM days),
        weighted AS (
            SELECT event_type, cnt,
                   a.d_max - d AS age,
                   CASE WHEN a.d_max - d <= {_DECAY_WMAX}
                        THEN cnt * (CAST(1 AS BIGINT) << ({_DECAY_WMAX} - (a.d_max - d)))
                        ELSE 0 END AS dec_part
            FROM days CROSS JOIN anchor a
        )
        SELECT event_type,
               CAST(SUM(cnt) AS BIGINT)      AS n_events,
               CAST(SUM(dec_part) AS BIGINT) AS decayed_scaled,
               CAST(SUM(CASE WHEN age < {_RECENT_DAYS} THEN dec_part ELSE 0 END)
                    * 1000000 // SUM(dec_part) AS BIGINT)
                                             AS recency_share_ppm
        FROM weighted GROUP BY 1
    """,
    doc=(
        "Half-life-decayed trending (1-day half-life, exact dyadic "
        "2^(30-age) integer weights, zero beyond 30 days): per-type "
        "decayed mass and last-7-days recency share in ppm."
    ),
)
def decayed_halflife_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    anchor = days.agg(F.max("d").alias("d_max"))
    weighted = days.join(F.broadcast(anchor)).select(
        "event_type",
        "cnt",
        (F.col("d_max") - F.col("d")).alias("age"),
        F.expr(
            f"CASE WHEN d_max - d <= {_DECAY_WMAX}"
            f" THEN cnt * (CAST(1 AS BIGINT) << CAST({_DECAY_WMAX} - (d_max - d) AS INT))"
            f" ELSE CAST(0 AS BIGINT) END"
        ).alias("dec_part"),
    )
    return weighted.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.sum("dec_part").cast("long").alias("decayed_scaled"),
        F.expr(
            f"CAST(SUM(CASE WHEN age < {_RECENT_DAYS} THEN dec_part ELSE 0 END)"
            f" * 1000000 DIV SUM(dec_part) AS BIGINT)"
        ).alias("recency_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss evaluation (r7) — the metric that scores a
# QUANTILE forecast, completing the forecast-evaluation pair with
# forecast_backtest_snaive's point metrics: for target quantile
# τ = 0.9, loss(e) = τ·e for under-forecast (e ≥ 0) and (τ−1)·e for
# over-forecast. Everything ×10 keeps it integer-exact:
# loss_x10 = 9e when e ≥ 0 else −e, on exact daily cents deltas
# (forecast = previous day's value — the seasonal-naive baseline a
# production quantile model must beat).
# 100 TB: one (type, day) aggregate; the lag runs on the bounded
# |types|×|days| spine.
# ---------------------------------------------------------------------------
@register(
    "pinball_loss_quantile_eval",
    oracle="""
        WITH days AS (
            SELECT event_type,
                   CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                       AS d,
                   CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, d, cents,
                   LAG(cents) OVER (PARTITION BY event_type ORDER BY d) AS pred
            FROM days
        ),
        scored AS (
            SELECT event_type,
                   cents - pred AS e
            FROM lagged WHERE pred IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN e >= 0 THEN 9 * e ELSE -e END) AS BIGINT)
                   AS pinball_x10_total,
               CAST(SUM(CASE WHEN e >= 0 THEN 9 * e ELSE -e END) // COUNT(*)
                    AS BIGINT) AS mean_pinball_x10,
               CAST(SUM(CASE WHEN e >= 0 THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS under_forecast_ppm
        FROM scored GROUP BY 1
    """,
    doc=(
        "Pinball loss at tau=0.9 for the previous-day naive quantile "
        "forecast of daily revenue per type: x10 integer losses "
        "(9e under / -e over), under-forecast share in ppm — the "
        "quantile-forecast evaluation twin of the snaive backtest."
    ),
)
def pinball_loss_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias("d"),
    ).agg(F.sum(iscale("value")).cast("long").alias("cents"))
    w = W.partitionBy("event_type").orderBy("d")
    lagged = days.withColumn("pred", F.lag("cents").over(w))
    scored = lagged.filter(F.col("pred").isNotNull()).select(
        "event_type", (F.col("cents") - F.col("pred")).alias("e")
    )
    loss = F.expr("CASE WHEN e >= 0 THEN 9 * e ELSE -e END")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(loss).cast("long").alias("pinball_x10_total"),
        F.expr(
            "CAST(SUM(CASE WHEN e >= 0 THEN 9 * e ELSE -e END) DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("mean_pinball_x10"),
        F.expr(
            "CAST(SUM(CASE WHEN e >= 0 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("under_forecast_ppm"),
    )
