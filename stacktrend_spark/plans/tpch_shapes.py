"""TPC-H-shaped optimizer-pattern queries (round 6 widening batch).

The reference's relational surface (SURVEY §2.1-2.4) is already covered
by plans/relational.py; this module rounds out the CLASSIC decision-
support shapes the earlier rounds skipped — each one exercises a
distinct Catalyst pattern that matters at 100 TB:

  q2_min_cost_supplier   correlated-min decorrelation (groupBy-min + join-back)
  q4_late_ship_priority  correlated EXISTS with a non-equi term → semi join
  q5_local_supplier_volume  6-table star with a cross-dimension equality
  q7_volume_shipping     self-aliased dimension (nation ×2) + symmetric OR
  q8_market_share        conditional-share-of-total by year
  q9_nation_profit       multi-table expression agg (profit decomposition)
  q10_returned_items     top-N customers by computed measure (exact ordering)
  q11_important_parts    HAVING against a global scalar (integer-exact)
  q12_shipmode_priority  derived low-cardinality group + dual conditional counts
  q14_promo_revenue      conditional ratio over one month
  q16_supplier_variety   NOT-IN exclusion (anti join) + countDistinct
  q17_small_qty_revenue  per-group scalar threshold (avg) applied row-wise
  q19_disjunctive_filter OR-of-ANDs join condition (disjunctive pushdown)
  q20_dominant_suppliers nested agg→threshold-join→double semi-join chain
  q21_waiting_suppliers  EXISTS + NOT-EXISTS double correlation (semi+anti)
  q22_dormant_customers  global scalar filter + anti join on a fact table

The harness testdata is a REDUCED TPC-H (no partsupp; lineitem lacks
commitdate/receiptdate/shipmode; customer lacks phone), so each query
keeps its namesake's PLAN SHAPE while re-expressing the predicate over
the columns that exist (documented per query). Reference parity: the
reference engine's join/agg surface is exercised via SURVEY §2.3-2.4;
these add the decision-support composition on top.

Scale design (100 TB):
- nation/region/supplier/part are dimension tables → broadcast; the
  only shuffles are on fact keys (orderkey / custkey / partkey).
- Every date/brand/size predicate is applied BEFORE the join so it
  reaches the parquet scan (PushedFilters).
- Semi/anti joins carry only the key columns of the probe side.
- All hashed doubles go through the exact scaled-integer forms from
  functions/rounding.py, so DuckDB and Spark emit identical bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    fround,
    iscale,
    sql_iscale,
    sql_round,
)
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

# Exact scaled revenue: l_extendedprice*(1-l_discount) as a scale-1e4
# integer (order-independent across partial aggregation).
_DISC = lambda: iscale("l_extendedprice") * (100 - iscale("l_discount"))  # noqa: E731
_SQL_DISC = f"{sql_iscale('l_extendedprice', 2)} * (100 - {sql_iscale('l_discount', 2)})"


def _rev(alias: str = "revenue") -> F.Column:
    return (F.sum(_DISC()) / F.lit(1e4)).alias(alias)


def _sql_rev(alias: str = "revenue") -> str:
    return f"CAST(SUM({_SQL_DISC}) AS DOUBLE) / 1e4 AS {alias}"


# ---------------------------------------------------------------------------
# Q2 shape — min-cost supplier per part. The classic correlated
# MIN-subquery, decorrelated the way Catalyst wants it: per-(part,supp)
# unit cost → per-part min (partial-aggregated) → equality join-back.
# Adaptation: no partsupp table, so "cost" is the observed unit price
# (Σ extendedprice / Σ quantity) from lineitem, suppliers restricted to
# region EUROPE, parts to STANDARD & size<10.
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH sup_eu AS (
            SELECT s_suppkey FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ),
        qual AS (
            SELECT p_partkey FROM part
            WHERE p_type = 'STANDARD' AND p_size < 10
        ),
        ps AS (
            SELECT
                l_partkey,
                l_suppkey,
                CAST(SUM({sql_iscale('l_extendedprice', 2)}) AS DOUBLE)
                    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS unit_cost
            FROM lineitem l
            JOIN qual   ON l.l_partkey = qual.p_partkey
            JOIN sup_eu ON l.l_suppkey = sup_eu.s_suppkey
            GROUP BY l_partkey, l_suppkey
        ),
        pmin AS (
            SELECT l_partkey, MIN(unit_cost) AS min_cost FROM ps GROUP BY l_partkey
        )
        SELECT
            ps.l_partkey                                   AS p_partkey,
            CAST(MIN(ps.l_suppkey) AS BIGINT)              AS best_suppkey,
            {sql_round('ANY_VALUE(pmin.min_cost) / 100.0', 6)} AS min_unit_cost
        FROM ps JOIN pmin
          ON ps.l_partkey = pmin.l_partkey AND ps.unit_cost = pmin.min_cost
        GROUP BY ps.l_partkey
    """,
    doc="Q2 shape: correlated-min decorrelated as groupBy-min + join-back; "
    "dims broadcast, one shuffle on (partkey,suppkey).",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    sup_eu = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    qual = part.filter((F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)).select(
        "p_partkey"
    )
    ps = (
        li.join(F.broadcast(qual), li.l_partkey == qual.p_partkey)
        .join(F.broadcast(sup_eu), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(iscale("l_extendedprice")).cast("double")
                / F.sum(F.col("l_quantity").cast("long")).cast("double")
            ).alias("unit_cost")
        )
    )
    pmin = ps.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        ps.alias("ps")
        .join(
            pmin.alias("pm"),
            (F.col("ps.l_partkey") == F.col("pm.l_partkey"))
            & (F.col("ps.unit_cost") == F.col("pm.min_cost")),
        )
        .groupBy(F.col("ps.l_partkey").alias("p_partkey"))
        .agg(
            F.min("ps.l_suppkey").alias("best_suppkey"),
            fround(F.first("pm.min_cost") / F.lit(100.0), 6).alias("min_unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 shape — order-priority count with a correlated EXISTS whose inner
# predicate references BOTH relations (a non-equi term on top of the
# key equality → LeftSemi hash join with extra condition). Adaptation:
# no commitdate/receiptdate, so "problem order" := some line shipped
# more than 60 days after the order date.
# ---------------------------------------------------------------------------
@register(
    "q4_late_ship_priority",
    oracle="""
        SELECT
            o_orderpriority,
            CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
    """,
    doc="Q4 shape: correlated EXISTS with cross-relation inequality → "
    "left-semi join carrying only (orderkey, shipdate) on the probe side.",
)
def q4_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Q5 shape — local-supplier volume: the 6-table star whose defining
# feature is the EXTRA cross-dimension equality (customer's nation ==
# supplier's nation), which prunes the join output far below the
# key-only result. Dims broadcast; the fact chain shuffles on
# custkey then orderkey only.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle=f"""
        SELECT
            n.n_name AS nation,
            {_sql_rev()}
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
    doc="Q5 shape: multi-star join with cross-dimension equality "
    "(cust.nation == supp.nation); supplier/nation/region broadcast.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        o.join(customer, o.o_custkey == customer.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_rev())
    )


# ---------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations: the same dimension
# table joined TWICE under different roles (supplier nation / customer
# nation) with a symmetric OR over the pair, grouped by both roles and
# ship year.
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
        SELECT
            n1.n_name                                   AS supp_nation,
            n2.n_name                                   AS cust_nation,
            CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
            {_sql_rev()}
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY n1.n_name, n2.n_name, l_year
    """,
    doc="Q7 shape: nation dimension joined twice (supplier/customer roles), "
    "symmetric OR pair filter, group by both roles + ship year.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev())
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share of one supplier nation inside a region's
# orders for one product type, by year: conditional share-of-total with
# an integer-exact numerator/denominator pair.
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
        SELECT
            CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
            {sql_round(
                "CAST(SUM(CASE WHEN n1.n_name = 'NATION_5' THEN " + _SQL_DISC
                + " ELSE 0 END) AS DOUBLE) / CAST(SUM(" + _SQL_DISC + ") AS DOUBLE)",
                6,
            )} AS mkt_share
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n2.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_year
    """,
    doc="Q8 shape: conditional share-of-total by year; both sides of the "
    "ratio are exact scaled-integer sums, divided once (correctly rounded).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", _DISC()).otherwise(F.lit(0))
    )
    den = F.sum(_DISC())
    return (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(F.broadcast(n2), customer.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == region.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            fround(num.cast("double") / den.cast("double"), 6).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 shape — profit by supplier nation × year. Adaptation: no
# partsupp.ps_supplycost, so cost is proxied as 10% of p_retailprice per
# unit; profit = revenue − cost, decomposed entirely in scale-1e4
# integers (retail cents × qty × 10 lands on the same 1e4 grid).
# ---------------------------------------------------------------------------
@register(
    "q9_nation_profit",
    oracle=f"""
        SELECT
            n.n_name                                        AS nation,
            CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
            CAST(SUM({_SQL_DISC}
                 - {sql_iscale('p.p_retailprice', 2)}
                   * CAST(l.l_quantity AS BIGINT) * 10) AS DOUBLE) / 1e4 AS profit
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_type = 'ECONOMY'
        GROUP BY n.n_name, o_year
    """,
    doc="Q9 shape: profit decomposition (revenue − unit-cost·qty) as one "
    "exact integer expression; part/supplier/nation broadcast.",
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation")

    econ = part.filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    amount = _DISC() - iscale("p_retailprice") * F.col("l_quantity").cast("long") * 10
    return (
        li.join(F.broadcast(econ), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(amount).cast("double") / F.lit(1e4)).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10 shape — top 20 customers by revenue lost to returns in a quarter.
# The ordering measure is integer-exact, so the LIMIT frontier is
# deterministic across engines (custkey tiebreak).
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
        SELECT
            c.c_custkey,
            c.c_name,
            n.n_name AS nation,
            c.c_acctbal,
            {_sql_rev()}
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    doc="Q10 shape: top-N by computed measure; returnflag+date pushed to "
    "scans, nation broadcast, deterministic LIMIT via exact revenue + key.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")

    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    lr = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        o.join(lr, o.o_orderkey == lr.l_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal"
        )
        .agg(_rev())
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 shape — parts whose value exceeds a fraction of the GLOBAL total:
# grouped agg HAVING against a broadcast scalar. The comparison is done
# in integers (value·1000 > total) so the frontier is exact. Adaptation:
# value comes from lineitem (no partsupp).
# ---------------------------------------------------------------------------
@register(
    "q11_important_parts",
    oracle=f"""
        SELECT
            l_partkey,
            CAST(SUM({_SQL_DISC}) AS DOUBLE) / 1e4 AS part_value
        FROM lineitem
        GROUP BY l_partkey
        HAVING SUM({_SQL_DISC}) * 1500 >
               (SELECT SUM({_SQL_DISC}) FROM lineitem)
    """,
    doc="Q11 shape: HAVING vs global scalar; the scalar is a 1-row "
    "broadcast, the comparison integer-exact (value*1500 > total).",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(F.sum(_DISC()).alias("vs"))
    tot = li.agg(F.sum(_DISC()).alias("ts"))
    return (
        per.join(F.broadcast(tot))
        .filter(F.col("vs") * 1500 > F.col("ts"))
        .select(
            "l_partkey", (F.col("vs").cast("double") / F.lit(1e4)).alias("part_value")
        )
    )


# ---------------------------------------------------------------------------
# Q14 shape — promo revenue share for one ship month: conditional ratio
# with both sides exact.
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle=f"""
        SELECT
            {sql_round(
                "100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN " + _SQL_DISC
                + " ELSE 0 END) AS DOUBLE) / CAST(SUM(" + _SQL_DISC + ") AS DOUBLE)",
                6,
            )} AS promo_share,
            CAST(SUM({_SQL_DISC}) AS DOUBLE) / 1e4 AS total_revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
          AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="Q14 shape: one-month conditional ratio; part broadcast, date "
    "pushed to the lineitem scan.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    num = F.sum(F.when(F.col("p_type") == "PROMO", _DISC()).otherwise(F.lit(0)))
    den = F.sum(_DISC())
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            fround(F.lit(100.0) * num.cast("double") / den.cast("double"), 6).alias(
                "promo_share"
            ),
            (den.cast("double") / F.lit(1e4)).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 shape — supplier variety per part attribute, EXCLUDING a
# suppkey set (NOT IN). Keys are non-null here, so the DataFrame
# left-anti join is semantically identical to SQL NOT IN; the oracle
# keeps the NOT IN form to pin that equivalence.
# ---------------------------------------------------------------------------
@register(
    "q16_supplier_variety",
    oracle="""
        SELECT
            p.p_brand,
            p.p_size,
            CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type <> 'PROMO'
          AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_size
    """,
    doc="Q16 shape: NOT-IN supplier exclusion (anti join; keys non-null "
    "so equivalent to null-aware NOT IN) + countDistinct per attribute.",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    qual = part.filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_size")
    excl = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(qual), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(excl), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 shape — revenue impact of small-quantity lines: a per-part scalar
# threshold (0.2 × avg qty) applied row-wise. Decorrelated to a grouped
# avg + join-back; the threshold formula is mirrored op-for-op in the
# oracle (sum(long)/count × 0.2) so the row selection is bit-identical.
# Adaptation: Brand filter only (no p_container column).
# ---------------------------------------------------------------------------
@register(
    "q17_small_qty_revenue",
    oracle=f"""
        WITH li_b AS (
            SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#23'
        ),
        lim AS (
            SELECT
                l_partkey,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) * 0.2 AS qty_lim
            FROM li_b GROUP BY l_partkey
        )
        SELECT
            {sql_round(
                "CAST(SUM(" + sql_iscale('li_b.l_extendedprice', 2)
                + ") AS DOUBLE) / 1e2 / 7.0",
                2,
            )} AS avg_yearly
        FROM li_b JOIN lim ON li_b.l_partkey = lim.l_partkey
        WHERE li_b.l_quantity < lim.qty_lim
    """,
    doc="Q17 shape: correlated avg threshold decorrelated to grouped avg "
    "+ join-back; threshold op tree mirrored exactly on both engines.",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    pb = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li_b = li.join(F.broadcast(pb), li.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lim = li_b.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
            * F.lit(0.2)
        ).alias("qty_lim")
    )
    return (
        li_b.join(lim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            fround(
                F.sum(iscale("l_extendedprice")).cast("double")
                / F.lit(1e2)
                / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive join predicate (OR of brand/size/quantity
# bands). Catalyst extracts the common partkey equality as the join key
# and keeps the OR as a post-join filter; the partkey IN-set implied by
# each branch stays prunable on the part side.
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_filter",
    oracle=f"""
        SELECT
            {_sql_rev()},
            CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="Q19 shape: OR-of-ANDs join condition; equi key extracted, "
    "branch predicates remain as a residual filter.",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & branch)
        .agg(_rev(), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Q21 shape — suppliers who kept orders waiting: the classic EXISTS +
# NOT-EXISTS double correlation (semi join then anti join on the same
# fact). Adaptation: "late" := shipped >90 days after the order date
# (no receipt/commit dates). Probe sides carry only (orderkey, suppkey).
# ---------------------------------------------------------------------------
@register(
    "q21_waiting_suppliers",
    oracle="""
        SELECT
            s.s_name,
            CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o    ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
    """,
    doc="Q21 shape: EXISTS (semi) + NOT EXISTS (anti) on the same fact "
    "with <> correlation; late-line set computed once and reused.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    o_f = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("l_orderkey") == o_f.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    lall = li.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_suppkey").alias("b_suppkey")
    )
    late_other = late.select(
        F.col("l_orderkey").alias("c_orderkey"), F.col("l_suppkey").alias("c_suppkey")
    )
    waiting = (
        late.join(
            lall,
            (F.col("l_orderkey") == F.col("b_orderkey"))
            & (F.col("l_suppkey") != F.col("b_suppkey")),
            "left_semi",
        ).join(
            late_other,
            (F.col("l_orderkey") == F.col("c_orderkey"))
            & (F.col("l_suppkey") != F.col("c_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q22 shape — high-balance customers with no RECENT orders, from a
# nation subset: global scalar filter (avg of positive balances) + anti
# join against a date-filtered fact. Adaptations: nation list instead
# of phone prefixes (no c_phone column), and dormancy is "no orders
# since 2000-07-01" because at this data scale every customer has SOME
# order — the date filter keeps the anti-join probe side small and
# pushed to the orders scan, which is exactly the Q22 plan shape.
# ---------------------------------------------------------------------------
@register(
    "q22_dormant_customers",
    oracle=f"""
        SELECT
            n.n_name AS nation,
            CAST(COUNT(*) AS BIGINT) AS numcust,
            CAST(SUM({sql_iscale('c.c_acctbal', 2)}) AS DOUBLE) / 1e2 AS totacctbal
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_8', 'NATION_13',
                           'NATION_17', 'NATION_21', 'NATION_24')
          AND CAST({sql_iscale('c.c_acctbal', 2)} AS DOUBLE) > (
              SELECT CAST(SUM({sql_iscale('c2.c_acctbal', 2)}) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE)
              FROM customer c2 WHERE c2.c_acctbal > 0.0
          )
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-07-01'
          )
        GROUP BY n.n_name
    """,
    doc="Q22 shape: scalar subquery (avg of positive balances, exact "
    "scaled form) + anti join on orders; nation dim broadcast.",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation")

    nat = nation.filter(
        F.col("n_name").isin(
            "NATION_1", "NATION_8", "NATION_13", "NATION_17", "NATION_21", "NATION_24"
        )
    ).select("n_nationkey", "n_name")
    avg_pos = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(iscale("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal_scaled")
    )
    return (
        customer.join(F.broadcast(nat), customer.c_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(avg_pos))
        .filter(iscale("c_acctbal").cast("double") > F.col("avg_bal_scaled"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(iscale("c_acctbal")).cast("double") / F.lit(1e2)).alias(
                "totacctbal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 1-D band self-join: pairs of same-brand parts whose retail prices lie
# within ±1.00 of each other. The naive form is a quadratic self-join
# with an |a-b| ≤ eps predicate (the oracle keeps that form); the Spark
# plan buckets prices into band-width cells and equi-joins each part
# against its own and the two adjacent cells (3× replication of ONE
# side), so candidate volume is O(N · density) instead of O(N²) —
# the numeric analog of the geo-grid nearest pattern
# (plans/geo.py) in one dimension.
# ---------------------------------------------------------------------------
@register(
    "band_join_price_pairs",
    oracle="""
        WITH px AS (
            SELECT p_partkey, p_brand,
                   CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
            FROM part
        )
        SELECT
            a.p_brand                                   AS brand,
            CAST(COUNT(*) AS BIGINT)                    AS n_pairs,
            CAST(SUM(ABS(a.cents - b.cents)) AS BIGINT) AS sum_gap_cents,
            CAST(MIN(ABS(a.cents - b.cents)) AS BIGINT) AS min_gap_cents
        FROM px a
        JOIN px b ON a.p_brand = b.p_brand
                 AND a.p_partkey < b.p_partkey
                 AND ABS(a.cents - b.cents) <= 100
        GROUP BY a.p_brand
    """,
    doc="1-D band self-join (|price_a − price_b| ≤ 1.00 within brand): "
    "bucket-replicated equi-join (3 cells) vs the oracle's quadratic "
    "form; exact integer cents.",
)
def band_join_price_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-CONTRACT / DENSITY NOTE (r6 verdict task 7, SCALE.md
    adjudication moved here): the result aggregates over every
    within-band pair, so candidate volume — and therefore runtime —
    is O(N · density), where density = parts per (brand, 1.00-price
    cell). On a corpus whose price distribution is density-STABLE
    (10× more parts spread over a proportionally wider catalog),
    scaling is linear. The measured sf1 α=1.12 comes from the
    key-shifted replica synthesizer, which multiplies per-cell
    density by 10 instead of widening the catalog — per-cell pair
    counts grow quadratically in replica count BY CONSTRUCTION.
    That is the contract's cost on densifying data, not a plan
    defect: the plan itself never forms an O(N²) candidate set."""
    part = load_table(spark, sf_dir, "part")
    px = part.select(
        "p_partkey",
        "p_brand",
        iscale("p_retailprice").alias("cents"),
    ).withColumn("cell", F.expr("cents DIV 100"))
    # replicate side A into its cell and both neighbors; join equi on
    # (brand, cell) then refine with the exact band predicate
    a = px.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("cents").alias("cents_a"),
        F.explode(
            F.array(F.col("cell") - 1, F.col("cell"), F.col("cell") + 1)
        ).alias("probe_cell"),
    )
    b = px.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("cents").alias("cents_b"),
        F.col("cell").alias("probe_cell"),
    )
    pairs = a.join(b, ["brand", "probe_cell"]).filter(
        (F.col("key_a") < F.col("key_b"))
        & (F.abs(F.col("cents_a") - F.col("cents_b")) <= 100)
    )
    gap = F.abs(F.col("cents_a") - F.col("cents_b"))
    return pairs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(gap).alias("sum_gap_cents"),
        F.min(gap).cast("long").alias("min_gap_cents"),
    )


# ---------------------------------------------------------------------------
# Q12 shape — ship-mode priority matrix: a fact-fact join whose GROUP BY
# key is DERIVED from both sides (classic "computed dimension"), plus the
# dual conditional counts that make Q12 the canonical CASE-pivot agg.
# Adaptation: the reduced lineitem has no l_shipmode/commitdate/
# receiptdate, so the mode surrogate is the order→ship latency bucket
# (≤30 d FAST, ≤75 d REGULAR, else SLOW) over 1996 shipments.
# Scale: the year filter reaches the lineitem scan (PushedFilters); the
# join shuffles on orderkey only carrying (orderdate, priority); the
# 3-group agg is map-side combinable.
# ---------------------------------------------------------------------------
@register(
    "q12_shipmode_priority",
    oracle="""
        SELECT ship_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM (
            SELECT o_orderpriority,
                   CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 30
                            THEN 'FAST'
                        WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 75
                            THEN 'REGULAR'
                        ELSE 'SLOW' END AS ship_bucket
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        ) GROUP BY ship_bucket
    """,
    doc="Q12 shape: derived ship-latency bucket as the group key + dual "
    "CASE-counts of order priority; year filter pushed to the scan.",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    yr = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        yr.join(orders, yr.l_orderkey == orders.o_orderkey)
        .select(
            F.when(lag <= 30, "FAST")
            .when(lag <= 75, "REGULAR")
            .otherwise("SLOW")
            .alias("ship_bucket"),
            high.alias("is_high"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 shape — "potential part promotion": the deepest nesting in TPC-H
# (subquery-in-subquery-in-IN), decorrelated the way Catalyst wants it:
# two partial aggs over the same filtered fact slice, a threshold join
# between them, then a semi join into the supplier dimension.
# Adaptation: no partsupp/availqty, so "dominant supplier" := shipped
# more than a quarter of a qualifying part's 1996 volume (the original's
# availqty > ½·shipped becomes share-of-part-volume > ¼).
# Scale: the 'small%' prefix prunes parts BEFORE the fact join
# (broadcast); both aggs reuse the SAME (suppkey,partkey) shuffle — the
# per-part total is a second partial agg over sq, not a second scan;
# supplier/nation are broadcast dims.
# ---------------------------------------------------------------------------
@register(
    "q20_dominant_suppliers",
    oracle="""
        WITH qual AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        yr AS (
            SELECT l_suppkey, l.l_partkey, CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem l JOIN qual ON l.l_partkey = qual.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        ),
        sq AS (
            SELECT l_suppkey, l_partkey, SUM(qty) AS sqty
            FROM yr GROUP BY l_suppkey, l_partkey
        ),
        tot AS (SELECT l_partkey, SUM(sqty) AS tqty FROM sq GROUP BY l_partkey),
        dom AS (
            SELECT DISTINCT l_suppkey
            FROM sq JOIN tot ON sq.l_partkey = tot.l_partkey
            WHERE 4 * sq.sqty > tot.tqty
        )
        SELECT s_suppkey, s_name, n_name AS nation
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
    """,
    doc="Q20 shape: nested-subquery decorrelation — shared (supp,part) "
    "partial agg, per-part re-agg, threshold join, semi join into dims.",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    qual = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    yr = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(qual), li.l_partkey == qual.p_partkey)
        .select("l_suppkey", "l_partkey", F.col("l_quantity").cast("long").alias("qty"))
    )
    # checkpoint the shared partial: tot re-aggregates sq, and without
    # it Catalyst re-executes the whole scan+join+agg subtree twice
    # (observed in PLANS.md — two lineitem scans). The checkpointed
    # frame is (suppkey,partkey)-sized, ≪ the fact table.
    sq = local_checkpoint(yr.groupBy("l_suppkey", "l_partkey").agg(F.sum("qty").alias("sqty")))
    tot = sq.groupBy("l_partkey").agg(F.sum("sqty").alias("tqty"))
    dom = (
        sq.join(tot, "l_partkey")
        .filter(F.lit(4) * F.col("sqty") > F.col("tqty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(dom, supplier.s_suppkey == dom.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
