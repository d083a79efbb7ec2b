"""Pure-SQL-surface queries: recursive CTEs and LATERAL joins.

A drop-in engine must accept the SQL users actually write, not only
the DataFrame API. These two register Spark-4 SQL features end-to-end
through ``spark.sql`` over registered temp views (SURVEY §2.1 S13):

- **Recursive CTE** (Spark 4 ``WITH RECURSIVE``): bounded-depth
  reachability over the bulk co-purchase graph — the BFS frontier
  pattern. Each iteration is one distributed join of the frontier
  against the edge table; Spark 4 supports UNION ALL recursion only,
  so a DISTINCT inside the recursive term dedups each LEVEL (level-k
  state = nodes reachable by some k-walk, capped at |V| — without it
  the level carries raw walks and blows up by degree^k; measured
  12.9 s → 3.5 s at sf0.1), and the final MIN(depth) aggregate
  collapses levels to hop distances. Cross-level dedup (true
  visited-set BFS) needs UNION recursion, which DuckDB has and Spark 4
  does not yet. At 100 TB the edge table partitions on src and every
  level reuses that partitioning.
- **LATERAL join with correlated LIMIT**: per-customer top-2 orders —
  the correlated top-N shape analysts write naturally. Catalyst
  rewrites it to the same window/aggregate plans as the DataFrame
  forms (no per-row re-execution), which is exactly what makes it safe
  at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stacktrend_spark.functions.rounding import sql_iscale
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import register_views

#: co-purchase edge quantity gate (matches plans/linkage.py triangles)
_MIN_QTY = 40
#: BFS depth cap
_MAX_HOPS = 3

_EDGES_SQL = f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_quantity >= {_MIN_QTY}
    )
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
"""

#: recursion over {{edges}} — the fn binds a checkpointed edge view (Spark
#: re-evaluates non-materialized CTEs once per recursion level;
#: materializing the edge table cut sf0.1 cold time 12.7 s -> ~4 s), the oracle
#: inlines the same SQL as a CTE (DuckDB materializes CTEs by default)
_REACH_SQL = f"""
    WITH RECURSIVE
    seed AS (SELECT MIN(src) AS s FROM {{edges}}),
    reach(node, depth) AS (
        SELECT s, 0 FROM seed
        UNION ALL
        SELECT DISTINCT e.dst, r.depth + 1
        FROM reach r JOIN {{edges}} e ON e.src = r.node
        WHERE r.depth < {_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(MIN(depth) AS BIGINT) AS hops
    FROM reach
    GROUP BY 1
"""

_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.cents
    FROM customer c, LATERAL (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY cents DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
"""


@register(
    "recursive_cte_reachability",
    # oracle = same recursion with the edge SQL inlined as a leading CTE
    oracle=(
        "WITH RECURSIVE cp_edges AS (" + _EDGES_SQL + "), "
        + _REACH_SQL.format(edges="cp_edges").split("WITH RECURSIVE", 1)[1].lstrip()
    ),
    doc=(
        f"WITH RECURSIVE BFS over the bulk co-purchase graph from the "
        f"minimum-id part, depth <= {_MAX_HOPS}: hop distance per "
        "reachable part. UNION ALL walks bounded by the depth cap, "
        "one frontier-edge join per level, MIN(depth) collapse."
    ),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # checkpointed seed: every BFS level re-reads the edge set
    edges = local_checkpoint(spark.sql(_EDGES_SQL))
    # a call-scoped view: a session view would outlive the query
    return spark.sql(_REACH_SQL, edges=edges)


@register(
    "lateral_top2_orders",
    oracle=_LATERAL_SQL,
    doc=(
        "LATERAL join with correlated ORDER BY ... LIMIT 2: top-2 "
        "orders per BUILDING-segment customer — the analyst-native "
        "correlated top-N, planned as window/aggregate not per-row "
        "re-execution."
    ),
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_SETOP_SQL = """
    WITH a AS (
        SELECT o_custkey, o_orderpriority FROM orders
        WHERE o_orderstatus = 'O'
    ),
    b AS (
        SELECT o_custkey, o_orderpriority FROM orders
        WHERE o_orderstatus = 'F'
    ),
    i AS (
        SELECT o_orderpriority, COUNT(*) AS n_intersect_all
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY 1
    ),
    e AS (
        SELECT o_orderpriority, COUNT(*) AS n_except_all
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY 1
    )
    SELECT p.o_orderpriority,
           CAST(COALESCE(i.n_intersect_all, 0) AS BIGINT) AS n_intersect_all,
           CAST(COALESCE(e.n_except_all, 0) AS BIGINT)    AS n_except_all
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p
    LEFT JOIN i ON i.o_orderpriority = p.o_orderpriority
    LEFT JOIN e ON e.o_orderpriority = p.o_orderpriority
"""


@register(
    "setops_all_multiset",
    oracle=_SETOP_SQL,
    doc=(
        "Multiset INTERSECT ALL / EXCEPT ALL semantics pin: per "
        "priority, how many (custkey, priority) rows of the open-order "
        "multiset survive intersection with / subtraction of the "
        "finished-order multiset — bag semantics (min/left-minus of "
        "per-key multiplicities), which DISTINCT-based set ops get "
        "wrong. Same SQL text runs on both engines."
    ),
)
def setops_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark executes the IDENTICAL SQL text the oracle runs.

    100 TB: Catalyst plans INTERSECT ALL / EXCEPT ALL as a count-
    per-key aggregate + generate (multiplicity replay), i.e. one
    shuffle on the full row key — same cost class as a groupBy; no
    row-by-row anti semantics.
    """
    register_views(spark, sf_dir)
    return spark.sql(_SETOP_SQL)


_DIVISION_SQL = """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = p.o_orderpriority
        )
    )
"""


@register(
    "division_not_exists",
    oracle=_DIVISION_SQL,
    doc=(
        "Relational division (the 'for all' query): customers who have "
        "placed at least one order in EVERY priority class, written as "
        "the classic double-NOT-EXISTS — the hardest correlated-"
        "subquery nesting a SQL surface must support. Same SQL text "
        "runs on both engines."
    ),
)
def division_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division, Spark side.

    Spark 4 rejects the double-NOT-EXISTS text itself: the innermost
    subquery correlates TWO levels out (`c.c_custkey`), past Spark's
    one-level correlation support (UNRESOLVED_COLUMN) — DuckDB accepts
    it, so the classic text stays as the oracle. The Spark plan is the
    DECORRELATED equivalent every optimizer reduces division to:
    count-distinct per entity == domain count (broadcast scalar).
    That is also the right 100 TB plan: one orders shuffle + a
    broadcast of one number, no per-row re-execution.
    """
    from pyspark.sql import functions as F

    from stacktrend_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("np")
    )
    dom = o.select("o_orderpriority").distinct().agg(
        F.count(F.lit(1)).alias("npri")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        c.join(per_cust, F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(dom))
        .filter(F.col("np") == F.col("npri"))
        .select("c_custkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Native recursive CTE (r6) — Spark 4 ships WITH RECURSIVE
# (SPARK-24497 / UnionLoopExec), and this query pins that NEW surface
# with a genuinely sequential computation both engines run from the
# same SQL text: a 0.5%/month amortization of each nation's total
# revenue (principal = Σ revenue cents, payment = principal DIV 72),
# all 25 nations iterating IN ONE recursion (the anchor is 25 rows;
# each level advances every still-open balance, rows self-terminate
# via bal > 0). Integer-only recurrence:
#
#   bal' = bal + bal·5000 DIV 10⁶ − payment
#
# so every level is bit-exact in both engines. Levels ≤ 96 — under
# Spark's default 100-level recursion cap, pinned deliberately (the
# MAX RECURSION LEVEL clause is Spark-only syntax the shared SQL
# avoids). The repo's other recurrences run as grouped-map kernels or
# oracle-side CTE replays; this is the first BOTH-SIDES-native one.
# 100 TB: the corpus collapses to 25 principals first; the loop is
# O(levels × open rows) on that constant spine — driver-sized work,
# executor-sized scan.
# ---------------------------------------------------------------------------
_AMORT_SQL = """
    WITH RECURSIVE principals AS (
        SELECT n.n_name AS nation,
               SUM({ISCALE}) AS principal
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    am AS (
        SELECT nation, 0 AS m, principal AS bal,
               CAST(0 AS BIGINT) AS interest,
               principal // 72 AS payment
        FROM principals
        UNION ALL
        SELECT nation, m + 1,
               bal + bal * 5000 {DIV} 1000000 - payment,
               bal * 5000 {DIV} 1000000,
               payment
        FROM am WHERE m < 96 AND bal > 0
    )
    SELECT nation,
           CAST(MAX(m) AS BIGINT)            AS n_months,
           CAST(SUM(interest) AS BIGINT)     AS total_interest_cents,
           CAST(MIN(bal) AS BIGINT)          AS final_balance_cents
    FROM am
    GROUP BY nation
"""


@register(
    "recursive_amortization_native",
    oracle=_AMORT_SQL.format(
        ISCALE=sql_iscale("o.o_totalprice"), DIV="//"
    ).replace("principal // 72", "principal // 72"),
    doc=(
        "Spark 4's native WITH RECURSIVE (UnionLoopExec) pinned with a "
        "25-nation integer amortization recurrence (0.5%/month, "
        "payment = principal DIV 72, per-row self-termination) — the "
        "same recursive SQL text both engines execute; months to "
        "payoff, total interest, final balance per nation."
    ),
)
def recursive_amortization_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        _AMORT_SQL.format(ISCALE=sql_iscale("o.o_totalprice"), DIV="DIV").replace(
            "principal // 72", "principal DIV 72"
        )
    )


# ---------------------------------------------------------------------------
# Parameterized SQL (r7) — Spark 4's named-parameter binding
# (spark.sql(query, args={...})): the injection-safe way to template
# queries, with literals bound by the PARSER (so Catalyst still
# constant-folds and pushes them down — same plan as hand-inlined
# literals, unlike string formatting which risks injection, or a UDF
# closure which blocks pushdown). The oracle inlines the identical
# values; the gate proves binding changes nothing about results.
# ---------------------------------------------------------------------------
_PSQL_MIN_BAL = 5000.0
_PSQL_SEGMENT = "BUILDING"


@register(
    "parameterized_sql_binding",
    oracle=f"""
        SELECT c.c_nationkey                                   AS nation,
               CAST(COUNT(*) AS BIGINT)                        AS n_customers,
               CAST(SUM({sql_iscale('c.c_acctbal')}) AS BIGINT) AS sum_bal_cents
        FROM customer c
        WHERE c.c_mktsegment = '{_PSQL_SEGMENT}'
          AND c.c_acctbal >= {_PSQL_MIN_BAL}
        GROUP BY 1
    """,
    doc=(
        "Named-parameter SQL binding (spark.sql(args=...)): "
        "parser-level literal binding keeps pushdown/constant-folding "
        "intact; results identical to inlined literals."
    ),
)
def parameterized_sql_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_nationkey                                  AS nation,
               CAST(COUNT(*) AS BIGINT)                       AS n_customers,
               CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT)                                AS sum_bal_cents
        FROM customer c
        WHERE c.c_mktsegment = :segment
          AND c.c_acctbal >= :min_bal
        GROUP BY 1
        """,
        args={"segment": _PSQL_SEGMENT, "min_bal": _PSQL_MIN_BAL},
    )


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS vs anti-join NULL semantics (r8) — the classic
# three-valued-logic trap, pinned as an oracle-checked row: when the
# subquery list contains a NULL, `x NOT IN (list)` is never TRUE (x <>
# NULL is UNKNOWN), so the count collapses to 0; NOT EXISTS and the
# left-anti join compare with = (UNKNOWN falls out of the match) and
# return the intuitive complement. Engines agree on the standard; code
# that migrates between the forms silently changes results — this row
# documents and VALUE-CHECKS all three side by side.
#
# 100 TB: both correlated forms decorrelate to the same left-anti
# hash join (one shuffle); the NOT IN form plans a null-aware anti
# join, which at scale is the expensive variant — one more reason the
# anti-join form is the production spelling.
# ---------------------------------------------------------------------------
_NULLSEM_SQL = """
    WITH keys AS (
        SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT CAST(NULL AS BIGINT) AS k
    )
    SELECT
        CAST((SELECT COUNT(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM keys)) AS BIGINT)
            AS n_not_in,
        CAST((SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM keys x WHERE x.k = c.c_custkey))
              AS BIGINT)
            AS n_not_exists,
        CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_customers
"""


@register(
    "anti_join_null_semantics",
    oracle=_NULLSEM_SQL,
    doc=(
        "Three-valued-logic pin: NOT IN over a NULL-bearing list "
        "(always-UNKNOWN -> 0 rows) vs NOT EXISTS (the intuitive "
        "complement), value-checked side by side on the same key set."
    ),
)
def anti_join_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_NULLSEM_SQL)
