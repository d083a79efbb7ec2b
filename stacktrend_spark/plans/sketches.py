"""Mergeable distinct-count sketches with EXACTLY-reproducible
estimates: the K-minimum-values (KMV) family.

Beyond-reference addition (training-data pipeline / 100 TB analytics
family; reference capability anchor: SURVEY §2.4 "absent: approx
distinct"). HLL (`approx_distinct_users`, plans/statistics.py) is the
production distinct-count path but its estimate is engine-opaque — it
can only be oracle-checked through an error-bound column. KMV is the
complementary sketch whose estimate is a PURE FUNCTION of the data:

    h(x)  = first 40 bits of md5(x), parsed as int64
    sketch = the K smallest distinct h values
    |D| ≈ (K-1) · 2^40 DIV h_(K)     (integer division — exact)

Both engines can rebuild the identical sketch bit-for-bit (md5 and the
per-nibble hex parse are engine-neutral), so the ESTIMATE ITSELF is on
the hashed surface — a sketch whose correctness gate is exact, not
statistical. KMV sketches are mergeable (union = K smallest of the
concatenation), which the pairwise-overlap query exercises.

100 TB notes: the distinct-(group, h) aggregate is the only corpus
shuffle; the rank-K cut is a `row_number <= K` filter, which Spark's
WindowGroupLimit rewrites into a per-partition top-K push-down (no
group's full hash set materializes in one task before the cut). The
overlap query joins the per-type hash sets against a BROADCAST
pair list (#type² rows), so candidate volume is bounded by
K·#pairs after the cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table

_K = 64
_POW40 = 1 << 40  # normalization denominator for 40-bit hashes


def _sql_hex40(expr: str) -> str:
    """DuckDB: first 10 hex chars of md5(expr) parsed to int64 via the
    per-nibble STRPOS fold (version-neutral — PARITY.md)."""
    hx = f"SUBSTR(md5({expr}), 1, 10)"
    return " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR({hx}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (9 - i)} AS BIGINT)"
        for i in range(10)
    )


def _spark_hex40(col) -> F.Column:
    """Spark twin of _sql_hex40 (conv base-16; identical md5 input)."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 10), 16, 10
    ).cast("long")


@register(
    "kmv_distinct_sketch",
    oracle=f"""
        WITH uh AS (
            SELECT DISTINCT event_type,
                   {_sql_hex40("CAST(user_id AS VARCHAR)")} AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM uh
        ),
        mins AS (
            SELECT event_type, COUNT(*) AS n_mins, MAX(h) AS h_k
            FROM ranked WHERE rn <= {_K} GROUP BY 1
        ),
        ex AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
            FROM events GROUP BY 1
        )
        SELECT m.event_type,
               CAST(ex.exact_users AS BIGINT) AS exact_users,
               CAST(CASE WHEN m.n_mins < {_K} THEN m.n_mins
                         ELSE ({_K - 1} * CAST({_POW40} AS BIGINT)) // m.h_k
                    END AS BIGINT) AS kmv_users,
               CAST(ABS(CASE WHEN m.n_mins < {_K} THEN m.n_mins
                             ELSE ({_K - 1} * CAST({_POW40} AS BIGINT)) // m.h_k
                        END - ex.exact_users) * 1000000
                    // ex.exact_users AS BIGINT) AS err_ppm
        FROM mins m JOIN ex USING (event_type)
    """,
    doc=(
        f"KMV (k={_K}) distinct-user sketch per event_type: estimate = "
        f"(k-1)*2^40 DIV h_(k) over 40-bit md5 hashes — a distinct-count "
        "sketch whose estimate is bit-reproducible in any engine, hashed "
        "alongside the exact count and the realized error in ppm."
    ),
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "event_type", _spark_hex40(F.col("user_id")).alias("h")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("event_type").orderBy("h"))
    mins = (
        uh.withColumn("rn", rn)
        .filter(F.col("rn") <= _K)  # WindowGroupLimit → per-partition top-K
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_mins"), F.max("h").alias("h_k"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = F.when(F.col("n_mins") < _K, F.col("n_mins")).otherwise(
        F.expr(f"{_K - 1} * {_POW40}L DIV h_k")
    )
    return (
        mins.join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("long").alias("exact_users"),
            est.cast("long").alias("kmv_users"),
            F.expr(
                f"abs(CASE WHEN n_mins < {_K} THEN n_mins"
                f" ELSE {_K - 1} * {_POW40}L DIV h_k END - exact_users)"
                " * 1000000 DIV exact_users"
            )
            .cast("long")
            .alias("err_ppm"),
        )
    )


@register(
    "kmv_union_jaccard",
    oracle=f"""
        WITH mh AS (
            SELECT DISTINCT event_type,
                   {_sql_hex40("CAST(user_id AS VARCHAR)")} AS h
            FROM events
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb
            FROM types a JOIN types b ON a.event_type < b.event_type
        ),
        members AS (
            SELECT p.ta, p.tb, m.h,
                   MAX(CASE WHEN m.event_type = p.ta THEN 1 ELSE 0 END) AS ia,
                   MAX(CASE WHEN m.event_type = p.tb THEN 1 ELSE 0 END) AS ib
            FROM pairs p
            JOIN mh m ON m.event_type IN (p.ta, p.tb)
            GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT ta, tb, h, ia, ib,
                   ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
            FROM members
        ),
        s AS (
            SELECT ta, tb, COUNT(*) AS n, MAX(h) AS h_k,
                   SUM(ia * ib) AS n_both
            FROM ranked WHERE rn <= {_K} GROUP BY 1, 2
        )
        SELECT ta AS type_a, tb AS type_b,
               CAST(CASE WHEN n < {_K} THEN n
                         ELSE ({_K - 1} * CAST({_POW40} AS BIGINT)) // h_k
                    END AS BIGINT) AS union_users_est,
               CAST(n_both * 1000000 // n AS BIGINT) AS jaccard_ppm,
               CAST(n_both * (CASE WHEN n < {_K} THEN n
                                   ELSE ({_K - 1} * CAST({_POW40} AS BIGINT)) // h_k
                              END) // n AS BIGINT) AS inter_users_est
        FROM s
    """,
    doc=(
        "KMV sketch MERGE: pairwise event-type audience overlap — the "
        "union sketch is the K smallest hashes of either set, Jaccard = "
        "share of union-sketch members present in both, intersection by "
        "inclusion-exclusion on the sketch; every output an exact "
        "integer reproducible in any engine."
    ),
)
def kmv_union_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mh = ev.select(
        "event_type", _spark_hex40(F.col("user_id")).alias("h")
    ).distinct()
    types = ev.select("event_type").distinct()
    a, b = types.alias("a"), types.alias("b")
    pairs = a.join(
        b, F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
    )
    members = (
        mh.join(
            F.broadcast(pairs),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "h")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0)
            ).alias("ia"),
            F.max(
                F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0)
            ).alias("ib"),
        )
    )
    rn = F.row_number().over(W.partitionBy("ta", "tb").orderBy("h"))
    s = (
        members.withColumn("rn", rn)
        .filter(F.col("rn") <= _K)
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("h").alias("h_k"),
            F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
        )
    )
    est_sql = f"CASE WHEN n < {_K} THEN n ELSE {_K - 1} * {_POW40}L DIV h_k END"
    return s.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.expr(est_sql).cast("long").alias("union_users_est"),
        F.expr("n_both * 1000000 DIV n").cast("long").alias("jaccard_ppm"),
        F.expr(f"n_both * ({est_sql}) DIV n").cast("long").alias("inter_users_est"),
    )


_CMS_D = 4      # hash rows
_CMS_W = 256    # buckets per row
_CMS_MIN = 45   # exact-count threshold for the audited heavy hitters


@register(
    "cms_heavy_hitters",
    oracle=f"""
        WITH counts AS (
            SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
        ),
        grid AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(j)),
        sketch AS (
            SELECT j,
                   ({_sql_hex40(
                       "CAST(g.j AS VARCHAR) || ':' || CAST(c.l_partkey AS VARCHAR)"
                   )}) % {_CMS_W} AS bucket,
                   SUM(c.cnt) AS s
            FROM counts c CROSS JOIN grid g
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT c.l_partkey, c.cnt AS exact_cnt, g.j,
                   ({_sql_hex40(
                       "CAST(g.j AS VARCHAR) || ':' || CAST(c.l_partkey AS VARCHAR)"
                   )}) % {_CMS_W} AS bucket
            FROM counts c CROSS JOIN grid g
            WHERE c.cnt >= {_CMS_MIN}
        )
        SELECT c.l_partkey,
               CAST(MAX(c.exact_cnt) AS BIGINT) AS exact_cnt,
               CAST(MIN(sk.s) AS BIGINT)        AS cms_est,
               CAST((MIN(sk.s) - MAX(c.exact_cnt)) * 1000000
                    // MAX(c.exact_cnt) AS BIGINT) AS over_ppm
        FROM cand c JOIN sketch sk USING (j, bucket)
        GROUP BY c.l_partkey
    """,
    doc=(
        f"Count-min sketch (d={_CMS_D}, w={_CMS_W}) over lineitem part "
        "frequencies, audited against exact counts for every part seen "
        f"≥{_CMS_MIN} times: estimate = min over rows of the bucket "
        "sum, always ≥ exact (one-sided error), overestimate in ppm. "
        "Hash rows are 40-bit md5 — the sketch is bit-reproducible in "
        "any engine, so the gate checks the ESTIMATES, not just shape."
    ),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS build + point-query audit.

    100 TB: CMS is LINEAR, so the sketch is built from the per-key
    count table, not the raw row stream — one corpus shuffle (the
    exact count, map-side combinable, needed for the audit anyway),
    then d hashes per DISTINCT key instead of per row (measured 5.0 s
    → sub-second warm at sf0.1: 80k md5s instead of 2.4M). The
    (j, bucket) aggregate has ≤ d·w = 1024 groups; in production only
    the 1024-row sketch ships/merges (bucket-wise +) and the raw
    stream still never shuffles more than once.
    """
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j")
    bucket = (
        _spark_hex40(
            F.concat(
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("l_partkey").cast("string"),
            )
        )
        % _CMS_W
    ).alias("bucket")
    hashed = counts.select("l_partkey", "cnt", grid).select(
        "l_partkey", "cnt", "j", bucket
    )
    sketch = hashed.groupBy("j", "bucket").agg(F.sum("cnt").alias("s"))
    cand = (
        counts.filter(F.col("cnt") >= _CMS_MIN)
        .withColumnRenamed("cnt", "exact_cnt")
        .select("l_partkey", "exact_cnt", grid)
        .select("l_partkey", "exact_cnt", "j", bucket)
    )
    # sketch is ≤ d·w rows — broadcast to the candidate probes
    return (
        cand.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("l_partkey")
        .agg(
            F.max("exact_cnt").cast("long").alias("exact_cnt"),
            F.min("s").cast("long").alias("cms_est"),
            F.expr("(MIN(s) - MAX(exact_cnt)) * 1000000 DIV MAX(exact_cnt)")
            .cast("long")
            .alias("over_ppm"),
        )
    )


@register(
    "bitmap_audience_overlap",
    oracle="""
        WITH bm AS (
            SELECT event_type,
                   user_id // 63 AS w,
                   BIT_OR(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS bits
            FROM events
            GROUP BY 1, 2
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb
            FROM types a JOIN types b ON a.event_type < b.event_type
        ),
        words AS (
            SELECT p.ta, p.tb, m.w,
                   COALESCE(MAX(CASE WHEN m.event_type = p.ta
                                     THEN m.bits END), 0) AS ba,
                   COALESCE(MAX(CASE WHEN m.event_type = p.tb
                                     THEN m.bits END), 0) AS bb
            FROM bm m JOIN pairs p ON m.event_type IN (p.ta, p.tb)
            GROUP BY 1, 2, 3
        )
        SELECT ta AS type_a, tb AS type_b,
               CAST(SUM(BIT_COUNT(ba & bb)) AS BIGINT) AS n_both,
               CAST(SUM(BIT_COUNT(ba | bb)) AS BIGINT) AS n_either,
               CAST(SUM(BIT_COUNT(ba & bb)) * 1000000
                    // SUM(BIT_COUNT(ba | bb)) AS BIGINT) AS jaccard_ppm
        FROM words
        GROUP BY 1, 2
    """,
    doc=(
        "Bitmap-index audience overlap (the roaring-bitmap primitive): "
        "each event type's user set lives as 63-bit words (word id = "
        "user÷63, bit = user mod 63 — bit 63 stays clear because DuckDB "
        "range-checks 1<<63; BIT_OR-aggregated); pairwise "
        "intersection/union sizes are popcounts of word-wise AND/OR — "
        "set algebra without re-touching the fact table. Words present "
        "in only ONE side contribute via 0-padding (r12 property-"
        "campaign fix: the original word-equi-join silently dropped "
        "one-sided words, undercounting unions on sparse id spaces)."
    ),
)
def bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the bitmap build is ONE fact shuffle to (#types ×
    #words) words — 8 bytes per 64 users; every subsequent overlap
    query is word-aligned set algebra on the compact bitmaps (the
    same reason OLAP engines keep bitmap indexes for audience/segment
    queries). Word ids partition evenly — no skew. Caveat vs KMV
    (kmv_union_jaccard): bitmaps are EXACT but sized by the id
    universe; KMV is approximate but constant-size — both live here
    deliberately.

    r12 fix (found by tests/test_properties_sketches.py on random
    sparse streams): the original plan equi-joined bitmap words on
    word id, so a word held by only ONE of the pair's types vanished
    — n_either undercounted the union, and pairs sharing no words
    disappeared entirely. The oracle shared the defect, so the
    driver gate agreed on the wrong answer. Now each pair aggregates
    over ALL its words, 0-padding the absent side (broadcast pair
    list — the kmv_union_jaccard shape). r13 (r12 ADVICE): the pair
    fan-out runs as TWO broadcast hash equi-joins unioned, not an
    OR-predicate nested-loop — per-word probe cost stays proportional
    to the pairs containing that word's type, and the fact-table
    shuffle count (one) is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    bm = ev.groupBy(
        "event_type", F.expr("user_id DIV 63").alias("w")
    ).agg(
        F.expr(
            "BIT_OR(SHIFTLEFT(CAST(1 AS BIGINT),"
            " CAST(user_id % 63 AS INT)))"
        ).alias("bits")
    )
    types = bm.select("event_type").distinct()
    a, b = types.alias("a"), types.alias("b")
    pairs = a.join(
        b, F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
    )
    # r12 ADVICE: an OR predicate here plans as a broadcast
    # NESTED-LOOP join — O(words × pairs) probe work as type
    # cardinality grows. Two broadcast HASH equi-joins (word→pairs
    # where its type is the left member, word→pairs where it is the
    # right member) produce the identical row multiset (ta < tb, so a
    # word row matches exactly one side of any pair) and keep the
    # probe O(words × pairs-per-type).
    j_a = bm.join(F.broadcast(pairs), F.col("event_type") == F.col("ta")).select(
        "ta",
        "tb",
        "w",
        F.col("bits").alias("wa"),
        F.lit(None).cast("long").alias("wb"),
    )
    j_b = bm.join(F.broadcast(pairs), F.col("event_type") == F.col("tb")).select(
        "ta",
        "tb",
        "w",
        F.lit(None).cast("long").alias("wa"),
        F.col("bits").alias("wb"),
    )
    words = (
        j_a.unionByName(j_b)
        .groupBy("ta", "tb", "w")
        .agg(
            F.coalesce(F.max("wa"), F.lit(0)).alias("ba"),
            F.coalesce(F.max("wb"), F.lit(0)).alias("bb"),
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "ba",
            "bb",
        )
    )
    return words.groupBy("type_a", "type_b").agg(
        F.sum(F.bit_count(F.expr("ba & bb"))).cast("long").alias("n_both"),
        F.sum(F.bit_count(F.expr("ba | bb"))).cast("long").alias("n_either"),
        F.expr(
            "SUM(BIT_COUNT(ba & bb)) * 1000000 DIV SUM(BIT_COUNT(ba | bb))"
        )
        .cast("long")
        .alias("jaccard_ppm"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog with EXPLICIT registers and an exactly-reproducible
# estimate. `approx_distinct_users` (plans/statistics.py) uses Spark's
# built-in HLL whose estimate is engine-opaque (oracle checks an error
# BOUND); this query rebuilds the register array itself so the estimate
# is a pure function of the data in BOTH engines:
#
#   h      = 40-bit md5 hash (shared _hex40 recipe)
#   j      = h DIV 2^34            (top 6 bits → m=64 registers)
#   w      = h MOD 2^34            (remaining 34 bits)
#   rho(w) = 35 - bitlength(w)     (leading-zero rank; bitlength via
#                                   LENGTH(bin(w)) — string-exact, no libm)
#   M_j    = max rho over the register's hashes   (mergeable: max-agg)
#   E      = alpha_64 · m² · 2^35 / Σ 2^(35−M_j)
#
# The harmonic-mean denominator is summed as exact BIGINTs (2^(35−M) ≤
# 2^34, 64 registers → < 2^41), so the single final division is the
# only float op — correctly rounded, bit-identical across engines. No
# small-range correction (it needs ln — libm): groups are chosen with
# cardinality ≫ 2.5·m so the raw estimator is in its standard regime,
# and the realized error is emitted as err_ppm next to the exact count.
#
# 100 TB: the register build is one hash-groupBy with map-side combine
# (max is associative); registers per group are 64 rows — the sketch
# is mergeable across any partitioning.
# ---------------------------------------------------------------------------
_HLL_M = 64
_HLL_ALPHA = 0.7093514624  # alpha_64 = 0.7213 / (1 + 1.079/64)
_POW34 = 1 << 34
_POW35 = 1 << 35
#: alpha_64 * m^2 * 2^35 folded to ONE double literal (a bare decimal
#: literal is DECIMAL in DuckDB and overflows when multiplied by ints)
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(_POW35)


@register(
    "hll_register_sketch",
    oracle=f"""
        WITH h AS (
            SELECT l_returnflag,
                   {_sql_hex40("CAST(l_orderkey AS VARCHAR)")} AS hv
            FROM lineitem
        ),
        jr AS (
            SELECT l_returnflag,
                   hv // {_POW34} AS j,
                   CASE WHEN hv % {_POW34} = 0 THEN 35
                        ELSE 35 - LENGTH(bin(hv % {_POW34})) END AS rho
            FROM h
        ),
        regs AS (
            SELECT l_returnflag, j, MAX(rho) AS m_j
            FROM jr GROUP BY 1, 2
        ),
        est AS (
            SELECT l_returnflag,
                   SUM(CAST({_POW35} AS BIGINT) // (1 << m_j)) AS denom_scaled,
                   COUNT(*) AS n_regs
            FROM regs GROUP BY 1
        ),
        ex AS (
            SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders
            FROM lineitem GROUP BY 1
        )
        SELECT e.l_returnflag,
               CAST(ex.exact_orders AS BIGINT) AS exact_orders,
               CAST(FLOOR({_HLL_NUM!r}
                    / (CAST(e.denom_scaled AS DOUBLE)
                       + CAST(({_HLL_M} - e.n_regs) AS DOUBLE)
                         * {float(_POW35)})) AS BIGINT) AS hll_orders,
               CAST(ABS(CAST(FLOOR({_HLL_NUM!r}
                    / (CAST(e.denom_scaled AS DOUBLE)
                       + CAST(({_HLL_M} - e.n_regs) AS DOUBLE)
                         * {float(_POW35)})) AS BIGINT) - ex.exact_orders)
                    * 1000000 // ex.exact_orders AS BIGINT) AS err_ppm
        FROM est e JOIN ex ON e.l_returnflag = ex.l_returnflag
    """,
    doc=(
        "HyperLogLog with explicit registers (m=64, 40-bit md5): estimate "
        "alpha*m^2/harmonic-mean rebuilt identically in both engines — the "
        "denominator is an exact BIGINT sum, one final float division. "
        "Mergeable max-agg registers; no libm on the hashed surface."
    ),
)
def hll_register_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = li.select(
        "l_returnflag", _spark_hex40(F.col("l_orderkey")).alias("hv")
    )
    jr = h.select(
        "l_returnflag",
        F.expr(f"hv DIV {_POW34}").alias("j"),
        F.when(F.col("hv") % _POW34 == 0, F.lit(35))
        .otherwise(35 - F.length(F.bin(F.col("hv") % _POW34)))
        .alias("rho"),
    )
    regs = jr.groupBy("l_returnflag", "j").agg(F.max("rho").alias("m_j"))
    est = regs.groupBy("l_returnflag").agg(
        F.sum(
            F.expr(f"{_POW35}L DIV shiftleft(1L, CAST(m_j AS INT))")
        ).alias("denom_scaled"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    # empty registers contribute 2^-0 = 1 each → add (m - n_regs) * 2^35
    # to the scaled denominator
    e_col = F.floor(
        F.lit(_HLL_NUM)
        / (
            F.col("denom_scaled").cast("double")
            + (F.lit(_HLL_M) - F.col("n_regs")).cast("double") * F.lit(float(_POW35))
        )
    ).cast("long")
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("exact_orders").cast("long").alias("exact_orders"),
            e_col.alias("hll_orders"),
        )
        .withColumn(
            "err_ppm",
            F.expr("abs(hll_orders - exact_orders) * 1000000L DIV exact_orders")
            .cast("long"),
        )
    )

# ---------------------------------------------------------------------------
# Bloom filter membership (r6). The third classic sketch next to KMV
# (distinct count) and bitmap (exact set algebra): a CONSTANT-SIZE
# probabilistic member set with one-sided error. Built with the
# engine-neutral md5/hex40 hash, so the filter words, every probe
# verdict, and the false-positive count are all on the hashed surface —
# the gate checks the sketch bit-for-bit, not statistically.
#
#   m = 63·64 = 4032 bits (63-bit words, bit 63 clear — same convention
#       as bitmap_audience_overlap), k = 3 hashes
#   bitpos_i(x) = hex40('bf' || i || ':' || x) % 4032, i in {0,1,2}
#   filter      = per word w = bitpos DIV 63: BIT_OR(1 << bitpos % 63)
#   probe hit   = all 3 probed bits set
#
# Members: BUILDING-segment customers (~20% of the dimension → ~20%
# bit fill at sf0.01 → a real false-positive population, not a toy 0).
# ---------------------------------------------------------------------------
_BLOOM_M = 63 * 64


def _bloom_sql_bitpos() -> str:
    return (
        "("
        + _sql_hex40("'bf' || CAST(i AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)")
        + f") % {_BLOOM_M}"
    )


@register(
    "bloom_filter_membership",
    oracle=f"""
        WITH probes AS (
            SELECT c_custkey,
                   c_mktsegment = 'BUILDING' AS is_member,
                   {_bloom_sql_bitpos()} AS bitpos
            FROM customer, (SELECT UNNEST([0, 1, 2]) AS i)
        ),
        filt AS (
            SELECT bitpos // 63 AS w,
                   BIT_OR(1::BIGINT << CAST(bitpos % 63 AS INTEGER)) AS bits
            FROM probes WHERE is_member
            GROUP BY 1
        ),
        hits AS (
            SELECT p.c_custkey, p.is_member,
                   CASE WHEN f.bits IS NOT NULL
                             AND (f.bits >> CAST(p.bitpos % 63 AS INTEGER)) & 1 = 1
                        THEN 1 ELSE 0 END AS hit
            FROM probes p LEFT JOIN filt f ON p.bitpos // 63 = f.w
        ),
        verdicts AS (
            SELECT c_custkey, is_member, MIN(hit) = 1 AS bloom_positive
            FROM hits GROUP BY 1, 2
        )
        SELECT is_member, bloom_positive,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM verdicts GROUP BY 1, 2
    """,
    doc=(
        "Bloom filter (m=4032 bits as 63-bit words, k=3 md5-derived "
        "hashes) over BUILDING-segment customers, probed with the whole "
        "dimension: confusion counts (member x bloom-positive) make the "
        "false-positive population itself the hashed surface. Build = "
        "one BIT_OR shuffle to 64 words; probe = broadcast map-only."
    ),
)
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: the 64-word filter is built with map-side BIT_OR
    partials and broadcast; probing a 100 TB fact column is a scan +
    bit test with NO fact shuffle (the per-key verdict agg here exists
    only to surface the confusion counts) — which is why Bloom filters
    are THE join-pruning sidecar at scale (Spark's runtime bloom-join
    pruning works the same way). A true member can never probe
    negative (MIN over its 3 set bits is 1 by construction), so the
    (is_member, NOT bloom_positive) cell is structurally empty — the
    gate would catch either engine breaking that invariant."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_mktsegment") == "BUILDING").alias("is_member")
    )
    probes = cust.select(
        "c_custkey",
        "is_member",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"),
    ).withColumn(
        "bitpos",
        _spark_hex40(
            F.concat(
                F.lit("bf"),
                F.col("i").cast("string"),
                F.lit(":"),
                F.col("c_custkey").cast("string"),
            )
        )
        % _BLOOM_M,
    )
    filt = (
        probes.filter("is_member")
        .groupBy(F.expr("bitpos DIV 63").alias("w"))
        .agg(
            F.expr(
                "BIT_OR(SHIFTLEFT(CAST(1 AS BIGINT), CAST(bitpos % 63 AS INT)))"
            ).alias("bits")
        )
    )
    hits = (
        probes.join(F.broadcast(filt), F.expr("bitpos DIV 63") == filt.w, "left")
        .select(
            "c_custkey",
            "is_member",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.expr("SHIFTRIGHT(bits, CAST(bitpos % 63 AS INT)) & 1") == 1
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return (
        hits.groupBy("c_custkey", "is_member")
        .agg((F.min("hit") == 1).alias("bloom_positive"))
        .groupBy("is_member", "bloom_positive")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Bloom pre-join pruning (r6) — bloom_filter_membership made to EARN
# its keep: use the 64-word filter built from BUILDING-segment
# customers to pre-filter the orders fact table BEFORE the real join,
# then audit the whole economics in one result row:
#
#   rows_scanned      orders probed (the fact side)
#   rows_passed       orders surviving the broadcast bit test
#   rows_joined       true join size (semi join with the segment dim)
#   false_passes      passed − joined  (the one-sided error)
#   pruned_ppm        share of the fact side the 512-byte filter
#                     removed before any shuffle
#
# Correctness invariant ON the hashed surface: rows_joined ≤
# rows_passed (no false negatives), and the pruned share is exact.
# This is precisely Spark's runtime bloom-join pruning
# (spark.sql.optimizer.runtime.bloomFilter.enabled) re-expressed as an
# auditable plan.
# 100 TB: filter build = one 64-word BIT_OR agg on the DIMENSION;
# probe = map-only broadcast bit test on the fact scan — the shuffle
# the filter saves is the join's whole cost at scale.
# ---------------------------------------------------------------------------
@register(
    "bloom_prejoin_pruning",
    oracle=f"""
        WITH members AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        mprobe AS (
            SELECT c_custkey,
                   ({_sql_hex40("'bf' || CAST(i AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)")}) % {_BLOOM_M} AS bitpos
            FROM members, (SELECT UNNEST([0, 1, 2]) AS i)
        ),
        filt AS (
            SELECT bitpos // 63 AS w,
                   BIT_OR(1::BIGINT << CAST(bitpos % 63 AS INTEGER)) AS bits
            FROM mprobe GROUP BY 1
        ),
        oprobe AS (
            SELECT o.o_orderkey, o.o_custkey,
                   ({_sql_hex40("'bf' || CAST(i AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)")}) % {_BLOOM_M} AS bitpos
            FROM orders o, (SELECT UNNEST([0, 1, 2]) AS i)
        ),
        hits AS (
            SELECT p.o_orderkey, p.o_custkey,
                   CASE WHEN f.bits IS NOT NULL
                             AND (f.bits >> CAST(p.bitpos % 63 AS INTEGER)) & 1 = 1
                        THEN 1 ELSE 0 END AS hit
            FROM oprobe p LEFT JOIN filt f ON p.bitpos // 63 = f.w
        ),
        verdicts AS (
            SELECT o_orderkey, o_custkey, MIN(hit) = 1 AS passed
            FROM hits GROUP BY 1, 2
        ),
        joined AS (
            SELECT v.o_orderkey
            FROM verdicts v JOIN members m ON v.o_custkey = m.c_custkey
        )
        SELECT CAST((SELECT COUNT(*) FROM verdicts) AS BIGINT) AS rows_scanned,
               CAST((SELECT COUNT(*) FROM verdicts WHERE passed) AS BIGINT)
                   AS rows_passed,
               CAST((SELECT COUNT(*) FROM joined) AS BIGINT) AS rows_joined,
               CAST((SELECT COUNT(*) FROM verdicts WHERE passed)
                    - (SELECT COUNT(*) FROM joined) AS BIGINT) AS false_passes,
               CAST(((SELECT COUNT(*) FROM verdicts)
                     - (SELECT COUNT(*) FROM verdicts WHERE passed))
                    * 1000000 // (SELECT COUNT(*) FROM verdicts)
                    AS BIGINT) AS pruned_ppm
    """,
    doc=(
        "Bloom pre-join pruning economics: probe the orders fact side "
        "with the 512-byte BUILDING-customer filter, report scanned / "
        "passed / true-joined / false-passes / exact pruned share — "
        "Spark's runtime bloom-join pruning as an auditable plan "
        "(semi-join ≤ passed is the no-false-negative invariant)."
    ),
)
def bloom_prejoin_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    members = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def bitpos(col: F.Column) -> F.Column:
        return (
            _spark_hex40(
                F.concat(
                    F.lit("bf"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    col.cast("string"),
                )
            )
            % _BLOOM_M
        )

    tri = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")
    filt = (
        members.select("c_custkey", tri)
        .select(bitpos(F.col("c_custkey")).alias("bitpos"))
        .groupBy(F.expr("bitpos DIV 63").alias("w"))
        .agg(
            F.expr(
                "BIT_OR(SHIFTLEFT(CAST(1 AS BIGINT), CAST(bitpos % 63 AS INT)))"
            ).alias("bits")
        )
    )
    oprobe = orders.select("o_orderkey", "o_custkey", tri).select(
        "o_orderkey", "o_custkey", bitpos(F.col("o_custkey")).alias("bitpos")
    )
    verdicts = local_checkpoint(
        oprobe.join(F.broadcast(filt), F.expr("bitpos DIV 63") == filt.w, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("bits").isNotNull()
                & (F.expr("SHIFTRIGHT(bits, CAST(bitpos % 63 AS INT)) & 1") == 1),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("o_orderkey", "o_custkey")
        .agg((F.min("hit") == 1).alias("passed"))
    )
    joined = verdicts.join(
        F.broadcast(members), verdicts.o_custkey == members.c_custkey, "left_semi"
    )
    scanned = verdicts.agg(F.count(F.lit(1)).alias("rows_scanned"))
    passed = verdicts.filter("passed").agg(F.count(F.lit(1)).alias("rows_passed"))
    njoin = joined.agg(F.count(F.lit(1)).alias("rows_joined"))
    return (
        scanned.join(F.broadcast(passed))
        .join(F.broadcast(njoin))
        .select(
            F.col("rows_scanned").cast("long"),
            F.col("rows_passed").cast("long"),
            F.col("rows_joined").cast("long"),
            (F.col("rows_passed") - F.col("rows_joined"))
            .cast("long")
            .alias("false_passes"),
            # r13 empty-corpus fix: zero scanned rows zeroed the
            # divisor — ANSI crash vs the oracle's natural NULL
            F.expr(
                "CASE WHEN rows_scanned = 0 THEN NULL"
                " ELSE (rows_scanned - rows_passed) * 1000000"
                " DIV rows_scanned END"
            )
            .cast("long")
            .alias("pruned_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Misra–Gries frequency summary (r7) — the deterministic heavy-hitter
# summary beside the probabilistic CMS: keep at most k keys, each with
# weight = count − θ where θ is the (k+1)-th largest per-key count
# (the exact merged form of streaming MG decrements). Structural
# guarantees, both pinned by the output: at most k survivors, and
# (k+1)·θ ≤ N (the top k+1 keys each count ≥ θ), hence every surviving
# weight undercounts its true frequency by at most N/(k+1) — the
# classic MG bound, here checked row by row.
# 100 TB: the per-key count table is bounded by key cardinality
# (map-side combinable); θ is a (k+1)-row TakeOrdered broadcast; the
# summary is a filter over the count table. Nothing rescans the corpus.
# ---------------------------------------------------------------------------
_MG_K = 8


@register(
    "misra_gries_summary",
    oracle=f"""
        WITH counts AS (
            SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1
        ),
        n AS (SELECT SUM(cnt) AS n_total FROM counts),
        theta AS (
            SELECT MIN(cnt) AS th FROM (
                SELECT cnt FROM counts
                ORDER BY cnt DESC, l_suppkey LIMIT {_MG_K + 1}
            )
        )
        SELECT c.l_suppkey,
               c.cnt                                   AS exact_cnt,
               CAST(c.cnt - t.th AS BIGINT)            AS mg_weight,
               CAST(t.th AS BIGINT)                    AS theta,
               c.cnt - t.th >= c.cnt - n.n_total // {_MG_K + 1}
                                                       AS mg_bound_ok
        FROM counts c CROSS JOIN theta t CROSS JOIN n
        WHERE c.cnt > t.th
    """,
    doc=(
        f"Misra-Gries k={_MG_K} heavy-hitter summary: weight = count "
        "minus the (k+1)-th largest count; at most k survivors, each "
        "undercounting by at most N/(k+1) (bound audited per row)."
    ),
)
def misra_gries_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    n = counts.agg(F.sum("cnt").alias("n_total"))
    theta = (
        counts.orderBy(F.desc("cnt"), F.col("l_suppkey"))
        .limit(_MG_K + 1)
        .agg(F.min("cnt").alias("th"))
    )
    return (
        counts.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") > F.col("th"))
        .select(
            "l_suppkey",
            F.col("cnt").alias("exact_cnt"),
            (F.col("cnt") - F.col("th")).cast("long").alias("mg_weight"),
            F.col("th").cast("long").alias("theta"),
            F.expr(f"cnt - th >= cnt - n_total DIV {_MG_K + 1}").alias(
                "mg_bound_ok"
            ),
        )
    )
