"""Training-data preparation + extended relational coverage.

Beyond-reference operators a 100 TB training-data pipeline needs
(north-star surface, BASELINE.json) plus relational operator classes
SURVEY §2 marks "absent" in the reference (set ops §2.7, lead/ntile
§2.5, argmin/argmax and correlation aggregates §2.4):

- **Deterministic split** (`split_train_test`): key-mod assignment —
  a pure scan + map-side aggregate. No shuffle of the data itself, no
  RNG: the split is reproducible under re-runs, repartitioning, and
  engine changes, which is exactly what train/test hygiene requires at
  100 TB (sampling with `rand()` is neither reproducible nor
  oracle-checkable).
- **Statistical aggregates** (`agg_corr_covar`): corr/covar are
  single-shuffle partial-aggregable (Spark computes co-moments
  map-side).
- **Argmin/argmax** (`agg_argminmax_orders`): `min_by/max_by` with a
  zero-padded composite string key so the extremum is UNIQUE — a tied
  plain `min_by(key, price)` is nondeterministic in any engine.
- **Lead / ntile / dense_rank** (`window_lead_ntile`): per-customer
  sequences; one shuffle on the partition key.
- **Set ops** (`set_intersect_except`): INTERSECT / EXCEPT distinct
  semantics (Spark `intersect`/`exceptAll` on distinct inputs).
- **TF-IDF top-k** (`text_tfidf_topk`): the inverted-index plan —
  explode → (doc,term) count → broadcast term-df → per-doc top-k.
  Uses a LINEAR idf (tf·N/df, exact int/int double arithmetic) rather
  than log-idf so every score is bit-identical across engines; at
  scale the vocabulary side stays broadcast-sized while the doc-term
  side never shuffles more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.functions.rounding import (
    comoments,
    fround,
    iscale,
    sql_comoments,
    sql_iscale,
    sql_round,
)
from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.plans.registry import register
from stacktrend_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "split_train_test",
    oracle="""
        SELECT
            source,
            CASE WHEN doc_id % 10 < 8 THEN 'train'
                 WHEN doc_id % 10 = 8 THEN 'val'
                 ELSE 'test' END        AS split,
            CAST(COUNT(*) AS BIGINT)    AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY source,
            CASE WHEN doc_id % 10 < 8 THEN 'train'
                 WHEN doc_id % 10 = 8 THEN 'val'
                 ELSE 'test' END
    """,
    doc="Deterministic 80/10/10 key-mod train/val/test split, stratification check by source.",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Correlation / covariance aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_corr_covar",
    oracle=f"""
        WITH m AS (
            SELECT l_returnflag, {sql_comoments('l_quantity', 'l_extendedprice', 0, 2)}
            FROM lineitem GROUP BY l_returnflag
        ),
        d AS (
            SELECT l_returnflag,
                CAST(n AS DOUBLE)   AS nn,
                CAST(sx AS DOUBLE)  AS dsx,
                CAST(sy AS DOUBLE)  AS dsy,
                CAST(sxy AS DOUBLE) AS dsxy,
                CAST(sxx AS DOUBLE) AS dsxx,
                CAST(syy AS DOUBLE) AS dsyy
            FROM m
        ),
        e AS (
            SELECT l_returnflag, nn,
                (dsxy - dsx * dsy / nn) AS cxy,
                (dsxx - dsx * dsx / nn) AS vx,
                (dsyy - dsy * dsy / nn) AS vy
            FROM d
        )
        SELECT
            l_returnflag,
            CASE WHEN vx * vy > 0.0 THEN {sql_round('cxy / SQRT(vx * vy)', 6)} ELSE NULL END AS corr_qty_price,
            CASE WHEN nn >= 2.0 THEN {sql_round('(cxy / (nn - 1.0)) / 100.0', 2)} ELSE NULL END AS covar_s,
            {sql_round('(cxy / nn) / 100.0', 2)}         AS covar_p
        FROM e
    """,
    doc=(
        "Pearson corr + sample/population covariance per group from exact "
        "scaled-integer co-moments (one shuffle; built-in corr/covar stream "
        "doubles in engine-dependent order, which ulp-breaks cross-engine "
        "hashing — see functions/rounding.py)."
    ),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return m.select(
        "l_returnflag",
        F.when(vx * vy > 0.0, fround(cxy / F.sqrt(vx * vy), 6)).alias(
            "corr_qty_price"
        ),
        F.when(nn >= 2.0, fround((cxy / (nn - F.lit(1.0))) / F.lit(100.0), 2)).alias(
            "covar_s"
        ),
        fround((cxy / nn) / F.lit(100.0), 2).alias("covar_p"),
    )


# ---------------------------------------------------------------------------
# Argmin / argmax (min_by / max_by with a uniqueness-forcing key)
# ---------------------------------------------------------------------------

#: price is 2-decimal-grained → scaled-integer string sorts numerically;
#: appending the orderkey makes the composite key UNIQUE, so min_by /
#: max_by select one well-defined row even when prices tie.
_SPARK_PKEY = (
    "concat(lpad(cast(cast(floor(o_totalprice * 100.0 + 0.5) as bigint) as string), 14, '0'),"
    " lpad(cast(o_orderkey as string), 12, '0'))"
)
_SQL_PKEY = (
    "LPAD(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 14, '0')"
    " || LPAD(CAST(o_orderkey AS VARCHAR), 12, '0')"
)


@register(
    "agg_argminmax_orders",
    oracle=f"""
        SELECT
            o_orderpriority,
            min_by(o_orderkey, {_SQL_PKEY}) AS cheapest_orderkey,
            max_by(o_orderkey, {_SQL_PKEY}) AS priciest_orderkey,
            {sql_round('MIN(o_totalprice)', 2)} AS min_price,
            {sql_round('MAX(o_totalprice)', 2)} AS max_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Argmin/argmax per group via min_by/max_by on a unique composite key (tie-proof).",
)
def agg_argminmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pkey = F.expr(_SPARK_PKEY)
    return orders.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", pkey).alias("cheapest_orderkey"),
        F.max_by("o_orderkey", pkey).alias("priciest_orderkey"),
        fround(F.min("o_totalprice"), 2).alias("min_price"),
        fround(F.max("o_totalprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Lead / ntile / dense_rank windows
# ---------------------------------------------------------------------------


@register(
    "window_lead_ntile",
    oracle="""
        SELECT
            o_orderkey,
            o_custkey,
            date_diff('day',
                      CAST(o_orderdate AS DATE),
                      CAST(lead(o_orderdate) OVER seq AS DATE)) AS next_gap_days,
            ntile(4)      OVER price_u AS price_quartile,
            dense_rank()  OVER price_d AS price_rank_dense
        FROM orders
        WINDOW
            seq     AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            price_u AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
            price_d AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    """,
    doc="lead / ntile(4) / dense_rank per customer — one shuffle on the partition key.",
)
def window_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price_u = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    price_d = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.to_date(F.lead("o_orderdate").over(seq)), F.to_date("o_orderdate")
        ).alias("next_gap_days"),
        F.ntile(4).over(price_u).alias("price_quartile"),
        F.dense_rank().over(price_d).alias("price_rank_dense"),
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT
# ---------------------------------------------------------------------------


@register(
    "set_intersect_except",
    oracle="""
        SELECT 'both' AS label, o_custkey FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
        UNION ALL
        SELECT 'f_only' AS label, o_custkey FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
    """,
    doc="INTERSECT + EXCEPT (distinct set semantics) — customers by order-status overlap.",
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_cust.intersect(o_cust).select(F.lit("both").alias("label"), "o_custkey")
    f_only = f_cust.exceptAll(o_cust).select(
        F.lit("f_only").alias("label"), "o_custkey"
    )
    return both.unionByName(f_only)


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document (inverted-index plan)
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_topk",
    # Linear idf (tf·N/df) keeps every score an exact int·int/int double
    # — bit-identical across engines with no log/round hazard; ranking
    # ties break on the term string so the top-3 SET is deterministic.
    oracle="""
        WITH toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT
                tf.doc_id, tf.term, tf.tf, dfreq.df,
                CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS tfidf_lin,
                ROW_NUMBER() OVER (
                    PARTITION BY tf.doc_id
                    ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
                             tf.term
                ) AS rnk
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, tfidf_lin, CAST(rnk AS INTEGER) AS rnk
        FROM scored WHERE rnk <= 3
    """,
    doc="TF-IDF (linear idf) top-3 terms per doc: explode → agg → broadcast df join → top-k.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # vocabulary-sized side → broadcast; same for the single-row count
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_lin", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf_lin"), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_lin", "rnk")
    )


# ---------------------------------------------------------------------------
# Z-order layout stats: cluster events by the Morton interleave of
# (user_id, day) and show that each resulting "file" covers a bounded
# rectangle of both dimensions — the data-skipping property a 100 TB
# table needs when queried by either key (functions/zorder.py).
# ---------------------------------------------------------------------------
from stacktrend_spark.functions.zorder import sql_zorder_key2, zorder_key2  # noqa: E402

_Z_BITS = 12
_Z_FILE_SHIFT = 2 * _Z_BITS - 6  # 64 z-range buckets ("files")


@register(
    "zorder_layout_stats",
    oracle=f"""
        WITH keyed AS (
            SELECT
                user_id & 4095                          AS ux,
                CAST(epoch_us(ts) // 86400000000 AS BIGINT) & 4095 AS dy
            FROM events
        ),
        z AS (
            SELECT ux, dy,
                   {sql_zorder_key2('ux', 'dy', 12)} >> {_Z_FILE_SHIFT} AS file_id
            FROM keyed
        )
        SELECT
            file_id,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(MIN(ux) AS BIGINT)  AS min_user,
            CAST(MAX(ux) AS BIGINT)  AS max_user,
            CAST(MIN(dy) AS BIGINT)  AS min_day,
            CAST(MAX(dy) AS BIGINT)  AS max_day
        FROM z GROUP BY file_id
    """,
    doc="Z-order (Morton) clustering stats: per z-range bucket, both dimensions stay bounded.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        (F.col("user_id").bitwiseAND(F.lit(4095))).alias("ux"),
        (F.expr("unix_micros(ts) div 86400000000").bitwiseAND(F.lit(4095))).alias("dy"),
    )
    z = keyed.withColumn(
        "file_id", F.shiftright(zorder_key2(F.col("ux"), F.col("dy"), _Z_BITS), _Z_FILE_SHIFT)
    )
    return z.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ux").cast("long").alias("min_user"),
        F.max("ux").cast("long").alias("max_user"),
        F.min("dy").cast("long").alias("min_day"),
        F.max("dy").cast("long").alias("max_day"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching: Levenshtein edit distance over candidate pairs.
# The scale pattern is identical to the other dedup verifiers: generate
# a SMALL candidate set first (here: same source + same length bucket),
# THEN pay the O(m·n) distance only on candidates — never all-pairs.
# ---------------------------------------------------------------------------
@register(
    "text_levenshtein_pairs",
    oracle="""
        WITH d AS (
            SELECT doc_id, source, SUBSTRING(text, 1, 40) AS head,
                   n_chars // 64 AS len_bucket
            FROM documents WHERE doc_id < 100
        )
        SELECT
            a.doc_id AS id_a,
            b.doc_id AS id_b,
            CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        FROM d a JOIN d b
          ON a.source = b.source AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
    """,
    doc="Levenshtein over blocked candidate pairs (source+length bucket) — fuzzy-dup primitive.",
)
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "source",
            F.substring("text", 1, 40).alias("head"),
            F.expr("n_chars div 64").alias("len_bucket"),
        )
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), "source", "len_bucket",
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), "source", "len_bucket",
        F.col("head").alias("head_b"),
    )
    return (
        a.join(b, ["source", "len_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("head_a", "head_b").cast("long").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Map + array higher-order functions: build a per-source map of
# lang → doc count, transform values to shares, filter small entries,
# explode back to rows for the value check. Covers map_from_entries /
# transform_values / map_filter / explode-of-map — all codegen'd.
# ---------------------------------------------------------------------------
@register(
    "map_hof_lang_shares",
    oracle="""
        WITH counts AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source, lang
        ),
        tot AS (SELECT source, SUM(n) AS t FROM counts GROUP BY source)
        SELECT
            c.source, c.lang,
            c.n,
            CAST(c.n AS DOUBLE) / t.t AS share
        FROM counts c JOIN tot t USING (source)
        WHERE CAST(c.n AS DOUBLE) / t.t > 0.05
    """,
    doc="Map higher-order funcs: map_from_entries → transform_values → map_filter → explode.",
)
def map_hof_lang_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    per_source = counts.groupBy("source").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "n"))).alias("lang_n"),
        F.sum("n").alias("t"),
    )
    shared = per_source.select(
        "source",
        F.map_filter(
            F.transform_values(
                F.col("lang_n"),
                lambda k, v: F.struct(
                    v.alias("n"), (v.cast("double") / F.col("t")).alias("share")
                ),
            ),
            lambda k, v: v["share"] > 0.05,
        ).alias("filtered"),
    )
    exploded = shared.select("source", F.explode("filtered").alias("lang", "nv"))
    return exploded.select(
        "source", "lang", F.col("nv.n").alias("n"), F.col("nv.share").alias("share")
    )


# ---------------------------------------------------------------------------
# Sorted string aggregation (listagg): deterministic only with an
# explicit order — Spark sorts the collected array, DuckDB orders
# inside string_agg.
# ---------------------------------------------------------------------------
@register(
    "agg_string_concat_langs",
    oracle="""
        WITH d AS (SELECT DISTINCT source, lang FROM documents)
        SELECT source, string_agg(lang, ',' ORDER BY lang) AS langs
        FROM d GROUP BY source
    """,
    doc="Sorted listagg per group: sort_array(collect_set) → concat_ws, order-deterministic.",
)
def agg_string_concat_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("lang"))).alias("langs")
    )


@register(
    "feature_standardize",
    # every double on the surface flows through one mirrored
    # correctly-rounded op tree over exact scaled-integer group sums
    # (see functions/rounding.py dstd notes): z = (x − S/n)/σ with
    # σ = sqrt((s2 − S²/n)/(n−1))/100, minmax = (x−min)/(max−min).
    oracle="""
        WITH v AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        g AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT)  AS n,
                   CAST(SUM(cents) AS BIGINT) AS s1,
                   SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS s2,
                   MIN(cents) AS mn, MAX(cents) AS mx
            FROM v GROUP BY o_orderpriority
        ),
        d AS (
            SELECT v.o_orderkey, v.o_orderpriority, v.cents,
                   CAST(g.n AS DOUBLE)  AS nn,
                   CAST(g.s1 AS DOUBLE) AS ds1,
                   CAST(g.s2 AS DOUBLE) AS ds2,
                   g.mn, g.mx
            FROM v JOIN g USING (o_orderpriority)
        )
        SELECT o_orderkey, o_orderpriority, cents,
               FLOOR(
                   (CAST(cents AS DOUBLE) - ds1 / nn)
                   / (SQRT(GREATEST((ds2 - ds1 * ds1 / nn) / (nn - 1.0), 0.0)))
                   * 1e6 + 0.5) / 1e6                          AS z_score,
               FLOOR(
                   CAST(cents - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
                   * 1e6 + 0.5) / 1e6                          AS minmax
        FROM d
        WHERE nn >= 2.0 AND mx > mn AND ds2 * nn > ds1 * ds1
    """,
    doc="Per-group feature standardization: z-score + min-max scaling from exact group sums.",
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level feature scaling — the last transform before training
    data leaves the pipeline. Group statistics come from ONE exact
    integer aggregate (broadcast back to rows), so the whole transform
    is a map over the fact table: no second shuffle, no UDFs.
    At 100 TB the stats side is k rows (k = #groups) — always
    broadcastable.
    """
    from stacktrend_spark.functions.rounding import iscale

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        "o_orderkey", "o_orderpriority", iscale("o_totalprice").alias("cents")
    )
    g = v.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("s2"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    d = v.join(F.broadcast(g), "o_orderpriority")
    nn = F.col("n").cast("double")
    ds1 = F.col("s1").cast("double")
    ds2 = F.col("s2").cast("double")
    sd = F.sqrt(
        F.greatest((ds2 - ds1 * ds1 / nn) / (nn - F.lit(1.0)), F.lit(0.0))
    )
    return d.filter(
        (F.col("n") >= 2) & (F.col("mx") > F.col("mn")) & (ds2 * nn > ds1 * ds1)
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        fround((F.col("cents").cast("double") - ds1 / nn) / sd, 6).alias("z_score"),
        fround(
            (F.col("cents") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")).cast("double"),
            6,
        ).alias("minmax"),
    )


@register(
    "quantile_normalize_lengths",
    # percentile buckets use the ARITHMETIC form ((rank-1)*100)//N + 1
    # on BOTH engines (never NTILE, whose remainder-distribution rule
    # differs from this formula), so bucket assignment is exact-integer
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id) AS r,
                   COUNT(*) OVER (PARTITION BY source)               AS n
            FROM documents
        ),
        src_pct AS (
            SELECT doc_id, source, n_chars,
                   CAST(((r - 1) * 100) // n + 1 AS BIGINT) AS pct
            FROM ranked
        ),
        granked AS (
            SELECT n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr,
                   COUNT(*) OVER ()                             AS gn
            FROM documents
        ),
        bounds AS (
            SELECT CAST(((gr - 1) * 100) // gn + 1 AS BIGINT) AS pct,
                   CAST(MAX(n_chars) AS BIGINT) AS boundary_chars
            FROM granked GROUP BY 1
        )
        SELECT s.doc_id, s.source,
               CAST(s.n_chars AS BIGINT) AS n_chars,
               s.pct,
               b.boundary_chars          AS normalized_chars
        FROM src_pct s JOIN bounds b USING (pct)
    """,
    doc=(
        "Cross-source quantile normalization of document lengths: each "
        "doc's within-source percentile maps to the global length "
        "distribution's boundary value — the distribution-shift "
        "equalizer for mixing corpora. Per-source windows parallel by "
        "source; the global rank uses the two-phase scalable ranker; "
        "the 100-row boundary table broadcasts."
    ),
)
def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.operators.ranking import global_rank_scalable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    sw = W.partitionBy("source").orderBy("n_chars", "doc_id")
    n_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    src_pct = (
        docs.withColumn("r", F.row_number().over(sw))
        .join(F.broadcast(n_src), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.expr("((r - 1) * 100) DIV n") + 1).cast("long").alias("pct"),
        )
    )
    granked = global_rank_scalable(
        docs.select("doc_id", "n_chars"),
        order_cols=[F.col("n_chars"), F.col("doc_id")],
        rank_col="gr",
    )
    gn = granked.count()  # bounded driver scalar
    bounds = (
        granked.select(
            (F.expr(f"((gr - 1) * 100) DIV {gn}") + 1).cast("long").alias("pct"),
            "n_chars",
        )
        .groupBy("pct")
        .agg(F.max("n_chars").cast("long").alias("boundary_chars"))
    )
    return src_pct.join(F.broadcast(bounds), "pct").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "pct",
        "boundary_chars",
    ).withColumnRenamed("boundary_chars", "normalized_chars")


# ---------------------------------------------------------------------------
# BM25 keyword retrieval scoring (decade-log idf, deterministic doubles)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def _bm25_term_score(tf: str, idf: str) -> str:
    """Shared Spark-SQL/DuckDB text for one term's BM25 contribution.

    Every numeric literal is wrapped in CAST(… AS DOUBLE): Spark
    parses bare decimal literals as DECIMAL (DuckDB as DOUBLE), which
    silently turns the whole expression — including the final
    fround — into decimal arithmetic with different rounding. With the
    casts the op tree is IDENTICAL IEEE-double math on both engines,
    and the deterministic fround formula pins the 6-decimal value.
    """
    raw = (
        f"({idf}) * (({tf}) * CAST(2.2 AS DOUBLE))"
        f" / (({tf}) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)"
        f" + CAST(0.75 AS DOUBLE) * (CAST(dl * 1000000 AS DOUBLE) / avgdl_ppm)))"
    )
    return (
        f"CASE WHEN ({tf}) = 0 THEN CAST(0 AS DOUBLE)"
        f" ELSE CAST(FLOOR(({raw}) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
        f" / CAST(1000000 AS DOUBLE) END"
    )


def _bm25_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    t0, t1, t2 = _BM25_TERMS
    idf = {
        t: f"({sql_xlog10(f'(2 * n_docs - 2 * df_{t} + 1) * 1000000 // (2 * df_{t} + 1)')} - 6.0)"
        for t in _BM25_TERMS
    }
    score = " + ".join(_bm25_term_score(f"tf_{t}", idf[t]) for t in _BM25_TERMS)
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
            FROM documents
        ),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
        tfp AS (
            SELECT doc_id,
                   SUM(CASE WHEN term = '{t0}' THEN 1 ELSE 0 END) AS tf_{t0},
                   SUM(CASE WHEN term = '{t1}' THEN 1 ELSE 0 END) AS tf_{t1},
                   SUM(CASE WHEN term = '{t2}' THEN 1 ELSE 0 END) AS tf_{t2}
            FROM toks GROUP BY 1
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   SUM(dl) * 1000000 // COUNT(*) AS avgdl_ppm
            FROM dl
        ),
        dfs AS (
            SELECT SUM(CASE WHEN tf_{t0} > 0 THEN 1 ELSE 0 END) AS df_{t0},
                   SUM(CASE WHEN tf_{t1} > 0 THEN 1 ELSE 0 END) AS df_{t1},
                   SUM(CASE WHEN tf_{t2} > 0 THEN 1 ELSE 0 END) AS df_{t2}
            FROM tfp
        ),
        scored AS (
            SELECT dl.doc_id,
                   CAST(tfp.tf_{t0} AS BIGINT) AS tf_{t0},
                   CAST(tfp.tf_{t1} AS BIGINT) AS tf_{t1},
                   CAST(tfp.tf_{t2} AS BIGINT) AS tf_{t2},
                   {score} AS bm25
            FROM dl
            JOIN tfp USING (doc_id)
            CROSS JOIN stats CROSS JOIN dfs
        )
        SELECT doc_id, tf_{t0}, tf_{t1}, tf_{t2}, bm25
        FROM scored WHERE tf_{t0} + tf_{t1} + tf_{t2} > 0
    """


@register(
    "bm25_keyword_search",
    oracle=_bm25_oracle(),
    doc=(
        "BM25 retrieval scoring of a 3-term keyword query over the "
        "document corpus (k1=1.2, b=0.75): tf saturation + length "
        "normalization + decade-interpolated log10 idf (xlog10 — no "
        "libm lottery). Every double comes from one fixed op tree, so "
        "scores hash bit-identically across engines."
    ),
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BM25.

    100 TB: one explode→(doc)-keyed aggregate for dl and the pivoted
    query-term tfs (map-side combinable); corpus stats and per-term
    dfs are single-row broadcasts; scoring is map-only. The query-term
    pivot keeps the per-term scores as COLUMNS so the 3-term sum has a
    fixed association order — a row-stream SUM would re-associate
    doubles nondeterministically.
    """
    from stacktrend_spark.functions.rounding import xlog10

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    t0, t1, t2 = _BM25_TERMS
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("SUM(dl) * 1000000 DIV COUNT(*)").alias("avgdl_ppm"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    idf_cols = {
        t: (
            xlog10(
                F.expr(
                    f"(2 * n_docs - 2 * df_{t} + 1) * 1000000 DIV (2 * df_{t} + 1)"
                )
            )
            - F.lit(6.0)
        ).alias(f"idf_{t}")
        for t in _BM25_TERMS
    }
    j = j.select("*", *idf_cols.values())
    score = " + ".join(
        _bm25_term_score(f"tf_{t}", f"idf_{t}") for t in _BM25_TERMS
    )
    return (
        j.select(
            "doc_id",
            *[F.col(f"tf_{t}").cast("long").alias(f"tf_{t}") for t in _BM25_TERMS],
            F.expr(score).alias("bm25"),
        )
        .filter(
            sum(F.col(f"tf_{t}") for t in _BM25_TERMS) > 0
        )
    )


# ---------------------------------------------------------------------------
# Positional phrase search — the IR primitive BM25 (above) cannot
# answer: "table value" as ADJACENT tokens. The corpus becomes a
# positional postings list (doc_id, term, pos) via posexplode; the
# phrase match is an equi-join of the two terms' postings on
# (doc_id, pos+1). Candidate volume is bounded by the two terms'
# posting lists — never the corpus; the oracle rebuilds the identical
# postings with unnest(string_split(...)) so tokenization semantics
# (single-space split, no LIKE substring false-positives) are pinned
# identical on both sides.
#
# 100 TB: posting generation is map-only; the join shuffles only the
# two terms' postings (term filter applied BEFORE the shuffle).
# ---------------------------------------------------------------------------
_PHRASE_A = "table"
_PHRASE_B = "value"


@register(
    "phrase_match_positions",
    oracle=f"""
        WITH postings AS (
            SELECT d.doc_id,
                   t.term,
                   t.pos
            FROM documents d,
                 LATERAL (
                     SELECT UNNEST(string_split(d.text, ' ')) AS term,
                            UNNEST(generate_series(
                                1, len(string_split(d.text, ' ')))) AS pos
                 ) t
            WHERE t.term IN ('{_PHRASE_A}', '{_PHRASE_B}')
        ),
        hits AS (
            SELECT a.doc_id, COUNT(*) AS n_occurrences
            FROM postings a
            JOIN postings b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = '{_PHRASE_A}' AND b.term = '{_PHRASE_B}'
            GROUP BY a.doc_id
        )
        SELECT
            CAST(COUNT(*) AS BIGINT)            AS n_docs,
            CAST(SUM(n_occurrences) AS BIGINT)  AS n_occurrences,
            CAST(MAX(n_occurrences) AS BIGINT)  AS max_per_doc
        FROM hits
    """,
    doc=f"Positional phrase search ('{_PHRASE_A} {_PHRASE_B}'): postings "
    "(doc,term,pos) via posexplode, adjacency equi-join on (doc, pos+1); "
    "term filter applied before the shuffle so only two posting lists move.",
)
def phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
        )
        # oracle positions are 1-based (generate_series(1, n))
        .select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
        .filter(F.col("term").isin(_PHRASE_A, _PHRASE_B))
    )
    a = postings.filter(F.col("term") == _PHRASE_A).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = postings.filter(F.col("term") == _PHRASE_B).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    hits = (
        a.join(
            b,
            (a.doc_id == F.col("doc_b")) & (F.col("pos_b") == F.col("pos_a") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_occurrences").alias("n_occurrences"),
        F.max("n_occurrences").cast("long").alias("max_per_doc"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion — the modern RAG
# pattern: a semantic ranker (cosine top-20 over embeddings) and a
# lexical ranker (distinct-word overlap top-20 over documents) fused
# by RRF(K=60): score = Σ_lists 10¹² DIV (60 + rank). Ranks are
# per-query ROW_NUMBERs with full tiebreaks, contributions are exact
# integers, missing-from-one-list contributes 0 — so the fused
# ordering hashes identically across engines. vec_id ≡ doc_id (the
# testdata's aligned id space).
#
# 100 TB: the semantic leg is the broadcast-queries cosine kernel
# (swap in the IVF variant for corpus scale); the lexical leg is a
# posting-list equi-join (only docs SHARING a word are candidates)
# over a DF-CAPPED vocabulary — words in more than _RRF_MAXDF docs are
# dropped from BOTH legs of the overlap, exactly what production
# retrieval does to stopword postings (an uncapped posting join was
# MEASURED quadratic: r9 sf1 spot-bench caught alpha=1.71 / 73 s at
# sf1 because every stopword's posting list grows with the corpus and
# every query joins all of them; with the cap, per-word fan-out is a
# CONSTANT and the leg is linear in corpus size — SCALE.md Round-9).
# The cap cannot bite below _RRF_MAXDF documents, so driver-scale
# (sf0.01/0.001) output is unchanged. The fusion itself joins two
# k-bounded lists — #queries × k rows. Windows are per-query
# partitions, never global.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_LIST = 20
_RRF_OUT = 10
_RRF_MAXDF = 1000  # max posting length a word may contribute


def _sql_rank_legs() -> str:
    """The shared sem/lex ranking CTE block (both the RRF fusion and
    the RBO eval consume exactly these two lists)."""
    from stacktrend_spark.plans.northstar import _SQL_COSINE

    return f"""
        sem AS (
            SELECT * FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {sql_round(_SQL_COSINE, 6)} DESC,
                                    c.vec_id) AS BIGINT) AS rank_sem
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
            ) t WHERE rank_sem <= {_RRF_LIST}
        ),
        words_all AS (
            SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' '))
                       AS w
            FROM documents
        ),
        df AS (
            SELECT w FROM words_all GROUP BY w
            HAVING COUNT(*) <= {_RRF_MAXDF}
        ),
        words AS (
            SELECT doc_id, w FROM words_all WHERE w IN (SELECT w FROM df)
        ),
        lex AS (
            SELECT * FROM (
                SELECT a.doc_id AS query_id, b.doc_id AS doc_id,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY a.doc_id
                           ORDER BY COUNT(*) DESC, b.doc_id) AS BIGINT)
                           AS rank_lex
                FROM words a JOIN words b
                  ON a.w = b.w AND a.doc_id <> b.doc_id
                WHERE a.doc_id % 100 = 0
                GROUP BY a.doc_id, b.doc_id
            ) t WHERE rank_lex <= {_RRF_LIST}
        )"""


def _rrf_oracle() -> str:
    return f"""
        WITH {_sql_rank_legs()},
        fused AS (
            SELECT COALESCE(s.query_id, l.query_id) AS query_id,
                   COALESCE(s.doc_id, l.doc_id)     AS doc_id,
                   s.rank_sem, l.rank_lex,
                   COALESCE(1000000000000 // ({_RRF_K} + s.rank_sem), 0)
                   + COALESCE(1000000000000 // ({_RRF_K} + l.rank_lex), 0)
                       AS rrf_scaled
            FROM sem s FULL OUTER JOIN lex l
              ON s.query_id = l.query_id AND s.doc_id = l.doc_id
        )
        SELECT query_id, doc_id, rrf_scaled, fused_rank, rank_sem, rank_lex
        FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS fused_rank
            FROM fused
        ) t WHERE fused_rank <= {_RRF_OUT}
    """


@register(
    "hybrid_rrf_fusion",
    oracle=_rrf_oracle(),
    doc=(
        f"Hybrid retrieval: cosine top-{_RRF_LIST} + word-overlap "
        f"top-{_RRF_LIST}, fused by reciprocal-rank fusion "
        f"(10^12 DIV (K+rank), K={_RRF_K}) — exact integer scores, "
        f"top-{_RRF_OUT} per query."
    ),
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    sem = _sem_leg(spark, sf_dir)
    lex = _lex_leg(spark, sf_dir)
    fused = (
        sem.join(lex, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            "rank_sem",
            "rank_lex",
            (
                F.coalesce(
                    F.expr(f"1000000000000 DIV ({_RRF_K} + rank_sem)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000000 DIV ({_RRF_K} + rank_lex)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_scaled"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_scaled"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_OUT)
        .select(
            F.col("query_id").cast("long"),
            F.col("doc_id").cast("long"),
            "rrf_scaled",
            "fused_rank",
            "rank_sem",
            "rank_lex",
        )
    )


def _sem_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, rank_sem): cosine top-_RRF_LIST per query."""
    from stacktrend_spark.operators.similarity import cosine_topk
    from stacktrend_spark.sources.tables import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, queries, k=_RRF_LIST, dim=64).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("sim_rank").alias("rank_sem"),
    )


def _lex_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, rank_lex): DF-capped word-overlap
    top-_RRF_LIST per query (see the header note on the cap)."""
    docs = load_table(spark, sf_dir, "documents")
    # NOTE (r13): deliberately NOT persisted. The exploded posting
    # list is referenced by 4 plan branches (8 Generate nodes, 0
    # static ReusedExchange), but an alternating A/B at sf0.1 read
    # cold +2 s and warm neutral-to-worse WITH persists here
    # (rrf 6.4/5.8 cold unpersisted vs 8.5/8.0 persisted; rbo warm
    # 1.43/1.46 vs 1.55/2.23) — the cache write plus stats hidden
    # from AQE outweigh the runtime replays, same verdict as the
    # co-basket pair frames in plans/linkage.py.
    words_all = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).distinct()
    # DF cap: drop words whose posting list exceeds _RRF_MAXDF docs
    # (stopword postings grow with the corpus; everything downstream
    # is bounded per word once they are gone)
    kept_vocab = (
        words_all.groupBy("w")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _RRF_MAXDF)
        .select("w")
    )
    words = words_all.join(kept_vocab, "w", "left_semi")
    qw = words.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"), "w"
    )
    wl = W.partitionBy("query_id").orderBy(F.desc("common"), F.asc("doc_id"))
    return (
        qw.join(words, "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn("rank_lex", F.row_number().over(wl).cast("long"))
        .filter(F.col("rank_lex") <= _RRF_LIST)
        .select("query_id", "doc_id", "rank_lex")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap (Webber et al., TOIS 2010) between the two RRF
# legs — the top-weighted list-similarity eval the fusion family was
# missing (ndcg/recall judge one list against relevance; RBO judges
# two RANKINGS against each other: "how much do the semantic and
# lexical retrievers agree, weighted toward the top?").
#
#   RBO@k = Σ_{d=1..k} (1−p)·p^{d−1} · |A_:d ∩ B_:d| / d
#
# Exactness contract: the depth weights (1−p)·p^{d−1} are precomputed
# ONCE in Python, scaled to 1e8 integers, and injected as the same
# literals into both engines; each depth term is weight·overlap DIV d
# (per-term floor, documented), so every score is a sum of int64 terms
# — order-independent, bit-identical. A matched doc contributes to all
# depths d ≥ max(rank_sem, rank_lex); queries whose lists share
# nothing emit rbo_scaled = 0 via the left join from the semantic
# query spine (the sem leg always yields k rows per query).
#
# 100 TB: both legs are the RRF legs (broadcast-queries cosine;
# DF-capped posting join); the matched set is ≤ k rows per query, the
# depth explode ≤ k× that, and all windows are per-query. Nothing
# touches the corpus beyond the legs themselves.
# ---------------------------------------------------------------------------
_RBO_P = 0.9
_RBO_SCALE = 10**8
_RBO_W = [
    int((1.0 - _RBO_P) * _RBO_P ** (d - 1) * _RBO_SCALE + 0.5)
    for d in range(1, _RRF_LIST + 1)
]


def _rbo_oracle() -> str:
    weights = ", ".join(f"({d}, {w})" for d, w in enumerate(_RBO_W, start=1))
    return f"""
        WITH {_sql_rank_legs()},
        wt (d, w) AS (VALUES {weights}),
        matched AS (
            SELECT s.query_id,
                   GREATEST(s.rank_sem, l.rank_lex) AS dmin
            FROM sem s JOIN lex l
              ON s.query_id = l.query_id AND s.doc_id = l.doc_id
        ),
        ov AS (
            SELECT m.query_id, wt.d, wt.w, COUNT(*) AS c
            FROM matched m JOIN wt ON wt.d >= m.dmin
            GROUP BY 1, 2, 3
        ),
        rbo AS (
            SELECT query_id,
                   SUM(CAST(w * c // d AS BIGINT)) AS rbo_scaled,
                   MAX(c) AS n_common
            FROM ov GROUP BY 1
        ),
        spine AS (SELECT DISTINCT query_id FROM sem)
        SELECT spine.query_id,
               CAST(COALESCE(rbo.rbo_scaled, 0) AS BIGINT) AS rbo_scaled,
               CAST(COALESCE(rbo.n_common, 0) AS BIGINT)   AS n_common
        FROM spine LEFT JOIN rbo USING (query_id)
    """


@register(
    "rank_biased_overlap_eval",
    oracle=_rbo_oracle(),
    doc=(
        f"RBO@{_RRF_LIST} (p={_RBO_P}) between the semantic and lexical "
        "RRF legs — exact integer depth weights (1e8 scale), per-term "
        "floor, top-weighted ranking agreement per query."
    ),
)
def rank_biased_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    sem = _sem_leg(spark, sf_dir)
    lex = _lex_leg(spark, sf_dir)
    matched = sem.join(lex, ["query_id", "doc_id"]).select(
        "query_id",
        F.greatest("rank_sem", "rank_lex").alias("dmin"),
    )
    w_arr = F.array(*[F.lit(w) for w in _RBO_W])
    ov = (
        matched.select(
            "query_id",
            F.explode(F.sequence(F.col("dmin"), F.lit(_RRF_LIST))).alias("d"),
        )
        .groupBy("query_id", "d")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("w", F.element_at(w_arr, F.col("d").cast("int")))
    )
    rbo = ov.groupBy("query_id").agg(
        F.sum(F.expr("CAST(w * c DIV d AS LONG)")).alias("rbo_scaled"),
        F.max("c").alias("n_common"),
    )
    spine = sem.select("query_id").distinct()
    return spine.join(rbo, "query_id", "left").select(
        F.col("query_id").cast("long"),
        F.coalesce(F.col("rbo_scaled"), F.lit(0)).cast("long").alias("rbo_scaled"),
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (r6) — train/score/audit
# entirely as relational plans, with every log-likelihood an INTEGER:
#
#   split       train = doc_id % 5 != 0, test = doc_id % 5 == 0
#   c(t,l)      token count of term t in train docs labeled l
#   T_l, V      class token total, train vocabulary size
#   prior_l     = ilog(D_l·10⁶ DIV D)            (D_l train docs of l)
#   score(d,l)  = prior_l + Σ_t tf_dt·ilog(c(t,l)+1) − n_d·ilog(T_l+V)
#
# where ilog(x) = ⌊xlog10(x)·10⁶⌋ (deterministic decade-interpolated
# log10 — no libm). This is Laplace-smoothed multinomial NB with the
# shared-across-classes constants dropped; the argmax (tie → lang asc)
# and the confusion matrix are bit-exact in both engines because every
# score is a sum of int64 terms (order-independent).
#
# 100 TB: wc is one (lang,term) shuffle of the train corpus; scoring
# shuffles test tokens once on term for the count join, then once on
# doc_id for the per-class sums; the 5-row class-constant table and
# the 2 scalars (V, D) broadcast. No UDF anywhere.
# ---------------------------------------------------------------------------
def _nb_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    def ilog(expr: str) -> str:
        return (
            f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')} * 1000000.0)"
            " AS BIGINT)"
        )

    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS term
            FROM documents
        ),
        toks_f AS (SELECT * FROM toks WHERE term <> ''),
        train AS (SELECT * FROM toks_f WHERE doc_id % 5 <> 0),
        test  AS (SELECT * FROM toks_f WHERE doc_id % 5 = 0),
        wc AS (
            SELECT lang AS l, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM train GROUP BY 1, 2
        ),
        classtot AS (SELECT l, SUM(c) AS t_l FROM wc GROUP BY 1),
        vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM train),
        tdocs AS (SELECT DISTINCT doc_id, lang FROM train),
        priors AS (
            SELECT lang AS l,
                   CAST(COUNT(*) AS BIGINT) AS d_l,
                   CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS d
            FROM tdocs GROUP BY 1
        ),
        consts AS (
            SELECT ct.l,
                   {ilog('pr.d_l * 1000000 // pr.d')} AS prior_i,
                   {ilog('ct.t_l + vocab.v')} AS denom_i
            FROM classtot ct JOIN priors pr ON ct.l = pr.l CROSS JOIN vocab
        ),
        tf AS (
            SELECT doc_id, lang AS actual, term,
                   CAST(COUNT(*) AS BIGINT) AS tf
            FROM test GROUP BY 1, 2, 3
        ),
        dlen AS (
            SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_d
            FROM tf GROUP BY 1
        ),
        liks AS (
            SELECT tf.doc_id, tf.actual, k.l,
                   CAST(SUM(tf.tf * {ilog('COALESCE(wc.c, 0) + 1')})
                        AS BIGINT) AS s1
            FROM tf
            CROSS JOIN (SELECT l FROM classtot) k
            LEFT JOIN wc ON wc.term = tf.term AND wc.l = k.l
            GROUP BY 1, 2, 3
        ),
        scores AS (
            SELECT liks.doc_id, liks.actual, liks.l,
                   consts.prior_i + liks.s1 - dlen.n_d * consts.denom_i
                       AS score_i
            FROM liks
            JOIN consts ON liks.l = consts.l
            JOIN dlen   ON liks.doc_id = dlen.doc_id
        ),
        pred AS (
            SELECT doc_id, actual, l AS predicted,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score_i DESC, l ASC) AS rk
            FROM scores
        )
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred WHERE rk = 1
        GROUP BY actual, predicted
    """


@register(
    "naive_bayes_lang_confusion",
    oracle=_nb_oracle(),
    doc=(
        "Laplace-smoothed multinomial Naive Bayes trained on the 80% "
        "key-mod train split of documents (label = lang, features = "
        "whitespace tokens) and scored on the 20% test split; output "
        "is the confusion matrix. Every log-likelihood is an integer "
        "(xlog10 µlog10 units), so scores, argmax, and the matrix are "
        "bit-exact across engines."
    ),
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: train-side = one (lang,term) shuffle (map-side combine
    collapses to vocab×5 rows); test-side shuffles tokens on term for
    the count join and on doc_id for the class sums. The class-constant
    table (5 rows) and scalars V/D broadcast. Accuracy itself is not
    the point at this data (synthetic vocab is shared across langs) —
    the bit-exact train→score→audit pipeline shape is."""
    from stacktrend_spark.functions.rounding import xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(
            xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)
        ).cast("long")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    train = toks.filter(F.col("doc_id") % 5 != 0)
    test = toks.filter(F.col("doc_id") % 5 == 0)

    wc = (
        train.groupBy(F.col("lang").alias("l"), "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    classtot = wc.groupBy("l").agg(F.sum("c").alias("t_l"))
    vocab = train.agg(F.countDistinct("term").cast("long").alias("v"))
    priors = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy(F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_l"))
    )
    d_tot = priors.agg(F.sum("d_l").alias("d"))
    consts = (
        classtot.join(priors, "l")
        .join(F.broadcast(d_tot))
        .join(F.broadcast(vocab))
        .select(
            "l",
            ilog(F.expr("d_l * 1000000 DIV d")).alias("prior_i"),
            ilog(F.col("t_l") + F.col("v")).alias("denom_i"),
        )
    )

    tf = (
        test.groupBy("doc_id", F.col("lang").alias("actual"), "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dlen = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("n_d"))
    langs = classtot.select("l")
    liks = (
        tf.join(F.broadcast(langs))
        .join(wc, ["l", "term"], "left")
        .groupBy("doc_id", "actual", "l")
        .agg(
            F.sum(F.col("tf") * ilog(F.coalesce(F.col("c"), F.lit(0)) + 1))
            .cast("long")
            .alias("s1")
        )
    )
    scores = (
        liks.join(F.broadcast(consts), "l")
        .join(dlen, "doc_id")
        .select(
            "doc_id",
            "actual",
            "l",
            (F.col("prior_i") + F.col("s1") - F.col("n_d") * F.col("denom_i")).alias(
                "score_i"
            ),
        )
    )
    pred = scores.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("score_i"), F.asc("l"))
        ),
    ).filter(F.col("rk") == 1)
    return pred.groupBy("actual", F.col("l").alias("predicted")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def _nsamp_hex(u: str, r: str, s: str) -> str:
    from stacktrend_spark.functions.hashing import sql_hex40

    return sql_hex40(
        f"'neg' || CAST({u} AS VARCHAR) || ':' || CAST({r} AS VARCHAR)"
        f" || ':' || CAST({s} AS VARCHAR)"
    )




# ---------------------------------------------------------------------------
# Deterministic negative sampling (r6) — contrastive-training data
# prep: for each of the 20 most active customers, pair every positive
# (customer, purchased part) with k=3 sampled negatives drawn by the
# engine-neutral md5/hex40 hash over the part-id space:
#
#   neg(u, r, s) = hex40('neg' || u || ':' || r || ':' || s) % n_parts
#
# (r = the positive's rank within the user, s = 1..3). Samples are a
# pure function of (u, r, s) — reproducible under re-runs and
# repartitioning, the sample_* family's discipline applied to training
# pairs. Collisions with the user's own positive set are FLAGGED (not
# dropped — dropping would make counts depend on collision luck);
# the per-user audit emits positives, negatives drawn, collisions,
# and the exact negative-id checksum.
# 100 TB: positives = one (cust,part) dedup shuffle; drawing is
# map-only on the positive rows (3 hashes each); the collision check
# is a LEFT SEMI against the user's own positives on (cust, part) —
# the same key the positives are already partitioned by.
# ---------------------------------------------------------------------------
@register(
    "negative_sampling_pairs",
    oracle=f"""
        WITH pos AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        np AS (SELECT MAX(p_partkey) + 1 AS n_parts FROM part),
        hot AS (
            SELECT u FROM pos GROUP BY u
            ORDER BY COUNT(*) DESC, u ASC LIMIT 20
        ),
        rp AS (
            SELECT u, p,
                   ROW_NUMBER() OVER (PARTITION BY u ORDER BY p) AS r
            FROM pos WHERE u IN (SELECT u FROM hot)
        ),
        draws AS (
            SELECT rp.u, rp.r, s.s,
                   ({_nsamp_hex("rp.u", "rp.r", "s.s")}) % (SELECT n_parts FROM np)
                       AS neg_p
            FROM rp, (SELECT UNNEST([1, 2, 3]) AS s) s
        ),
        flagged AS (
            SELECT d.u, d.neg_p,
                   CASE WHEN pos2.p IS NOT NULL THEN 1 ELSE 0 END AS coll
            FROM draws d
            LEFT JOIN pos pos2 ON pos2.u = d.u AND pos2.p = d.neg_p
        )
        SELECT f.u AS custkey,
               CAST(MAX(rp.np_u) AS BIGINT)  AS n_pos,
               CAST(COUNT(*) AS BIGINT)      AS n_neg,
               CAST(SUM(f.coll) AS BIGINT)   AS n_collisions,
               CAST(SUM(f.neg_p) AS BIGINT)  AS neg_id_sum
        FROM flagged f
        JOIN (SELECT u, COUNT(*) AS np_u FROM rp GROUP BY u) rp ON f.u = rp.u
        GROUP BY f.u
    """,
    doc=(
        "Hash-deterministic negative sampling for contrastive training "
        "pairs: 3 md5/hex40-drawn negatives per positive for the 20 "
        "most active customers, self-collisions flagged not dropped; "
        "per-user audit (positives, draws, collisions, exact negative-"
        "id checksum) is the hashed surface."
    ),
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.hashing import spark_hex40

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    pos = local_checkpoint(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    np_ = part.agg((F.max("p_partkey") + 1).alias("n_parts"))
    hot = (
        pos.groupBy("u")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("u"))
        .limit(20)
        .select("u")
    )
    rp = pos.join(F.broadcast(hot), "u").select(
        "u", "p", F.row_number().over(W.partitionBy("u").orderBy("p")).alias("r")
    )
    draws = (
        rp.join(F.broadcast(np_))
        .select(
            "u",
            "r",
            "n_parts",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("s"),
        )
        .select(
            "u",
            (
                spark_hex40(
                    F.concat(
                        F.lit("neg"),
                        F.col("u").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("s").cast("string"),
                    )
                )
                % F.col("n_parts")
            ).alias("neg_p"),
        )
    )
    pos2 = pos.select(F.col("u"), F.col("p").alias("neg_p"), F.lit(1).alias("hit"))
    flagged = draws.join(pos2, ["u", "neg_p"], "left").select(
        "u", "neg_p", F.coalesce(F.col("hit"), F.lit(0)).alias("coll")
    )
    npos = rp.groupBy("u").agg(F.count(F.lit(1)).alias("np_u"))
    return (
        flagged.groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neg"),
            F.sum("coll").cast("long").alias("n_collisions"),
            F.sum("neg_p").cast("long").alias("neg_id_sum"),
        )
        .join(npos, "u")
        .select(
            F.col("u").alias("custkey"),
            F.col("np_u").cast("long").alias("n_pos"),
            "n_neg",
            "n_collisions",
            "neg_id_sum",
        )
    )


# ---------------------------------------------------------------------------
# Feature-store assembly (r6) — the composition the feature operators
# exist for: ONE wide, point-in-time-correct training table per
# customer. Cutoff = max(o_orderdate) − 90 days; every feature reads
# PRE-cutoff orders only, the label is post-cutoff activity, and the
# categorical encode (segment high-priority rate) is likewise fitted
# on pre-cutoff data — the three leakage rules of feature-store
# engineering, each enforced structurally:
#
#   rfm        n_orders_pre, spend_cents_pre, recency_days
#   encode     segment_rate_ppm (pre-cutoff, broadcast back)
#   label      ≥1 order in the 90-day post-window
#
# 100 TB: one conditional aggregate over orders on custkey + a 5-row
# broadcast encode join + a broadcast dimension join — no fact table
# is scanned twice, no row-level data crosses the cutoff.
# ---------------------------------------------------------------------------
@register(
    "pipeline_feature_store",
    oracle=f"""
        WITH mx AS (SELECT MAX(o_orderdate) AS mt FROM orders),
        pre AS (
            SELECT o.*, mx.mt FROM orders o, mx
            WHERE o.o_orderdate < mx.mt - INTERVAL 90 DAY
        ),
        rfm AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders_pre,
                   CAST(SUM({sql_iscale('o_totalprice')}) AS BIGINT)
                       AS spend_cents_pre,
                   CAST(DATE_DIFF('day', MAX(o_orderdate),
                                  MAX(mt) - INTERVAL 90 DAY) AS BIGINT)
                       AS recency_days
            FROM pre GROUP BY o_custkey
        ),
        seg_rate AS (
            SELECT c.c_mktsegment,
                   CAST(SUM(CASE WHEN p.o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                        AS BIGINT) AS segment_rate_ppm
            FROM pre p JOIN customer c ON p.o_custkey = c.c_custkey
            GROUP BY 1
        ),
        post AS (
            SELECT DISTINCT o.o_custkey FROM orders o, mx
            WHERE o.o_orderdate >= mx.mt - INTERVAL 90 DAY
        )
        SELECT rfm.o_custkey AS custkey,
               rfm.n_orders_pre, rfm.spend_cents_pre, rfm.recency_days,
               sr.segment_rate_ppm,
               post.o_custkey IS NOT NULL AS label_active
        FROM rfm
        JOIN customer c ON rfm.o_custkey = c.c_custkey
        JOIN seg_rate sr ON c.c_mktsegment = sr.c_mktsegment
        LEFT JOIN post ON rfm.o_custkey = post.o_custkey
    """,
    doc=(
        "Point-in-time feature-store assembly: per-customer RFM "
        "features + pre-cutoff-fitted segment encode + 90-day post-"
        "window activity label in ONE wide table — the three leakage "
        "rules (features pre-cutoff, encode pre-cutoff, label post-"
        "cutoff) enforced structurally; one fact aggregate + broadcast "
        "joins."
    ),
)
def pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    mx = orders.agg(F.max("o_orderdate").alias("mt"))
    pre = orders.join(F.broadcast(mx)).filter(
        F.col("o_orderdate") < F.expr("mt - INTERVAL 90 DAYS")
    )
    rfm = pre.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_pre"),
        F.sum(iscale("o_totalprice")).cast("long").alias("spend_cents_pre"),
        F.datediff(
            F.expr("MAX(mt) - INTERVAL 90 DAYS"), F.max("o_orderdate")
        )
        .cast("long")
        .alias("recency_days"),
    )
    seg_rate = (
        pre.join(cust, pre.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')"
                " THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("segment_rate_ppm")
        )
    )
    post = (
        orders.join(F.broadcast(mx))
        .filter(F.col("o_orderdate") >= F.expr("mt - INTERVAL 90 DAYS"))
        .select("o_custkey")
        .distinct()
        .withColumn("is_post", F.lit(1))
    )
    return (
        rfm.join(cust, rfm.o_custkey == cust.c_custkey)
        .join(F.broadcast(seg_rate), "c_mktsegment")
        .join(post, "o_custkey", "left")
        .select(
            F.col("o_custkey").alias("custkey"),
            "n_orders_pre",
            "spend_cents_pre",
            "recency_days",
            "segment_rate_ppm",
            F.col("is_post").isNotNull().alias("label_active"),
        )
    )


# ---------------------------------------------------------------------------
# K-fold balance audit (r6) — split_train_test covers the 80/10/10
# split; serious evaluation needs K-FOLD, and the thing that silently
# ruins it is label imbalance across folds. Folds are the
# deterministic key-mod assignment (o_orderkey % 5 — reproducible
# under re-runs/repartitioning, the split family's rule); the audit
# reports per fold the size, positive rate (high-priority orders,
# exact ppm), and the signed deviation from the global rate — the
# "is fold 3 poisoned" check before any cross-validated number is
# trusted. One map-side aggregate.
# ---------------------------------------------------------------------------
@register(
    "kfold_balance_audit",
    oracle="""
        WITH folds AS (
            SELECT o_orderkey % 5 AS fold,
                   CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        per AS (
            SELECT fold,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(y) AS BIGINT) AS n_pos
            FROM folds GROUP BY fold
        ),
        g AS (SELECT SUM(n_pos) * 1000000 // SUM(n_rows) AS grate FROM per)
        SELECT fold, n_rows, n_pos,
               CAST(n_pos * 1000000 // n_rows AS BIGINT) AS pos_rate_ppm,
               CAST(n_pos * 1000000 // n_rows - (SELECT grate FROM g)
                    AS BIGINT) AS dev_from_global_ppm
        FROM per
    """,
    doc=(
        "K-fold (key-mod 5) assignment balance audit: per-fold size, "
        "positive rate ppm, signed deviation from the global rate — "
        "the fold-poisoning check behind every cross-validated metric; "
        "deterministic folds, one map-side aggregate."
    ),
)
def kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("fold"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    per = o.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    g = per.agg(
        F.expr("SUM(n_pos) * 1000000 DIV SUM(n_rows)").alias("grate")
    )
    return per.join(F.broadcast(g)).select(
        "fold",
        "n_rows",
        "n_pos",
        F.expr("n_pos * 1000000 DIV n_rows").cast("long").alias("pos_rate_ppm"),
        F.expr("n_pos * 1000000 DIV n_rows - grate")
        .cast("long")
        .alias("dev_from_global_ppm"),
    )


# ---------------------------------------------------------------------------
# Query-likelihood retrieval with Dirichlet smoothing (r7) — the
# language-modeling twin of bm25_keyword_search (Zhai & Lafferty 2001,
# SIGIR — "A study of smoothing methods for language models applied to
# ad hoc information retrieval"):
#     score(d|Q) = Σ_q log p(q|d),
#     p(q|d) = (tf_qd + µ·cf_q/|C|) / (len_d + µ)
#            = (tf_qd·|C| + µ·cf_q) / ((len_d + µ)·|C|)
# — the second form keeps every log argument an exact BIGINT, so the
# score is a sum of exact µlog10 integers (decade-interpolated xlog10,
# no libm). The query is the corpus's 3 most frequent terms (term-asc
# tiebreak) — deterministic at any sf. Docs missing a query term still
# pay the collection-model term (tf = 0), as the model requires.
# 100 TB: vocabulary aggregate → 3-row TakeOrdered broadcast; scoring
# is one left join of (docs × 3 query rows) against per-doc query-term
# tfs — map-side after the broadcast; top-10 via TakeOrderedAndProject.
# tf·|C| ≤ len·|C| stays int64-safe through ~10^17 corpus tokens.
# ---------------------------------------------------------------------------
_QL_MU = 100
_QL_NQ = 3
_QL_TOPK = 10


def _ql_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_xlog10

    def silog(expr: str) -> str:
        return (
            f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')}"
            f" * 1000000.0) AS BIGINT)"
        )

    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        vocab AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY 1
        ),
        ctot AS (SELECT SUM(cf) AS c FROM vocab),
        qterms AS (
            SELECT term, cf FROM vocab ORDER BY cf DESC, term LIMIT {_QL_NQ}
        ),
        lens AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len_d
            FROM toks GROUP BY 1
        ),
        tf AS (
            SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks t JOIN qterms q USING (term)
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT l.doc_id, l.len_d, q.cf, COALESCE(tf.tf, 0) AS tf, ctot.c
            FROM lens l CROSS JOIN qterms q CROSS JOIN ctot
            LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.term = q.term
        ),
        scored AS (
            SELECT doc_id,
                   CAST(MAX(len_d) AS BIGINT) AS n_tokens,
                   CAST(SUM({silog(f"tf * c + {_QL_MU} * cf")}
                          - {silog(f"(len_d + {_QL_MU}) * c")}) AS BIGINT)
                       AS ql_score_micro
            FROM pairs GROUP BY 1
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       ORDER BY ql_score_micro DESC, doc_id) AS rnk
            FROM scored
        )
        SELECT doc_id, n_tokens, ql_score_micro, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= {_QL_TOPK}
    """


@register(
    "query_likelihood_dirichlet",
    oracle=_ql_oracle(),
    doc=(
        "Query-likelihood retrieval, Dirichlet smoothing (µ=100): "
        "query = the 3 most frequent corpus terms, scores as exact "
        "µlog10 integer sums (missing terms pay the collection model), "
        "top-10 docs."
    ),
)
def query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.rounding import xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(
            xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)
        ).cast("long")

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    c_tot = vocab.agg(F.sum("cf").alias("c"))
    qterms = vocab.orderBy(F.desc("cf"), F.col("term")).limit(_QL_NQ)
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("len_d"))
    tf = (
        toks.join(F.broadcast(qterms.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # every (doc × query-term) pair scores — missing terms at tf = 0
    pairs = (
        lens.crossJoin(F.broadcast(qterms))
        .join(tf, ["doc_id", "term"], "left")
        .na.fill({"tf": 0})
        .crossJoin(F.broadcast(c_tot))
    )
    scored = pairs.select(
        "doc_id",
        "len_d",
        (
            ilog(F.expr(f"tf * c + {_QL_MU} * cf"))
            - ilog(F.expr(f"(len_d + {_QL_MU}) * c"))
        ).alias("term_score"),
    ).groupBy("doc_id").agg(
        F.max("len_d").cast("long").alias("n_tokens"),
        F.sum("term_score").cast("long").alias("ql_score_micro"),
    )
    top = scored.orderBy(F.desc("ql_score_micro"), F.col("doc_id")).limit(_QL_TOPK)
    w = W.orderBy(F.desc("ql_score_micro"), F.col("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "doc_id", "n_tokens", "ql_score_micro", "rnk"
    )




# ---------------------------------------------------------------------------
# Best-snippet window (r7) — the search-results stage after retrieval:
# for every document hit by the query, find the W=10-token window with
# the most query-term occurrences (the snippet a SERP would excerpt).
# Query = the same deterministic top-3 corpus terms as
# query_likelihood_dirichlet. Exact + scalable: each HIT position
# explodes into its ≤ W candidate window starts (map-side ×10 on the
# hit set only, never the full token stream); per-(doc, start) counts
# are a bounded aggregate; the per-doc argmax is a (hits, −start)
# struct max — partial-aggregable, no window function anywhere.
# Ties break to the SMALLEST start.
# ---------------------------------------------------------------------------
_SNIP_W = 10


@register(
    "snippet_best_window",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        vocab AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
                  FROM documents) GROUP BY 1
        ),
        qterms AS (
            SELECT term FROM vocab ORDER BY cf DESC, term LIMIT {_QL_NQ}
        ),
        pos AS (
            SELECT t.doc_id, p.p, CAST(len(t.w) AS BIGINT) AS len_d
            FROM toks t CROSS JOIN
                 (SELECT unnest(generate_series(1, 10000)) AS p) p
            WHERE p.p <= len(t.w)
              AND t.w[p.p] IN (SELECT term FROM qterms)
        ),
        cand AS (
            SELECT doc_id, p, len_d,
                   unnest(generate_series(GREATEST(p - {_SNIP_W - 1}, 1),
                          LEAST(p, GREATEST(len_d - {_SNIP_W - 1}, 1)))) AS s
            FROM pos
        ),
        win AS (
            SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM cand GROUP BY 1, 2
        ),
        best AS (
            SELECT doc_id, s, n_hits,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY n_hits DESC, s ASC) AS rk
            FROM win
        )
        SELECT doc_id, CAST(s AS BIGINT) AS best_start, n_hits
        FROM best WHERE rk = 1
    """,
    doc=(
        "Best-snippet window: per hit doc, the 10-token window with "
        "the most query-term occurrences (query = top-3 corpus terms), "
        "hit-set-only ×W explode, partial-aggregable argmax, "
        "smallest-start tiebreak."
    ),
)
def snippet_best_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p0", "term"),
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("len_d"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "term", "len_d")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    qterms = vocab.orderBy(F.desc("cf"), F.col("term")).limit(_QL_NQ).select("term")
    pos = toks.join(F.broadcast(qterms), "term").select("doc_id", "p", "len_d")
    cand = pos.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("p") - (_SNIP_W - 1), F.lit(1)),
                F.least(
                    F.col("p"),
                    F.greatest(F.col("len_d") - (_SNIP_W - 1), F.lit(1)),
                ),
            )
        ).alias("s"),
    )
    win = cand.groupBy("doc_id", "s").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        win.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(F.col("n_hits").alias("h"), (-F.col("s")).alias("ns"))
            ).alias("best")
        )
        .select(
            "doc_id",
            (-F.col("best.ns")).cast("long").alias("best_start"),
            F.col("best.h").alias("n_hits"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval quality evaluation (r7) — NDCG@10 and MRR for the
# query-likelihood ranker above, against graded relevance labels
# derived from term frequency (grade = min(tf, 3), gain = 2^grade − 1
# ∈ {1, 3, 7}; ranking is the QL score, which folds in document-length
# normalization, so the retrieved order is NOT the ideal order and
# NDCG is a real number < 1). Discounts 1/log2(rank+1) go through the
# decade-interpolated xlog10 on both engines (exact same bits); DCG /
# IDCG / NDCG are one correctly-rounded double op tree, µ-rounded.
# IDCG contract: ideal reordering OF THE RETRIEVED top-10 set (local
# NDCG — deterministic and self-contained). MRR: first rank with
# grade 3, in ppm, 0 when absent.
# 100 TB: postings shuffle once on the query term (3 partitions of
# work); ranking windows partition per term — never single-partition.
# ---------------------------------------------------------------------------
_NDCG_K = 10


def _ndcg_oracle() -> str:
    from stacktrend_spark.functions.rounding import sql_round, sql_xlog10

    def silog(expr: str) -> str:
        return (
            f"CAST(FLOOR({sql_xlog10(f'GREATEST({expr}, 1)')}"
            f" * 1000000.0) AS BIGINT)"
        )

    disc_r = f"((1.0 / 9.0) / ({sql_xlog10('(r + 1)')}))"
    disc_i = f"((1.0 / 9.0) / ({sql_xlog10('(ri + 1)')}))"
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        vocab AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY 1
        ),
        ctot AS (SELECT SUM(cf) AS c FROM vocab),
        qterms AS (
            SELECT term, cf FROM vocab ORDER BY cf DESC, term LIMIT {_QL_NQ}
        ),
        lens AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len_d
            FROM toks GROUP BY 1
        ),
        tf AS (
            SELECT t.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks t JOIN qterms q USING (term)
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT tf.term, tf.doc_id, tf.tf,
                   {silog(f"tf.tf * ctot.c + {_QL_MU} * q.cf")}
                 - {silog(f"(l.len_d + {_QL_MU}) * ctot.c")} AS ql,
                   LEAST(tf.tf, 3) AS grade
            FROM tf
            JOIN lens l USING (doc_id)
            JOIN qterms q ON q.term = tf.term
            CROSS JOIN ctot
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                                         ORDER BY ql DESC, doc_id) AS r
            FROM scored
        ),
        top AS (
            SELECT term, doc_id, grade, r,
                   (CAST(1 AS BIGINT) << CAST(grade AS INT)) - 1 AS gain
            FROM ranked WHERE r <= {_NDCG_K}
        ),
        ideal AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                                         ORDER BY gain DESC, doc_id) AS ri
            FROM top
        ),
        agg AS (
            SELECT term,
                   CAST(COUNT(*) AS BIGINT) AS n_ranked,
                   SUM(gain * {disc_r})     AS dcg,
                   SUM(gain * {disc_i})     AS idcg,
                   MAX(CASE WHEN grade >= 3
                            THEN CAST(1000000 // r AS BIGINT) END) AS mrr_raw
            FROM ideal GROUP BY 1
        )
        SELECT term, n_ranked,
               {sql_round('dcg', 6)}  AS dcg_r6,
               {sql_round('idcg', 6)} AS idcg_r6,
               CAST(FLOOR(dcg / idcg * 1000000.0 + 0.5) AS BIGINT) AS ndcg_ppm,
               CAST(COALESCE(mrr_raw, 0) AS BIGINT) AS mrr_ppm
        FROM agg
    """


@register(
    "retrieval_ndcg_eval",
    oracle=_ndcg_oracle(),
    doc=(
        "NDCG@10 + MRR for the Dirichlet QL ranker: graded tf labels "
        "(gain 2^min(tf,3)-1), xlog10-exact log2 discounts, local-set "
        "IDCG, micro-rounded — the IR-evaluation stage beside "
        "ann_recall_eval."
    ),
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stacktrend_spark.functions.rounding import fround, xlog10

    def ilog(col: F.Column) -> F.Column:
        return F.floor(
            xlog10(F.greatest(col, F.lit(1))) * F.lit(1000000.0)
        ).cast("long")

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    c_tot = vocab.agg(F.sum("cf").alias("c"))
    qterms = vocab.orderBy(F.desc("cf"), F.col("term")).limit(_QL_NQ)
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("len_d"))
    tf = (
        toks.join(F.broadcast(qterms.select("term")), "term")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    scored = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(qterms.withColumnRenamed("term", "qt")), F.col("term") == F.col("qt"))
        .join(F.broadcast(c_tot))
        .select(
            "term",
            "doc_id",
            "tf",
            (
                ilog(F.expr(f"tf * c + {_QL_MU} * cf"))
                - ilog(F.expr(f"(len_d + {_QL_MU}) * c"))
            ).alias("ql"),
            F.least(F.col("tf"), F.lit(3)).alias("grade"),
        )
    )
    w_rank = W.partitionBy("term").orderBy(F.desc("ql"), F.col("doc_id"))
    top = (
        scored.withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= _NDCG_K)
        .withColumn("gain", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(grade AS INT)) - 1"))
    )
    w_ideal = W.partitionBy("term").orderBy(F.desc("gain"), F.col("doc_id"))
    top = top.withColumn("ri", F.row_number().over(w_ideal))
    # discount(r) = xlog10(2) / xlog10(r+1) — identical IEEE tree both
    # sides; xlog10(2) = (2/1 - 1)/9 = 1/9 exactly
    log2c = F.lit(1.0) / F.lit(9.0)
    disc_i = log2c / xlog10(F.col("ri") + F.lit(1))
    per_term = top.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.sum(F.col("gain") * (log2c / xlog10(F.col("r") + F.lit(1)))).alias("dcg"),
        F.sum(F.col("gain") * disc_i).alias("idcg"),
        F.max(
            F.when(F.col("grade") >= 3, F.expr("CAST(1000000 DIV r AS BIGINT)"))
        ).alias("mrr_raw"),
    )
    return per_term.select(
        "term",
        "n_ranked",
        fround(F.col("dcg"), 6).alias("dcg_r6"),
        fround(F.col("idcg"), 6).alias("idcg_r6"),
        F.floor(F.col("dcg") / F.col("idcg") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("ndcg_ppm"),
        F.coalesce(F.col("mrr_raw"), F.lit(0)).cast("long").alias("mrr_ppm"),
    )




# ---------------------------------------------------------------------------
# Mode imputation (r8) — the categorical-feature cleaning step next to
# feature_standardize / feature_quantile_bins: NULL segment labels
# (synthesized deterministically: every 7th customer) imputed with the
# customer's NATION-level modal segment, min-label tie-break so the
# survivor is engine-independent. Reports the post-imputation segment
# distribution per nation with the imputed counts visible.
#
# 100 TB: the mode table is one (nation, segment) aggregate -> per-
# nation argmax (bounded: |nations| x |segments| rows), broadcast back
# over the customer scan — map-only after one small-aggregate shuffle.
# ---------------------------------------------------------------------------
@register(
    "mode_imputation_nulls",
    oracle="""
        WITH c AS (
            SELECT c_custkey, c_nationkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE c_mktsegment END AS seg
            FROM customer
        ),
        cnt AS (
            SELECT c_nationkey, seg, CAST(COUNT(*) AS BIGINT) AS n
            FROM c WHERE seg IS NOT NULL GROUP BY 1, 2
        ),
        md AS (
            SELECT c_nationkey, seg AS mode_seg FROM (
                SELECT c_nationkey, seg, ROW_NUMBER() OVER (
                    PARTITION BY c_nationkey ORDER BY n DESC, seg ASC) AS rn
                FROM cnt
            ) t WHERE rn = 1
        )
        SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
               COALESCE(c.seg, m.mode_seg)   AS segment,
               CAST(COUNT(*) AS BIGINT)      AS n_customers,
               CAST(SUM(CASE WHEN c.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                             AS n_imputed
        FROM c JOIN md m ON m.c_nationkey = c.c_nationkey
        GROUP BY 1, 2
    """,
    doc=(
        "Categorical mode imputation: NULL segments (every 7th "
        "customer) filled with the nation-level modal segment "
        "(min-label tie-break); post-imputation distribution with "
        "imputed counts visible."
    ),
)
def mode_imputation_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    c = cust.select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    cnt = (
        c.filter(F.col("seg").isNotNull())
        .groupBy("c_nationkey", "seg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # bounded spine: |nations| x |segments| rows
    md = (
        cnt.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("c_nationkey").orderBy(F.desc("n"), F.asc("seg"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("seg").alias("mode_seg"))
    )
    return (
        c.join(F.broadcast(md), "c_nationkey")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.coalesce("seg", "mode_seg").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.col("seg").isNull().cast("int")).cast("long").alias("n_imputed"),
        )
    )
