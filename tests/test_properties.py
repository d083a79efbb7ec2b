"""Property-based tests (SURVEY §5): the invariants the reference only
asserted informally become machine-checked properties — merge
idempotency, preservation semantics, score ranges, language-share
normalization, and cross-engine rounding parity.

Each example runs a real (tiny) Spark job; max_examples is kept small
so the suite stays fast while hypothesis still explores boundaries.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from stacktrend_spark.functions.langdist import (
    PROGRAMMING_LANGUAGES,
    language_distribution,
)
from stacktrend_spark.functions.rounding import fround, sql_round
from stacktrend_spark.operators.merge import (
    merge_full_sync,
    merge_insert_only,
    merge_preserve,
    merge_upsert,
)
from stacktrend_spark.operators.text import quality_score

# heavy tier: excluded from the core gate (see pytest.ini)
pytestmark = pytest.mark.slow

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_rows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(-1000, 1000)),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@_SETTINGS
@given(target=_rows, source=_rows)
def test_merge_upsert_idempotent(spark, target, source):
    """Applying the same source twice must equal applying it once —
    the guarantee that makes scheduled re-ingestion safe (gdi:355-383)."""
    t = spark.createDataFrame(target, "k int, v int")
    s = spark.createDataFrame(source, "k int, v int")
    once = merge_upsert(t, s, keys=["k"])
    twice = merge_upsert(once, s, keys=["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # keys are a superset union, values from source win
    expect = dict(target)
    expect.update(dict(source))
    assert dict(map(tuple, once.collect())) == expect


@_SETTINGS
@given(target=_rows, source=_rows)
def test_merge_insert_only_immutable(spark, target, source):
    """Insert-only merge (pri:424-431) never changes an existing row."""
    t = spark.createDataFrame(target, "k int, v int")
    s = spark.createDataFrame(source, "k int, v int")
    merged = dict(map(tuple, merge_insert_only(t, s, keys=["k"]).collect()))
    for k, v in target:
        assert merged[k] == v
    for k, v in source:
        assert k in merged


@_SETTINGS
@given(target=_rows, source=_rows, pivot=st.integers(0, 20))
def test_merge_full_sync_model(spark, target, source, pivot):
    """r8: the scoped full sync equals the set model — out-of-scope
    target rows unchanged, in-scope rows exactly the in-scope source —
    for ANY scope pivot, and the operation is idempotent."""
    t = spark.createDataFrame(target, "k int, v int")
    s = spark.createDataFrame(source, "k int, v int")
    scope = F.col("k") < pivot
    once = dict(map(tuple, merge_full_sync(t, s, ["k"], scope).collect()))
    expect = {k: v for k, v in target if not k < pivot}
    expect.update({k: v for k, v in source if k < pivot})
    assert once == expect
    again = merge_full_sync(
        spark.createDataFrame(list(once.items()) or [(0, 0)], "k int, v int")
        if once
        else spark.createDataFrame([], "k int, v int"),
        s,
        ["k"],
        scope,
    )
    assert dict(map(tuple, again.collect())) == expect


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10),
            st.floats(0.0, 1.0, allow_nan=False),
            st.floats(0.0, 1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda r: r[0],
    )
)
def test_merge_preserve_keeps_confident_labels(spark, rows):
    """Conditional-preserve merge (b2s:899-914): an existing
    confident (>= 0.8) classification survives the refresh."""
    t = spark.createDataFrame(
        [(k, "OldCat", c_old) for k, c_old, _ in rows],
        "k int, category string, confidence double",
    )
    s = spark.createDataFrame(
        [(k, "NewCat", c_new) for k, _, c_new in rows],
        "k int, category string, confidence double",
    )
    out = {
        r.k: (r.category, r.confidence)
        for r in merge_preserve(
            t,
            s,
            keys=["k"],
            preserve_cols=["category", "confidence"],
            preserve_when=F.col("t.confidence") >= 0.8,
        ).collect()
    }
    for k, c_old, c_new in rows:
        cat, conf = out[k]
        if c_old >= 0.8:
            assert cat == "OldCat" and conf == c_old
        else:
            assert cat == "NewCat" and conf == c_new


_word = st.text(alphabet="abcdefghij ", min_size=0, max_size=30)


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["Python", "Go", "", "null", "None", "C++"]),
            st.lists(
                st.sampled_from(
                    ["python-lib", "rust", "go-tool", "database", "web", "r", "ml"]
                ),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_langdist_normalized(spark, rows):
    """Language shares are non-negative and sum to 100 ± rounding
    drift (b2s:441-443's normalization contract)."""
    df = spark.createDataFrame(
        [(i, lang, topics) for i, (lang, topics) in enumerate(rows)],
        "id int, language string, topics array<string>",
    )
    out = df.select(
        language_distribution(F.col("language"), F.col("topics")).alias("m")
    ).collect()
    for row in out:
        shares = list(row.m.values())
        assert all(s >= 0.0 for s in shares)
        assert abs(sum(shares) - 100.0) <= 0.05 * len(shares) + 1e-9


def _langdist_reference(language, topics) -> dict:
    """Pure-Python transcription of extract_language_distribution
    (b2s:403-445): the primary gets 70, every topic language occurrence
    an equal part of the rest, a topic language equal to the primary
    key is skipped, shares are normalized to 100 and rounded to one
    decimal. Blank means empty after trimming spaces (Spark's trim)."""
    dist: dict = {}
    if (
        language is not None
        and language.strip(" ") != ""
        and language.lower() not in ("null", "none")
    ):
        dist[language] = 70.0
    found = [
        name
        for topic in topics or []
        if topic is not None
        for key, name in PROGRAMMING_LANGUAGES
        if key in topic.lower()
    ]
    if found:
        share = (30.0 if dist else 100.0) / len(found)
        for name in dict.fromkeys(found):
            if name not in dist:
                dist[name] = share
    if not dist:
        return {"Unknown": 100.0}
    total = sum(dist.values())
    return {k: round(v / total * 100.0, 1) for k, v in dist.items()}


_primary = st.one_of(
    st.none(),
    st.sampled_from(
        ["", " ", "null", "NULL", "None", "none", "Python", "python", "Go",
         "C++", "Rust", "R", "Shell", "JavaScript"]
    ),
)
_topic = st.one_of(
    st.none(),
    st.sampled_from(
        ["python-lib", "Python", "rust", "go-tool", "cpp", "c++", "csharp-c#",
         "bash", "shell", "database", "web", "r", "ml", "json-yaml-sql",
         "javascript", "typescript", "kotlin", "", "GO"]
    ),
)


@settings(_SETTINGS, max_examples=25)
@given(
    rows=st.lists(
        st.tuples(_primary, st.one_of(st.none(), st.lists(_topic, max_size=6))),
        min_size=1,
        max_size=8,
    )
)
@example(rows=[(None, None), ("", []), ("null", ["rust"]), ("None", ["python-lib"])])
@example(rows=[("Python", ["python-lib", "python-lib", "bash", "shell"])])
@example(rows=[("Shell", ["bash", "rust", "bash"]), ("Go", [None, "go-tool", "GO"])])
def test_langdist_matches_reference(spark, rows):
    """language_distribution equals the Python transcription map for
    map, key order included."""
    df = spark.createDataFrame(
        [(i, lang, topics) for i, (lang, topics) in enumerate(rows)],
        "id int, language string, topics array<string>",
    )
    # map_entries keeps the map's key order; a collected map arrives as
    # an unordered dict
    out = df.select(
        "id",
        F.map_entries(language_distribution(F.col("language"), F.col("topics"))).alias("e"),
    ).collect()
    got = {r.id: [(e.key, e.value) for e in r.e] for r in out}
    for i, (lang, topics) in enumerate(rows):
        assert got[i] == list(_langdist_reference(lang, topics).items()), (lang, topics)


@_SETTINGS
@given(texts=st.lists(_word, min_size=1, max_size=6))
def test_quality_score_in_range(spark, texts):
    """Scores clamp to [0, 100] for arbitrary text (med:237-257's
    validation rule as a property)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts) if t.strip()], "doc_id int, text string"
    )
    if not df.count():
        return
    for r in quality_score(df, "doc_id", "text").collect():
        assert 0.0 <= r.quality_score <= 100.0
        assert r.quality_tier in ("high", "medium", "low")


@_SETTINGS
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=20,
    ),
    n=st.integers(0, 6),
)
def test_fround_matches_duckdb(spark, vals, n):
    """The shared deterministic rounding formula produces bit-identical
    doubles in Spark and DuckDB — the foundation of every oracle."""
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.y for r in df.select(fround(F.col("x"), n).alias("y")).collect()]
    con = duckdb.connect()
    expected = [
        con.execute(f"SELECT {sql_round('CAST(? AS DOUBLE)', n)}", [v]).fetchone()[0]
        for v in vals
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# r5 Arrow-kernel bit-parity: the similarity kernels promise the EXACT
# left-fold summation order of the Catalyst/DuckDB column expressions
# (PARITY.md). These properties pin that promise against a pure-Python
# reference fold over arbitrary float32 inputs, including denormals,
# zeros and mixed magnitudes where summation order genuinely changes
# the bits.
# ---------------------------------------------------------------------------

import numpy as np
from hypothesis import given, settings, strategies as st


def _py_fold_dot(a, b):
    acc = float(np.float64(np.float32(a[0]))) * float(np.float64(np.float32(b[0])))
    for x, y in zip(a[1:], b[1:]):
        acc = acc + float(np.float64(np.float32(x))) * float(np.float64(np.float32(y)))
    return acc


_f32 = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, width=32
)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_f32, _f32), min_size=1, max_size=64))
def test_seq_dot_matches_python_fold_bitwise(pairs):
    from stacktrend_spark.operators.similarity import _seq_dot

    a = np.array([p[0] for p in pairs], dtype=np.float32)
    b = np.array([p[1] for p in pairs], dtype=np.float32)
    A = a.astype(np.float64).reshape(1, -1)
    B = b.astype(np.float64).reshape(1, -1)
    got = _seq_dot(A, B)[0]
    want = _py_fold_dot(a.tolist(), b.tolist())
    assert got == want or (np.isnan(got) and np.isnan(want)), (got, want)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.lists(_f32, min_size=8, max_size=8), min_size=2, max_size=12)
)
def test_block_cosine_matches_per_pair_fold(vecs):
    """The grouped kernel's blockwise outer-product accumulation must be
    bit-identical to the per-pair fold for every (i, j) pair."""
    from stacktrend_spark.operators.similarity import _seq_dot

    M = np.array(vecs, dtype=np.float32).astype(np.float64)
    dim = M.shape[1]
    acc = np.multiply.outer(M[:, 0], M[:, 0])
    for j in range(1, dim):
        acc = acc + np.multiply.outer(M[:, j], M[:, j])
    nrm = np.sqrt(_seq_dot(M, M))
    with np.errstate(divide="ignore", invalid="ignore"):
        blockwise = acc / np.outer(nrm, nrm)
    for i in range(len(vecs)):
        for j in range(len(vecs)):
            d = _py_fold_dot(vecs[i], vecs[j])
            ni = np.sqrt(_py_fold_dot(vecs[i], vecs[i]))
            nj = np.sqrt(_py_fold_dot(vecs[j], vecs[j]))
            with np.errstate(divide="ignore", invalid="ignore"):
                want = d / (ni * nj)
            got = blockwise[i, j]
            assert got == want or (np.isnan(got) and np.isnan(want))


# ---------------------------------------------------------------------------
# Round-5 second-wave operator invariants (run on sf0.001 — these pin
# ALGEBRAIC guarantees the oracle hash can't express: one-sidedness,
# bounds, completeness of planted matches)
# ---------------------------------------------------------------------------


def _q(spark, sf_dir, name):
    from stacktrend_spark.plans.registry import all_queries

    return all_queries()[name].fn(spark, sf_dir).toPandas()


def test_cms_estimates_are_one_sided(spark, sf_dir):
    """Count-min can only OVERestimate: est >= exact on every row, and
    the over_ppm column is the exact integer restatement of that gap."""
    df = _q(spark, sf_dir, "cms_heavy_hitters")
    assert (df["cms_est"] >= df["exact_cnt"]).all()
    assert (df["over_ppm"] >= 0).all()


def test_gini_is_bounded(spark, sf_dir):
    """Gini ∈ [0, 1): the sorted-rank formula cannot exceed ppm bounds."""
    df = _q(spark, sf_dir, "gini_revenue_by_nation")
    assert (df["gini_ppm"] >= 0).all()
    assert (df["gini_ppm"] < 1_000_000).all()


def test_simpson_is_bounded(spark, sf_dir):
    """1 − Σp² ∈ [0, 1); 0 exactly when a user has one event type."""
    df = _q(spark, sf_dir, "simpson_diversity_events")
    assert (df["simpson_ppm"] >= 0).all()
    assert (df["simpson_ppm"] < 1_000_000).all()
    single = df[df["n_types"] == 1]
    assert (single["simpson_ppm"] == 0).all()


def test_interval_merge_invariants(spark, sf_dir):
    """Coverage ≥ longest island ≥ one interval width; island count ≥ 1."""
    df = _q(spark, sf_dir, "interval_merge_coverage")
    assert (df["covered_us"] >= df["longest_us"]).all()
    assert (df["longest_us"] >= 1_800_000_000).all()
    assert (df["n_merged_intervals"] >= 1).all()


def test_setsim_finds_every_pair_above_threshold(spark, sf_dir):
    """Prefix filtering is LOSSLESS: every planted (source, copy) pair
    whose TRUE 4-gram Jaccard ≥ 0.6 must be in the verified output.
    (A short doc can lose >40% of its shingles to the 20-char
    truncation and legitimately fall below t — completeness is over
    threshold-qualifying pairs, which is exactly the AllPairs bound.)"""
    df = _q(spark, sf_dir, "setsim_prefix_join")
    pairs = set(zip(df["doc_a"], df["doc_b"]))
    import duckdb

    con = duckdb.connect()
    truth = con.execute(
        f"""
        WITH corpus AS (
            SELECT doc_id, text FROM '{sf_dir}/documents.parquet'
            UNION ALL
            SELECT doc_id + 100000, SUBSTR(text, 1, LENGTH(text) - 20)
            FROM '{sf_dir}/documents.parquet' WHERE doc_id % 5 = 0
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           || ' ' || w[i+3]
                           FOR i IN range(1, len(w) - 2)]) AS g
            FROM (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w
                  FROM corpus) WHERE len(w) >= 4
        ),
        sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY 1)
        SELECT a.doc_id AS d, COUNT(*) AS ov, sa.s AS na, sb.s AS nb
        FROM sh a
        JOIN sh b ON b.doc_id = a.doc_id + 100000 AND b.g = a.g
        JOIN sz sa ON sa.doc_id = a.doc_id
        JOIN sz sb ON sb.doc_id = a.doc_id + 100000
        WHERE a.doc_id % 5 = 0 AND a.doc_id < 100000
        GROUP BY 1, 3, 4
        """
    ).df()
    qualifying = [
        int(r.d)
        for r in truth.itertuples()
        if r.ov * 5 >= (r.na + r.nb - r.ov) * 3
    ]
    missing = [d for d in qualifying if (d, d + 100000) not in pairs]
    assert missing == [], f"threshold pairs missing from setsim: {missing}"
    assert (df["jaccard_ppm"] >= 600_000).all()


def test_weighted_sample_shape(spark, sf_dir):
    """Exactly k distinct orders, ranks 1..k, deterministic across runs."""
    a = _q(spark, sf_dir, "weighted_sample_aes")
    b = _q(spark, sf_dir, "weighted_sample_aes")
    assert len(a) == 200 and a["o_orderkey"].nunique() == 200
    assert sorted(a["rnk"]) == list(range(1, 201))
    assert a.sort_values("rnk")["o_orderkey"].tolist() == (
        b.sort_values("rnk")["o_orderkey"].tolist()
    )


def test_scd_consistency_holds(spark, sf_dir):
    """The SCD2 rebuild must agree with last-writer-wins everywhere."""
    df = _q(spark, sf_dir, "scd_consistency_audit")
    assert int(df["n_mismatch"].iloc[0]) == 0
    assert int(df["n_consistent"].iloc[0]) == int(df["n_users"].iloc[0])


def test_bitmap_overlap_matches_exact_sets(spark, sf_dir):
    """Popcount set algebra must equal literal distinct-user set math."""
    df = _q(spark, sf_dir, "bitmap_audience_overlap")
    import duckdb

    con = duckdb.connect()
    exact = con.execute(
        f"""
        WITH s AS (SELECT DISTINCT event_type, user_id
                   FROM '{sf_dir}/events.parquet')
        SELECT a.event_type AS ta, b.event_type AS tb,
               COUNT(*) AS n_both
        FROM s a JOIN s b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
        """
    ).df()
    want = {(r.ta, r.tb): r.n_both for r in exact.itertuples()}
    for r in df.itertuples():
        assert want.get((r.type_a, r.type_b), 0) == r.n_both


def test_exact_median_matches_sorted_definition(spark, sf_dir):
    """Two-phase selection must equal the literal sorted lower median."""
    df = _q(spark, sf_dir, "exact_median_distributed")
    import duckdb

    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH v AS (SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5)
                                AS BIGINT) AS c
                   FROM '{sf_dir}/lineitem.parquet')
        SELECT c FROM (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn,
                   COUNT(*) OVER () AS n
            FROM v
        ) WHERE rn = (n + 1) // 2
        """
    ).fetchone()[0]
    assert int(df["median_cents"].iloc[0]) == want


def test_star_cc_equals_minlabel_cc(spark, sf_dir):
    """large-star/small-star must produce the identical (node, min
    reachable id) labeling as the min-label loop — on the real dedup
    pair graph AND on a long chain (the diameter case star rounds
    exist for) AND on disjoint clumps with isolated nodes."""
    from stacktrend_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    cases = [
        # path 0-1-...-9 (diameter 9 — the case star rounds beat
        # min-label; kept short so the min-label reference loop stays
        # test-speed)
        [(i, i + 1) for i in range(9)]
        # plus clumps, a bridge, and (via the nodes table) an isolate
        + [(20, 21), (21, 22), (22, 20), (30, 31), (25, 31)],
    ]
    for pairs in cases:
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        node_ids = sorted({x for p in pairs for x in p} | {99})
        nodes = spark.createDataFrame(
            [(n,) for n in node_ids], "node long"
        )
        a = {
            r["node"]: r["component"]
            for r in connected_components(
                edges, nodes, driver_fastpath_max_edges=0
            ).collect()
        }
        b = {
            r["node"]: r["component"]
            for r in connected_components_star(edges, nodes).collect()
        }
        assert a == b, f"labelings differ for {pairs}: {a} vs {b}"


# ---------------------------------------------------------------------------
# Two-phase ranking operators vs the windowed forms (r10): 26
# registered queries route their global order statistics through
# operators/ranking — hypothesis drives duplicates, negatives, NULLs,
# and partition-count boundaries (1 partition = the degenerate case
# where two-phase MUST collapse to the windowed result exactly).
# ---------------------------------------------------------------------------

_rank_rows = st.lists(
    st.tuples(st.integers(-50, 50), st.one_of(st.none(), st.integers(-99, 99))),
    min_size=1,
    max_size=24,
)


@given(rows=_rank_rows, nparts=st.sampled_from([None, 1, 2, 3, 7]))
@_SETTINGS
def test_two_phase_rank_matches_window(spark, rows, nparts):
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import (
        global_rank_scalable,
        release_pinned,
    )

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, id long"
    )
    want = {
        r["id"]: r["r"]
        for r in df.select(
            "id", F.row_number().over(W.orderBy("k", "id")).alias("r")
        ).collect()
    }
    got = {
        r["id"]: r["r"]
        for r in global_rank_scalable(
            df, [F.col("k"), F.col("id")], "r", num_partitions=nparts
        ).collect()
    }
    release_pinned()
    assert got == want


@given(rows=_rank_rows, nparts=st.sampled_from([None, 1, 3, 7]))
@_SETTINGS
def test_two_phase_running_sum_and_fused_rank_match_window(spark, rows, nparts):
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import (
        global_running_sum_scalable,
        release_pinned,
    )

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, id long"
    )
    w = W.orderBy("k", "id")
    want = {
        r["id"]: (r["r"], r["rs"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("r"),
            F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("rs"),
        ).collect()
    }
    got = {
        r["id"]: (r["r"], r["rs"])
        for r in global_running_sum_scalable(
            df,
            [F.col("k"), F.col("id")],
            "v",
            sum_col="rs",
            rank_col="r",
            num_partitions=nparts,
        ).collect()
    }
    release_pinned()
    assert got == want


@given(
    rows=_rank_rows,
    nparts=st.sampled_from([None, 1, 3, 7]),
    inclusive=st.booleans(),
)
@_SETTINGS
def test_two_phase_running_max_matches_window(spark, rows, nparts, inclusive):
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import (
        global_running_max_scalable,
        release_pinned,
    )

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, id long"
    )
    upper = 0 if inclusive else -1
    w = W.orderBy("k", "id").rowsBetween(W.unboundedPreceding, upper)
    want = {
        r["id"]: r["m"]
        for r in df.select("id", F.max("v").over(w).alias("m")).collect()
    }
    got = {
        r["id"]: r["m"]
        for r in global_running_max_scalable(
            df,
            [F.col("k"), F.col("id")],
            "v",
            max_col="m",
            inclusive=inclusive,
            num_partitions=nparts,
        ).collect()
    }
    release_pinned()
    assert got == want


# ---------------------------------------------------------------------------
# As-of / nearest temporal joins vs brute-force reference (r10):
# hypothesis drives simultaneous timestamps, duplicate keys, empty
# match sets, and tolerance boundaries — the edges the union-window
# asof trick and the banded nearest join must get exactly right.
# ---------------------------------------------------------------------------

_ts_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 30)),  # (key, ts)
    min_size=1,
    max_size=10,
)


@given(lefts=_ts_events, rights=_ts_events)
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    from stacktrend_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k long, lts long, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, rts long, rv long",
    )
    out = {
        r["lid"]: (r["asof_rv"], r["asof_ts"])
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts", right_payload=["rv"]
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [
            (rt, 100 + j)
            for j, (rk, rt) in enumerate(rights)
            if rk == k and rt <= t
        ]
        if not cands:
            want = (None, None)
        else:
            # most recent; ties on ts resolve by max payload tuple
            # (the operator's documented deterministic rule)
            best_ts = max(c[0] for c in cands)
            best_rv = max(rv for rt, rv in cands if rt == best_ts)
            want = (best_rv, best_ts)
        assert out[i] == want, (i, k, t, out[i], want)


@given(lefts=_ts_events, rights=_ts_events, tol=st.sampled_from([1, 3, 7]))
@_SETTINGS
def test_nearest_join_matches_bruteforce(spark, lefts, rights, tol):
    from stacktrend_spark.operators.temporal import nearest_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k long, lts long, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, rts long, rid long",
    )
    out = {
        r["lid"]: r["rid"]
        for r in nearest_join(
            ldf,
            rdf,
            key="k",
            left_us="lts",
            right_us="rts",
            tolerance_us=tol,
            left_id="lid",
            right_id="rid",
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [
            (abs(rt - t), 100 + j)
            for j, (rk, rt) in enumerate(rights)
            if rk == k and abs(rt - t) <= tol
        ]
        if not cands:
            assert i not in out, (i, out.get(i))
        else:
            want = min(cands)[1]  # closest, ties on lower rid
            assert out.get(i) == want, (i, k, t, out.get(i), want, cands)


# ---------------------------------------------------------------------------
# Connected components vs union-find (r10): the distributed min-label
# loop labels every dedup cluster — hypothesis drives random graphs
# (self-loops, duplicate/reversed edges, isolates via the node table)
# against a driver-side union-find reference. driver_fastpath_max_edges=0
# forces the DISTRIBUTED path.
# ---------------------------------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=16,
)


@given(pairs=_edges)
@_SETTINGS
def test_connected_components_match_union_find(spark, pairs):
    from stacktrend_spark.operators.graph import connected_components

    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    node_ids = sorted({x for p in pairs for x in p} | {99})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, nodes, driver_fastpath_max_edges=0
        ).collect()
    }
    # union-find reference with min-label components
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    comp_min = {}
    for n in node_ids:
        r = find(n)
        comp_min.setdefault(r, []).append(n)
    for r, members in comp_min.items():
        m = min(members)
        for n in members:
            want[n] = m
    assert got == want, (pairs, got, want)
