"""Contract tests for the r8 operator-review fixes: each pins a
degenerate input the registered queries never produce but a general
engine must handle (the operator-library half of the parity sweep)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_range_join_probes_end_band(spark):
    """An interval narrower than one band but CROSSING a band boundary
    keeps its matches when end_band is passed (r8: start-band-only
    joins silently dropped them)."""
    from stacktrend_spark.operators.temporal import range_join_banded

    points = spark.createDataFrame(
        [(1, "2024-01-02 00:30:00")], "pid long, ts string"
    ).select("pid", F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(7, "2024-01-01 23:00:00", "2024-01-02 01:00:00")],
        "iid long, w_start string, w_end string",
    ).select(
        "iid",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    out = range_join_banded(
        points,
        iv,
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        band=F.date_trunc("day", F.col("w_start")),
        point_band=F.date_trunc("day", F.col("ts")),
        end_band=F.date_trunc("day", F.col("w_end")),
        band_step=F.expr("INTERVAL 1 DAY"),
    )
    assert out.count() == 1  # matched via the end band
    # and a one-band interval is NOT duplicated by the probing
    iv_same = iv.select(
        "iid",
        F.col("w_start"),
        F.expr("w_start + interval 30 minutes").alias("w_end"),
    )
    pts2 = spark.createDataFrame(
        [(2, "2024-01-01 23:15:00")], "pid long, ts string"
    ).select("pid", F.col("ts").cast("timestamp").alias("ts"))
    out2 = range_join_banded(
        pts2,
        iv_same,
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        band=F.date_trunc("day", F.col("w_start")),
        point_band=F.date_trunc("day", F.col("ts")),
        end_band=F.date_trunc("day", F.col("w_end")),
        band_step=F.expr("INTERVAL 1 DAY"),
    )
    assert out2.count() == 1


def test_range_join_spans_three_bands_and_requires_step(spark):
    """An interval spanning 3+ bands keeps middle-band matches (r9:
    sequence() replicas replaced the two-element start/end probe,
    which silently dropped them), and end_band without band_step is
    rejected instead of being a silent docstring constraint."""
    from stacktrend_spark.operators.temporal import range_join_banded

    points = spark.createDataFrame(
        [(1, "2024-01-02 12:00:00"), (2, "2024-01-03 23:00:00")],
        "pid long, ts string",
    ).select("pid", F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(7, "2024-01-01 06:00:00", "2024-01-04 06:00:00")],
        "iid long, w_start string, w_end string",
    ).select(
        "iid",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    kw = dict(
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        band=F.date_trunc("day", F.col("w_start")),
        point_band=F.date_trunc("day", F.col("ts")),
        end_band=F.date_trunc("day", F.col("w_end")),
    )
    out = range_join_banded(
        points, iv, **kw, band_step=F.expr("INTERVAL 1 DAY")
    )
    # both points sit in MIDDLE bands of the 4-band interval
    assert sorted(r["pid"] for r in out.collect()) == [1, 2]
    with pytest.raises(ValueError):
        range_join_banded(points, iv, **kw)  # end_band without step


def test_range_join_banded_matches_bruteforce_random(spark):
    """Seeded random panel: points and intervals on an hourly grid
    (daily bands), including inverted, zero-width, multi-band and
    boundary-touching intervals — the banded join must equal the
    O(n^2) point-in-interval definition exactly."""
    import random as _random
    from datetime import datetime, timedelta

    from stacktrend_spark.operators.temporal import range_join_banded

    rng = _random.Random(909)
    base = datetime(2024, 1, 1)
    points = [(i, base + timedelta(hours=rng.randint(0, 240))) for i in range(120)]
    intervals = []
    for j in range(40):
        s_h = rng.randint(0, 240)
        # widths from zero to 5 days; every 7th interval inverted
        e_h = s_h + rng.randint(0, 120) if j % 7 else s_h - rng.randint(1, 48)
        intervals.append(
            (100 + j, base + timedelta(hours=s_h), base + timedelta(hours=e_h))
        )
    expect = sorted(
        (pid, iid)
        for pid, pt in points
        for iid, ws, we in intervals
        if ws <= pt < we
    )
    pdf = spark.createDataFrame(points, "pid int, ts timestamp")
    idf = spark.createDataFrame(intervals, "iid int, w_start timestamp, w_end timestamp")
    out = range_join_banded(
        pdf,
        idf,
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        band=F.date_trunc("day", F.col("w_start")),
        point_band=F.date_trunc("day", F.col("ts")),
        end_band=F.date_trunc("day", F.col("w_end")),
        band_step=F.expr("INTERVAL 1 DAY"),
    )
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert got == expect


def test_asof_join_carries_matched_row_atomically(spark):
    """If the winning right row has NULL in one payload column, the
    output must carry that NULL — not back-fill the column from an
    older right row (r9 ADVICE: per-column last(ignorenulls) mixed
    rows)."""
    from stacktrend_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u", "2024-01-01 12:00:00")], "key string, lts string"
    ).select("key", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [
            ("u", "2024-01-01 10:00:00", 1, "old"),
            ("u", "2024-01-01 11:00:00", None, "new"),
        ],
        "key string, rts string, a int, b string",
    ).select(
        "key",
        F.col("rts").cast("timestamp").alias("rts"),
        "a",
        "b",
    )
    row = asof_join(
        left, right, key="key", left_ts="lts", right_ts="rts",
        right_payload=["a", "b"],
    ).collect()[0]
    assert row["asof_b"] == "new"
    assert row["asof_a"] is None  # NOT 1 from the older row


def test_salted_join_rejects_small_side_preserving_hows(spark):
    from stacktrend_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "d")], "k long, d string")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", F.col("v"), buckets=4, how="full")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", F.col("v"), buckets=4, how="right")


def test_connected_components_relays_through_bridge_endpoints(spark):
    """Edges may reference endpoints filtered out of `nodes`; the
    distributed loop must still propagate THROUGH them (the fastpath's
    union-find always did — r8 review fixed the divergence)."""
    from stacktrend_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (3,)], "node long")
    # force the distributed path
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, nodes, driver_fastpath_max_edges=0
        ).collect()
    }
    assert got == {1: 1, 3: 1}  # 3 reaches 1 via the bridge node 2
    # and the fastpath agrees
    got_fast = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got_fast == got


def test_connected_components_raises_on_nonconvergence(spark):
    from stacktrend_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    with pytest.raises(RuntimeError):
        connected_components(
            chain, nodes, max_iter=2, driver_fastpath_max_edges=0
        )


def test_running_sum_null_partition_and_float_rejection(spark):
    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "k long, v long"
    )
    out = {
        r["k"]: r["rs"]
        for r in global_running_sum_scalable(
            df, [F.col("k")], "v", sum_col="rs", num_partitions=3
        ).collect()
    }
    assert out[3] == 15  # NULL contributes 0, fold doesn't crash
    fdf = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with pytest.raises(TypeError):
        global_running_sum_scalable(fdf, [F.col("k")], "v", num_partitions=2)


@pytest.mark.slow
def test_global_rank_payload_columns_at_partial_sampling_scale(spark):
    """r10 regression pin: a lazy two-branch rewrite of the operators
    (no persist) silently corrupted ranks whenever the input carried
    payload columns — column pruning made the offsets branch's range
    exchange canonicalize differently, exchange reuse missed, and the
    two branches sampled DIFFERENT range boundaries (the reservoir
    seed is per-execution). Pin the failure shape: 2M rows, payload
    column kept alive downstream, input large enough that boundary
    sampling is partial. Ranks must be an exact permutation of 1..N
    and match the single-partition window."""
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import global_rank_scalable

    n = 2_000_000
    df = spark.range(n).select(
        F.sha2(F.col("id").cast("string"), 256).substr(1, 8).alias("k"),
        "id",
        (F.col("id") % 997).alias("payload"),
    )
    out = global_rank_scalable(
        df, order_cols=[F.col("k"), F.col("id")], rank_col="r"
    ).select("r", "payload")  # keep payload alive downstream
    # dropping every cache must not make the read re-sample boundaries
    spark.catalog.clearCache()
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("r").alias("nd"),
        F.min("r").alias("mn"),
        F.max("r").alias("mx"),
    ).collect()[0]
    assert (stats["n"], stats["nd"], stats["mn"], stats["mx"]) == (n, n, 1, n)
    # spot-check exact agreement with the windowed form on a slice
    want = df.select(
        "id", F.row_number().over(W.orderBy("k", "id")).alias("r")
    ).filter(F.col("r") <= 1000)
    got = (
        global_rank_scalable(df, [F.col("k"), F.col("id")], "r")
        .filter(F.col("r") <= 1000)
        .select("id", "r")
    )
    assert want.exceptAll(got).count() == 0 and got.exceptAll(want).count() == 0


@pytest.mark.slow
def test_fused_rank_and_running_sum_at_partial_sampling_scale(spark):
    """The rank_col fusion on global_running_sum_scalable rides the
    same checkpointed partitioning as the prefix sum — pin it at the
    partial-boundary-sampling scale where the lazy design corrupted
    (tiny-input oracle gates cannot see this class; r10 review)."""
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import global_running_sum_scalable

    n = 1_000_000
    df = spark.range(n).select(
        F.sha2(F.col("id").cast("string"), 256).substr(1, 8).alias("k"),
        "id",
        (F.col("id") % 7).alias("v"),
        (F.col("id") % 997).alias("payload"),
    )
    out = global_running_sum_scalable(
        df,
        order_cols=[F.col("k"), F.col("id")],
        value_col="v",
        sum_col="rs",
        rank_col="r",
    ).select("r", "rs", "payload")
    spark.catalog.clearCache()
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("r").alias("nd"),
        F.max("r").alias("mx"),
        F.max("rs").alias("final_sum"),
    ).collect()[0]
    total_v = df.agg(F.sum("v")).collect()[0][0]
    assert (stats["n"], stats["nd"], stats["mx"]) == (n, n, n)
    # the row at rank N carries the full corpus sum — the prefix is
    # only correct end-to-end if offsets and local sums agree
    assert stats["final_sum"] == total_v
    # exact agreement with the windowed forms on the head slice
    w = W.orderBy("k", "id")
    want = df.select(
        "id",
        F.row_number().over(w).alias("r"),
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("rs"),
    ).filter(F.col("r") <= 1000)
    got = (
        global_running_sum_scalable(
            df, [F.col("k"), F.col("id")], "v", sum_col="rs", rank_col="r"
        )
        .filter(F.col("r") <= 1000)
        .select("id", "r", "rs")
    )
    assert want.exceptAll(got).count() == 0 and got.exceptAll(want).count() == 0


def test_running_max_matches_window_forms(spark):
    """global_running_max_scalable must reproduce both window frames
    (inclusive running max and the exclusive dominance-sweep prefix)
    across multiple range partitions, including NULL skipping and the
    first-row NULL of the exclusive form."""
    from pyspark.sql import Window as W

    from stacktrend_spark.operators.ranking import global_running_max_scalable

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 9), (4, 2), (5, 9), (6, 1)],
        "k long, v long",
    )
    for inclusive in (True, False):
        upper = 0 if inclusive else -1
        w = W.orderBy("k").rowsBetween(W.unboundedPreceding, upper)
        want = {
            r["k"]: r["m"]
            for r in df.select("k", F.max("v").over(w).alias("m")).collect()
        }
        got = {
            r["k"]: r["m"]
            for r in global_running_max_scalable(
                df,
                [F.col("k")],
                "v",
                max_col="m",
                inclusive=inclusive,
                num_partitions=3,
            ).collect()
        }
        assert got == want, (inclusive, got, want)


def test_lsh_band_rows_rejects_indivisible_hashes(spark):
    from stacktrend_spark.operators.dedup import lsh_band_rows

    sigs = spark.createDataFrame([(1, "a", "b", "c")], "id long, h0 string, h1 string, h2 string")
    with pytest.raises(ValueError):
        lsh_band_rows(sigs, "id", num_hashes=3, band_size=2)


def test_asof_join_right_ties_are_deterministic(spark):
    """Two right rows sharing (key, ts): the carried payload must be
    the same on every run (max payload tuple), not shuffle order."""
    from stacktrend_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 100, "aaa"), (1, 100, "zzz")], "k long, rts long, payload string"
    )
    for _ in range(3):
        (row,) = asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_payload=["payload"],
        ).collect()
        assert row["asof_payload"] == "zzz"  # max tuple, deterministic


def test_merge_null_keys_match_null_safely(spark):
    """A NULL merge key matches its own row on the emulation exactly
    like the Delta backend's <=> ON condition: upsert replaces the
    NULL-key row instead of duplicating it."""
    from stacktrend_spark.operators.merge import merge_insert_only, merge_upsert

    t = spark.createDataFrame([(None, "old"), (1, "one")], "k long, v string")
    s = spark.createDataFrame([(None, "new")], "k long, v string")
    got = {(r["k"], r["v"]) for r in merge_upsert(t, s, ["k"]).collect()}
    assert got == {(None, "new"), (1, "one")}  # replaced, not duplicated
    got2 = {(r["k"], r["v"]) for r in merge_insert_only(t, s, ["k"]).collect()}
    assert got2 == {(None, "old"), (1, "one")}  # NULL key exists -> dropped


def test_operator_checkpoints_are_freed_with_their_results(spark):
    """The operators' local checkpoints are held only by their result
    frames: once those are dropped, Spark's ContextCleaner frees every
    block, so a long multi-query session does not accumulate them and
    no harness has to release anything. The graph loops also release
    what they persist for their own driver actions."""
    import gc
    import time

    from stacktrend_spark.operators.graph import (
        connected_components,
        connected_components_star,
        pagerank_scaled,
    )
    from stacktrend_spark.operators.ranking import (
        global_rank_scalable,
        global_running_max_scalable,
        global_running_sum_scalable,
    )

    def run_and_drop():
        df = spark.range(0, 200, 1, 2).select(F.col("id"), (F.col("id") % 7).alias("v"))
        order = [F.col("v"), F.col("id")]
        # a 40-node graph of 10-node chains, so the loops run rounds
        edges = spark.range(0, 40, 1, 2).filter(F.col("id") % 10 != 9).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        nodes = spark.range(0, 40, 1, 2).select(F.col("id").alias("node"))
        for _ in range(20):
            for out in (
                global_rank_scalable(df, order, num_partitions=2),
                global_running_sum_scalable(df, order, "v", num_partitions=2),
                global_running_max_scalable(df, order, "v", num_partitions=2),
            ):
                out.write.format("noop").mode("overwrite").save()
        for out in (
            pagerank_scaled(edges, src="id_a", dst="id_b"),
            connected_components(edges, nodes),
            connected_components(edges, nodes, driver_fastpath_max_edges=0),
            connected_components_star(edges, nodes),
        ):
            out.write.format("noop").mode("overwrite").save()

    def cached_rdds() -> int:
        # RDDInfo holds no reference to its RDD; getPersistentRDDs()
        # would hand py4j a map that keeps every RDD it lists alive
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    start = cached_rdds()
    run_and_drop()
    # py4j releases JVM objects from a background thread, so keep
    # collecting on both sides while polling
    deadline = time.time() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        if cached_rdds() <= start or time.time() > deadline:
            break
        time.sleep(0.5)
    assert cached_rdds() <= start


def test_cobasket_pairs_matches_pair_self_join(spark):
    """r13 optimization contract: cobasket_pairs (groupBy+collect_set
    + map-side combination explode) must be ROW-IDENTICAL — including
    per-basket multiplicity — to the classic pair self-join over
    distinct (basket, item) rows, and symmetrize must mirror exactly.
    Adversarial shapes: duplicate rows (collect_set must dedup like
    the self-join's pre-distinct), NULL items (never pair on either
    form), NULL basket ids (groupBy keeps the NULL group; the
    self-join's equi-join drops it — collect_set still pairs items
    within it, so the fixture keeps NULL baskets item-free to pin the
    shared contract), single-item and empty baskets, negative ids."""
    import random

    from stacktrend_spark.operators.graph import cobasket_pairs, symmetrize

    rng = random.Random(1307)
    rows = []
    for basket in range(40):
        size = rng.choice([0, 1, 1, 2, 3, 5, 8])
        items = [rng.randint(-5, 40) for _ in range(size)]
        items += rng.sample(items, k=min(2, len(items)))  # duplicates
        for it in items:
            rows.append((basket, it))
        if rng.random() < 0.3:
            rows.append((basket, None))  # NULL item
    df = spark.createDataFrame(rows, "basket long, item long")

    got = [
        (r["u"], r["v"])
        for r in cobasket_pairs(df, "basket", "item").collect()
    ]
    a, b = df.distinct().alias("a"), df.distinct().alias("b")
    want = [
        (r["u"], r["v"])
        for r in a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .select(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .collect()
    ]
    assert sorted(got) == sorted(want)
    assert all(u < v for (u, v) in got)

    sym = [
        (r["u"], r["v"])
        for r in symmetrize(cobasket_pairs(df, "basket", "item")).collect()
    ]
    assert sorted(sym) == sorted(want + [(v, u) for (u, v) in want])
