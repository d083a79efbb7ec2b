"""Scalable global ranking: two-phase range-partitioned row numbering.

A global ``row_number() OVER (ORDER BY ...)`` funnels every row through
one task (SURVEY §2.5 W1, silver_to_gold_analytics.py:225-236). Here the
order keys are range-shuffled and sorted within partitions; per-partition
counts (or sum / max partials) collect to the driver, and their
cumulative offsets broadcast-join back onto the local ranks. Results
equal the single-partition window when the order keys are a total order.

Invariant: the offsets and the local ranks read ONE materialization.
RangePartitioner samples its boundaries per execution, so each operator
eagerly checkpoints its tagged frame (serialized, to bound the heap)
before collecting: the lineage is cut, nothing can re-sample, and the
ContextCleaner frees the blocks once the result frame is dropped. On a
cluster, losing an executor that holds those blocks fails the query
loudly instead of returning wrong ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from stacktrend_spark.operators.checkpoint import local_checkpoint

#: monotonically_increasing_id packs the row index in the low 33 bits
_MID_OFFSET_MASK = (1 << 33) - 1


def release_pinned() -> int:
    """No-op kept for perfbench/run.py, which imports it and which
    changes only together with the benchmark: the operators no longer
    hold anything that needs releasing."""
    return 0


def _ranged(
    df: DataFrame, order_cols: list[Column], num_partitions: int | None
) -> DataFrame:
    if num_partitions:
        return df.repartitionByRange(num_partitions, *order_cols)
    return df.repartitionByRange(*order_cols)


def _tagged(
    df: DataFrame, order_cols: list[Column], num_partitions: int | None
) -> DataFrame:
    """Range-shuffle + in-partition sort + (pid, local-rank) tagging
    from the monotonic id layout ``(partition_id << 33) + row_index``.
    Per-partition rows must stay under 2^33."""
    return (
        _ranged(df, order_cols, num_partitions)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", 33).cast("int"))
        .withColumn("_lrank", (F.col("_mid").bitwiseAND(_MID_OFFSET_MASK) + 1))
        .drop("_mid")
    )


def global_rank_scalable(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global row_number by ``order_cols`` without a
    single-partition window. ``order_cols`` must define a total order
    (include a unique tiebreaker) for a deterministic result."""
    local = local_checkpoint(_tagged(df, order_cols, num_partitions))
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "_pid int, _offset long")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_offset") + F.col("_lrank")).cast("long"))
        .drop("_pid", "_lrank", "_offset")
    )


def global_running_sum_scalable(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    sum_col: str = "running_sum",
    rank_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` by ``order_cols``
    without a single-partition window — same two-phase shape as
    :func:`global_rank_scalable`; the driver step carries (count, sum)
    partials per partition, so passing ``rank_col`` ALSO emits the
    global row number from the same shuffle + checkpoint (one pass for
    rank + prefix sum — the vocab_coverage_curve shape; r10 review).
    ``order_cols`` must define a total order (include a unique
    tiebreaker); ``value_col`` must be INTEGER-typed (the
    exact-arithmetic contract every caller already follows — a float
    value_col raises rather than silently truncating, and an all-NULL
    partition contributes 0 instead of crashing the driver fold; r8
    review). The explicit ROWS frame avoids the default RANGE frame's
    tie-grouping. Unlike the rank operator, the prefix aggregation
    needs a real window, so this keeps the window form (the
    ``partitionBy(_pid)`` hash exchange included) with the checkpoint
    pinning one partitioning for both the partials and the join.
    """
    vtype = dict(df.dtypes).get(value_col)
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"global_running_sum_scalable needs an integer value_col "
            f"(exact offsets); got {value_col}: {vtype} — iscale the "
            "column first"
        )
    spec = W.partitionBy("_pid").orderBy(*order_cols)
    w = spec.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = (
        _ranged(df, order_cols, num_partitions)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lsum", F.sum(value_col).over(w))
    )
    if rank_col is not None:
        # same partitioning + ordering → Catalyst fuses this into the
        # SAME WindowExec as the prefix sum: rank + running sum from
        # one shuffle, one sort, one checkpoint (vocab_coverage_curve
        # shape; r10 review)
        local = local.withColumn("_lrank", F.row_number().over(spec))
    local = local_checkpoint(local)
    partials = sorted(
        (r["_pid"], r["_s"], r["_n"], r["_nn"])
        for r in local.groupBy("_pid")
        .agg(
            F.coalesce(F.sum(value_col), F.lit(0)).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
            F.count(value_col).alias("_nn"),  # non-null values only
        )
        .collect()
    )
    offsets, acc, acc_n, acc_nn = [], 0, 0, 0
    for pid, s, n, nn in partials:
        offsets.append((pid, acc, acc_n, acc_nn))
        acc += int(s)
        acc_n += n
        acc_nn += nn
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, "_pid int, _offset long, _coffset long, _prior_nn long"
    )
    # window-parity NULL semantics (r10 hypothesis finding): the
    # global prefix sum is NULL iff the global prefix holds ZERO
    # non-null values — a partition whose LOCAL prefix is all-NULL
    # must still carry the prior partitions' sum, so coalesce the
    # local sum and gate on the prior non-null count instead of
    # letting + propagate the local NULL
    out = local.join(F.broadcast(off_df), "_pid").withColumn(
        sum_col,
        F.when(
            F.col("_lsum").isNull() & (F.col("_prior_nn") == 0),
            F.lit(None).cast("long"),
        ).otherwise(
            (F.col("_offset") + F.coalesce(F.col("_lsum"), F.lit(0))).cast("long")
        ),
    )
    if rank_col is not None:
        out = out.withColumn(
            rank_col, (F.col("_coffset") + F.col("_lrank")).cast("long")
        ).drop("_lrank")
    return out.drop("_pid", "_lsum", "_offset", "_coffset", "_prior_nn")


def global_running_max_scalable(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    max_col: str = "running_max",
    inclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running MAX of ``value_col`` by ``order_cols``
    without a single-partition window — completes the two-phase family
    (rank / running sum / running max). Like the running sum (and
    unlike the rank), the prefix aggregate needs a real WindowExec, so
    this keeps the window-over-``spark_partition_id`` form with the
    checkpoint pinning one partitioning: range shuffle, per-partition
    local running max in the ``_pid`` window, driver fold of
    whole-prior-partition maxima broadcast back and combined with
    ``greatest`` (which skips NULLs, so the first row of the first
    partition stays NULL in exclusive mode exactly like the windowed
    form).

    ``inclusive=False`` gives the dominance-sweep frame
    ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` (skyline /
    Pareto frontier); ``inclusive=True`` the usual running max.
    ``order_cols`` must define a total order (unique tiebreaker) for a
    deterministic result; NULL values in ``value_col`` are skipped by
    MAX on both phases, matching the window semantics.
    """
    upper = 0 if inclusive else -1
    w = (
        W.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, upper)
    )
    local = local_checkpoint(
        _ranged(df, order_cols, num_partitions)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lmax", F.max(value_col).over(w))
    )
    partials = sorted(
        (r["_pid"], r["_m"])
        for r in local.groupBy("_pid").agg(F.max(value_col).alias("_m")).collect()
    )
    offsets = []
    run = None
    for pid, m in partials:
        offsets.append((pid, run))
        if m is not None and (run is None or m > run):
            run = m
    spark = df.sparkSession
    value_type = dict(df.dtypes)[value_col]
    off_df = spark.createDataFrame(offsets, f"_pid int, _offset {value_type}")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(max_col, F.greatest(F.col("_offset"), F.col("_lmax")))
        .drop("_pid", "_lmax", "_offset")
    )
