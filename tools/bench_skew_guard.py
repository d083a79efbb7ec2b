"""Hot-bucket skew-guard stress pin (r10 verdict task 6).

SCALE.md claims the triangle-grid hot-bucket guard in
``cosine_near_dup_pairs`` bounds the SemDeDup worst case — one viral
bucket serializing a stage — but until r11 no committed artifact
showed a deliberately skewed bucket surviving. This tool builds the
adversarial fixture in-memory (no testdata writes): N vectors where
ONE bucket holds ``hot_fraction`` of all rows (default 20%) and the
rest spread uniformly over many cold buckets, then measures the
grouped-Arrow near-dup plan guarded vs unguarded on identical data
and asserts the results are row-identical.

The expected shape: unguarded, the hot bucket is a single
applyInPandas task scoring hot² /2 pair candidates while 31 cores sit
idle; guarded (g = ceil(hot/max_bucket_rows)), the same work fans out
over g·(g+1)/2 independent triangle-grid cells. Wall-clock converges
to ~max(cell)·ceil(cells/cores) — bounded, and shrinking as the
cluster widens, which is the property that matters at 100 TB.

Both variants are timed with bench.py's ``measure()`` (noop sink, warm
median); the row-identity check runs as an untimed count.

Usage: python tools/bench_skew_guard.py [n_rows] [hot_fraction]
Prints one JSON line; paste the numbers into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure  # noqa: E402
from stacktrend_spark.operators.checkpoint import local_checkpoint  # noqa: E402

DIM = 16
MAX_BUCKET_ROWS = 1000
THRESHOLD = 0.999
N_COLD_BUCKETS = 64


def build_fixture(spark, n_rows: int, hot_fraction: float):
    """Deterministic skewed embedding table: bucket 0 holds
    hot_fraction of rows; unit-ish vectors from cheap integer LCG
    expressions so generation is pure Catalyst (no Python)."""
    from pyspark.sql import functions as F

    hot_n = int(n_rows * hot_fraction)
    df = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < hot_n, F.lit(0))
        .otherwise((F.pmod(F.col("id"), N_COLD_BUCKETS) + 1).cast("int"))
        .alias("label"),
        F.array(
            *[
                (
                    (F.pmod(F.col("id") * (1103515245 + j) + 12345 + j, 2048)
                     - 1024) / 1024.0
                ).cast("double")
                for j in range(DIM)
            ]
        ).alias("embedding"),
    )
    return local_checkpoint(df.repartition(32))


def near_dup_pairs(df, max_bucket_rows):
    from stacktrend_spark.operators.similarity import cosine_near_dup_pairs

    return cosine_near_dup_pairs(
        df,
        THRESHOLD,
        id_col="vec_id",
        vec_col="embedding",
        bucket_col="label",
        dim=DIM,
        max_bucket_rows=max_bucket_rows,
    )


def main() -> None:
    from stacktrend_spark.session import get_spark

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    hot_fraction = float(sys.argv[2]) if len(sys.argv) > 2 else 0.20
    spark = get_spark("bench_skew_guard")
    df = build_fixture(spark, n_rows, hot_fraction)
    guarded = measure(
        spark, "skew_guard_guarded", lambda *_: near_dup_pairs(df, MAX_BUCKET_ROWS), None
    )
    unguarded = measure(spark, "skew_guard_unguarded", lambda *_: near_dup_pairs(df, None), None)
    guarded_sec, unguarded_sec = guarded["warm"], unguarded["warm"]
    guarded_n = near_dup_pairs(df, MAX_BUCKET_ROWS).count()
    unguarded_n = near_dup_pairs(df, None).count()
    assert guarded_n == unguarded_n, (guarded_n, unguarded_n)
    print(
        json.dumps(
            {
                "metric": "skew_guard_speedup",
                "value": round(unguarded_sec / guarded_sec, 2),
                "unguarded_sec": unguarded_sec,
                "guarded_sec": guarded_sec,
                "pairs_found": guarded_n,
                "n_rows": n_rows,
                "hot_fraction": hot_fraction,
                "hot_rows": int(n_rows * hot_fraction),
                "max_bucket_rows": MAX_BUCKET_ROWS,
                "dim": DIM,
                "threshold": THRESHOLD,
            }
        )
    )


if __name__ == "__main__":
    main()
