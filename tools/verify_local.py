"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at the given
sf dir, compares row count, column names, and values (exact for
non-floats, reporting max abs diff for floats so we can see whether our
rounding discipline actually yields bit-identical values).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402
from stacktrend_spark.sources.tables import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"rowcount differs: spark={len(spark_df)} duck={len(duck_df)}"]
    a, b = canon(spark_df), canon(duck_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = av.astype("float64")
            bv = bv.astype("float64")
            # NaN masks must match POSITIONALLY (count-matching falsely
            # passes (1,NaN),(2,5) vs (1,5),(2,NaN) because pandas .max()
            # skips the NaN diffs); with equal masks, (av-bv) is NaN only
            # where both are NaN, so fillna(0) makes the check exact.
            if not av.isna().equals(bv.isna()):
                problems.append(
                    f"col {c}: NaN positions differ "
                    f"(spark {int(av.isna().sum())} vs duck {int(bv.isna().sum())} NaNs)"
                )
                continue
            diff = (av - bv).abs().fillna(0)
            if diff.max() > 0:
                problems.append(f"col {c}: max abs diff {diff.max():.3e} ({int((diff > 0).sum())} rows differ)")
        else:
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                i = int(np.argmax(neq.values))
                problems.append(f"col {c}: {int(neq.sum())} rows differ, e.g. {av.iloc[i]!r} vs {bv.iloc[i]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    specs = all_queries()
    spark = get_spark("verify_local")
    con = duck_con(sf_dir)
    # the driver's DuckDB build may differ; record what we verified
    # against (PARITY.md "Gate alignment")
    print(f"duckdb {duckdb.__version__}; engine-dependent-math audit: "
          f"see tools/parity_audit.py", file=sys.stderr)
    n_pass = n_fail = n_weak = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if spec.oracle is None:
            print(f"weak  {name}: rows={len(sdf)} ({t_spark:.1f}s, no oracle)")
            n_weak += 1
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}: rows={len(sdf)}")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={len(sdf)} ({t_spark:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
