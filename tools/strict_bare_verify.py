"""Strict bare-session replica of the driver gate (committed r10;
formerly a per-round /tmp script — see the verify skill).

Runs the named queries on a BARE ``SparkSession.builder`` (no parity
confs — exactly how the grading driver builds its session; catches any
hidden dependence on UTC/Arrow/AQE session settings, which
``sources.tables.load_table`` must self-apply) and value-compares each
against its DuckDB oracle at the given sf dir.

Run it from OUTSIDE the repo (cwd independence is part of the check):

    cd /tmp && python <checkout>/tools/strict_bare_verify.py \
        /root/testdata/sf0.01 <query> [query ...]

Window gates pass the 50 names from queries() order (positions 1-50 =
the driver window; see plans/registry.py _PRIORITY).
"""

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.sources.tables import TABLES  # noqa: E402


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = (
                df[c].astype("float64")
                if df[c].isna().any()
                else df[c].astype("int64")
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = SparkSession.builder.master("local[32]").appName("bare").getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    specs = all_queries()
    npass = nfail = 0
    for name in names:
        spec = specs[name]
        sp = canon(spec.fn(spark, sf_dir).toPandas())
        if spec.oracle is None:
            print(f"weak  {name}: rows={len(sp)} (rows-only)")
            npass += 1
            continue
        du = canon(con.execute(spec.oracle).df())
        ok = sorted(sp.columns) == sorted(du.columns) and len(sp) == len(du)
        if ok:
            for c in sp.columns:
                a, b = sp[c], du[c]
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    a = a.astype("float64")
                    b = b.astype("float64")
                    # NaN masks must match POSITIONALLY (count-matching is
                    # not enough: (1,NaN),(2,5) vs (1,5),(2,NaN) has equal
                    # counts but differs); with masks equal, (a-b) is NaN
                    # only where both are NaN, so fillna(0) is exact.
                    if not a.isna().equals(b.isna()):
                        ok = False
                        break
                    if (a - b).abs().fillna(0).max() > 0:
                        ok = False
                        break
                elif not a.equals(b):
                    try:
                        if not a.astype("object").equals(b.astype("object")):
                            ok = False
                            break
                    except Exception:
                        ok = False
                        break
        if ok:
            npass += 1
            print(f"pass  {name}: rows={len(sp)}")
        else:
            nfail += 1
            print(f"FAIL  {name}: spark_rows={len(sp)} duck_rows={len(du)}")
    print(f"\n{npass} pass, {nfail} fail")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
