"""The oracle gate: does a query's Spark result match its DuckDB oracle?

Every Spark-vs-DuckDB check in the repo decides here. ``duck_con``
builds the oracle's views, ``diff`` compares two results in one
canonical form, ``check`` gates one query, and ``run`` gates a list of
them (this script, ``strict_bare_verify.py``). ``compare`` adapts
pandas frames onto the same diff.

Canonical form:
- columns are matched by name, and row order does not matter;
- floats compare exactly, and NaN equals NaN only in the same row;
- NULL stays distinct from NaN wherever the input keeps them apart
  (``collect()``/``fetchall()`` rows; pandas folds a float NULL into
  NaN, so ``compare`` treats them as one value);
- timestamps compare at µs precision, and a DATE equals its midnight
  TIMESTAMP;
- an integer equals a float of the same value.

``collect()`` renders timestamps in the Python process's local zone and
DuckDB's are UTC-naive, so run the gate in a process whose local zone
is UTC.

Usage: python tools/verify_local.py [data_dir] [query ...]
"""

from __future__ import annotations

import datetime
import glob
import math
import os
import sys
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402


def duck_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``*.parquet`` file in
    ``data_dir``, named after the file."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(path).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    return con


class _NaN:
    """NaN as a value that equals itself (``float('nan')`` does not)."""

    __slots__ = ()

    def __repr__(self) -> str:
        return "NaN"


_NAN = _NaN()


def _value(v):
    """One cell in canonical form: hashable, and equal across engines."""
    if isinstance(v, (float, np.floating)):
        return _NAN if math.isnan(v) else float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime(warn=False)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def _multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_value(r[i]) for i in order) for r in rows)


def diff(got, want) -> list[str]:
    """Why ``got`` does not match ``want``, each a ``(columns, rows)``
    pair; empty when they match in the canonical form."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols):
        return [f"columns differ: got={sorted(g_cols)} want={sorted(w_cols)}"]
    if len(g_rows) != len(w_rows):
        return [f"rowcount differs: got={len(g_rows)} want={len(w_rows)}"]
    g, w = _multiset(g_cols, g_rows), _multiset(w_cols, w_rows)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [
        f"{sum(extra.values())} of {len(g_rows)} rows differ over "
        f"{sorted(g_cols)}, e.g. got {next(iter(extra))} "
        f"where want has {next(iter(missing))}"
    ]


def _frame(pdf: pd.DataFrame):
    rows = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.columns), list(rows.itertuples(index=False, name=None))


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """``diff`` over two pandas frames (``toPandas()`` and DuckDB
    ``.df()``), Spark's as ``got``."""
    return diff(_frame(spark_df), _frame(duck_df))


def check(spark, data_dir: str, name: str, model=None, con=None) -> list[str]:
    """Gate one registered query at ``data_dir``: its Spark rows against
    its oracle's rows. Given ``model`` (rows as dicts from an
    independent model), each side is diffed against the model instead.
    ``con`` defaults to a fresh ``duck_con(data_dir)``."""
    spec = all_queries()[name]
    df = spec.fn(spark, data_dir)
    spark_rows = (df.columns, df.collect())
    if con is None:
        con = duck_con(data_dir)
    cur = con.execute(spec.oracle)
    oracle_rows = ([c[0] for c in cur.description], cur.fetchall())
    if model is None:
        return diff(spark_rows, oracle_rows)
    cols = sorted(model[0]) if model else sorted(df.columns)
    want = (cols, [tuple(r[c] for c in cols) for r in model])
    return [f"spark vs model: {p}" for p in diff(spark_rows, want)] + [
        f"oracle vs model: {p}" for p in diff(oracle_rows, want)
    ]


def run(spark, data_dir: str, names) -> int:
    """Gate each named query at ``data_dir``, one line per query; returns
    how many fail (a query that raises fails)."""
    con = duck_con(data_dir)
    failed = 0
    for name in names:
        t0 = time.time()
        try:
            problems = check(spark, data_dir, name, con=con)
        except Exception as e:  # noqa: BLE001 — a raise is a failure
            problems = [f"raised {type(e).__name__}: {e}"]
        if problems:
            failed += 1
            print(f"FAIL  {name}")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"pass  {name} ({time.time() - t0:.1f}s)")
    con.close()
    print(f"\n{len(names) - failed} pass, {failed} fail")
    return failed


def main() -> int:
    data_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or sorted(all_queries())
    # the driver's DuckDB build may differ; record what we verified
    # against (PARITY.md "Gate alignment")
    print(f"duckdb {duckdb.__version__}; engine-dependent-math audit: "
          f"see tools/parity_audit.py", file=sys.stderr)
    return 1 if run(get_spark("verify_local"), data_dir, names) else 0


if __name__ == "__main__":
    sys.exit(main())
