"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``stacktrend_spark`` package; this module
just adapts its query registry to the driver's calling convention.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from stacktrend_spark.plans.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary, SURVEY §2.4 A1)
    on /root/testdata/sf0.001; driver checks rows>0."""
    specs = all_queries()
    return specs["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (every query has one)."""
    return {name: spec.oracle for name, spec in all_queries().items()}
