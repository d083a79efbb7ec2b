from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.session import get_spark
from stacktrend_spark.sources.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"

# One Spark JVM serves the whole run (session semantics), but the
# fixture is function-scoped with a liveness check: when the JVM dies
# mid-suite (observed r5: a dead py4j gateway turned into 17
# ConnectionRefused cascade failures), the NEXT test rebuilds a fresh
# session instead of inheriting the corpse — a killed JVM costs one
# test, not seventeen.
_HOLDER: dict[str, object] = {"spark": None}


def _alive(s) -> bool:
    try:
        # a py4j round-trip: throws on a dead gateway, False on a
        # stopped-but-reachable context
        return not s.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _reset_gateway() -> None:
    """Clear pyspark's cached singletons so getOrCreate launches a
    brand-new JVM instead of handing back the dead one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None


def _live_spark():
    s = _HOLDER["spark"]
    if s is None or not _alive(s):
        if s is not None:
            try:
                s.stop()
            except Exception:
                pass
            _reset_gateway()
        s = get_spark("tests", cpus=8)
        _HOLDER["spark"] = s
    return s


@pytest.fixture()
def spark():
    return _live_spark()


@pytest.fixture(scope="module")
def spark_module():
    """Same live session, module-scoped — for module-scoped fixtures
    that cache expensive pipeline outputs (a function-scoped fixture
    can't serve them: ScopeMismatch). Liveness is re-checked once per
    module, so a JVM death costs at most the remainder of one module."""
    return _live_spark()


@pytest.fixture(scope="session")
def registry_frames():
    """Every registered query's frame at sf0.001 — or the exception its
    build raised — built once per session for the whole-registry sweeps
    (output types, parity audit): several builds execute work eagerly
    (streaming availableNow runs, ranking checkpoints, the pipelines)."""
    from stacktrend_spark.plans.registry import all_queries

    spark = _live_spark()
    frames: dict[str, object] = {}
    for name, spec in all_queries().items():
        try:
            frames[name] = spec.fn(spark, SF_SMOKE)
        except Exception as e:  # noqa: BLE001 — each sweep reports it
            frames[name] = e
    return frames


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
