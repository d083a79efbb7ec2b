from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.session import get_spark
from tools.verify_local import duck_con

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
    """``tools.parity_audit.build_frames`` at sf0.001: every registered
    query's frame — or the exception its build raised — and the frames
    each build checkpointed, built once per session for the
    whole-registry checks (output types, parity audit, the empty cache):
    several builds execute work eagerly (streaming availableNow runs,
    checkpoints, the pipelines)."""
    from tools.parity_audit import build_frames

    return build_frames(_live_spark(), SF_SMOKE)


@pytest.fixture(scope="session")
def duck():
    return duck_con(SF_SMOKE)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
