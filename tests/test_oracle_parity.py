"""Every registered query must match its DuckDB oracle at sf0.001.

A fast local replica of the driver's t2 gate (which runs at sf0.01):
each case goes through ``tools.verify_local.check``, the one oracle
gate, which ``tools/verify_local.py`` runs at any sf.
"""

from __future__ import annotations

import pytest

from stacktrend_spark.plans.registry import all_queries
from tools.verify_local import check

# heavy tier: excluded from the core gate (see pytest.ini)
pytestmark = pytest.mark.slow


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    assert check(spark, sf_dir, name, con=duck) == []


def test_priority_window_fully_registered():
    """A typo'd or not-yet-registered _PRIORITY name silently costs a
    driver window slot (all_queries skips it) — catch it here instead."""
    from stacktrend_spark.plans.registry import priority_gaps

    assert priority_gaps() == []


def test_every_query_registers_oracle_text():
    from stacktrend_spark.plans.registry import register

    with pytest.raises(TypeError):
        register("no_oracle", None)
