"""The session's host-derived defaults."""

from __future__ import annotations

import pytest

from stacktrend_spark.session import default_driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "physical, heap",
    [(15 * GIB, "7680m"), (64 * GIB, "32768m"), (512 * GIB, "32768m"), (2 * GIB, "1024m")],
)
def test_driver_memory_is_half_the_host_capped_at_32g(physical, heap):
    assert default_driver_memory(physical) == heap
