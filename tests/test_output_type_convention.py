"""Permanent output-type-convention sweep (r12 verdict task 2).

Every registered query's OUTPUT schema must stay inside the emit set
the driver gate's value hash provably handles. The hazard this pins
(found r12 by a one-off hand-run sweep, now permanent): a bare
(no-Arrow) driver session materializes a DateType column via
``toPandas()`` as object-dtype ``datetime.date`` values, which a
datetime64 canonicalization does NOT coerce — ``zonemap_skipping_audit``'s
raw-DATE month column passed the Arrow-enabled local gate and FAILED
the bare-session one, one rotation away from becoming the project's
first standing driver failure. TimestampType is safe (a bare session
yields datetime objects pandas infers as datetime64[ns] — 11
driver-green timestamp outputs prove it); DateType is not: emit dates
as epoch-µs longs per the repo convention.

The repo's one oracle gate (``tools/verify_local.py``) equates a DATE
with its midnight TIMESTAMP, so it cannot see this hazard; this sweep
is what keeps DATE off every output.

The proven-safe emit set below is exactly the type population of the
full 389-query schema sweep (r13): long/int + double + string +
boolean + timestamp. Growing it requires proving the new type
round-trips the BARE-session ``toPandas()`` path first (the strict
bare gate on a query emitting it at both SFs), then widening here.

Slow tier: schema resolution is lazy for batch plans (analysis only)
but the streaming mirrors execute an availableNow run to produce
their batch DataFrame; the frames come from the session's shared
``registry_frames`` build (tests/conftest.py), which the parity audit
reuses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

pytestmark = pytest.mark.slow

#: exactly the types a bare-session ``toPandas()`` hands over intact:
#: integers, doubles, strings, booleans, timestamps (datetime64[ns]).
SAFE_TYPES = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.TimestampType,
)


def test_all_query_outputs_in_safe_emit_set(registry_frames):
    bad: list[str] = []
    for name, df in registry_frames[0].items():
        if isinstance(df, Exception):
            raise df
        for field in df.schema.fields:
            if not isinstance(field.dataType, SAFE_TYPES):
                bad.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}"
                )
    assert not bad, (
        "output columns outside the proven-safe emit set (would have "
        "caught zonemap_skipping_audit's r12 DateType month column): "
        f"{bad}"
    )


def test_date_type_is_rejected():
    """The sweep must actually catch the r12 hazard class: DateType
    (bare-session object-dtype dates) is NOT in the safe set, nor are
    the other hash-unsafe carriers."""
    for unsafe in (
        T.DateType(),
        T.TimestampNTZType(),
        T.DecimalType(38, 0),
        T.BinaryType(),
        T.ArrayType(T.LongType()),
    ):
        assert not isinstance(unsafe, SAFE_TYPES)
