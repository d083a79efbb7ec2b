"""Static ulp-risk audit of every hashed surface in the query registry.

Round 1's only driver hash failure (gold_tech_metrics) was a 1-ulp
libm LOG10 divergence between the driver's DuckDB build and the JVM —
invisible to any local replica, because the local DuckDB's libm agreed
with the JVM while the driver's did not. The only local gate that
*implies* driver-pass is therefore structural: no hashed value may pass
through an operation whose result is not guaranteed bit-identical
across conforming engines.

Guaranteed-deterministic (IEEE 754 correctly rounded, identical bits on
identical inputs): ``+ - * /``, ``SQRT``, ``FLOOR``/``CEIL``/``ABS``,
comparisons, casts, integer ops, string ops.

Engine-dependent (banned on hashed surfaces):
- libm transcendentals: LOG/LOG10/LOG2/LN/EXP/POWER/POW/trig — no
  correct-rounding guarantee; differ between libm builds;
- double-streaming statistical aggregates: STDDEV*/VAR*/CORR/COVAR*/
  REGR_*/SKEWNESS/KURTOSIS and AVG-over-double — partial-aggregation
  order differs between engines, so the low bits are engine-dependent;
- RANDOM/RAND — obviously.

Replacements live in ``stacktrend_spark/functions/rounding.py``
(``xlog10``, ``dstd``, ``comoments``, ``dsum``/``davg``) and the policy
per affected query is documented in ``PARITY.md``.

Usage: ``python tools/parity_audit.py`` — exits 1 on any violation.
Also imported by ``tests/test_parity_audit.py`` so the ban is enforced
by the suite.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# libm transcendentals + RNG: never allowed on a hashed surface.
_BANNED = re.compile(
    r"\b(log10|log2|log|ln|exp|power|pow|sin|cos|tan|asin|acos|atan|atan2"
    r"|sinh|cosh|tanh|cbrt|expm1|log1p|random|rand|randn)\s*\(",
    re.IGNORECASE,
)

# double-streaming aggregates whose summation order is engine-dependent.
_NONDET_AGG = re.compile(
    r"\b(stddev_samp|stddev_pop|stddev|var_samp|var_pop|variance|corr"
    r"|covar_samp|covar_pop|regr_slope|regr_intercept|regr_r2|regr_avgx"
    r"|regr_avgy|regr_sxx|regr_syy|regr_sxy|skewness|kurtosis)\s*\(",
    re.IGNORECASE,
)

#: queries intentionally allowed to use a flagged construct, with the
#: proof of why it cannot ulp-flip the hashed value. Keep this SHORT.
ALLOWLIST: dict[str, str] = {}

# Round-2 driver-red class: a raw-SQL float literal next to an integer
# expression silently types the result DECIMAL in Spark (e.g.
# `SUM(bigint) / 100.0` → decimal(27,6)) while DuckDB emits DOUBLE —
# the value-string hash then sees `:120000` vs `:12`. Two gates:
# output-schema (no DecimalType may reach a hashed output) and
# plan-level (no fractional-scale decimal arithmetic anywhere in the
# plan, where Spark's scale-bounded decimal rounding diverges from the
# oracle's correctly-rounded IEEE double ops). Scale-0 decimals are
# exact integers — the deliberate dstd/comoments decimal(38,0) wide
# sums — and stay allowed.
_PLAN_DECIMAL = re.compile(r"decimal\((\d+),\s*(\d+)\)", re.IGNORECASE)


def audit_plan_decimals(name: str, plan_text: str) -> list[str]:
    if name in ALLOWLIST:
        return []
    flagged = sorted(
        {
            f"decimal({m.group(1)},{m.group(2)})"
            for m in _PLAN_DECIMAL.finditer(plan_text)
            if m.group(2) != "0"
        }
    )
    return [
        f"{name}: Spark plan carries fractional-scale {d} arithmetic — "
        "Spark's decimal rounding diverges from the oracle's IEEE double ops"
        for d in flagged
    ]


def audit_output_schema(name: str, schema) -> list[str]:
    """No hashed output column may be DECIMAL-typed: the two engines
    stringify decimals differently (trailing zeros / scale), so even
    value-equal results hash apart. Exact integer work belongs in
    BIGINT; exact fractional work in BIGINT micro-units or a final
    correctly-rounded DOUBLE cast."""
    if name in ALLOWLIST:
        return []
    return [
        f"{name}: output column `{f.name}` is {f.dataType.simpleString()} — "
        "decimal-typed hashed columns diverge from the DOUBLE-typed oracle"
        for f in schema.fields
        if f.dataType.typeName() == "decimal"
    ]


def audit_oracle(name: str, oracle: str) -> list[str]:
    if name in ALLOWLIST:
        return []
    problems = []
    for m in _BANNED.finditer(oracle):
        problems.append(f"{name}: oracle uses libm `{m.group(1)}(` — engine-dependent")
    for m in _NONDET_AGG.finditer(oracle):
        problems.append(
            f"{name}: oracle uses `{m.group(1)}(` — summation order is engine-dependent"
        )
    return problems


# Round-3 driver-red class (the dual of the round-2 one): DuckDB widens
# SUM/AVG over integer inputs to HUGEINT / DECIMAL(38,0) while Spark
# stays BIGINT, so the ORACLE-side value representation hash-diverges
# even when every number is equal (stream_static_enrichment +
# stream_upsert_user_totals, r3). The robust gate is not a regex over
# the SQL text but the oracle's own result types: DESCRIBE the oracle
# against DuckDB and require every column to land in the same type
# *kind* (int/float/str/ts/date/bool) as the Spark output — and never
# HUGEINT or DECIMAL at all.

_DUCK_KINDS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "FLOAT": "float", "REAL": "float", "DOUBLE": "float",
    # DATE and TIMESTAMP share one kind: the driver canonicalizes both
    # to datetime64[us] before hashing (gold_trend_daily is green with a
    # Spark ts vs an oracle DATE), so only cross-family drift matters.
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "temporal",
    "TIMESTAMP": "temporal", "TIMESTAMP WITH TIME ZONE": "temporal",
    "TIMESTAMP_NS": "temporal", "TIMESTAMP_MS": "temporal",
    "TIMESTAMP_S": "temporal",
}

_SPARK_KINDS = {
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "date": "temporal",
    "timestamp": "temporal", "timestamp_ntz": "temporal",
}


def duck_describe(con, oracle: str) -> list[tuple[str, str]]:
    """Column (name, type) of an oracle per DuckDB's own analyzer —
    DESCRIBE plans without executing, so this is cheap."""
    rows = con.execute("DESCRIBE " + oracle.rstrip().rstrip(";")).fetchall()
    return [(r[0], r[1]) for r in rows]


def audit_oracle_types(name: str, duck_cols, spark_schema) -> list[str]:
    if name in ALLOWLIST:
        return []
    problems = []
    spark_kinds = {
        f.name: _SPARK_KINDS.get(f.dataType.typeName()) for f in spark_schema.fields
    }
    for col, dtype in duck_cols:
        d = dtype.upper()
        if d.startswith("DECIMAL") or "HUGEINT" in d:
            problems.append(
                f"{name}: oracle column `{col}` is {dtype} — DuckDB widens "
                "integer SUM/AVG to HUGEINT/DECIMAL, which hash-diverges from "
                "Spark BIGINT; wrap the aggregate in CAST(... AS BIGINT)"
            )
            continue
        sk, dk = spark_kinds.get(col), _DUCK_KINDS.get(d)
        if sk is not None and dk is not None and sk != dk:
            problems.append(
                f"{name}: oracle column `{col}` is {dtype} ({dk}) but Spark "
                f"emits {sk} — the hashed value strings diverge"
            )
    return problems


def audit_plan(name: str, plan_text: str) -> list[str]:
    if name in ALLOWLIST:
        return []
    problems = []
    for m in _BANNED.finditer(plan_text):
        problems.append(f"{name}: Spark plan uses libm `{m.group(1).upper()}(`")
    for m in _NONDET_AGG.finditer(plan_text):
        problems.append(f"{name}: Spark plan uses `{m.group(1)}(` (order-dependent)")
    return problems


@contextlib.contextmanager
def checkpoint_inputs():
    """Every frame handed to ``localCheckpoint`` inside the block. A
    checkpointed frame's own plan shows only a ``LogicalRDD``; what ran
    before the cut lives in these frames' plans. (Patching
    ``pyspark.sql.DataFrame`` captures nothing in PySpark 4.)"""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    original = DataFrame.localCheckpoint

    def capture(self, *args, **kwargs):
        frames.append(self)
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = capture
    try:
        yield frames
    finally:
        DataFrame.localCheckpoint = original


def build_frames(spark, sf_dir: str) -> tuple[dict, dict[str, list]]:
    """Every registered query's frame at ``sf_dir`` (or the exception its
    build raised) and the frames each build checkpointed."""
    from stacktrend_spark.plans.registry import all_queries

    frames: dict[str, object] = {}
    below: dict[str, list] = {}
    for name, spec in all_queries().items():
        with checkpoint_inputs() as below[name]:
            try:
                frames[name] = spec.fn(spark, sf_dir)
            except Exception as e:  # noqa: BLE001 — each sweep reports it
                frames[name] = e
    return frames, below


def run_audit(sf_dir: str = "/root/testdata/sf0.001", frames=None) -> list[str]:
    """Audit every registered oracle AND every query's analyzed plan,
    including the plans its build checkpointed.

    ``frames`` is :func:`build_frames`' result at ``sf_dir``; without it
    every frame is built here.
    """
    from stacktrend_spark.plans.registry import all_queries
    from stacktrend_spark.session import get_spark
    from tools.verify_local import duck_con

    specs = all_queries()
    problems: list[str] = []
    for name, spec in specs.items():
        problems.extend(audit_oracle(name, spec.oracle))

    con = duck_con(sf_dir)
    frames, below = frames or build_frames(get_spark("parity_audit"), sf_dir)
    for name, spec in specs.items():
        if name in ALLOWLIST:
            continue
        try:
            df = frames[name]
            if isinstance(df, Exception):
                raise df
            plan = "\n".join(
                f._jdf.queryExecution().analyzed().toString() for f in [df, *below[name]]
            )
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: could not analyze plan: {type(e).__name__}: {e}")
            continue
        problems.extend(audit_plan(name, plan))
        problems.extend(audit_plan_decimals(name, plan))
        problems.extend(audit_output_schema(name, df.schema))
        try:
            duck_cols = duck_describe(con, spec.oracle)
        except Exception as e:  # noqa: BLE001
            problems.append(
                f"{name}: oracle failed DuckDB DESCRIBE: "
                f"{type(e).__name__}: {e}"
            )
            continue
        problems.extend(audit_oracle_types(name, duck_cols, df.schema))
    return problems


def main() -> int:
    problems = run_audit()
    for p in problems:
        print(f"ULP-RISK  {p}")
    if not problems:
        print("parity audit clean: no engine-dependent math on any hashed surface")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
