"""Structural parity gate: no engine-dependent math on hashed surfaces.

Round 1's driver hash failure was a libm log10 ulp divergence that no
local value-compare could reproduce (it lived in the DRIVER's DuckDB
build). The faithful local gate is structural — ban the constructs
whose bits are engine-dependent. Policy and proofs: PARITY.md.
"""

from __future__ import annotations

from tools.parity_audit import audit_oracle, audit_plan, run_audit


def test_no_engine_dependent_math_on_hashed_surfaces(registry_frames, sf_dir):
    problems = run_audit(sf_dir, frames=registry_frames)
    assert problems == [], "\n".join(problems)


def test_registry_build_leaves_no_cached_plan(registry_frames, spark):
    """No plan caches a result that an equal plan of a later query could
    read: every in-plan materialization is a local checkpoint, held only
    by the frames of the query that made it."""
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_audit_catches_libm_in_oracle():
    assert audit_oracle("q", "SELECT LOG10(x) FROM t")
    assert audit_oracle("q", "SELECT POWER(x, 2) FROM t")
    assert audit_oracle("q", "SELECT STDDEV_SAMP(x) FROM t")
    # corr( must flag, but a column NAMED corr_x must not
    assert audit_oracle("q", "SELECT CORR(x, y) FROM t")
    assert not audit_oracle("q", "SELECT corr_x FROM t")
    # sqrt / floor / arithmetic are deterministic → allowed
    assert not audit_oracle("q", "SELECT SQRT(x) + FLOOR(y) / 2.0 FROM t")


def test_audit_catches_libm_in_plan():
    assert audit_plan("q", "Project [LOG10(cast(x as double)) AS s]")
    assert not audit_plan("q", "Project [SQRT(cast(x as double)) AS s]")
    # substrings of identifiers must not trip the word boundary
    assert not audit_plan("q", "Project [last_login AS l, dialog AS d]")


def test_audit_catches_decimal_hashed_surfaces(spark):
    """Seeded round-2 regression: `SUM(bigint) / 100.0` in raw Spark SQL
    types the result decimal(27,6); both the plan gate and the schema
    gate must flag it, while the deliberate decimal(38,0) exact-integer
    wide sums stay allowed."""
    from tools.parity_audit import audit_output_schema, audit_plan_decimals

    df = spark.range(5).selectExpr("sum(id) / 100.0 AS sum_total")
    # the analyzed plan prints only the scale-0 input casts; the
    # fractional-scale promotion shows up in the OUTPUT schema — that
    # gate is the one that catches the real regression
    assert audit_output_schema("q", df.schema)
    # the plan gate catches fractional-scale decimals wherever a plan
    # does print them
    assert audit_plan_decimals("q", "Project [cast(x as decimal(27,6)) AS v]")
    assert not audit_plan_decimals("q", "Project [cast(x as decimal(38,0)) AS v]")

    ok = spark.range(5).selectExpr(
        "cast(sum(cast(id as decimal(38,0))) as double) / 100.0 AS sum_total"
    )
    ok_plan = ok._jdf.queryExecution().analyzed().toString()
    assert not audit_plan_decimals("q", ok_plan)
    assert not audit_output_schema("q", ok.schema)


def test_audit_catches_bare_integer_sum_in_oracle(spark):
    """Seeded round-3 regression: DuckDB types SUM(BIGINT) as HUGEINT
    (and SUM over a casted int as DECIMAL(38,0)) while Spark emits
    BIGINT — the oracle-side dual of the round-2 decimal bug. The
    type-kind gate must flag the bare form and pass the CAST-wrapped
    form, and must also catch int-vs-float kind mismatches."""
    import duckdb

    from tools.parity_audit import audit_oracle_types, duck_describe

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1::BIGINT AS k, 2.5::DOUBLE AS v")
    schema = (
        spark.range(1)
        .selectExpr("id AS k", "CAST(id AS LONG) AS sum_cents")
        .schema
    )

    bare = duck_describe(con, "SELECT k, SUM(k) AS sum_cents FROM t GROUP BY 1")
    assert audit_oracle_types("q", bare, schema)

    wrapped = duck_describe(
        con, "SELECT k, CAST(SUM(k) AS BIGINT) AS sum_cents FROM t GROUP BY 1;"
    )
    assert not audit_oracle_types("q", wrapped, schema)

    # kind mismatch: oracle emits DOUBLE where Spark emits BIGINT
    mismatch = duck_describe(con, "SELECT k, v AS sum_cents FROM t")
    assert audit_oracle_types("q", mismatch, schema)
