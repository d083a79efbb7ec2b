"""Cross-engine deterministic rounding.

The driver hash-compares Spark results against DuckDB results, but
Spark's ``round`` is HALF_UP while DuckDB's is HALF_EVEN — a computed
double landing exactly on a half boundary hashes differently. Both
sides therefore round through the same IEEE-exact formula
``floor(x * 10^n + 0.5) / 10^n``: multiply, add, floor and divide are
all bit-identical double ops in both engines, so the rounded values
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fround(col: Column | str, n: int) -> Column:
    """Spark-side deterministic round-half-up-to-n-decimals."""
    c = F.col(col) if isinstance(col, str) else col
    k = float(10**n)
    return F.floor(c * F.lit(k) + F.lit(0.5)) / F.lit(k)


def sql_round(expr: str, n: int) -> str:
    """Same formula as ``fround`` rendered as ANSI SQL for the oracle."""
    k = float(10**n)
    return f"FLOOR(({expr}) * {k} + 0.5) / {k}"


# ---------------------------------------------------------------------------
# Exact decimal-grained aggregation.
#
# The testdata's numeric columns are d-decimal-grained (prices/balances/
# values: 2 decimals; quantity: integers). Double summation order differs
# between Spark (partial aggs per partition) and DuckDB, so raw double
# sums can differ by an ulp — and because the data is decimal-grained the
# true sums sit EXACTLY on rounding boundaries, where an ulp flips the
# rounded value. Summing scale-10^d integers instead is exact and
# order-independent, so both engines produce bit-identical doubles.
#
# Overflow headroom: int64 holds 9.2e18; a 2-decimal sum overflows only
# past ~9e16 currency units — far beyond any oracle-checked scale. (At
# true 100 TB scale you'd use DecimalType throughout; these helpers are
# parity machinery for the correctness gate, not the engine's numeric
# policy.)
# ---------------------------------------------------------------------------


def iscale(col: Column | str, d: int = 2) -> Column:
    """Spark: decimal-grained double → exact scaled int64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**d)) + F.lit(0.5)).cast("long")


def sql_iscale(expr: str, d: int = 2) -> str:
    return f"CAST(FLOOR(({expr}) * {float(10 ** d)} + 0.5) AS BIGINT)"


def dsum(col: Column | str, d: int = 2) -> Column:
    """Spark: exact sum of a d-decimal column, returned as double."""
    return F.sum(iscale(col, d)) / F.lit(float(10**d))


def sql_dsum(expr: str, d: int = 2) -> str:
    return f"CAST(SUM({sql_iscale(expr, d)}) AS DOUBLE) / {float(10 ** d)}"


def davg(col: Column | str, d: int = 2, n: int = 6) -> Column:
    """Spark: exact-numerator average of a d-decimal column, rounded to
    n decimals via the shared deterministic formula."""
    c = F.col(col) if isinstance(col, str) else col
    return fround(dsum(c, d) / F.count(c), n)


def sql_davg(expr: str, d: int = 2, n: int = 6) -> str:
    return sql_round(f"{sql_dsum(expr, d)} / COUNT({expr})", n)


# ---------------------------------------------------------------------------
# Transcendental-free hashed surfaces (round-2 parity hardening).
#
# IEEE 754 requires +, -, *, / and sqrt to be CORRECTLY ROUNDED, so any
# expression built from those ops over bit-identical inputs is
# bit-identical across engines. libm transcendentals (log, log10, exp,
# pow, trig) carry NO such guarantee — round 1's only driver hash
# failure (gold_tech_metrics) was a 1-ulp log10 divergence between the
# driver's DuckDB build and the JVM that flipped a round(·, 6).
#
# ``xlog10`` therefore replaces libm log10 on every hashed surface with
# a decade-interpolated exact form: for a positive BIGINT x with d
# decimal digits,
#
#     xlog10(x) = (d - 1) + (x / 10^(d-1) - 1) / 9
#
# d comes from LENGTH(CAST(x AS VARCHAR)) (exact), 10^(d-1) is an exact
# double literal (powers of 10 through 1e22 are exactly representable),
# and the remaining ops are correctly-rounded IEEE arithmetic — so both
# engines produce the same bits. The function is monotonic, equals
# log10 exactly at powers of 10, and linearly interpolates within each
# decade (it undershoots true log10 by at most 0.27, at x/10^(d-1) =
# 9/ln 10 ≈ 3.9) — the right shape for
# log-scaled momentum scores without the libm lottery.
# ---------------------------------------------------------------------------

_MAX_DIGITS = 19  # int64 has at most 19 decimal digits


def xlog10(col: Column) -> Column:
    """Deterministic decade-interpolated log10 of a POSITIVE bigint column.

    Callers clamp with ``F.greatest(x, F.lit(1))`` first.
    """
    d = F.length(col.cast("string"))
    p: Column | None = None
    for k in range(1, _MAX_DIGITS + 1):
        lit = F.lit(float(10 ** (k - 1)))
        p = F.when(d == k, lit) if p is None else p.when(d == k, lit)
    return (d.cast("double") - F.lit(1.0)) + (
        (col.cast("double") / p - F.lit(1.0)) / F.lit(9.0)
    )


def sql_xlog10(expr: str) -> str:
    """Same decade-interpolated log10 rendered as SQL for the oracle."""
    d = f"LENGTH(CAST({expr} AS VARCHAR))"
    cases = " ".join(
        f"WHEN {k} THEN {float(10 ** (k - 1))!r}" for k in range(1, _MAX_DIGITS + 1)
    )
    p = f"CASE {d} {cases} END"
    return (
        f"((CAST({d} AS DOUBLE) - 1.0) + "
        f"((CAST({expr} AS DOUBLE) / ({p}) - 1.0) / 9.0))"
    )


def sql_xlog10_micro(expr: str) -> str:
    """xlog10(GREATEST(expr, 1)) in integer µ-units, as SQL for the
    oracle: (d − 1)·10⁶ + round((x − p)·10⁶ / 9p) with p = 10^(d−1)
    (the Spark SQL form is pipelines/gold.xlog10_micro)."""
    v = f"GREATEST({expr}, 1)"
    d = f"LENGTH(CAST({v} AS VARCHAR))"
    p = f"CAST(RPAD('1', CAST({d} AS INTEGER), '0') AS BIGINT)"
    return f"(({d} - 1) * 1000000 + (2 * ({v} - {p}) * 1000000 + 9 * {p}) // (18 * {p}))"


def sql_avg_micro(expr: str) -> str:
    """Round-half-up µ-unit average of exact µ-rounded values, as SQL
    for the oracle (the Spark SQL form is pipelines/gold.avg_micro)."""
    return (
        f"(2 * SUM({sql_iscale(expr, 6)}) + COUNT({expr}))"
        f" // NULLIF(2 * COUNT({expr}), 0)"
    )


# ---------------------------------------------------------------------------
# Deterministic dispersion: STDDEV_SAMP's double summation order differs
# between Spark's partial aggregation and DuckDB's scan order, so the
# value fed to rounding is engine-dependent. ``dstd`` computes the
# sample stddev from EXACT scaled-integer sums (sum, sum-of-squares —
# order-independent integers; 128-bit-wide so squares can't overflow),
# then derives the stddev through one fixed correctly-rounded op tree:
#
#     var = (s2 - s1*s1/n) / (n - 1);  std = sqrt(max(var, 0)) / 10^d
#
# Both engines execute identical IEEE ops on identical integers →
# identical bits. Spark sums DECIMAL(38,0) (exact to 1e38; cents² at
# 1e12/row leaves headroom past 1e12 rows/group); DuckDB sums HUGEINT.
# ---------------------------------------------------------------------------


def spark_sql_dstd(col: str, d: int = 2, n: int = 4) -> str:
    """Spark SQL text of the deterministic sample stddev of a d-decimal
    column (the ``dstd`` op tree; ``sql_dstd`` is the oracle's form).

    NULL for groups of fewer than 2 rows (STDDEV_SAMP semantics; also
    keeps the n-1 divisor nonzero under ANSI mode).
    """
    i = f"CAST(floor({col} * {float(10 ** d)!r}D + 0.5D) AS BIGINT)"
    cnt = f"CAST(count({col}) AS DOUBLE)"
    s1 = f"CAST(sum({i}) AS DOUBLE)"
    # cast ONE OPERAND 128-bit BEFORE multiplying: (i*i) in int64 wraps
    # silently past |i| ~ 3e9 while DuckDB's HUGEINT cast raises — the
    # widening must cover the product, not just the sum (r8 review)
    s2 = f"CAST(sum(CAST({i} AS DECIMAL(38,0)) * {i}) AS DOUBLE)"
    var = f"(({s2} - {s1} * {s1} / {cnt}) / ({cnt} - 1.0D))"
    k = f"{float(10 ** n)!r}D"
    std = f"floor(sqrt(greatest({var}, 0.0D)) / {float(10 ** d)!r}D * {k} + 0.5D) / {k}"
    return f"CASE WHEN count({col}) >= 2 THEN {std} END"


def dstd(col: str, d: int = 2, n: int = 4) -> Column:
    """Spark: deterministic sample stddev of a d-decimal column (one SQL
    parse instead of a Column-DSL chain of several hundred py4j calls)."""
    return F.expr(spark_sql_dstd(col, d, n))


def sql_dstd(expr: str, d: int = 2, n: int = 4) -> str:
    i = sql_iscale(expr, d)
    cnt = f"CAST(COUNT({expr}) AS DOUBLE)"
    s1 = f"CAST(SUM({i}) AS DOUBLE)"
    s2 = f"CAST(SUM(CAST({i} AS HUGEINT) * ({i})) AS DOUBLE)"
    var = f"(({s2} - {s1} * {s1} / {cnt}) / ({cnt} - 1.0))"
    std = sql_round(f"SQRT(GREATEST({var}, 0.0)) / {float(10 ** d)}", n)
    return f"CASE WHEN COUNT({expr}) >= 2 THEN {std} ELSE NULL END"


# ---------------------------------------------------------------------------
# Deterministic co-moments for corr / covar / linear regression.
#
# Same story as dstd: Spark's corr/covar_samp/regr_* stream doubles in
# partition order, DuckDB in scan order — the co-moment partials differ
# by ulps between engines. These helpers aggregate the five exact
# scaled-integer sums (n, Σx, Σy, Σxy, Σx², Σy²) — order-independent —
# and the query derives each statistic through one mirrored
# correctly-rounded op tree. Products are summed 128-bit-wide
# (DECIMAL(38,0) / HUGEINT): at cents scale that's exact past 1e12
# rows per group.
#
# Scale bookkeeping (x scaled by 10^dx, y by 10^dy):
#   covar  carries 10^(dx+dy)   → unscale by that
#   corr   is scale-free        → no unscale
#   slope (y on x) carries 10^(dy-dx) → unscale by that
# ---------------------------------------------------------------------------


def comoments(x: Column | str, y: Column | str, dx: int, dy: int) -> list[Column]:
    """Spark: exact co-moment aggregate columns named n/sx/sy/sxy/sxx/syy."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    ix, iy = iscale(cx, dx), iscale(cy, dy)
    dec = "decimal(38,0)"
    # widen BEFORE the multiply (r8 review — see dstd) and count rows
    # with COUNT(*): callers must pass NON-NULL x/y columns (a NULL in
    # either would skew n vs the NULL-skipping sums; every caller
    # aggregates non-null fact columns)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(ix).alias("sx"),
        F.sum(iy).alias("sy"),
        F.sum(ix.cast(dec) * iy).alias("sxy"),
        F.sum(ix.cast(dec) * ix).alias("sxx"),
        F.sum(iy.cast(dec) * iy).alias("syy"),
    ]


def sql_comoments(x: str, y: str, dx: int, dy: int) -> str:
    """SQL select-list fragment producing the same n/sx/sy/sxy/sxx/syy."""
    ix, iy = sql_iscale(x, dx), sql_iscale(y, dy)
    return (
        f"CAST(COUNT(*) AS BIGINT) AS n, "
        f"SUM({ix}) AS sx, SUM({iy}) AS sy, "
        f"SUM(CAST({ix} AS HUGEINT) * ({iy})) AS sxy, "
        f"SUM(CAST({ix} AS HUGEINT) * ({ix})) AS sxx, "
        f"SUM(CAST({iy} AS HUGEINT) * ({iy})) AS syy"
    )
