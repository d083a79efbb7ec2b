"""Property campaign for the statistics family (r12 verdict task 3).

plans/statistics.py + plans/mlencode.py are the largest hand-rolled
surfaces guarded only by fixed-fixture oracles. This suite runs the
registered plans over hypothesis-random tables THREE-WAY: the Spark
plan, the registered DuckDB oracle (on the same tmp parquet), and an
independent pure-Python model must all agree exactly. The r12 bitmap/
session-window lesson: the driver gate structurally cannot see a
both-sides-agree bug, and the highest-risk rows are those where an
ENGINE-NATIVE operator (percentile/quantile_cont, window ranks) sits
on one side while the other hand-rolls — so the native-percentile
rows lead, and every float op tree is replayed in Python in the same
IEEE order (exact equality, no tolerances).

Boundary shapes the fixed corpus rarely hits: single-row groups,
all-equal values (zero within-group variance), total ties, groups
present on one side only, NULL values, interpolation positions with
inexact fractional parts (p=0.9).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from tools.verify_local import check

pytestmark = pytest.mark.slow

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
_CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)
_LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
_EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_US_1995 = 788_918_400_000_000  # 1995-01-01 UTC in µs
_DAY_US = 86_400_000_000


def _write_dir(tables: dict[str, tuple[dict, pa.Schema]]) -> str:
    d = tempfile.mkdtemp(prefix="statprop_")
    for name, (cols, schema) in tables.items():
        pq.write_table(
            pa.table(cols, schema=schema), os.path.join(d, f"{name}.parquet")
        )
    return d


def _agree(spark, name: str, d: str, model_rows: list[dict]):
    """The registered Spark plan and its registered DuckDB oracle, run
    on the tmp dir, must each exactly equal the independent model."""
    try:
        problems = check(spark, d, name, model_rows)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert not problems, f"{name}: {problems}"


def _iscale(v: float, d: int = 2) -> int:
    return math.floor(v * float(10**d) + 0.5)


def _fround(x: float, n: int) -> float:
    k = float(10**n)
    return math.floor(x * k + 0.5) / k


def _spark_percentile(vals: list[float], p: float) -> float:
    """Spark Percentile.getPercentile: position = p*(n-1), result =
    lower*(higher-position) + higher_val*(position-lower)."""
    a = sorted(vals)
    pos = p * (len(a) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi:
        return float(a[lo])
    return a[lo] * (hi - pos) + a[hi] * (pos - lo)


# ---------------------------------------------------------------------------
# agg_percentiles — native percentile (Spark) vs quantile_cont
# (DuckDB): the exact native-vs-native interpolation parity the
# campaign exists to stress, including the inexact p=0.9 position.
# ---------------------------------------------------------------------------
_qty_groups = st.lists(
    st.tuples(
        st.sampled_from(["A", "N", "R"]), st.integers(1, 50)
    ),
    min_size=1,
    max_size=60,
)


def _lineitem_dir(rows: list[tuple[str, int]], price_cents=None) -> str:
    n = len(rows)
    cents = price_cents or [100] * n
    return _write_dir(
        {
            "lineitem": (
                {
                    "l_orderkey": list(range(n)),
                    "l_partkey": [0] * n,
                    "l_suppkey": [0] * n,
                    "l_linenumber": [0] * n,
                    "l_quantity": [float(q) for _, q in rows],
                    "l_extendedprice": [c / 100.0 for c in cents],
                    "l_discount": [0.0] * n,
                    "l_tax": [0.0] * n,
                    "l_returnflag": [f for f, _ in rows],
                    "l_linestatus": ["O"] * n,
                    "l_shipdate": [_US_1995] * n,
                },
                _LINEITEM_SCHEMA,
            )
        }
    )


@_SETTINGS
@given(rows=_qty_groups)
def test_agg_percentiles_model(spark, rows):
    model = []
    for flag in sorted({f for f, _ in rows}):
        qs = [float(q) for f, q in rows if f == flag]
        model.append(
            {
                "l_returnflag": flag,
                "median_qty": _spark_percentile(qs, 0.5),
                "p25_qty": _spark_percentile(qs, 0.25),
                "p90_qty": _spark_percentile(qs, 0.9),
                "max_qty": max(qs),
            }
        )
    _agree(spark, "agg_percentiles", _lineitem_dir(rows), model)


# ---------------------------------------------------------------------------
# outlier_iqr_filter — native percentile fences over scaled ints,
# with NULL values and single-row types.
# ---------------------------------------------------------------------------
_ev_vals = st.lists(
    st.tuples(
        st.sampled_from(["click", "view"]),
        st.one_of(st.none(), st.integers(-2000, 2000)),
    ),
    min_size=1,
    max_size=60,
)


def _events_dir(rows: list[tuple[int, int, str, float | None]]) -> str:
    """rows: (user_id, ts_us, event_type, value)."""
    n = len(rows)
    return _write_dir(
        {
            "events": (
                {
                    "event_id": list(range(n)),
                    "ts": [t for _, t, _, _ in rows],
                    "user_id": [u for u, _, _, _ in rows],
                    "event_type": [e for _, _, e, _ in rows],
                    "value": [v for _, _, _, v in rows],
                    "props": ["{}"] * n,
                },
                _EVENTS_SCHEMA,
            )
        }
    )


@_SETTINGS
@given(rows=_ev_vals)
def test_outlier_iqr_filter_model(spark, rows):
    ev = [
        (i, _US_1995 + i, t, None if c is None else c / 100.0)
        for i, (t, c) in enumerate(rows)
    ]
    model = []
    by_type: dict[str, list[int]] = {}
    for t, c in rows:
        if c is not None:
            by_type.setdefault(t, []).append(_iscale(c / 100.0))
    for t, vs in sorted(by_type.items()):
        q25 = _spark_percentile([float(v) for v in vs], 0.25)
        q75 = _spark_percentile([float(v) for v in vs], 0.75)
        lo = q25 - 1.5 * (q75 - q25)
        hi = q75 + 1.5 * (q75 - q25)
        kept = [v for v in vs if v >= lo and v <= hi]
        model.append(
            {
                "event_type": t,
                "n_total": len(vs),
                "n_outliers": sum(1 for v in vs if v < lo or v > hi),
                "kept_value": float(sum(kept)) / 100.0,
                "fence_lo": lo / 100.0,
                "fence_hi": hi / 100.0,
            }
        )
    _agree(spark, "outlier_iqr_filter", _events_dir(ev), model)


# ---------------------------------------------------------------------------
# benford_leading_digit — string leading digit of exact cents,
# floor-division ppm, literals recomputed independently from log10.
# ---------------------------------------------------------------------------
_prices = st.lists(st.integers(1, 2_000_000), min_size=1, max_size=60)


@_SETTINGS
@given(cents=_prices)
def test_benford_leading_digit_model(spark, cents):
    rows = [("A", 1)] * len(cents)
    digits = [int(str(_iscale(c / 100.0))[0]) for c in cents]
    n = len(digits)
    model = []
    for dg in sorted(set(digits)):
        nr = digits.count(dg)
        bppm = math.floor(math.log10(1 + 1 / dg) * 1_000_000)
        obs = nr * 1_000_000 // n
        model.append(
            {
                "digit": dg,
                "n_rows": nr,
                "obs_ppm": obs,
                "benford_ppm": bppm,
                "abs_dev_ppm": abs(obs - bppm),
            }
        )
    _agree(
        spark,
        "benford_leading_digit",
        _lineitem_dir(rows, price_cents=cents),
        model,
    )


# ---------------------------------------------------------------------------
# chi2_segment_status / gini_revenue_by_nation — exact-integer
# contingency / concentration over a random orders⟷customer graph
# (customers without orders, segments × statuses sparsely hit).
# ---------------------------------------------------------------------------
@st.composite
def _orders_customers(draw):
    n_cust = draw(st.integers(1, 12))
    cust = [
        (
            k,
            draw(st.sampled_from(["BUILDING", "AUTOMOBILE", "MACHINERY"])),
            draw(st.integers(0, 2)),
            draw(st.integers(-99999, 99999)),  # acctbal cents
        )
        for k in range(1, n_cust + 1)
    ]
    orders = draw(
        st.lists(
            st.tuples(
                st.integers(1, n_cust),
                st.sampled_from(["F", "O", "P"]),
                st.integers(100, 50_000_000),  # totalprice cents > 0
                st.integers(0, 2500),  # day offset from 1995
                st.sampled_from(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM"]
                ),
            ),
            min_size=1,
            max_size=60,
        )
    )
    return cust, orders


def _oc_dir(cust, orders) -> str:
    no = len(orders)
    return _write_dir(
        {
            "customer": (
                {
                    "c_custkey": [k for k, _, _, _ in cust],
                    "c_name": [f"c{k}" for k, _, _, _ in cust],
                    "c_nationkey": [nk for _, _, nk, _ in cust],
                    "c_acctbal": [b / 100.0 for _, _, _, b in cust],
                    "c_mktsegment": [s for _, s, _, _ in cust],
                },
                _CUSTOMER_SCHEMA,
            ),
            "orders": (
                {
                    "o_orderkey": list(range(1, no + 1)),
                    "o_custkey": [c for c, _, _, _, _ in orders],
                    "o_orderstatus": [s for _, s, _, _, _ in orders],
                    "o_totalprice": [p / 100.0 for _, _, p, _, _ in orders],
                    "o_orderdate": [
                        _US_1995 + d * _DAY_US for _, _, _, d, _ in orders
                    ],
                    "o_orderpriority": [pr for _, _, _, _, pr in orders],
                },
                _ORDERS_SCHEMA,
            ),
        }
    )


@_SETTINGS
@given(oc=_orders_customers())
def test_chi2_segment_status_model(spark, oc):
    cust, orders = oc
    seg_of = {k: s for k, s, _, _ in cust}
    cells: dict[tuple[str, str], int] = {}
    for c, s, _, _, _ in orders:
        cells[(seg_of[c], s)] = cells.get((seg_of[c], s), 0) + 1
    rtot: dict[str, int] = {}
    ctot: dict[str, int] = {}
    for (sg, stt), o in cells.items():
        rtot[sg] = rtot.get(sg, 0) + o
        ctot[stt] = ctot.get(stt, 0) + o
    n = sum(cells.values())
    model = []
    for (sg, stt), obs in cells.items():
        r, c = rtot[sg], ctot[stt]
        dnum = n * obs - r * c
        model.append(
            {
                "c_mktsegment": sg,
                "o_orderstatus": stt,
                "obs": obs,
                "exp_ppm": r * c * 1_000_000 // n,
                "cell_chi2_ppm": dnum * dnum * 1_000_000 // (n * r * c),
            }
        )
    _agree(spark, "chi2_segment_status", _oc_dir(cust, orders), model)


@_SETTINGS
@given(oc=_orders_customers())
def test_gini_revenue_by_nation_model(spark, oc):
    cust, orders = oc
    rev: dict[int, int] = {}
    for c, _, p, _, _ in orders:
        rev[c] = rev.get(c, 0) + _iscale(p / 100.0)
    by_nation: dict[int, list[tuple[int, int]]] = {}
    for k, _, nk, _ in cust:
        by_nation.setdefault(nk, []).append((rev.get(k, 0), k))
    model = []
    for nk, xs in sorted(by_nation.items()):
        xs.sort()
        nn = len(xs)
        sx = sum(x for x, _ in xs)
        six = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        gini = (
            0
            if sx == 0
            else (2 * six - (nn + 1) * sx) * 1_000_000 // (nn * sx)
        )
        model.append(
            {
                "c_nationkey": nk,
                "n_customers": nn,
                "revenue_cents": sx,
                "gini_ppm": gini,
            }
        )
    _agree(spark, "gini_revenue_by_nation", _oc_dir(cust, orders), model)


# ---------------------------------------------------------------------------
# anova_oneway_f / kruskal_wallis_h — the parametric + rank omnibus
# twins: integer sufficient statistics (ANOVA) and the two-phase
# distributed total-order rank (KW) vs plain window ranks (oracle).
# Generator guarantees ≥2 groups and within-group variation so the
# F denominator is live; total ties across groups stress the
# (x, orderkey) tiebreak.
# ---------------------------------------------------------------------------
@st.composite
def _anova_orders(draw):
    rows = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
                st.integers(1, 400),  # whole-unit price
            ),
            min_size=4,
            max_size=60,
        )
    )
    # force ≥2 groups and nonzero SSW (two same-group rows, different x)
    rows += [("1-URGENT", 1), ("1-URGENT", 7), ("2-HIGH", 3)]
    return rows


def _anova_dir(rows) -> str:
    n = len(rows)
    return _write_dir(
        {
            "orders": (
                {
                    "o_orderkey": list(range(1, n + 1)),
                    "o_custkey": [1] * n,
                    "o_orderstatus": ["F"] * n,
                    "o_totalprice": [float(x) for _, x in rows],
                    "o_orderdate": [_US_1995] * n,
                    "o_orderpriority": [g for g, _ in rows],
                },
                _ORDERS_SCHEMA,
            )
        }
    )


@_SETTINGS
@given(rows=_anova_orders())
def test_anova_oneway_f_model(spark, rows):
    xs = [(g, math.floor(float(x) + 0.5)) for g, x in rows]
    groups = sorted({g for g, _ in xs})
    n_g = {g: sum(1 for gg, _ in xs if gg == g) for g in groups}
    s1_g = {g: sum(x for gg, x in xs if gg == g) for g in groups}
    k = len(groups)
    n = len(xs)
    s1 = sum(s1_g.values())
    sum_term = sum(s1_g[g] * s1_g[g] // n_g[g] for g in groups)
    s2 = sum(x * x for _, x in xs)
    ssb = sum_term - s1 * s1 // n
    ssw = s2 - sum_term
    model = [
        {
            "n_total": n,
            "k_groups": k,
            "ssb_units2": ssb,
            "ssw_units2": ssw,
            "f_micro": ssb * (n - k) * 1_000_000 // (ssw * (k - 1)),
            "eta2_ppm": ssb * 1_000_000 // (ssb + ssw),
        }
    ]
    _agree(spark, "anova_oneway_f", _anova_dir(rows), model)


@_SETTINGS
@given(rows=_anova_orders())
def test_kruskal_wallis_h_model(spark, rows):
    xs = [
        (g, math.floor(float(x) + 0.5), i + 1)
        for i, (g, x) in enumerate(rows)
    ]
    ranked = sorted(xs, key=lambda t: (t[1], t[2]))
    r_of = {key: i + 1 for i, (_, _, key) in enumerate(ranked)}
    groups = sorted({g for g, _, _ in xs})
    n = len(xs)
    k = len(groups)
    r_g = {
        g: sum(r_of[key] for gg, _, key in xs if gg == g) for g in groups
    }
    n_g = {g: sum(1 for gg, _, _ in xs if gg == g) for g in groups}
    sum_term = sum(r_g[g] * r_g[g] // n_g[g] for g in groups)
    h = 12 * sum_term * 1_000_000 // (n * (n + 1)) - 3_000_000 * (n + 1)
    model = [
        {
            "n_total": n,
            "k_groups": k,
            "rank_sum_ok": True,
            "h_micro": h,
        }
    ]
    _agree(spark, "kruskal_wallis_h", _anova_dir(rows), model)


# ---------------------------------------------------------------------------
# cuped_variance_reduction — per-unit (pre, post) co-moments; the
# generator plants two units with distinct pre-period spend so
# var(X) > 0, then randomizes freely across the cutoff.
# ---------------------------------------------------------------------------
_CUPED_CUT_DAYS = 1096  # days from 1995-01-01 to 1998-01-01


@st.composite
def _cuped_orders(draw):
    rows = draw(
        st.lists(
            st.tuples(
                st.integers(1, 8),  # custkey
                st.integers(1, 500),  # whole-unit price
                st.integers(0, 2400),  # day offset (1995..2001-ish)
            ),
            min_size=1,
            max_size=60,
        )
    )
    rows += [(101, 40, 10), (102, 90, 20), (101, 30, 2000)]
    return rows


@_SETTINGS
@given(rows=_cuped_orders())
def test_cuped_variance_reduction_model(spark, rows):
    n_rows = len(rows)
    d = _write_dir(
        {
            "orders": (
                {
                    "o_orderkey": list(range(1, n_rows + 1)),
                    "o_custkey": [c for c, _, _ in rows],
                    "o_orderstatus": ["F"] * n_rows,
                    "o_totalprice": [float(p) for _, p, _ in rows],
                    "o_orderdate": [
                        _US_1995 + dd * _DAY_US for _, _, dd in rows
                    ],
                    "o_orderpriority": ["1-URGENT"] * n_rows,
                },
                _ORDERS_SCHEMA,
            )
        }
    )
    per: dict[int, list[int]] = {}
    for c, p, dd in rows:
        u = math.floor(float(p) + 0.5)
        xy = per.setdefault(c, [0, 0])
        xy[0 if dd < _CUPED_CUT_DAYS else 1] += u
    n = len(per)
    sx = sum(x for x, _ in per.values())
    sy = sum(y for _, y in per.values())
    sxy = sum(x * y for x, y in per.values())
    sxx = sum(x * x for x, _ in per.values())
    syy = sum(y * y for _, y in per.values())
    cov_n = float(n) * float(sxy) - float(sx) * float(sy)
    varx_n = float(n) * float(sxx) - float(sx) * float(sx)
    vary_n = float(n) * float(syy) - float(sy) * float(sy)
    model = [
        {
            "n_units": n,
            "theta_micro": math.floor(cov_n / varx_n * 1_000_000.0 + 0.5),
            "rho2_ppm": math.floor(
                cov_n * cov_n / (varx_n * vary_n) * 1_000_000.0 + 0.5
            ),
        }
    ]
    _agree(spark, "cuped_variance_reduction", d, model)


# ---------------------------------------------------------------------------
# spearman_rank_corr — the two-phase distributed rank (Spark) vs the
# plain ROW_NUMBER window (oracle) feeding one float op tree; rank
# variance is structurally > 0 for n ≥ 2, so rho is always defined.
# ---------------------------------------------------------------------------
@_SETTINGS
@given(oc=_orders_customers())
def test_spearman_rank_corr_model(spark, oc):
    cust, orders = oc
    if len(cust) < 2:
        cust = cust + [(len(cust) + 1, "BUILDING", 0, 777)]
    spend: dict[int, int] = {}
    for c, _, p, _, _ in orders:
        spend[c] = spend.get(c, 0) + _iscale(p / 100.0)
    units = [
        (k, b, spend.get(k, 0)) for k, _, _, b in cust
    ]  # (custkey, bal_cents, sp)
    rx_order = sorted(units, key=lambda t: (t[2], t[0]))
    ry_order = sorted(units, key=lambda t: (t[1], t[0]))
    rx = {k: i + 1 for i, (k, _, _) in enumerate(rx_order)}
    ry = {k: i + 1 for i, (k, _, _) in enumerate(ry_order)}
    n = len(units)
    fsx = float(sum(rx.values()))
    fsy = float(sum(ry.values()))
    sxx = float(sum(r * r for r in rx.values()))
    syy = float(sum(r * r for r in ry.values()))
    sxy = float(sum(rx[k] * ry[k] for k, _, _ in units))
    fn = float(n)
    rho = (fn * sxy - fsx * fsy) / math.sqrt(
        (fn * sxx - fsx * fsx) * (fn * syy - fsy * fsy)
    )
    model = [{"n_rows": n, "spearman_rho": _fround(rho, 6)}]
    _agree(spark, "spearman_rank_corr", _oc_dir(cust, orders), model)


# ---------------------------------------------------------------------------
# cohens_kappa_raters — exact 2×2 confusion + one float tree; the
# all-agree corner (pe = 1) yields NaN identically in both engines.
# ---------------------------------------------------------------------------
_kappa_rows = st.lists(
    st.tuples(
        st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]),
        st.sampled_from(["F", "O", "P"]),
    ),
    min_size=1,
    max_size=60,
)


@_SETTINGS
@given(rows=_kappa_rows)
def test_cohens_kappa_raters_model(spark, rows):
    n_rows = len(rows)
    d = _write_dir(
        {
            "orders": (
                {
                    "o_orderkey": list(range(1, n_rows + 1)),
                    "o_custkey": [1] * n_rows,
                    "o_orderstatus": [s for _, s in rows],
                    "o_totalprice": [1.0] * n_rows,
                    "o_orderdate": [_US_1995] * n_rows,
                    "o_orderpriority": [p for p, _ in rows],
                },
                _ORDERS_SCHEMA,
            )
        }
    )
    hi = [1 if p in ("1-URGENT", "2-HIGH") else 0 for p, _ in rows]
    fi = [1 if s == "F" else 0 for _, s in rows]
    n11 = sum(1 for h, f in zip(hi, fi) if h == 1 and f == 1)
    n10 = sum(1 for h, f in zip(hi, fi) if h == 1 and f == 0)
    n01 = sum(1 for h, f in zip(hi, fi) if h == 0 and f == 1)
    n00 = sum(1 for h, f in zip(hi, fi) if h == 0 and f == 0)
    n = n11 + n10 + n01 + n00
    po = (float(n11) + n00) / n
    pe = (
        (float(n11) + n10) * (n11 + n01) + (float(n01) + n00) * (n10 + n00)
    ) / ((float(n11) + n10 + n01 + n00) * n)
    # pe = 1 (perfect chance agreement) → kappa undefined → NULL on
    # both sides (r13 campaign fix: ANSI Spark crashed on the raw /0)
    kappa = None if pe == 1.0 else _fround((po - pe) / (1.0 - pe), 6)
    model = [
        {
            "n11": n11,
            "n10": n10,
            "n01": n01,
            "n00": n00,
            "cohens_kappa": kappa,
        }
    ]
    _agree(spark, "cohens_kappa_raters", d, model)


# ===========================================================================
# WAVE 2 (r13): medians (custom two-phase selection vs plain windows),
# rolling windows, higher moments, Wilson ranking.
# ===========================================================================


@_SETTINGS
@given(rows=_qty_groups, cents=st.lists(st.integers(1, 400_000), min_size=1, max_size=60))
def test_agg_weighted_median_model(spark, rows, cents):
    n = min(len(rows), len(cents))
    rows, cents = rows[:n], cents[:n]
    model = []
    for flag in sorted({f for f, _ in rows}):
        grp = sorted(
            (cents[i], rows[i][1])
            for i in range(n)
            if rows[i][0] == flag
        )
        tq = sum(q for _, q in grp)
        cq = 0
        wm = None
        for c, q in grp:
            cq += q
            if cq * 2 >= tq:
                wm = c
                break
        model.append(
            {
                "l_returnflag": flag,
                "weighted_median_cents": wm,
                "total_quantity": tq,
            }
        )
    _agree(
        spark,
        "agg_weighted_median",
        _lineitem_dir(rows, price_cents=cents),
        model,
    )


_MED_BUCKET = 65536


@_SETTINGS
@given(cents=st.lists(st.integers(1, 400_000), min_size=1, max_size=60))
def test_exact_median_distributed_model(spark, cents):
    rows = [("A", 1)] * len(cents)
    n = len(cents)
    r = (n + 1) // 2
    med = sorted(cents)[r - 1]
    model = [
        {
            "n_rows": n,
            "bucket_id": med // _MED_BUCKET,
            "median_cents": med,
        }
    ]
    _agree(
        spark,
        "exact_median_distributed",
        _lineitem_dir(rows, price_cents=cents),
        model,
    )


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),  # user
            st.integers(0, 2_000_000),  # us offset (collisions likely)
            st.one_of(st.none(), st.integers(-2000, 2000)),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_rolling_zscore_anomaly_model(spark, rows):
    base = 1_704_067_200_000_000
    d = _write_dir(
        {
            "events": (
                {
                    "event_id": list(range(len(rows))),
                    "ts": [base + off for _, off, _ in rows],
                    "user_id": [u for u, _, _ in rows],
                    "event_type": ["click"] * len(rows),
                    "value": [
                        None if c is None else c / 100.0
                        for _, _, c in rows
                    ],
                    "props": ["{}"] * len(rows),
                },
                _EVENTS_SCHEMA,
            )
        }
    )
    per_user: dict[int, list[tuple[int, int, int]]] = {}
    for eid, (u, off, c) in enumerate(rows):
        if c is not None:
            per_user.setdefault(u, []).append(
                (base + off, eid, _iscale(c / 100.0))
            )
    model = []
    for u, es in per_user.items():
        es.sort()
        for i, (ts_us, eid, x) in enumerate(es):
            win = [v for _, _, v in es[max(0, i - 19) : i + 1]]
            wn = len(win)
            s1 = sum(win)
            s2 = sum(v * v for v in win)
            model.append(
                {
                    "event_id": eid,
                    "user_id": u,
                    "ts_us": ts_us,
                    "value_cents": x,
                    "win_n": wn,
                    "is_anomaly": (
                        wn >= 10
                        and (wn * x - s1) * (wn * x - s1) * (wn - 1)
                        > 9 * wn * (wn * s2 - s1 * s1)
                    ),
                }
            )
    _agree(spark, "rolling_zscore_anomaly", d, model)


@_SETTINGS
@given(oc=_orders_customers())
def test_moments_skew_kurtosis_model(spark, oc):
    cust, orders = oc
    nation_of = {k: nk for k, _, nk, _ in cust}
    ys: dict[int, list[int]] = {}
    for c, _, p, _, _ in orders:
        y = _iscale(p / 100.0) // 100_000
        ys.setdefault(nation_of[c], []).append(y)
    model = []
    for nk, vals in sorted(ys.items()):
        n = len(vals)
        p1 = sum(vals)
        p2 = sum(v * v for v in vals)
        p3 = sum(v**3 for v in vals)
        p4 = sum(v**4 for v in vals)
        a2 = n * p2 - p1 * p1
        a3 = n * n * p3 - 3 * n * p2 * p1 + 2 * p1**3
        a4 = (
            n**3 * p4
            - 4 * n * n * p3 * p1
            + 6 * n * p2 * p1 * p1
            - 3 * p1**4
        )
        nd = float(n)
        if a2 == 0:
            skew = kurt = None
        else:
            m2 = float(a2) / (nd * nd)
            m3 = float(a3) / (nd * nd * nd)
            m4 = float(a4) / (nd * nd * nd * nd)
            skew = _fround(m3 / (m2 * math.sqrt(m2)), 6)
            kurt = _fround(m4 / (m2 * m2) - 3.0, 6)
        model.append(
            {
                "nation": nk,
                "n_orders": n,
                "skewness": skew,
                "excess_kurtosis": kurt,
            }
        )
    _agree(spark, "moments_skew_kurtosis", _oc_dir(cust, orders), model)


def _wilson_lcb(pos: int, n: int) -> float:
    z = 1.96
    p = float(pos) / float(n)
    nn = float(n)
    return (
        p
        + z * z / (2.0 * nn)
        - z * math.sqrt(p * (1.0 - p) / nn + z * z / (4.0 * nn * nn))
    ) / (1.0 + z * z / nn)


@_SETTINGS
@given(oc=_orders_customers())
def test_wilson_lcb_category_ranking_model(spark, oc):
    cust, orders = oc
    seg_of = {k: s for k, s, _, _ in cust}
    agg: dict[str, list[int]] = {}
    for c, _, _, _, pr in orders:
        st_ = agg.setdefault(seg_of[c], [0, 0])
        st_[0] += 1
        st_[1] += 1 if pr in ("1-URGENT", "2-HIGH") else 0
    scored = [
        (seg, n, pos, _wilson_lcb(pos, n)) for seg, (n, pos) in agg.items()
    ]
    scored.sort(key=lambda t: (-t[3], t[0]))
    model = [
        {
            "segment": seg,
            "n": n,
            "pos": pos,
            "wilson_lcb": _fround(lcb, 6),
            "lcb_rank": i + 1,
        }
        for i, (seg, n, pos, lcb) in enumerate(scored)
    ]
    _agree(
        spark, "wilson_lcb_category_ranking", _oc_dir(cust, orders), model
    )
