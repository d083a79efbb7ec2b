"""Property campaign for the behavioral family (r12 verdict task 3).

plans/behavioral.py (+ the KS drift row in plans/curation.py) is the
second-largest hand-rolled surface guarded only by fixed-fixture
oracles. Same three-way discipline as tests/test_properties_stats.py:
the registered Spark plan, its registered DuckDB oracle (on the same
hypothesis-generated tmp parquet), and an independent pure-Python
model must agree EXACTLY. Priority rows are those where Spark leans
on a NATIVE operator (LEAD / RANGE window frames / running windows)
while the oracle re-derives the same thing — the class that produced
both r12 bugs.

Boundary shapes planted by the generators:
- same-microsecond event collisions (the (ts, event_id) tiebreak);
- touches EXACTLY at the 7-day attribution frame edge (us − WEEK
  inclusive) and AT the purchase instant (excluded — frame ends at
  −1 µs), purchases with zero prior touches ('direct');
- errors exactly AT the signup timestamp (KM join is strictly >),
  durations exactly at the censoring horizon;
- single-purchase users (drawdown 0), negative purchase values
  (peak < 1 exercises the GREATEST(peak, 1) guard);
- sources whose length distribution is entirely one-sided.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from collections import defaultdict

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

_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_DAY_US = 86_400_000_000
_WEEK_US = 7 * 86_400 * 1_000_000
_KM_HORIZON = 5

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
_DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _events_dir(rows) -> str:
    """rows: list of (user_id, us_offset, event_type, value_cents)."""
    d = tempfile.mkdtemp(prefix="behprop_")
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(n)),
                "ts": [_BASE_US + off for _, off, _, _ in rows],
                "user_id": [u for u, _, _, _ in rows],
                "event_type": [t for _, _, t, _ in rows],
                "value": [c / 100.0 for _, _, _, c in rows],
                "props": ["{}"] * n,
            },
            schema=_EVENTS_SCHEMA,
        ),
        os.path.join(d, "events.parquet"),
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


def _iscale(v: float) -> int:
    return math.floor(v * 100.0 + 0.5)


def _xlog10(x: int) -> float:
    s = str(x)
    dg = len(s)
    p = float(10 ** (dg - 1))
    return (dg - 1.0) + (x / p - 1.0) / 9.0


# offsets mix uniform µs draws with landmark collisions: exact day
# boundaries, exact week (attribution frame) edges, repeated values
_off = st.one_of(
    st.integers(0, 10 * _DAY_US),
    st.sampled_from(
        [0, 1, _DAY_US, _DAY_US - 1, _WEEK_US, _WEEK_US + 1, 5 * _DAY_US]
    ),
)


# ---------------------------------------------------------------------------
# events_markov_transition — native LEAD over (ts, event_id) with
# planted same-ts collisions.
# ---------------------------------------------------------------------------
_markov_rows = st.lists(
    st.tuples(
        st.integers(1, 4),
        _off,
        st.sampled_from(["click", "view", "buy"]),
    ),
    min_size=2,
    max_size=50,
)


@_SETTINGS
@given(rows=_markov_rows)
def test_events_markov_transition_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    seqs: dict[int, list[tuple[int, int, str]]] = defaultdict(list)
    for eid, (u, off, t, _) in enumerate(ev):
        seqs[u].append((_BASE_US + off, eid, t))
    trans: dict[tuple[str, str], int] = defaultdict(int)
    for u, es in seqs.items():
        es.sort()
        for (_, _, cur), (_, _, nxt) in zip(es, es[1:]):
            trans[(cur, nxt)] += 1
    tot: dict[str, int] = defaultdict(int)
    for (cur, _), c in trans.items():
        tot[cur] += c
    model = [
        {
            "from_type": cur,
            "to_type": nxt,
            "n_transitions": c,
            "prob_ppm": c * 1_000_000 // tot[cur],
        }
        for (cur, nxt), c in trans.items()
    ]
    _agree(spark, "events_markov_transition", _events_dir(ev), model)


# ---------------------------------------------------------------------------
# user_activity_streaks — gaps-and-islands over distinct active days.
# ---------------------------------------------------------------------------
@_SETTINGS
@given(rows=_markov_rows)
def test_user_activity_streaks_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    days: dict[int, set[int]] = defaultdict(set)
    for u, off, _, _ in ev:
        days[u].add((_BASE_US + off) // _DAY_US)
    model = []
    for u, ds in days.items():
        sorted_days = sorted(ds)
        islands: list[list[int]] = [[sorted_days[0]]]
        for dd in sorted_days[1:]:
            if dd == islands[-1][-1] + 1:
                islands[-1].append(dd)
            else:
                islands.append([dd])
        model.append(
            {
                "user_id": u,
                "n_streaks": len(islands),
                "longest_streak": max(len(i) for i in islands),
                "first_active_day": sorted_days[0],
            }
        )
    _agree(spark, "user_activity_streaks", _events_dir(ev), model)


# ---------------------------------------------------------------------------
# survival_km_curve — signup → first error with strict ts > t0 and
# day-5 administrative censoring; the generator plants errors exactly
# AT the signup instant (excluded) and exactly at the horizon.
# ---------------------------------------------------------------------------
_km_rows = st.lists(
    st.tuples(
        st.integers(1, 6),
        _off,
        st.sampled_from(["signup", "error", "view"]),
    ),
    min_size=1,
    max_size=50,
)


@_SETTINGS
@given(rows=_km_rows)
def test_survival_km_curve_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    t0: dict[int, int] = {}
    for u, off, t, _ in ev:
        if t == "signup":
            us = _BASE_US + off
            t0[u] = min(t0.get(u, us), us)
    t1: dict[int, int] = {}
    for u, off, t, _ in ev:
        if t == "error" and u in t0:
            us = _BASE_US + off
            if us > t0[u]:
                t1[u] = min(t1.get(u, us), us)
    obs = []
    for u, start in t0.items():
        if u in t1:
            dur = t1[u] // _DAY_US - start // _DAY_US
            if dur <= _KM_HORIZON:
                obs.append((dur, 1))
                continue
        obs.append((_KM_HORIZON, 0))
    if not obs:
        _agree(spark, "survival_km_curve", _events_dir(ev), [])
        return
    per: dict[int, list[int]] = {}
    for t, evt in obs:
        d_c = per.setdefault(t, [0, 0])
        d_c[0] += evt
        d_c[1] += 1 - evt
    n_total = len(obs)
    model = []
    seen = 0
    log_ppm = 0
    for t in sorted(per):
        d, c = per[t]
        n_risk = n_total - seen
        seen += d + c
        step = math.floor(
            _xlog10(max(n_risk - d, 1)) * 1_000_000.0
        ) - math.floor(_xlog10(max(n_risk, 1)) * 1_000_000.0)
        log_ppm += step
        model.append(
            {
                "t_days": t,
                "n_risk": n_risk,
                "d_events": d,
                "c_censored": c,
                "log10_surv_ppm": log_ppm,
            }
        )
    _agree(spark, "survival_km_curve", _events_dir(ev), model)


# ---------------------------------------------------------------------------
# attribution_first_last_touch — encoded arg-min/arg-max keys in a
# [−WEEK, −1 µs] RANGE frame: frame-edge touches, same-µs purchase/
# touch pairs (excluded), and untouched purchases ('direct').
# ---------------------------------------------------------------------------
_attr_rows = st.lists(
    st.tuples(
        st.integers(1, 4),
        _off,
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(-500, 5000),
    ),
    min_size=1,
    max_size=50,
)


@_SETTINGS
@given(rows=_attr_rows)
def test_attribution_first_last_touch_model(spark, rows):
    ev = list(rows)
    touches: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for eid, (u, off, t, _) in enumerate(ev):
        if t in ("view", "click"):
            us = _BASE_US + off
            k = (us * 1000 + eid % 1000) * 2 + (1 if t == "view" else 0)
            touches[u].append((us, k))
    credits: dict[str, list[int]] = defaultdict(list)
    for eid, (u, off, t, cents) in enumerate(ev):
        if t != "purchase":
            continue
        us = _BASE_US + off
        ks = [k for tus, k in touches[u] if us - _WEEK_US <= tus <= us - 1]
        cr = _iscale(cents / 100.0)
        if not ks:
            credits["direct"].append(cr * 10)
        else:
            first_k, last_k = min(ks), max(ks)
            credits["view" if first_k % 2 == 1 else "click"].append(cr * 5)
            credits["view" if last_k % 2 == 1 else "click"].append(cr * 5)
    model = [
        {
            "channel": ch,
            "credited_revenue": float(sum(crs)) / 1e3,
            "n_credits": len(crs),
        }
        for ch, crs in credits.items()
    ]
    _agree(
        spark,
        "attribution_first_last_touch",
        _events_dir(ev),
        model,
    )


# ---------------------------------------------------------------------------
# running_max_drawdown — cumulative/peak windows per user + global
# top-10; negative purchase values exercise the GREATEST(peak, 1)
# denominator guard.
# ---------------------------------------------------------------------------
@_SETTINGS
@given(rows=_attr_rows)
def test_running_max_drawdown_model(spark, rows):
    ev = list(rows)
    per_user: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for eid, (u, off, t, cents) in enumerate(ev):
        if t == "purchase":
            per_user[u].append(
                (_BASE_US + off, eid, _iscale(cents / 100.0))
            )
    dd_rows = []
    for u, ps in per_user.items():
        ps.sort()
        cum = peak = 0
        first = True
        maxdd = 0
        peaks = []
        for _, _, cents in ps:
            cum += cents
            peak = cum if first else max(peak, cum)
            first = False
            peaks.append(peak)
            maxdd = max(maxdd, peak - cum)
        dd_rows.append((u, len(ps), max(peaks), maxdd))
    dd_rows.sort(key=lambda r: (-r[3], r[0]))
    model = [
        {
            "user_id": u,
            "n_purchases": n,
            "peak_cents": peak,
            "max_drawdown_cents": dd,
            "drawdown_ppm_of_peak": dd * 1_000_000 // max(peak, 1),
            "rnk": i + 1,
        }
        for i, (u, n, peak, dd) in enumerate(dd_rows[:10])
    ]
    _agree(spark, "running_max_drawdown", _events_dir(ev), model)


# ---------------------------------------------------------------------------
# ks_drift_by_source — exact integer-ppm two-sample KS on the length
# distribution, each source vs the rest of the corpus.
# ---------------------------------------------------------------------------
@st.composite
def _docs(draw):
    # single-source corpora allowed: the rest side is then EMPTY and
    # ks_ppm is NULL (the r13 degenerate-corpus audit found ANSI
    # Spark crashing on that corner before the guard)
    return draw(
        st.lists(
            st.tuples(
                st.sampled_from(["web", "code", "wiki"]),
                st.integers(1, 40),
            ),
            min_size=1,
            max_size=50,
        )
    )


@_SETTINGS
@given(rows=_docs())
def test_ks_drift_by_source_model(spark, rows):
    d = tempfile.mkdtemp(prefix="behprop_")
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(n)),
                "text": ["x" * nc for _, nc in rows],
                "lang": ["en"] * n,
                "source": [s for s, _ in rows],
                "n_chars": [nc for _, nc in rows],
            },
            schema=_DOCUMENTS_SCHEMA,
        ),
        os.path.join(d, "documents.parquet"),
    )
    spine = sorted({nc for _, nc in rows})
    srcs = sorted({s for s, _ in rows})
    n_all = len(rows)
    model = []
    for s in srcs:
        tot = sum(1 for ss, _ in rows if ss == s)
        if tot == n_all:
            model.append({"source": s, "n_docs": tot, "ks_ppm": None})
            continue
        ks = 0
        cum_s = cum_all = 0
        for nc in spine:
            cum_s += sum(1 for ss, c in rows if ss == s and c == nc)
            cum_all += sum(1 for _, c in rows if c == nc)
            dev = abs(
                cum_s * 1_000_000 // tot
                - (cum_all - cum_s) * 1_000_000 // (n_all - tot)
            )
            ks = max(ks, dev)
        model.append({"source": s, "n_docs": tot, "ks_ppm": ks})
    _agree(spark, "ks_drift_by_source", d, model)


# ===========================================================================
# WAVE 2 (r13): sequence detection, burstiness, capture-recapture.
# ===========================================================================


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),
            _off,
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_event_pattern_match_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    per_user: dict[int, list[tuple[int, int, str]]] = defaultdict(list)
    for eid, (u, off, t, _) in enumerate(ev):
        per_user[u].append((_BASE_US + off, eid, t))
    model = []
    for u, es in per_user.items():
        es.sort()
        for i in range(2, len(es)):
            (t0, id0, ty0), (_, _, ty1), (t2, id2, ty2) = (
                es[i - 2],
                es[i - 1],
                es[i],
            )
            if (
                ty0 == "view"
                and ty1 == "click"
                and ty2 == "purchase"
                and t2 - t0 <= 86_400_000_000
            ):
                model.append(
                    {
                        "user_id": u,
                        "view_event_id": id0,
                        "purchase_event_id": id2,
                        "elapsed_us": t2 - t0,
                    }
                )
    _agree(spark, "event_pattern_match", _events_dir(ev), model)


def _fround(x: float, n: int) -> float:
    k = float(10**n)
    return math.floor(x * k + 0.5) / k


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),
            _off,
            st.sampled_from(["view", "click"]),
        ),
        min_size=2,
        max_size=50,
    )
)
def test_interevent_burstiness_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    per: dict[tuple[int, str], list[tuple[int, int]]] = defaultdict(list)
    for eid, (u, off, t, _) in enumerate(ev):
        per[(u, t)].append((_BASE_US + off, eid))
    gaps_by_type: dict[str, list[int]] = defaultdict(list)
    for (u, t), es in per.items():
        es.sort()
        for (a, _), (b, _) in zip(es, es[1:]):
            gaps_by_type[t].append(b - a)
    model = []
    for t, gs in gaps_by_type.items():
        n = len(gs)
        s1i = sum(gs)
        s1 = float(s1i)
        s2 = float(sum(g * g for g in gs))
        nd = float(n)
        mu = s1 / nd
        sig = math.sqrt(max(s2 / nd - mu * mu, 0.0))
        b = (
            None
            if sig + mu == 0.0
            else _fround((sig - mu) / (sig + mu), 6)
        )
        model.append(
            {
                "event_type": t,
                "n_gaps": n,
                "mean_gap_us": s1i // n,
                "burstiness_b": b,
            }
        )
    _agree(spark, "interevent_burstiness", _events_dir(ev), model)


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 6),
            _off,
            st.sampled_from(["view", "click", "buy"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_capture_recapture_estimate_model(spark, rows):
    ev = [(u, off, t, 100) for u, off, t in rows]
    a = {u for u, _, t, _ in ev if t == "view"}
    b = {u for u, _, t, _ in ev if t == "click"}
    m = len(a & b)
    truth = len({u for u, _, _, _ in ev})
    if m == 0:
        est = err = None
    else:
        est = len(a) * len(b) // m
        err = abs(est - truth) * 1_000_000 // truth
    model = [
        {
            "n_capture1": len(a),
            "n_capture2": len(b),
            "n_both": m,
            "lincoln_petersen_est": est,
            "true_users": truth,
            "err_ppm": err,
        }
    ]
    _agree(spark, "capture_recapture_estimate", _events_dir(ev), model)
