"""Survival analysis (operators/survival.py): Kaplan–Meier, log-rank,
Nelson–Aalen and RMST vs independent Python references over per-user
activity durations, plus closed-form pins."""

from __future__ import annotations

import math

import pytest

from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _durations


# --------------------------------------------------------------------------
# Kaplan–Meier + log-rank
# --------------------------------------------------------------------------


def test_kaplan_meier_matches_python_reference(spark, sf_dir):
    subj = _durations(spark, sf_dir)
    got = {
        (r.grp, r.t): r
        for r in get_query("surv_kaplan_meier").fn(spark, sf_dir).collect()
    }
    for grp in ("treatment", "control"):
        rows = [(t, ev) for _, g, t, ev in subj if g == grp]
        times = sorted({t for t, _ in rows})
        surv = 1.0
        logsum = 0.0
        for t in times:
            n_risk = sum(1 for tt, _ in rows if tt >= t)
            d = sum(1 for tt, ev in rows if tt == t and ev == 1)
            c = sum(1 for tt, ev in rows if tt == t and ev == 0)
            if d > 0:
                logsum += round(math.log(1.0 - d / n_risk), 9)
            surv = math.exp(logsum)
            row = got[(grp, t)]
            assert (row.n_risk, row.n_event, row.n_censor) == (n_risk, d, c)
            assert abs(row.survival - round(surv, 6)) < 1e-6
        # KM invariants: S is non-increasing, starts <= 1
        ss = [got[(grp, t)].survival for t in times]
        assert all(a >= b - 1e-9 for a, b in zip(ss, ss[1:]))
        assert ss[0] <= 1.0 + 1e-9


def test_logrank_matches_python_reference(spark, sf_dir):
    subj = _durations(spark, sf_dir)
    t1 = [(t, ev) for _, g, t, ev in subj if g == "treatment"]
    t2 = [(t, ev) for _, g, t, ev in subj if g == "control"]
    times = sorted({t for t, _ in t1 + t2})
    o1 = sum(ev for _, ev in t1)
    e1 = v = 0.0
    for t in times:
        n1 = sum(1 for tt, _ in t1 if tt >= t)
        n2 = sum(1 for tt, _ in t2 if tt >= t)
        d1 = sum(1 for tt, ev in t1 if tt == t and ev == 1)
        d2 = sum(1 for tt, ev in t2 if tt == t and ev == 1)
        d, n = d1 + d2, n1 + n2
        if d == 0 or n1 == 0 or n2 == 0:
            continue
        e1 += round(d * n1 / n, 9)
        if n >= 2:
            v += round(d * n1 * n2 * (n - d) / (n * n * (n - 1)), 9)
    row = get_query("surv_logrank_test").fn(spark, sf_dir).collect()[0]
    assert row.o1 == o1
    assert abs(row.e1 - round(e1, 6)) < 1e-6
    assert abs(row.var_o1 - round(v, 6)) < 1e-6
    if v == 0:
        # degenerate fixture (no death day with both cohorts at risk):
        # the operator emits NULL chi2 / rejected False by contract
        assert row.chi2 is None and row.rejected is False
    else:
        chi2 = (o1 - e1) ** 2 / v
        assert abs(row.chi2 - round(chi2, 6)) < 1e-5
        assert row.rejected == (chi2 > 3.841458820694124)


def test_km_closed_forms():
    # no censoring, one death per time among n: S after k deaths = 1-k/n
    # via the product form
    n = 10
    s = 1.0
    for k in range(1, 4):
        s *= 1 - 1 / (n - k + 1)
    assert abs(s - (n - 3) / n) < 1e-12
    # all censored -> S stays 1 (no death terms)
    assert math.exp(0.0) == 1.0


def test_km_full_observation_reaches_exact_zero(spark):
    # r14 ADVICE: when d == n_risk at a group's last death time (any
    # FULLY OBSERVED cohort), ln(1 - d/n) = -inf; Spark's decimal cast
    # turned it into NULL, the window SUM skipped it, and survival
    # silently stayed at its prior value (0.4 below). The -1e9 sentinel
    # guard must drive survival to an exact IEEE 0.0 instead.
    from avro_parquet_spark_example_spark.operators.survival import (
        kaplan_meier,
    )

    subj = spark.createDataFrame(
        [(i, "g", t, 1) for i, t in enumerate([1, 1, 2, 3, 3])],
        "user_id int, grp string, t bigint, ev int",
    )
    surv = {r.t: r.survival for r in kaplan_meier(subj).collect()}
    assert surv[1] == 0.6 and surv[2] == 0.4
    assert surv[3] == 0.0  # exact zero — NOT 0.4 (the pre-guard bug)

    # DuckDB twin of the oracle's km CASE on the same histogram: the
    # sentinel must underflow to the same exact 0.0 (a plain CAST of
    # LN(0) would instead raise a conversion error there).
    import duckdb

    got = duckdb.sql(
        """
        WITH risk(t, d, n_risk) AS (VALUES (1,2,5),(2,1,3),(3,2,2)),
        km AS (
            SELECT t,
                   CAST(SUM(CASE
                        WHEN d >= n_risk
                            THEN CAST(-1000000000 AS DECIMAL(28,9))
                        WHEN d = 0 THEN CAST(0 AS DECIMAL(28,9))
                        ELSE CAST(ROUND(
                            LN(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                            AS DECIMAL(28,9)) END)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW)
                   AS DECIMAL(38,9)) AS logs
            FROM risk
        )
        SELECT t, ROUND(EXP(CAST(logs AS DOUBLE)), 6) AS survival
        FROM km ORDER BY t
        """
    ).fetchall()
    assert [(t, s) for t, s in got] == [(1, 0.6), (2, 0.4), (3, 0.0)]
    for t, s in got:
        assert s == surv[t]


# --------------------------------------------------------------------------
# Nelson–Aalen
# --------------------------------------------------------------------------


def test_nelson_aalen_matches_python_reference(spark, sf_dir):
    subj = _durations(spark, sf_dir)
    got = {
        (r.grp, r.t): r
        for r in get_query("surv_nelson_aalen").fn(spark, sf_dir).collect()
    }
    for grp in ("treatment", "control"):
        rows = [(t, ev) for _, g, t, ev in subj if g == grp]
        times = sorted({t for t, _ in rows})
        hsum = vsum = 0.0
        for t in times:
            n_risk = sum(1 for tt, _ in rows if tt >= t)
            d = sum(1 for tt, ev in rows if tt == t and ev == 1)
            if d > 0:
                hsum += round(d / n_risk, 9)
                vsum += round(d / (n_risk * n_risk), 9)
            row = got[(grp, t)]
            assert row.n_risk == n_risk and row.n_event == d
            assert abs(row.cum_hazard - round(hsum, 6)) < 1e-9
            assert abs(row.var_hazard - round(vsum, 6)) < 1e-9
        # NA invariants: H non-decreasing; H >= -ln(S_KM) pointwise
        hs = [got[(grp, t)].cum_hazard for t in times]
        assert all(a <= b + 1e-12 for a, b in zip(hs, hs[1:]))


def test_nelson_aalen_closed_form(spark):
    # 3 subjects, deaths at t=1,2,3, no censoring:
    # H(1)=1/3, H(2)=1/3+1/2, H(3)=1/3+1/2+1
    from avro_parquet_spark_example_spark.operators.survival import (
        nelson_aalen,
    )

    subj = spark.createDataFrame(
        [(1, "g", 1, 1), (2, "g", 2, 1), (3, "g", 3, 1)],
        "user_id int, grp string, t bigint, ev int",
    )
    h = {r.t: r.cum_hazard for r in nelson_aalen(subj).collect()}
    assert h[1] == pytest.approx(round(1 / 3, 6), abs=1e-9)
    assert h[2] == pytest.approx(round(round(1 / 3, 9) + 0.5, 6), abs=1e-9)
    assert h[3] == pytest.approx(
        round(round(1 / 3, 9) + 0.5 + 1.0, 6), abs=1e-9
    )


# --------------------------------------------------------------------------
# RMST
# --------------------------------------------------------------------------


def _km_curve(rows):
    """[(t, S(t))] for one cohort via the operator's rounding grid."""
    times = sorted({t for t, _ in rows})
    logsum = 0.0
    out = []
    for t in times:
        n_risk = sum(1 for tt, _ in rows if tt >= t)
        d = sum(1 for tt, ev in rows if tt == t and ev == 1)
        if d >= n_risk:
            logsum += -1e9
        elif d > 0:
            logsum += round(math.log(1.0 - d / n_risk), 9)
        out.append((t, round(math.exp(logsum), 6)))
    return out


def test_rmst_matches_python_reference(spark, sf_dir):
    subj = _durations(spark, sf_dir)
    tau = 30
    got = {
        r.grp: r for r in get_query("surv_rmst").fn(spark, sf_dir).collect()
    }
    for grp in ("treatment", "control"):
        rows = [(t, ev) for _, g, t, ev in subj if g == grp]
        curve = _km_curve(rows)
        area = min(curve[0][0], tau)  # S = 1 head segment
        for i, (t, s) in enumerate(curve):
            if t >= tau:
                continue
            nt = curve[i + 1][0] if i + 1 < len(curve) else tau
            area += round(s * (min(nt, tau) - t), 9)
        assert got[grp].tau == tau
        assert abs(got[grp].rmst - round(area, 6)) < 1e-9
        # RMST is bounded by the horizon
        assert 0.0 <= got[grp].rmst <= tau


def test_rmst_closed_forms(spark):
    from avro_parquet_spark_example_spark.operators.survival import rmst

    # all censored at t=50 >= tau: S=1 on [0, tau] -> RMST = tau
    subj = spark.createDataFrame(
        [(i, "g", 50, 0) for i in range(4)],
        "user_id int, grp string, t bigint, ev int",
    )
    assert rmst(subj, tau=30).collect()[0].rmst == 30.0
    # everyone dies at t=10 < tau: S=1 on [0,10), 0 after -> RMST = 10
    subj2 = spark.createDataFrame(
        [(i, "g", 10, 1) for i in range(4)],
        "user_id int, grp string, t bigint, ev int",
    )
    assert rmst(subj2, tau=30).collect()[0].rmst == 10.0
