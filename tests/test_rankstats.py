"""Rank and ordinal statistics (operators/rankstats.py) vs independent
Python references over the collected fixture, plus closed-form boundary
pins and degenerate inputs, and the bucketed Lorenz rank against the
window form it replaces."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _events, _is_weekend, _q


def _dow(ts) -> int:
    # Spark dayofweek: 1=Sunday..7=Saturday
    return ts.isoweekday() % 7 + 1


# --------------------------------------------------------------------------
# Jonckheere–Terpstra
# --------------------------------------------------------------------------


def _jt_ref(groups: dict[int, list[int]]):
    """(jt2, mean, var) by brute force over ordered group pairs."""
    keys = sorted(groups)
    jt2 = 0
    for ai, a in enumerate(keys):
        for b in keys[ai + 1 :]:
            for x in groups[a]:
                for y in groups[b]:
                    jt2 += 2 if x < y else (1 if x == y else 0)
    ns = [len(groups[k]) for k in keys]
    n = sum(ns)
    pooled = Counter()
    for k in keys:
        pooled.update(groups[k])
    ts = list(pooled.values())
    mean = (n * n - sum(x * x for x in ns)) / 4.0
    var = (
        (
            n * (n - 1) * (2 * n + 5)
            - sum(x * (x - 1) * (2 * x + 5) for x in ns)
            - sum(t * (t - 1) * (2 * t + 5) for t in ts)
        )
        / 72.0
        + sum(x * (x - 1) * (x - 2) for x in ns)
        * sum(t * (t - 1) * (t - 2) for t in ts)
        / (36.0 * n * (n - 1) * (n - 2))
        + sum(x * (x - 1) for x in ns)
        * sum(t * (t - 1) for t in ts)
        / (8.0 * n * (n - 1))
    )
    return jt2, mean, var


def test_jonckheere_matches_python_reference(spark, sf_dir):
    groups: dict[str, dict[int, list[int]]] = defaultdict(
        lambda: defaultdict(list)
    )
    for r in _events(spark, sf_dir):
        groups[r.event_type][_dow(r.ts)].append(_q(r.value))
    got = {
        r.event_type: r
        for r in get_query("stat_jonckheere_terpstra")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(groups)
    for t, g in groups.items():
        jt2, mean, var = _jt_ref(g)
        row = got[t]
        assert row.jt2 == jt2
        assert abs(row.mean_jt - round(mean, 6)) < 1e-9
        assert abs(row.var_jt - round(var, 6)) < 1e-4
        z = (jt2 / 2.0 - mean) / math.sqrt(var)
        assert abs(row.z - round(z, 6)) < 1e-5
        assert row.rejected == (abs(z) > 1.959963984540054)


def test_jonckheere_closed_forms():
    # perfectly increasing groups -> JT at its maximum n1*n2 (doubled)
    jt2, mean, var = _jt_ref({1: [1, 2], 2: [3, 4], 3: [5, 6]})
    # pairs across groups: 2*2*3 group-pairs... each strictly less
    assert jt2 == 2 * (4 + 4 + 4)
    # all-equal values -> every pair ties, JT2 = #cross-pairs exactly
    jt2e, meane, _ = _jt_ref({1: [5, 5], 2: [5, 5]})
    assert jt2e == 4  # 4 cross pairs, each contributing 1 (tie)
    assert jt2e / 2.0 == meane  # ties sit exactly at the null mean


# --------------------------------------------------------------------------
# Goodman–Kruskal gamma / Somers' D / tau-b
# --------------------------------------------------------------------------


def test_gk_gamma_matches_python_reference(spark, sf_dir):
    cells: dict[str, Counter] = defaultdict(Counter)
    for r in _events(spark, sf_dir):
        cells[r.event_type][(_dow(r.ts), min(9, _q(r.value) // 1000))] += 1
    got = {
        r.event_type: r
        for r in get_query("stat_gk_gamma_tau").fn(spark, sf_dir).collect()
    }
    for t, cnt in cells.items():
        c = d = tx = ty = 0
        items = list(cnt.items())
        for (x1, y1), n1 in items:
            for (x2, y2), n2 in items:
                if x2 > x1 and y2 > y1:
                    c += n1 * n2
                elif x2 > x1 and y2 < y1:
                    d += n1 * n2
                elif x2 > x1 and y2 == y1:
                    ty += n1 * n2
                elif x2 == x1 and y2 > y1:
                    tx += n1 * n2
        row = got[t]
        assert (row.concordant, row.discordant) == (c, d)
        assert abs(row.gamma - round((c - d) / (c + d), 6)) < 1e-9
        assert abs(row.somers_dyx - round((c - d) / (c + d + ty), 6)) < 1e-9
        tb = (c - d) / math.sqrt((c + d + tx) * (c + d + ty))
        assert abs(row.tau_b - round(tb, 6)) < 1e-9


# --------------------------------------------------------------------------
# Mood's median test
# --------------------------------------------------------------------------


def test_mood_median_matches_python_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    qs = sorted(_q(r.value) for r in rows)
    med = qs[(len(qs) + 1) // 2 - 1]  # lower median, rank (n+1) div 2
    per: dict[str, list[int]] = defaultdict(list)
    for r in rows:
        per[r.event_type].append(_q(r.value))
    n = len(qs)
    a = sum(1 for q in qs if q > med)
    chi2 = 0.0
    for t in sorted(per):
        n_i = len(per[t])
        above = sum(1 for q in per[t] if q > med)
        ea, eb = n_i * a / n, n_i * (n - a) / n
        chi2 += round(
            (above - ea) ** 2 / ea + ((n_i - above) - eb) ** 2 / eb, 9
        )
    got = {
        r.event_type: r
        for r in get_query("stat_mood_median").fn(spark, sf_dir).collect()
    }
    for t in per:
        row = got[t]
        assert row.pooled_median == med
        assert row.n_i == len(per[t])
        assert row.above == sum(1 for q in per[t] if q > med)
        assert abs(row.chi2 - round(chi2, 6)) < 1e-6
        assert row.rejected == (chi2 > 9.487729036781154)


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test
# --------------------------------------------------------------------------


def test_runs_test_matches_python_reference(spark, sf_dir):
    daily: dict[str, dict] = defaultdict(dict)
    for r in _events(spark, sf_dir):
        day = r.ts.date()
        daily[r.event_type][day] = daily[r.event_type].get(day, 0) + _q(
            r.value
        )
    got = {
        r.event_type: r
        for r in get_query("stat_runs_test").fn(spark, sf_dir).collect()
    }
    for t, dm in daily.items():
        tots = sorted(dm.values())
        med = tots[(len(tots) + 1) // 2 - 1]
        seq = [dm[d] > med for d in sorted(dm) if dm[d] != med]
        runs = sum(
            1
            for i, s in enumerate(seq)
            if i == 0 or s != seq[i - 1]
        )
        n1 = sum(seq)
        n2 = len(seq) - n1
        row = got[t]
        assert (row.runs, row.n1, row.n2) == (runs, n1, n2)
        mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
        var = (
            2.0
            * n1
            * n2
            * (2.0 * n1 * n2 - n1 - n2)
            / ((n1 + n2) ** 2 * (n1 + n2 - 1))
        )
        z = (runs - mu) / math.sqrt(var)
        assert abs(row.z - round(z, 6)) < 1e-6
        assert row.rejected == (abs(z) > 1.959963984540054)


def test_runs_closed_forms():
    # perfectly alternating -> R = N (maximal); monotone block -> R = 2
    seq = [True, False] * 5
    runs = sum(1 for i, s in enumerate(seq) if i == 0 or s != seq[i - 1])
    assert runs == 10
    seq2 = [True] * 5 + [False] * 5
    runs2 = sum(
        1 for i, s in enumerate(seq2) if i == 0 or s != seq2[i - 1]
    )
    assert runs2 == 2


# --------------------------------------------------------------------------
# Cliff's delta
# --------------------------------------------------------------------------


def test_cliff_delta_matches_python_reference(spark, sf_dir):
    per: dict[str, tuple[list, list]] = defaultdict(lambda: ([], []))
    for r in _events(spark, sf_dir):
        per[r.event_type][0 if _is_weekend(r.ts) else 1].append(_q(r.value))
    got = {
        r.event_type: r
        for r in get_query("stat_cliff_delta").fn(spark, sf_dir).collect()
    }
    for t, (w, d) in per.items():
        cw, cd = Counter(w), Counter(d)
        gt = sum(
            nw * nd for vw, nw in cw.items() for vd, nd in cd.items()
            if vw > vd
        )
        lt = sum(
            nw * nd for vw, nw in cw.items() for vd, nd in cd.items()
            if vw < vd
        )
        delta = (gt - lt) / (len(w) * len(d))
        row = got[t]
        assert (row.n_weekend, row.n_weekday) == (len(w), len(d))
        assert abs(row.delta - round(delta, 6)) < 1e-9
        bands = (
            "negligible"
            if abs(delta) < 0.147
            else "small"
            if abs(delta) < 0.33
            else "medium"
            if abs(delta) < 0.474
            else "large"
        )
        assert row.magnitude == bands


# --------------------------------------------------------------------------
# Weighted Cohen's kappa
# --------------------------------------------------------------------------


def test_kappa_weighted_matches_python_reference(spark, sf_dir):
    obs: dict[str, Counter] = defaultdict(Counter)
    for r in _events(spark, sf_dir):
        ra = min(9, _q(r.value) // 1000)
        rb = min(9, ra + int(r.event_id) % 2)
        obs[r.event_type][(ra, rb)] += 1
    got = {
        r.event_type: r
        for r in get_query("eval_kappa_weighted").fn(spark, sf_dir).collect()
    }
    for t, cnt in obs.items():
        n = sum(cnt.values())
        ra_m = Counter()
        rb_m = Counter()
        for (a, b), o in cnt.items():
            ra_m[a] += o
            rb_m[b] += o
        lin_o = sum(abs(a - b) * o for (a, b), o in cnt.items())
        quad_o = sum((a - b) ** 2 * o for (a, b), o in cnt.items())
        lin_e = sum(
            abs(a - b) * ra_m[a] * rb_m[b] for a in ra_m for b in rb_m
        )
        quad_e = sum(
            (a - b) ** 2 * ra_m[a] * rb_m[b] for a in ra_m for b in rb_m
        )
        row = got[t]
        assert row.n == n
        assert abs(row.kappa_linear - round(1 - lin_o * n / lin_e, 6)) < 1e-9
        assert (
            abs(row.kappa_quadratic - round(1 - quad_o * n / quad_e, 6))
            < 1e-9
        )


def test_kappa_weighted_closed_forms():
    # perfect agreement -> kappa_w = 1 for any weights (O-sum = 0)
    assert 1 - 0 * 10 / 1 == 1.0
    # quadratic penalizes far disagreements more than linear
    assert (0 - 9) ** 2 / 9 > abs(0 - 9) / 9


# --------------------------------------------------------------------------
# KS two-sample
# --------------------------------------------------------------------------


def test_ks_two_sample_matches_python_reference(spark, sf_dir):
    per: dict[str, tuple[list, list]] = defaultdict(lambda: ([], []))
    for r in _events(spark, sf_dir):
        per[r.event_type][0 if _is_weekend(r.ts) else 1].append(_q(r.value))
    got = {
        r.event_type: r
        for r in get_query("stat_ks_two_sample").fn(spark, sf_dir).collect()
    }
    for t, (w, d) in per.items():
        n1, n2 = len(w), len(d)
        c1, c2 = Counter(w), Counter(d)
        grid = sorted(set(w) | set(d))
        f1 = f2 = 0
        dstar = 0
        for v in grid:
            f1 += c1.get(v, 0)
            f2 += c2.get(v, 0)
            dstar = max(dstar, abs(f1 * n2 - f2 * n1))
        row = got[t]
        ks_d = dstar / (n1 * n2)
        lam = ks_d * math.sqrt(n1 * n2 / (n1 + n2))
        assert abs(row.ks_d - round(ks_d, 6)) < 1e-9
        assert abs(row.ks_stat - round(lam, 6)) < 1e-9
        assert row.rejected == (lam > 1.3581015157406195)


def test_ks_closed_forms():
    # disjoint supports -> D = 1 exactly
    c1, c2 = Counter([1, 2]), Counter([5, 6])
    grid = sorted(set(c1) | set(c2))
    f1 = f2 = dstar = 0
    for v in grid:
        f1 += c1.get(v, 0)
        f2 += c2.get(v, 0)
        dstar = max(dstar, abs(f1 * 2 - f2 * 2))
    assert dstar / 4 == 1.0


# --------------------------------------------------------------------------
# Lorenz curve
# --------------------------------------------------------------------------


def test_lorenz_matches_python_reference(spark, sf_dir):
    per: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in _events(spark, sf_dir):
        per[r.event_type][r.user_id] += _q(r.value)
    got: dict[tuple, object] = {}
    for r in get_query("agg_lorenz_curve").fn(spark, sf_dir).collect():
        got[(r.event_type, r.decile)] = r
    for t, users in per.items():
        ranked = sorted(users.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ranked)
        tot = sum(s for _, s in ranked)
        cum_u = cum_s = 0
        by_dec: dict[int, list] = defaultdict(list)
        for rk, (_, s) in enumerate(ranked, start=1):
            by_dec[(rk * 10 - 1) // n + 1].append(s)
        for dec in sorted(by_dec):
            cum_u += len(by_dec[dec])
            cum_s += sum(by_dec[dec])
            row = got[(t, dec)]
            assert row.n_users == len(by_dec[dec])
            assert abs(row.cum_user_share - round(cum_u / n, 6)) < 1e-9
            assert abs(row.cum_value_share - round(cum_s / tot, 6)) < 1e-9
    # last decile closes the curve at (1, 1)
    for (t, dec), row in got.items():
        if dec == 10:
            assert row.cum_user_share == 1.0
            assert row.cum_value_share == 1.0


# --------------------------------------------------------------------------
# Partial AUC (McClish)
# --------------------------------------------------------------------------


def test_auc_partial_matches_python_reference(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    cells = Counter()
    for r in rows:
        v = int(round(r.l_discount * 100))
        cells[(v, 1 if r.l_returnflag == "R" else 0)] += 1
    grid = sorted({v for v, _ in cells}, reverse=True)
    wp_tot = sum(n for (v, p), n in cells.items() if p == 1)
    wn_tot = sum(n for (v, p), n in cells.items() if p == 0)
    beta = 0.1
    cwp = cwn = 0
    pauc = 0.0
    for v in grid:
        wp, wn = cells.get((v, 1), 0), cells.get((v, 0), 0)
        if wn > 0:
            if (cwn + wn) <= beta * wn_tot:
                pauc += round(wn * (2 * cwp + wp) / (2.0 * wp_tot * wn_tot), 9)
            elif cwn < beta * wn_tot:
                t = beta * wn_tot - cwn
                pauc += round(
                    t * (2.0 * cwp + t * wp / wn) / (2.0 * wp_tot * wn_tot),
                    9,
                )
        cwp += wp
        cwn += wn
    row = get_query("eval_auc_partial").fn(spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg) == (wp_tot, wn_tot)
    assert abs(row.pauc - round(pauc, 6)) < 1e-6
    std = 0.5 * (1 + (pauc - 0.005) / 0.095)
    assert abs(row.pauc_mcclish - round(std, 6)) < 1e-5
    # bounds: 0 <= pauc <= beta; standardized in [0, 1]
    assert 0.0 <= row.pauc <= 0.1 + 1e-9
    assert 0.0 <= row.pauc_mcclish <= 1.0 + 1e-9


def test_auc_partial_closed_forms():
    # perfect classifier: TPR=1 before any FP -> pauc = beta exactly
    # (the whole strip is full) -> mcclish = 1
    beta = 0.1
    assert 0.5 * (1 + (beta - 0.005) / 0.095) == 1.0
    # random classifier: diagonal -> pauc = beta^2/2 -> mcclish = 0.5
    assert 0.5 * (1 + (beta**2 / 2 - 0.005) / 0.095) == 0.5


# --------------------------------------------------------------------------
# Brunner–Munzel — definitional per-observation midranks (independent of
# the grid algebra the operator uses)
# --------------------------------------------------------------------------


def _midranks(values):
    """value -> midrank over the given multiset (1-based)."""
    cnt = Counter(values)
    out = {}
    below = 0
    for v in sorted(cnt):
        out[v] = below + (cnt[v] + 1) / 2.0
        below += cnt[v]
    return out


def test_brunner_munzel_matches_python_reference(spark, sf_dir):
    per: dict[str, tuple[list, list]] = defaultdict(lambda: ([], []))
    for r in _events(spark, sf_dir):
        per[r.event_type][0 if _is_weekend(r.ts) else 1].append(_q(r.value))
    got = {
        r.event_type: r
        for r in get_query("stat_brunner_munzel").fn(spark, sf_dir).collect()
    }
    for t, (x1, x2) in per.items():
        n1, n2 = len(x1), len(x2)
        pooled = _midranks(x1 + x2)
        w1 = _midranks(x1)
        w2 = _midranks(x2)
        r1 = [pooled[v] for v in x1]
        r2 = [pooled[v] for v in x2]
        rb1, rb2 = sum(r1) / n1, sum(r2) / n2
        p1 = [pooled[v] - w1[v] for v in x1]
        p2 = [pooled[v] - w2[v] for v in x2]
        m1, m2 = sum(p1) / n1, sum(p2) / n2
        s1 = sum((d - m1) ** 2 for d in p1) / (n1 - 1)
        s2 = sum((d - m2) ** 2 for d in p2) / (n2 - 1)
        w = (rb2 - rb1) * n1 * n2 / (n1 + n2) / math.sqrt(n1 * s1 + n2 * s2)
        p_hat = (rb2 - (n2 + 1) / 2.0) / n1
        row = got[t]
        assert (row.n_weekend, row.n_weekday) == (n1, n2)
        assert abs(row.p_hat - round(p_hat, 6)) < 1e-6
        assert abs(row.w_stat - round(w, 6)) < 1e-4
        assert row.rejected == (abs(w) > 1.959963984540054)


def test_brunner_munzel_closed_forms():
    # identical samples -> p_hat = 1/2, W = 0
    x = [1, 2, 3, 4, 5] * 4
    pooled = _midranks(x + x)
    n = len(x)
    rb = sum(pooled[v] for v in x) / n
    assert abs((rb - (n + 1) / 2.0) / n - 0.5) < 1e-12
    # complete separation -> p_hat = 1 (every y above every x)
    lo, hi = [1, 2, 3], [10, 11, 12]
    pooled = _midranks(lo + hi)
    rbh = sum(pooled[v] for v in hi) / 3
    assert (rbh - (3 + 1) / 2.0) / 3 == 1.0


# --------------------------------------------------------------------------
# Cramér–von Mises
# --------------------------------------------------------------------------


def test_cvm_matches_python_reference(spark, sf_dir):
    evs = _events(spark, sf_dir)
    got = {
        r.event_type: r
        for r in get_query("stat_cvm_two_sample").fn(spark, sf_dir).collect()
    }
    types = {r.event_type for r in evs}
    for et in types:
        xs = sorted(_q(r.value) for r in evs if r.event_type == et and _is_weekend(r.ts))
        ys = sorted(_q(r.value) for r in evs if r.event_type == et and not _is_weekend(r.ts))
        n1, n2 = len(xs), len(ys)
        pooled = sorted(xs + ys)
        s = 0.0
        for z in sorted(set(pooled)):
            cz = pooled.count(z)
            f1 = sum(1 for x in xs if x <= z)
            f2 = sum(1 for y in ys if y <= z)
            diff = (f1 * n2 - f2 * n1) / (n1 * n2)
            s += round(cz * diff * diff, 9)
        t = n1 * n2 / (n1 + n2) ** 2 * s
        assert abs(got[et].cvm_t - round(t, 6)) < 1e-5
        assert got[et].rejected == (t > 0.461)


def test_cvm_identical_samples_zero(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        cvm_two_sample,
    )

    rows = [("a", w, v) for v in range(10) for w in (0, 1)]
    base = spark.createDataFrame(rows, "event_type string, wk int, v long")
    r = cvm_two_sample(base).collect()[0]
    assert r.cvm_t == 0.0 and r.rejected is False


def test_cvm_degenerate_empty_side(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        cvm_two_sample,
    )

    base = spark.createDataFrame(
        [("a", 0, v) for v in range(5)], "event_type string, wk int, v long"
    )
    r = cvm_two_sample(base).collect()[0]
    assert r.cvm_t is None and r.rejected is False


# --------------------------------------------------------------------------
# Cochran–Armitage
# --------------------------------------------------------------------------


def test_cochran_armitage_matches_python_reference(spark, sf_dir):
    evs = _events(spark, sf_dir)
    got = {
        r.event_type: r
        for r in get_query("stat_cochran_armitage")
        .fn(spark, sf_dir)
        .collect()
    }
    types = {r.event_type for r in evs}
    for et in types:
        cells: dict[int, list[int]] = {}
        for r in evs:
            if r.event_type != et:
                continue
            s = r.ts.isoweekday() % 7 + 1
            n_r = cells.setdefault(s, [0, 0])
            n_r[0] += 1
            n_r[1] += 1 if _q(r.value) >= 5000 else 0
        n = sum(v[0] for v in cells.values())
        rr = sum(v[1] for v in cells.values())
        sr = sum(s * v[1] for s, v in cells.items())
        sn = sum(s * v[0] for s, v in cells.items())
        s2n = sum(s * s * v[0] for s, v in cells.items())
        svar = s2n - sn * sn / n
        t = sr - rr * sn / n
        z = t / math.sqrt(rr / n * (1 - rr / n) * svar)
        assert got[et].n == n and got[et].r == rr
        assert abs(got[et].z - round(z, 6)) < 1e-6
        assert got[et].rejected == (abs(z) > 1.959963984540054)


def test_cochran_armitage_monotone_sign_and_degenerate(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        cochran_armitage,
    )

    # success rate rises with score -> z > 0 and strongly significant
    rows = []
    for s in range(1, 8):
        for i in range(40):
            rows.append(("a", s, 1 if i < s * 5 else 0))
    base = spark.createDataFrame(rows, "event_type string, s long, y int")
    r = cochran_armitage(base).collect()[0]
    assert r.z > 0 and r.rejected is True
    # all failures -> degenerate NULL/False
    base0 = spark.createDataFrame(
        [("a", s, 0) for s in range(1, 8)],
        "event_type string, s long, y int",
    )
    r0 = cochran_armitage(base0).collect()[0]
    assert r0.z is None and r0.rejected is False
    # single score level -> score variance 0 -> NULL/False
    base1 = spark.createDataFrame(
        [("a", 3, i % 2) for i in range(10)],
        "event_type string, s long, y int",
    )
    r1 = cochran_armitage(base1).collect()[0]
    assert r1.z is None and r1.rejected is False


# --------------------------------------------------------------------------
# Hosmer–Lemeshow
# --------------------------------------------------------------------------


def test_hosmer_lemeshow_matches_python_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_discount", "l_returnflag"
    ).collect()
    grp: dict[int, list[int]] = {}
    for r in li:
        v = int(round(r.l_discount * 100))
        g = grp.setdefault(v, [0, 0])
        g[0] += 1
        g[1] += 1 if r.l_returnflag == "R" else 0
    s = 0.0
    for v, (n_g, o_g) in grp.items():
        pi = (v + 1) / 12
        s += round((o_g - n_g * pi) ** 2 / (n_g * pi * (1 - pi)), 9)
    row = get_query("eval_hosmer_lemeshow").fn(spark, sf_dir).collect()[0]
    assert row.n == len(li) and row.n_groups == len(grp)
    assert abs(row.hl_chi2 - round(s, 6)) < 1e-6
    assert row.rejected == (s > 16.918977604620448)


def test_hosmer_lemeshow_perfectly_calibrated(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        hosmer_lemeshow,
    )

    # O_g == n_g * pi exactly for every group -> chi2 == 0
    rows = []
    for v in range(0, 11):
        n_g = 120  # divisible by 12 -> integer expected counts
        o_g = n_g * (v + 1) // 12
        rows += [(v, 1)] * o_g + [(v, 0)] * (n_g - o_g)
    base = spark.createDataFrame(rows, "v long, pos int")
    r = hosmer_lemeshow(base).collect()[0]
    assert r.hl_chi2 == 0.0 and r.rejected is False


# --------------------------------------------------------------------------
# agg_lorenz_curve_bucketed ≡ agg_lorenz_curve
# --------------------------------------------------------------------------


def test_lorenz_bucketed_identical_to_window_form(spark, sf_dir):
    window_rows = sorted(
        map(tuple, get_query("agg_lorenz_curve").fn(spark, sf_dir).collect())
    )
    bucketed_rows = sorted(
        map(
            tuple,
            get_query("agg_lorenz_curve_bucketed").fn(spark, sf_dir).collect(),
        )
    )
    assert bucketed_rows == window_rows


def test_lorenz_bucketed_plan_has_no_per_type_sort(spark, sf_dir):
    # the window form's scale hazard is a row_number() partitioned by the
    # 3-5-value event_type — the bucketed form's only rank window must
    # partition by (event_type, bk)
    plan = get_query("agg_lorenz_curve_bucketed").fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    import re

    for m in re.finditer(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "bk" in spec, f"rank window not bucket-partitioned: {spec}"


def test_lorenz_bucketed_library_form_on_skewed_frame(spark):
    # all users share one s value -> every user lands in bucket 0 (span
    # 0); ranks must still be the exact (s, user_id) sequence and the
    # curve the uniform diagonal
    from avro_parquet_spark_example_spark.operators.rankstats import (
        lorenz_curve,
        lorenz_curve_bucketed,
    )

    rows = [("a", uid, 7) for uid in range(40)]
    pu = spark.createDataFrame(rows, "event_type string, user_id int, s long")
    got = sorted(map(tuple, lorenz_curve_bucketed(pu).collect()))
    want = sorted(map(tuple, lorenz_curve(pu).collect()))
    assert got == want
    # uniform s: cum_value_share == cum_user_share at every decile
    for _et, _dec, _nu, cus, cvs in got:
        assert cvs == pytest.approx(cus, abs=1e-9)


def test_lorenz_bucketed_library_form_mixed_groups(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        lorenz_curve,
        lorenz_curve_bucketed,
    )

    rows = [("a", uid, (uid * 37) % 101 + 1) for uid in range(73)] + [
        ("b", uid, (uid * uid) % 53 + 5) for uid in range(29)
    ]
    pu = spark.createDataFrame(rows, "event_type string, user_id int, s long")
    assert sorted(map(tuple, lorenz_curve_bucketed(pu).collect())) == sorted(
        map(tuple, lorenz_curve(pu).collect())
    )


# --------------------------------------------------------------------------
# r15 self-review degenerate-margin pins (REVIEW_r15_stats.md): before the
# guards, every one of these inputs THREW on ANSI Spark (divide-by-zero)
# while the DuckDB oracle shape returned NULL — and cliff's band CASE fell
# through NULL to 'large'. Pinned: NULL statistic / FALSE rejected / NULL
# magnitude, no exception.
# --------------------------------------------------------------------------


def test_mood_median_degenerate_all_equal(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        mood_median,
    )

    base = spark.createDataFrame(
        [("a", 5)] * 30 + [("b", 5)] * 20, "event_type string, q long"
    )
    rows = {r.event_type: r for r in mood_median(base).collect()}
    assert rows["a"].chi2 is None and rows["a"].rejected is False
    assert rows["a"].above == 0 and rows["a"].pooled_median == 5


def test_runs_test_degenerate_one_sided(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        runs_test,
    )

    daily = spark.createDataFrame(
        [("a", d, 10 if d < 9 else 99) for d in range(10)],
        "event_type string, day int, tq long",
    )
    row = runs_test(daily).collect()[0]
    assert (row.n1, row.n2) == (1, 0)
    assert row.z is None and row.rejected is False
    assert row.mean_runs == 1.0


def test_ks_cliff_degenerate_empty_side(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        cliff_delta,
        ks_two_sample,
    )

    base = spark.createDataFrame(
        [("a", 0, v) for v in range(5)], "event_type string, wk int, v long"
    )
    ks = ks_two_sample(base).collect()[0]
    assert ks.ks_d is None and ks.ks_stat is None and ks.rejected is False
    cd = cliff_delta(base).collect()[0]
    assert cd.delta is None
    assert cd.magnitude is None  # NOT 'large' (the pre-guard fall-through)


def test_bm_kappa_gamma_jt_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        brunner_munzel,
        gk_gamma_tau,
        jonckheere_terpstra,
        kappa_weighted,
    )

    bm = brunner_munzel(
        spark.createDataFrame(
            [("a", 1, 5)] + [("a", 0, v) for v in range(10)],
            "event_type string, wk int, v long",
        )
    ).collect()[0]
    assert bm.w_stat is None and bm.rejected is False
    # p_hat is still well-defined at n1 = 1
    assert bm.p_hat == pytest.approx(0.45)

    kw = kappa_weighted(
        spark.createDataFrame(
            [("a", 3, 3)] * 10, "event_type string, ra long, rb long"
        )
    ).collect()[0]
    assert kw.kappa_linear is None and kw.kappa_quadratic is None

    gk = gk_gamma_tau(
        spark.createDataFrame(
            [("a", 2, 3)] * 10, "event_type string, x long, y long"
        )
    ).collect()[0]
    assert gk.gamma is None and gk.somers_dyx is None and gk.tau_b is None
    assert int(gk.concordant) == 0  # DECIMAL(38,0) after the overflow fix

    # fully-tied single-group stratum: var_jt is EXACTLY 0 (the three
    # variance terms cancel algebraically — derived in the review note)
    jt = jonckheere_terpstra(
        spark.createDataFrame(
            [("a", 2, 7)] * 10, "event_type string, g int, v long"
        )
    ).collect()[0]
    assert jt.var_jt == 0.0 and jt.z is None and jt.rejected is False
    jt2 = jonckheere_terpstra(
        spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 2)], "event_type string, g int, v long"
        )
    ).collect()[0]
    assert jt2.var_jt is None and jt2.z is None  # n < 3


def test_pauc_lorenz_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.rankstats import (
        auc_partial,
        lorenz_curve,
        lorenz_curve_bucketed,
    )

    pa = auc_partial(
        spark.createDataFrame([(v, 0) for v in range(5)], "v long, pos int")
    ).collect()[0]
    assert pa.pauc is None and pa.pauc_mcclish is None

    zeros = spark.createDataFrame(
        [("a", u, 0) for u in range(20)],
        "event_type string, user_id int, s long",
    )
    for fn in (lorenz_curve, lorenz_curve_bucketed):
        rows = fn(zeros).collect()
        assert all(r.cum_value_share is None for r in rows)
        assert max(r.cum_user_share for r in rows) == pytest.approx(1.0)
