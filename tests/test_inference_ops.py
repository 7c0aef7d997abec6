"""Inference/eval statistics (operators/inference.py) vs independent
Python references + closed-form boundary pins (the r11/r12 test model)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _events, _is_weekend


# --------------------------------------------------------------------------
# pass@k
# --------------------------------------------------------------------------


def _pass_at_k_ref(n: int, c: int, k: int) -> float:
    """math.comb reference: 1 - C(n-c, k)/C(n, k)."""
    if n - c < k:
        return 1.0
    return 1.0 - math.comb(n - c, k) / math.comb(n, k)


def test_pass_at_k_matches_comb_reference(spark, sf_dir):
    per: dict[int, list[float]] = {}
    stats: Counter = Counter()
    npass: Counter = Counter()
    for r in _events(spark, sf_dir):
        stats[r.user_id] += 1
        if r.value > 50:
            npass[r.user_id] += 1
    for k in (1, 5, 10):
        per[k] = [
            round(_pass_at_k_ref(stats[u], npass[u], k), 9)
            for u in stats
            if stats[u] >= k
        ]
    rows = {
        r.k: r for r in get_query("eval_pass_at_k").fn(spark, sf_dir).collect()
    }
    assert set(rows) == {1, 5, 10}
    for k, vals in per.items():
        assert rows[k].n_problems == len(vals)
        assert abs(rows[k].mean_pass - sum(vals) / len(vals)) < 1e-6, k


def test_pass_at_k_closed_form_boundaries():
    # all samples pass -> pass@k = 1; none pass -> 0; c=1,k=1 -> 1/n.
    assert _pass_at_k_ref(10, 10, 5) == 1.0
    assert _pass_at_k_ref(10, 0, 5) == 0.0
    assert abs(_pass_at_k_ref(10, 1, 1) - 0.1) < 1e-12
    # monotone in k: more attempts can only help.
    assert _pass_at_k_ref(20, 3, 10) >= _pass_at_k_ref(20, 3, 5)


# --------------------------------------------------------------------------
# Fleiss' kappa
# --------------------------------------------------------------------------


def _fleiss_ref(items: list[list[str]]) -> tuple[float, float, float]:
    """Textbook Fleiss 1971 on a list of per-item rating lists."""
    n = len(items[0])
    big_n = len(items)
    cats = sorted({c for it in items for c in it})
    p_i = []
    totals = Counter()
    for it in items:
        cnt = Counter(it)
        totals.update(cnt)
        p_i.append(
            (sum(v * v for v in cnt.values()) - n) / (n * (n - 1))
        )
    p_bar = sum(p_i) / big_n
    p_e = sum((totals[c] / (big_n * n)) ** 2 for c in cats)
    return p_bar, p_e, (p_bar - p_e) / (1 - p_e)


def test_fleiss_kappa_matches_python_reference(spark, sf_dir):
    by_user: dict[int, list] = {}
    for r in _events(spark, sf_dir):
        by_user.setdefault(r.user_id, []).append(r)
    items = []
    for rs in by_user.values():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        items.append([r.event_type for r in rs[:5]])
    p_bar, p_e, kappa = _fleiss_ref(items)
    row = get_query("eval_fleiss_kappa").fn(spark, sf_dir).collect()[0]
    assert row.n_items == len(items)
    assert row.n_raters == 5
    assert abs(row.p_bar - p_bar) < 1e-6
    assert abs(row.p_e - p_e) < 1e-6
    assert abs(row.kappa - kappa) < 1e-6


def test_fleiss_closed_form_boundaries():
    # perfect agreement -> kappa = 1 regardless of category mix.
    _, _, k1 = _fleiss_ref([["a"] * 5, ["b"] * 5, ["a"] * 5])
    assert abs(k1 - 1.0) < 1e-12
    # Fleiss 1971 worked example invariant: kappa < p_bar always when
    # agreement is imperfect and chance agreement positive.
    p_bar, p_e, k2 = _fleiss_ref(
        [["a", "a", "a", "b", "b"], ["b", "b", "a", "a", "a"]]
    )
    assert 0 < p_e < 1 and k2 < p_bar


# --------------------------------------------------------------------------
# delete-one-cluster jackknife
# --------------------------------------------------------------------------


def test_jackknife_cluster_matches_python_reference(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    cust = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    per: dict[int, list[float]] = {}
    for o in orders:
        per.setdefault(cust[o.o_custkey], []).append(float(o.o_totalprice))
    g = len(per)
    tot_s = sum(sum(v) for v in per.values())
    tot_n = sum(len(v) for v in per.values())
    theta = [
        (tot_s - sum(v)) / (tot_n - len(v)) for v in per.values()
    ]
    m = sum(theta) / g
    se = math.sqrt((g - 1) / g * sum((t - m) ** 2 for t in theta))
    row = get_query("stat_jackknife_cluster").fn(spark, sf_dir).collect()[0]
    assert row.n_clusters == g
    assert abs(row.theta_hat - tot_s / tot_n) < 1e-4
    assert abs(row.jackknife_se - se) < 1e-4


def test_jackknife_zero_variance_closed_form():
    # identical clusters -> every LOO estimate equals the mean -> SE 0.
    per = {0: [10.0, 10.0], 1: [10.0, 10.0], 2: [10.0, 10.0]}
    tot_s = sum(sum(v) for v in per.values())
    tot_n = sum(len(v) for v in per.values())
    theta = [(tot_s - sum(v)) / (tot_n - len(v)) for v in per.values()]
    m = sum(theta) / len(per)
    se = math.sqrt(2 / 3 * sum((t - m) ** 2 for t in theta))
    assert se == 0.0


# --------------------------------------------------------------------------
# Poisson bootstrap / randomization / BH — hash-exact Python twins
# --------------------------------------------------------------------------

import hashlib

_POIS_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
)


def _u32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _pois_w(event_id: int, r: int) -> int:
    u = _u32(f"{event_id}:{r}:pb")
    return sum(1 for t in _POIS_T if u >= t)


def _events_sampled(spark, sf_dir):
    """Mirror the r13 validation-scope ~30k hash sample (tag 'es' — a
    no-op at sf0.001/sf0.01 where events <= 10k rows)."""
    rows = _events(spark, sf_dir)
    thr = int(4294967296.0 * min(1.0, 30000.0 / len(rows)))
    return [r for r in rows if _u32(f"{int(r.event_id)}:es") < thr]


def test_poisson_bootstrap_matches_hash_reference(spark, sf_dir):
    rows = _events_sampled(spark, sf_dir)
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(
            (int(r.event_id), math.floor(r.value * 10000.0 + 0.5))
        )
    got = {
        r.event_type: r
        for r in get_query("stat_poisson_bootstrap_ci")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(by_type)
    for t, evs in by_type.items():
        means = []
        for rep in range(1, 101):
            sw = swv = 0
            for eid, q in evs:
                w = _pois_w(eid, rep)
                sw += w
                swv += w * q
            means.append((round(swv / 10000.0 / sw, 9), rep))
        means.sort()
        lo = means[math.ceil(0.025 * len(means)) - 1][0]
        hi = means[math.ceil(0.975 * len(means)) - 1][0]
        g = got[t]
        assert g.n_rows == len(evs)
        assert abs(g.ci_lo - lo) < 1e-6 and abs(g.ci_hi - hi) < 1e-6, t
        mean = sum(q for _, q in evs) / 10000.0 / len(evs)
        assert abs(g.mean_value - mean) < 1e-5
        assert g.ci_lo <= g.ci_hi


def _rand_reference(spark, sf_dir):
    """Hash-exact Python twin of randomization_pvalues."""
    rows = _events_sampled(spark, sf_dir)
    by_type: dict[str, list] = {}
    for r in rows:
        dow = r.ts.isoweekday() % 7 + 1  # Sunday=1..Saturday=7
        by_type.setdefault(r.event_type, []).append(
            (int(r.event_id), dow, math.floor(r.value * 10000.0 + 0.5))
        )
    out = {}
    for t, evs in by_type.items():
        n_t = len(evs)
        tv = sum(q for _, _, q in evs)
        n_c = Counter(d for _, d, _ in evs)
        sv = Counter()
        for _, d, q in evs:
            sv[d] += q
        cum, cts = 0, []
        for d in range(1, 8):
            cum += n_c[d]
            cts.append(cum * 4294967296 // n_t)
        t_obs = {
            d: round(
                abs(
                    sv[d] / 10000.0 / n_c[d]
                    - (tv - sv[d]) / 10000.0 / (n_t - n_c[d])
                ),
                9,
            )
            for d in range(1, 8)
        }
        exceed = Counter()
        for rep in range(1, 101):
            cnt = Counter()
            psv = Counter()
            for eid, _, q in evs:
                u = _u32(f"{eid}:{rep}:rt")
                pd = 1 + sum(1 for c in cts[:6] if u >= c)
                cnt[pd] += 1
                psv[pd] += q
            for d, c in cnt.items():
                if c == n_t:
                    continue
                t_r = round(
                    abs(
                        psv[d] / 10000.0 / c
                        - (tv - psv[d]) / 10000.0 / (n_t - c)
                    ),
                    9,
                )
                if t_r >= t_obs[d]:
                    exceed[d] += 1
        for d in range(1, 8):
            out[(t, d)] = (n_c[d], t_obs[d], exceed[d])
    return out


def test_randomization_dow_matches_hash_reference(spark, sf_dir):
    ref = _rand_reference(spark, sf_dir)
    got = {
        (r.event_type, r.dow): r
        for r in get_query("stat_randomization_dow")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(ref)
    for key, (n_c, t_obs, a) in ref.items():
        g = got[key]
        assert g.n_c == n_c, key
        assert abs(g.t_obs - round(t_obs, 6)) < 1e-9, key
        assert g.n_exceed == a, key
        assert abs(g.p_value - round((1 + a) / 101, 6)) < 1e-9, key


def _bh_ref(pairs):
    """Textbook BH at q=0.1 over exact (1+a)/(R+1) p-values.
    pairs: list of (key, a); returns set of rejected keys."""
    ranked = sorted(pairs, key=lambda kv: (kv[1], kv[0]))
    m = len(ranked)
    k = 0
    for i, (_, a) in enumerate(ranked, 1):
        if (1 + a) * m * 10 <= i * 101:
            k = i
    return {key for key, _ in ranked[:k]}


def test_bh_fdr_matches_reference(spark, sf_dir):
    ref = _rand_reference(spark, sf_dir)
    rejected = _bh_ref(
        [((t, d), a) for (t, d), (_, _, a) in ref.items()]
    )
    got = get_query("stat_bh_fdr").fn(spark, sf_dir).collect()
    assert len(got) == len(ref)
    for r in got:
        assert r.rejected == ((r.event_type, r.dow) in rejected), r


def test_bh_step_up_closed_form():
    # classic BH example: m=4, q=0.1 scaled to a-counts with R=100:
    # p = (1+a)/101; a = (0, 1, 2, 90) -> p ~ (.0099, .0198, .0297, .9)
    # thresholds i*q/m = (.025, .05, .075, .1): first three reject —
    # including via the STEP-UP property (p_3 <= .075 rescues nothing
    # here, but p_2 <= .05 and p_1 <= .025 hold directly).
    rej = _bh_ref([("h1", 0), ("h2", 1), ("h3", 2), ("h4", 90)])
    assert rej == {"h1", "h2", "h3"}
    # step-up rescue: a=(1, 1, 2) m=3: p=(.0198,.0198,.0297),
    # thresholds (.0333,.0666,.1): all three pass at their own rank.
    assert _bh_ref([("a", 1), ("b", 1), ("c", 2)]) == {"a", "b", "c"}
    # nothing significant -> empty.
    assert _bh_ref([("a", 50), ("b", 60)]) == set()


# --------------------------------------------------------------------------
# Fisher exact / effect sizes
# --------------------------------------------------------------------------

from fractions import Fraction


def _fisher_tails_exact(a: int, r1: int, c1: int, n: int):
    """Exact rational hypergeometric tails via math.comb (no floats)."""
    den = math.comb(n, c1)
    lo = hi = Fraction(0)
    for k in range(max(0, r1 + c1 - n), min(r1, c1) + 1):
        p = Fraction(math.comb(r1, k) * math.comb(n - r1, c1 - k), den)
        if k <= a:
            lo += p
        if k >= a:
            hi += p
    return lo, hi


def test_fisher_exact_matches_comb_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    marg: dict[str, list[int]] = {}
    for r in rows:
        wk = 1 if r.ts.isoweekday() in (6, 7) else 0
        hi = 1 if r.value > 50 else 0
        m = marg.setdefault(r.event_type, [0, 0, 0, 0])
        m[0] += wk * hi
        m[1] += wk
        m[2] += hi
        m[3] += 1
    got = {
        r.event_type: r
        for r in get_query("stat_fisher_exact").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(marg)
    for t, (a, r1, c1, n) in marg.items():
        lo, hi = _fisher_tails_exact(a, r1, c1, n)
        g = got[t]
        assert (g.a, g.r1, g.c1, g.n) == (a, r1, c1, n)
        p1 = float(min(lo, hi))
        assert abs(g.p_one_sided - p1) < 1e-6, t
        assert abs(g.p_two_sided - min(1.0, 2 * p1)) < 1e-6, t
        b, c, d = r1 - a, c1 - a, n - r1 - c1 + a
        assert abs(g.odds_ratio - (a * d) / (b * c)) < 1e-5, t


def test_fisher_balanced_table_closed_form():
    # perfectly proportional table -> the observed k is the mode and
    # both tails overlap fully: p_two = 1 exactly after capping.
    lo, hi = _fisher_tails_exact(25, 50, 50, 100)
    assert lo + hi > 1  # overlap at k = a
    assert min(1.0, 2 * float(min(lo, hi))) == 1.0
    # extreme association: all weekend rows high -> the upper tail is the
    # single most-extreme table, C(10,10)C(90,0)/C(100,10).
    lo2, hi2 = _fisher_tails_exact(10, 10, 10, 100)
    assert hi2 == Fraction(1, math.comb(100, 10))
    assert float(hi2) < 1e-12


def test_effect_sizes_match_python_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    by_type: dict[str, tuple[list, list]] = {}
    for r in rows:
        g = by_type.setdefault(r.event_type, ([], []))
        q = math.floor(r.value * 100.0 + 0.5)
        (g[0] if r.ts.isoweekday() in (6, 7) else g[1]).append(q)
    got = {
        r.event_type: r
        for r in get_query("stat_effect_sizes").fn(spark, sf_dir).collect()
    }
    for t, (xs, ys) in by_type.items():
        n1, n2 = len(xs), len(ys)
        m1, m2 = sum(xs) / n1, sum(ys) / n2
        ss = sum((x - m1) ** 2 for x in xs) + sum((y - m2) ** 2 for y in ys)
        sp = math.sqrt(ss / (n1 + n2 - 2))
        d = (m1 - m2) / sp
        gcorr = d * (1 - 3 / (4 * (n1 + n2 - 2) - 1))
        gt = lt = 0
        for x in xs:
            for y in ys:
                gt += x > y
                lt += x < y
        delta = (gt - lt) / (n1 * n2)
        r = got[t]
        assert (r.n_weekend, r.n_weekday) == (n1, n2)
        assert abs(r.cohens_d - d) < 1e-5, t
        assert abs(r.hedges_g - gcorr) < 1e-5, t
        assert abs(r.cliffs_delta - delta) < 1e-6, t


def test_cliffs_delta_closed_form_boundaries():
    # complete dominance -> delta = +/-1; identical -> 0 (via the same
    # midrank identity the operator uses).
    def delta_midrank(xs, ys):
        from collections import Counter as C

        n1, n2 = len(xs), len(ys)
        cnt, c1 = C(xs + ys), C(xs)
        r1x2 = 0
        cum = 0
        for v in sorted(cnt):
            r1x2 += c1[v] * (2 * cum + cnt[v] + 1)
            cum += cnt[v]
        return (r1x2 - n1 * (n1 + 1) - n1 * n2) / (n1 * n2)

    assert delta_midrank([5, 6], [1, 2]) == 1.0
    assert delta_midrank([1, 2], [5, 6]) == -1.0
    assert delta_midrank([3, 3], [3, 3]) == 0.0


# --------------------------------------------------------------------------
# BLEU / forecast backtest / length buckets
# --------------------------------------------------------------------------


def test_bleu_corpus_matches_python_reference(spark, sf_dir):
    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet").collect(),
        key=lambda r: r.doc_id,
    )
    groups: dict[tuple, list] = {}
    for r in docs:
        groups.setdefault((r.lang, r.doc_id // 100), []).append(r)
    stats: dict[str, list[int]] = {}
    for (lang, _), rs in groups.items():
        st = stats.setdefault(lang, [0, 0, 0, 0, 0, 0])
        for cand, ref in zip(rs, rs[1:]):
            cw, rw = cand.text.split(" "), ref.text.split(" ")
            cb = [f"{a} {b}" for a, b in zip(cw, cw[1:])]
            rb = [f"{a} {b}" for a, b in zip(rw, rw[1:])]
            cu, ru = Counter(cw), Counter(rw)
            c2, r2 = Counter(cb), Counter(rb)
            st[0] += 1
            st[1] += len(cw)
            st[2] += len(rw)
            st[3] += len(cw) - 1
            st[4] += sum(min(c, ru[t]) for t, c in cu.items())
            st[5] += sum(min(c, r2[t]) for t, c in c2.items())
    got = {
        r.lang: r
        for r in get_query("eval_bleu_corpus").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(stats)
    for lang, (np, cl, rl, cl2, m1, m2) in stats.items():
        g = got[lang]
        assert (g.n_pairs, g.c_len, g.r_len) == (np, cl, rl)
        p1, p2 = m1 / cl, m2 / cl2
        bp = 1.0 if cl >= rl else math.exp(1.0 - rl / cl)
        assert abs(g.p1 - p1) < 1e-6 and abs(g.p2 - p2) < 1e-6, lang
        assert abs(g.bp - bp) < 1e-6
        assert abs(g.bleu2 - bp * math.sqrt(p1 * p2)) < 1e-6, lang


def test_bleu_identity_closed_form():
    # candidate == reference -> p1 = p2 = 1, bp = 1, bleu = 1.
    cw = "a b c d".split()
    cu, cb = Counter(cw), Counter(zip(cw, cw[1:]))
    assert sum(min(c, cu[t]) for t, c in cu.items()) == len(cw)
    assert sum(min(c, cb[t]) for t, c in cb.items()) == len(cw) - 1


def test_forecast_backtest_matches_python_reference(spark, sf_dir):
    from datetime import timedelta

    daily: dict[tuple, int] = Counter()
    for r in _events(spark, sf_dir):
        daily[(r.event_type, r.ts.date())] += 1
    per: dict[str, list] = {}
    for (t, day), n in daily.items():
        f7 = daily.get((t, day - timedelta(days=7)))
        f1 = daily.get((t, day - timedelta(days=1)))
        if f7 is not None and f1 is not None:
            per.setdefault(t, []).append((n, f7, f1))
    got = {
        r.event_type: r
        for r in get_query("ts_forecast_backtest").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(per)
    for t, rows in per.items():
        m = len(rows)
        mae = sum(abs(a - f) for a, f, _ in rows) / m
        rmse = math.sqrt(sum((a - f) ** 2 for a, f, _ in rows) / m)
        mape = sum(round(abs(a - f) / a, 9) for a, f, _ in rows) / m
        smape = sum(
            round(2 * abs(a - f) / (a + f), 9) for a, f, _ in rows
        ) / m
        mase = sum(abs(a - f) for a, f, _ in rows) / sum(
            abs(a - f1) for a, _, f1 in rows
        )
        g = got[t]
        assert g.n_days == m
        for name, ref in (
            ("mae", mae),
            ("rmse", rmse),
            ("mape", mape),
            ("smape", smape),
            ("mase", mase),
        ):
            assert abs(g[name] - ref) < 1e-6, (t, name)


def test_length_buckets_matches_python_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    caps = (8, 16, 32, 64, 128, 256, 512, 1024)
    per: dict[int, list[int]] = {}
    for r in docs:
        tok = r.n_chars // 4
        cap = next((c for c in caps[:-1] if tok <= c), caps[-1])
        per.setdefault(cap, []).append(tok)
    alltok = [t for v in per.values() for t in v]
    gmax, gdocs, gtok = max(alltok), len(alltok), sum(alltok)
    naive = (gdocs * gmax - gtok) / (gdocs * gmax)
    got = {
        r.cap: r
        for r in get_query("curation_length_buckets")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(per)
    for cap, toks in per.items():
        g = got[cap]
        assert g.n_docs == len(toks)
        assert int(g.total_tokens) == sum(toks)
        assert int(g.padded_tokens) == len(toks) * cap
        waste = (len(toks) * cap - sum(toks)) / (len(toks) * cap)
        assert abs(g.waste_pct - waste) < 1e-6
        assert abs(g.naive_waste_pct - naive) < 1e-6
        # waste is a proper fraction (caps are >= every member's tokens).
        assert 0.0 <= g.waste_pct < 1.0
    # the full-corpus bucketed padding beats naive when buckets are
    # populated below their caps on average — not guaranteed per bucket
    # (a top bucket can overshoot the global max), so assert only the
    # arithmetic identity: naive padded total >= actual token total.
    assert gdocs * gmax >= gtok


# --------------------------------------------------------------------------
# Bradley-Terry / power MDE / hard-sigmoid logistic GD
# --------------------------------------------------------------------------


def test_bradley_terry_matches_python_mm(spark, sf_dir):
    """Float-MM reference: the fixed-point trajectory must track the
    textbook float MM iteration to ~1e-6 relative after 3 rounds."""
    from avro_parquet_spark_example_spark.operators.inference import (
        _bt_iter_py,
        _BT_S,
    )

    daily: Counter = Counter()
    for r in _events(spark, sf_dir):
        daily[(r.event_type, r.ts.date())] += 1
    types = sorted({t for t, _ in daily})
    days = sorted({d for _, d in daily})
    nij: Counter = Counter()
    for d in days:
        for i in types:
            for j in types:
                if i != j and (i, d) in daily and (j, d) in daily:
                    if daily[(i, d)] > daily[(j, d)]:
                        nij[(i, j)] += 1
    # float textbook MM with the same per-round sum normalization
    k = len(types)
    pi = {t: 1.0 for t in types}
    wins = {t: sum(nij.get((t, u), 0) for u in types) for t in types}
    for _ in range(3):
        d = {
            t: sum(
                (nij.get((t, u), 0) + nij.get((u, t), 0))
                / (pi[t] + pi[u])
                for u in types
                if u != t
            )
            for t in types
        }
        raw = {t: wins[t] / d[t] for t in types}
        tsum = sum(raw.values())
        pi = {t: raw[t] * k / tsum for t in types}
    fixed, fwins, fgames = _bt_iter_py(types, dict(nij))
    got = {
        r.event_type: r
        for r in get_query("eval_elo_bradley_terry")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(types)
    for t in types:
        g = got[t]
        assert g.wins == wins[t] == fwins[t]
        assert g.pi9 == fixed[t]
        # fixed-point tracks float MM
        assert abs(fixed[t] / _BT_S - pi[t]) < 1e-5, t
        assert abs(
            g.rating - (1500 + 400 * math.log10(g.pi9 / _BT_S))
        ) < 1e-5


def test_bradley_terry_dominance_closed_form():
    """One type beats everyone -> strictly the largest strength; a
    symmetric duel matrix -> all strengths equal (= S after the
    sum normalization)."""
    from avro_parquet_spark_example_spark.operators.inference import (
        _bt_iter_py,
        _BT_S,
    )

    types = ["a", "b", "c"]
    sym = {(i, j): 5 for i in types for j in types if i != j}
    pi, _, _ = _bt_iter_py(types, sym)
    assert all(abs(v - _BT_S) <= 1 for v in pi.values())
    dom = dict(sym)
    dom[("a", "b")] = dom[("a", "c")] = 10
    dom[("b", "a")] = dom[("c", "a")] = 0
    pi2, _, _ = _bt_iter_py(types, dom)
    assert pi2["a"] > pi2["b"] and pi2["a"] > pi2["c"]


def test_power_mde_matches_python_reference(spark, sf_dir):
    by_type: dict[str, tuple[list, list]] = {}
    for r in _events(spark, sf_dir):
        g = by_type.setdefault(r.event_type, ([], []))
        q = math.floor(r.value * 100.0 + 0.5)
        (g[0] if r.ts.isoweekday() in (6, 7) else g[1]).append(q)
    got = {
        r.event_type: r
        for r in get_query("stat_power_mde").fn(spark, sf_dir).collect()
    }
    z = 1.959963984540054 + 0.8416212335729143
    for t, (xs, ys) in by_type.items():
        n1, n2 = len(xs), len(ys)
        m1, m2 = sum(xs) / n1, sum(ys) / n2
        sp = math.sqrt(
            (sum((x - m1) ** 2 for x in xs) + sum((y - m2) ** 2 for y in ys))
            / (n1 + n2 - 2)
        ) / 100.0
        mde = z * sp * math.sqrt(1 / n1 + 1 / n2)
        mean = (sum(xs) + sum(ys)) / 100.0 / (n1 + n2)
        g = got[t]
        assert abs(g.pooled_sd - sp) < 1e-5
        assert abs(g.mde_abs - mde) < 1e-5
        assert abs(g.mde_rel - mde / mean) < 1e-5
        # sanity: the observed |effect| vs MDE relationship is coherent
        assert g.mde_abs > 0


def test_logistic_gd_tracks_float_and_decreases_loss(spark, sf_dir):
    """Hard-sigmoid logistic GD: the fixed-point trajectory tracks a
    float replica of the SAME surrogate, and the logistic surrogate
    loss decreases over the 3 rounds."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.array(
        [[1.0] + [float(v) for v in r.embedding[:4]] for r in emb]
    )
    y = np.array([r.label % 2 for r in emb], dtype=float)
    n = len(y)

    def hs(z):
        return np.clip(z / 4 + 0.5, 0.0, 1.0)

    beta = np.zeros(5)
    losses = [float(np.mean((hs(X @ beta) - y) ** 2))]
    for _ in range(3):
        p = hs(X @ beta)
        beta -= (X.T @ (p - y)) / (4 * n)
        losses.append(float(np.mean((hs(X @ beta) - y) ** 2)))
    rows = get_query("ml_logistic_gd").fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r.beta7 / 1e7 - beta[r.j]) < 1e-4, r.j
    # squared-error surrogate decreases round over round
    assert losses[1] < losses[0] and losses[2] < losses[1]
    assert losses[3] < losses[2]


# --------------------------------------------------------------------------
# ROUGE-N / Wilson win-rate matrix
# --------------------------------------------------------------------------


def test_rouge_n_matches_python_reference(spark, sf_dir):
    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet").collect(),
        key=lambda r: r.doc_id,
    )
    groups: dict[tuple, list] = {}
    for r in docs:
        groups.setdefault((r.lang, r.doc_id // 100), []).append(r)
    st: dict[str, list[int]] = {}
    for (lang, _), rs in groups.items():
        s = st.setdefault(lang, [0, 0, 0, 0, 0, 0, 0])
        for cand, ref in zip(rs, rs[1:]):
            cw, rw = cand.text.split(" "), ref.text.split(" ")
            cu, ru = Counter(cw), Counter(rw)
            cb = Counter(zip(cw, cw[1:]))
            rb = Counter(zip(rw, rw[1:]))
            s[0] += 1
            s[1] += len(cw)
            s[2] += len(rw)
            s[3] += len(cw) - 1
            s[4] += len(rw) - 1
            s[5] += sum(min(c, ru[t]) for t, c in cu.items())
            s[6] += sum(min(c, rb[t]) for t, c in cb.items())
    got = {
        r.lang: r for r in get_query("eval_rouge_n").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(st)
    for lang, (np_, c1, r1, c2, r2, m1, m2) in st.items():
        g = got[lang]
        assert g.n_pairs == np_
        assert abs(g.rouge1_recall - m1 / r1) < 1e-6
        assert abs(g.rouge1_precision - m1 / c1) < 1e-6
        assert abs(g.rouge1_f1 - 2 * m1 / (r1 + c1)) < 1e-6
        assert abs(g.rouge2_recall - m2 / r2) < 1e-6
        assert abs(g.rouge2_precision - m2 / c2) < 1e-6
        assert abs(g.rouge2_f1 - 2 * m2 / (r2 + c2)) < 1e-6
        # F1 is the harmonic mean of P and R (identity check)
        p_, r_ = m1 / c1, m1 / r1
        assert abs(g.rouge1_f1 - 2 * p_ * r_ / (p_ + r_)) < 1e-6


def _wilson(w: int, g: int, z: float = 1.959963984540054):
    p = w / g
    center = p + z * z / (2 * g)
    half = z * math.sqrt(p * (1 - p) / g + z * z / (4 * g * g))
    den = 1 + z * z / g
    return (center - half) / den, (center + half) / den


def test_win_rate_matrix_matches_python_reference(spark, sf_dir):
    daily: Counter = Counter()
    for r in _events(spark, sf_dir):
        daily[(r.event_type, r.ts.date())] += 1
    types = sorted({t for t, _ in daily})
    days = {d for _, d in daily}
    got = {
        (r.i, r.j): r
        for r in get_query("eval_win_rate_matrix").fn(spark, sf_dir).collect()
    }
    n_pairs = 0
    for i in types:
        for j in types:
            if i >= j:
                continue
            w = g = 0
            for d in days:
                if (i, d) in daily and (j, d) in daily:
                    if daily[(i, d)] != daily[(j, d)]:
                        g += 1
                        w += daily[(i, d)] > daily[(j, d)]
            if g == 0:
                continue
            n_pairs += 1
            r = got[(i, j)]
            assert (r.wins_i, r.games) == (w, g)
            lo, hi = _wilson(w, g)
            assert abs(r.wilson_lo - lo) < 1e-6
            assert abs(r.wilson_hi - hi) < 1e-6
            assert r.decisive == (lo > 0.5 or hi < 0.5)
            assert 0.0 <= r.wilson_lo <= r.win_rate <= r.wilson_hi <= 1.0
    assert len(got) == n_pairs


def test_wilson_interval_closed_forms():
    # w=g (all wins): interval still inside [0,1], lo < 1.
    lo, hi = _wilson(10, 10)
    assert 0 < lo < 1 and abs(hi - 1.0) < 1e-12
    # symmetric: w and g-w mirror around 1/2.
    lo1, hi1 = _wilson(3, 10)
    lo2, hi2 = _wilson(7, 10)
    assert abs(lo1 - (1 - hi2)) < 1e-12 and abs(hi1 - (1 - lo2)) < 1e-12


# --------------------------------------------------------------------------
# graph_scc — Python Tarjan-free closure reference
# --------------------------------------------------------------------------


def test_graph_scc_matches_python_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    orders = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    }
    cust = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    supp = {
        r.s_suppkey: r.s_nationkey
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet").collect()
    }
    nations = sorted(
        r.n_nationkey
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    )
    vol: Counter = Counter()
    for r in li:
        src = supp[r.l_suppkey]
        dst = cust[orders[r.l_orderkey]]
        if src != dst:
            vol[(src, dst)] += 1
    cnt, total = len(vol), sum(vol.values())
    adj: dict[int, set] = {}
    for (u, v), n in vol.items():
        if n * cnt * 2 > 3 * total:
            adj.setdefault(u, set()).add(v)
    reach = {u: set(adj.get(u, ())) for u in nations}
    changed = True
    while changed:
        changed = False
        for u in nations:
            new = set()
            for v in list(reach[u]):
                new |= adj.get(v, set())
            if not new <= reach[u]:
                reach[u] |= new
                changed = True
    comp = {}
    for u in nations:
        members = {v for v in reach[u] if u in reach.get(v, set())} | {u}
        # scc_id = min over mutual members INCLUDING u itself
        mutual = {v for v in reach[u] if u in reach.get(v, set())}
        comp[u] = min(mutual | {u})
    sizes = Counter(comp.values())
    got = {
        r.node: r for r in get_query("graph_scc").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(nations)
    for u in nations:
        assert got[u].scc_id == comp[u], u
        assert got[u].scc_size == sizes[comp[u]], u
    # SCC sanity: ids are class representatives (id's own id is itself)
    for u in nations:
        assert comp[comp[u]] == comp[u]


def test_scc_closed_form_cycle_vs_chain():
    # a directed 3-cycle is one SCC; a 3-chain is three singletons —
    # verified through the same mutual-reachability definition.
    def sccs(edges, nodes):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
        reach = {u: set(adj.get(u, ())) for u in nodes}
        changed = True
        while changed:
            changed = False
            for u in nodes:
                new = set()
                for v in list(reach[u]):
                    new |= adj.get(v, set())
                if not new <= reach[u]:
                    reach[u] |= new
                    changed = True
        return {
            u: min({v for v in reach[u] if u in reach.get(v, set())} | {u})
            for u in nodes
        }

    cyc = sccs([(1, 2), (2, 3), (3, 1)], [1, 2, 3])
    assert set(cyc.values()) == {1}
    chain = sccs([(1, 2), (2, 3)], [1, 2, 3])
    assert chain == {1: 1, 2: 2, 3: 3}


# --------------------------------------------------------------------------
# mSPRT / piecewise trend
# --------------------------------------------------------------------------


def test_msprt_matches_python_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    daily: dict[tuple, list[int]] = {}
    allq = []
    for r in rows:
        q = math.floor(r.value * 100.0 + 0.5)
        daily.setdefault((r.event_type, r.ts.date()), []).append(q)
        allq.append(q)
    ng = len(allq)
    mu0 = sum(allq) / 100.0 / ng
    var2 = sum(q * q for q in allq) / 10000.0 / ng - mu0 * mu0
    got = {
        r.event_type: r
        for r in get_query("stat_msprt_sequential").fn(spark, sf_dir).collect()
    }
    types = sorted({t for t, _ in daily})
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        cn = cs = 0
        logls = []
        first = None
        for d in days:
            qs = daily[(t, d)]
            cn += len(qs)
            cs += sum(qs)
            dev = cs / 100.0 / cn - mu0
            logl = round(
                0.5 * math.log(var2 / (var2 + cn * var2))
                + (cn * cn * var2 * dev * dev)
                / (2 * var2 * (var2 + cn * var2)),
                9,
            )
            logls.append(logl)
            if first is None and logl >= 2.995732273553991:
                first = d
        g = got[t]
        assert g.n_days == len(days)
        assert abs(g.log_lambda_final - round(logls[-1], 6)) < 1e-9, t
        assert g.first_cross_day == first
        assert g.rejected == (first is not None)


def test_msprt_closed_forms():
    # ONE-SAMPLE kernel (τ² = σ²): at x̄ == μ0 the likelihood ratio is
    # the pure mixture shrinkage term log Λ = ½ ln(1/(1+n)) < 0 — can
    # never reject under exact H0.
    for n in (1, 10, 1000):
        ll = 0.5 * math.log(1 / (1 + n))
        assert ll < 0
    # monotone in |x̄−μ0| at fixed n.
    def logl(n, dev, var2=1.0):
        return 0.5 * math.log(var2 / (var2 + n * var2)) + (
            n * n * var2 * dev * dev
        ) / (2 * var2 * (var2 + n * var2))

    assert logl(100, 0.2) > logl(100, 0.1) > logl(100, 0.0)
    # vs the two-sample surrogate the r12 code shipped: the one-sample
    # quadratic term is strictly larger (1/(2(1+n)) > 1/(4(2+n))), so
    # once evidence accumulates the correct kernel crosses the boundary
    # sooner — the surrogate was conservative, as ADVICE r12 noted.
    def logl_2s(n, dev, var2=1.0):
        return 0.5 * math.log(2 * var2 / (2 * var2 + n * var2)) + (
            n * n * var2 * dev * dev
        ) / (4 * var2 * (2 * var2 + n * var2))

    for n in (100, 1000):
        assert logl(n, 0.3) > logl_2s(n, 0.3)


def test_piecewise_trend_matches_python_reference(spark, sf_dir):
    daily: Counter = Counter()
    for r in _events(spark, sf_dir):
        daily[(r.event_type, r.ts.date())] += 1
    got = {
        (r.event_type, r.segment): r
        for r in get_query("ts_piecewise_trend").fn(spark, sf_dir).collect()
    }
    types = sorted({t for t, _ in daily})
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        nd = len(days)
        segs: dict[int, list[tuple[int, int]]] = {}
        for i, d in enumerate(days, 1):
            seg = min(2, (i - 1) * 3 // nd)
            segs.setdefault(seg, []).append((i, daily[(t, d)]))
        for seg, pts in segs.items():
            m = len(pts)
            sx = sum(x for x, _ in pts)
            sy = sum(y for _, y in pts)
            sxy = sum(x * y for x, y in pts)
            sxx = sum(x * x for x, _ in pts)
            slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
            g = got[(t, seg)]
            assert g.n_days == m
            assert abs(g.mean_level - sy / m) < 1e-6
            assert abs(g.slope - slope) < 1e-6, (t, seg)
    # every type has exactly 3 segments
    assert len(got) == 3 * len(types)


def test_piecewise_trend_exact_line_closed_form():
    # points exactly on a line -> slope recovered exactly in every
    # segment split.
    pts = [(i, 7 + 3 * i) for i in range(1, 31)]
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        seg = pts[lo:hi]
        m = len(seg)
        sx = sum(x for x, _ in seg)
        sy = sum(y for _, y in seg)
        sxy = sum(x * y for x, y in seg)
        sxx = sum(x * x for x, _ in seg)
        assert (m * sxy - sx * sy) / (m * sxx - sx * sx) == 3.0


# --------------------------------------------------------------------------
# AUC bootstrap CI — hash-exact Python twin
# --------------------------------------------------------------------------


def test_auc_bootstrap_matches_hash_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    all_rows = [
        (
            int(r.l_orderkey) * 10 + int(r.l_linenumber),
            int(round(r.l_discount * 100)),
            1 if r.l_returnflag == "R" else 0,
        )
        for r in li
    ]
    # mirror the r13 validation-scope hash sample (a no-op at sf0.001
    # where N <= _BOOT_MAX_ROWS)
    thr = int(4294967296.0 * min(1.0, 30000.0 / len(all_rows)))
    base = [t for t in all_rows if _u32(f"{t[0]}:as") < thr]

    def auc_for(weights):
        from collections import defaultdict

        wp: Counter = Counter()
        wn: Counter = Counter()
        for (rid, v, pos), w in zip(base, weights):
            if pos:
                wp[v] += w
            else:
                wn[v] += w
        u2 = 0
        cwn = 0
        for v in sorted(set(wp) | set(wn)):
            u2 += wp[v] * (2 * cwn + wn[v])
            cwn += wn[v]
        return round(u2 / (2.0 * sum(wp.values()) * sum(wn.values())), 9)

    point = auc_for([1] * len(base))
    reps = []
    for rep in range(1, 101):
        ws = [
            sum(1 for t in _POIS_T if _u32(f"{rid}:{rep}:ab") >= t)
            for rid, _, _ in base
        ]
        reps.append((auc_for(ws), rep))
    reps.sort()
    lo, hi = reps[2][0], reps[97][0]
    row = get_query("eval_auc_bootstrap_ci").fn(spark, sf_dir).collect()[0]
    assert row.n_pos == sum(p for _, _, p in base)
    assert row.n_neg == len(base) - row.n_pos
    assert abs(row.auc - point) < 1e-6
    assert abs(row.ci_lo - lo) < 1e-6 and abs(row.ci_hi - hi) < 1e-6
    # the point estimate must match the exact-AUC operator
    exact = get_query("eval_auc_exact").fn(spark, sf_dir).collect()[0]
    assert abs(row.auc - exact.auc) < 1e-6
    assert row.ci_lo <= row.auc <= row.ci_hi


def test_median_ci_matches_python_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    by_flag: dict[str, list[int]] = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(int(r.l_quantity))
    got = {
        r.flag: r
        for r in get_query("agg_median_ci").fn(spark, sf_dir).collect()
    }
    z = 1.959963984540054
    for flag, xs in by_flag.items():
        xs.sort()
        n = len(xs)
        k_med = (n + 1) // 2
        k_lo = max(1, math.floor((n - z * math.sqrt(n)) / 2.0))
        k_hi = min(n, math.ceil(1.0 + (n + z * math.sqrt(n)) / 2.0))
        g = got[flag]
        assert g.n == n
        assert g.median == xs[k_med - 1]
        assert g.ci_lo == xs[k_lo - 1]
        assert g.ci_hi == xs[k_hi - 1]
        assert g.ci_lo <= g.median <= g.ci_hi


def test_median_ci_binomial_coverage_closed_form():
    """The order-statistic interval's nominal coverage: for n=100 the
    ranks are (40, 61) and the exact binomial probability
    P(40 <= B(100, 1/2) < 61) exceeds 0.95 (conservative interval)."""
    from fractions import Fraction

    n, z = 100, 1.959963984540054
    k_lo = max(1, math.floor((n - z * math.sqrt(n)) / 2.0))
    k_hi = min(n, math.ceil(1.0 + (n + z * math.sqrt(n)) / 2.0))
    cov = sum(
        Fraction(math.comb(n, k), 2**n) for k in range(k_lo, k_hi)
    )
    assert float(cov) > 0.95


def test_tost_matches_python_reference(spark, sf_dir):
    by_type: dict[str, tuple[list, list]] = {}
    allq = []
    for r in _events(spark, sf_dir):
        q = math.floor(r.value * 100.0 + 0.5)
        allq.append(q)
        g = by_type.setdefault(r.event_type, ([], []))
        (g[0] if r.ts.isoweekday() in (6, 7) else g[1]).append(q)
    mu = sum(allq) / 100.0 / len(allq)
    delta = round(mu * 1 / 20, 9)
    z = 1.6448536269514722
    got = {
        r.event_type: r
        for r in get_query("stat_equivalence_tost").fn(spark, sf_dir).collect()
    }
    for t, (xs, ys) in by_type.items():
        n1, n2 = len(xs), len(ys)
        m1, m2 = sum(xs) / n1, sum(ys) / n2
        diff = round((m1 - m2) / 100.0, 9)
        sp = math.sqrt(
            (sum((x - m1) ** 2 for x in xs) + sum((y - m2) ** 2 for y in ys))
            / (n1 + n2 - 2)
        ) / 100.0
        half = round(z * sp * math.sqrt(1 / n1 + 1 / n2), 9)
        g = got[t]
        assert abs(g.mean_diff - round(diff, 6)) < 1e-9
        assert abs(g.ci90_lo - round(diff - half, 6)) < 1e-6
        assert abs(g.ci90_hi - round(diff + half, 6)) < 1e-6
        # 1e-6 tolerance: Python round() is half-even, the engines round
        # half-away — an exact midpoint at the 6th digit differs by 1e-6.
        assert abs(g.margin - round(delta, 6)) < 2e-6
        assert g.equivalent == (diff - half > -delta and diff + half < delta), t


def test_tost_closed_form_decisions():
    """CI-inclusion TOST semantics: a tight CI inside the margin is
    equivalent; any CI touching the margin is not; a tiny-but-precise
    difference can be equivalent while a zero-mean noisy one is not —
    the asymmetry that distinguishes TOST from a t-test."""

    def tost(diff, half, delta):
        return diff - half > -delta and diff + half < delta

    assert tost(0.01, 0.02, 0.05)
    assert not tost(0.0, 0.05, 0.05)  # CI exactly reaches the margin
    assert tost(0.03, 0.01, 0.05)  # small precise shift: equivalent
    assert not tost(0.0, 0.5, 0.05)  # unbiased but too noisy: undecided


# --------------------------------------------------------------------------
# Round 13 ADVICE regressions: missing-dow densification, Fisher guards,
# derived bootstrap CI ranks
# --------------------------------------------------------------------------


def test_randomization_missing_dow_cell_labels_exact(spark):
    """A fixture with an ABSENT (type, dow) cell: before the r13 fix the
    NULL threshold silently shifted every later pseudo-weekday label;
    after densification each (row, replicate) label must equal the
    Python md5 inverse-CDF label exactly and the missing dow must never
    be drawn."""
    from avro_parquet_spark_example_spark.operators.inference import (
        randomization_pvalues_frame,
    )

    # 24 rows for type A covering dows {1,2,4,5,6,7} — dow 3 missing.
    rows = [("A", i, [1, 2, 4, 5, 6, 7][i % 6], 100 + 7 * i) for i in range(24)]
    e = spark.createDataFrame(
        rows, "event_type string, event_id bigint, dow int, q bigint"
    )
    got = {
        (r.event_type, r.dow): r
        for r in randomization_pvalues_frame(e).collect()
    }
    # observed output only carries present cells
    assert ("A", 3) not in got
    assert set(d for _, d in got) == {1, 2, 4, 5, 6, 7}
    # Python twin: densified thresholds over ALL 7 dows
    n_t = len(rows)
    n_c = Counter(d for _, _, d, _ in rows)
    sv = Counter()
    for _, _, d, q in rows:
        sv[d] += q
    cum, cts = 0, []
    for d in range(1, 8):
        cum += n_c[d]
        cts.append(cum * 4294967296 // n_t)
    tv = sum(q for _, _, _, q in rows)
    t_obs = {
        d: round(
            abs(sv[d] / 10000.0 / n_c[d] - (tv - sv[d]) / 10000.0 / (n_t - n_c[d])),
            9,
        )
        for d in n_c
    }
    exceed = Counter()
    for rep in range(1, 101):
        cnt, psv = Counter(), Counter()
        for _, eid, _, q in rows:
            u = _u32(f"{eid}:{rep}:rt")
            pd = 1 + sum(1 for c in cts[:6] if u >= c)
            assert pd != 3  # zero-width band: unreachable
            cnt[pd] += 1
            psv[pd] += q
        for d, c in cnt.items():
            if c == n_t:
                continue
            t_r = round(
                abs(psv[d] / 10000.0 / c - (tv - psv[d]) / 10000.0 / (n_t - c)), 9
            )
            if d in t_obs and t_r >= t_obs[d]:
                exceed[d] += 1
    for d in n_c:
        g = got[("A", d)]
        assert g.n_c == n_c[d]
        assert abs(g.t_obs - t_obs[d]) < 1e-9
        assert g.a == exceed[d], (d, g.a, exceed[d])


def test_fisher_degenerate_margin_emits_null_odds_ratio(spark):
    """a == r1 (every weekend row is high): odds_ratio must be an
    explicit NULL via the CASE guard, not an engine-specific
    division-by-zero artifact; p-values still computed."""
    from avro_parquet_spark_example_spark.operators.inference import (
        fisher_exact_frame,
    )

    rows = (
        [("D", 1, 1)] * 6          # weekend & high: a = r1 = 6
        + [("D", 0, 1)] * 4        # weekday & high
        + [("D", 0, 0)] * 10       # weekday & low
        + [("OK", 1, 1)] * 3 + [("OK", 1, 0)] * 3
        + [("OK", 0, 1)] * 4 + [("OK", 0, 0)] * 10
    )
    e = spark.createDataFrame(rows, "event_type string, wk int, hi int")
    got = {r.event_type: r for r in fisher_exact_frame(e).collect()}
    assert got["D"].odds_ratio is None
    assert got["D"].p_one_sided is not None
    assert 0.0 < got["D"].p_two_sided <= 1.0
    # non-degenerate stratum keeps a finite ratio: OR = (3*10)/(3*4)
    assert abs(got["OK"].odds_ratio - 2.5) < 1e-9
    lo, hi = _fisher_tails_exact(6, 6, 10, 20)
    assert abs(got["D"].p_one_sided - round(min(lo, hi), 6)) < 1e-6


def test_fisher_nmax_guard_fails_loudly(spark, monkeypatch):
    """An unbounded stratum must raise, not broadcast an O(n) factorial
    table."""
    import pytest as _pytest

    from avro_parquet_spark_example_spark.operators import inference as inf

    rows = [("BIG", i % 2, (i // 2) % 2) for i in range(40)]
    e = spark.createDataFrame(rows, "event_type string, wk int, hi int")
    monkeypatch.setattr(inf, "_FISHER_NMAX", 10)
    with _pytest.raises(ValueError, match="_FISHER_NMAX"):
        inf.fisher_exact_frame(e).collect()


def test_bootstrap_ci_ranks_derive_from_boot_r():
    """ADVICE r12: the AUC bootstrap CI ranks were hardcoded 3/98;
    they must be ceil(0.025R)/ceil(0.975R) derived from _BOOT_R so a
    replicate-count change moves them instead of NULLing the CI."""
    from fractions import Fraction

    from avro_parquet_spark_example_spark.operators.inference import (
        _BOOT_HI_RK,
        _BOOT_LO_RK,
        _BOOT_R,
    )

    assert _BOOT_LO_RK == math.ceil(Fraction(25, 1000) * _BOOT_R)
    assert _BOOT_HI_RK == math.ceil(Fraction(975, 1000) * _BOOT_R)
    assert 1 <= _BOOT_LO_RK < _BOOT_HI_RK <= _BOOT_R
    # the integer-exact form matches ceil at awkward R too
    for r in (40, 100, 123, 200, 999, 1000):
        assert -((-25 * r) // 1000) == math.ceil(Fraction(25, 1000) * r)
        assert -((-975 * r) // 1000) == math.ceil(Fraction(975, 1000) * r)


# --------------------------------------------------------------------------
# Cell-sufficiency AUC bootstrap (round 13): hash-exact Python twin,
# per-row-twin equivalence, and Cornish–Fisher draw quality
# --------------------------------------------------------------------------


def _cell_z(v: int, pos: int, rep: int) -> float:
    """Irwin–Hall-12 z mirroring the engines' left-associated chain."""
    s = _u32(f"{v}:{pos}:{rep}:cb1") / 4294967296.0
    for j in range(2, 13):
        s = s + _u32(f"{v}:{pos}:{rep}:cb{j}") / 4294967296.0
    return s - 6.0


def _cell_w(n: int, v: int, pos: int, rep: int) -> int:
    if rep == 0:
        return n
    z = _cell_z(v, pos, rep)
    w = math.floor((n + math.sqrt(n) * z) + (z * z - 1.0) / 6.0 + 0.5)
    return max(0, w)


def test_auc_cell_bootstrap_matches_hash_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    cells: Counter = Counter()
    for r in li:
        cells[(int(round(r.l_discount * 100)), 1 if r.l_returnflag == "R" else 0)] += 1

    def auc_for(rep):
        wp, wn = Counter(), Counter()
        for (v, pos), n in cells.items():
            w = _cell_w(n, v, pos, rep)
            (wp if pos else wn)[v] += w
        u2, cwn = 0, 0
        for v in sorted(set(wp) | set(wn)):
            u2 += wp[v] * (2 * cwn + wn[v])
            cwn += wn[v]
        return round(u2 / (2.0 * sum(wp.values()) * sum(wn.values())), 9)

    point = auc_for(0)
    reps = sorted((auc_for(rep), rep) for rep in range(1, 101))
    lo, hi = reps[2][0], reps[97][0]
    row = get_query("eval_auc_bootstrap_cell_ci").fn(spark, sf_dir).collect()[0]
    assert row.n_pos == sum(n for (_, p), n in cells.items() if p)
    assert row.n_neg == sum(n for (_, p), n in cells.items() if not p)
    assert abs(row.auc - point) < 1e-6
    assert abs(row.ci_lo - lo) < 1e-6 and abs(row.ci_hi - hi) < 1e-6
    assert row.ci_lo <= row.auc <= row.ci_hi


def test_auc_cell_point_estimate_identical_to_per_row_twin(spark, sf_dir):
    """Replicate 0 is all-ones on both forms, so the point estimate
    must be BIT-identical; the CIs are two Monte-Carlo estimates of the
    same sampling distribution and must agree distributionally."""
    cell = get_query("eval_auc_bootstrap_cell_ci").fn(spark, sf_dir).collect()[0]
    row = get_query("eval_auc_bootstrap_ci").fn(spark, sf_dir).collect()[0]
    n_total = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    if n_total <= 30000:  # per-row sampling is a no-op: exact identity
        assert cell.auc == row.auc  # same unweighted midrank algebra
        assert cell.n_pos == row.n_pos and cell.n_neg == row.n_neg
    else:  # per-row twin describes its hash sample: MC agreement only
        assert abs(cell.auc - row.auc) < 0.02
    # distributional equivalence: each CI covers the other's midpoint,
    # and widths agree within 2x (100-replicate order statistics carry
    # ~30% MC noise on the endpoints; 2x is the loud-failure bound).
    w_cell = cell.ci_hi - cell.ci_lo
    w_row = row.ci_hi - row.ci_lo
    assert w_cell > 0 and w_row > 0
    assert 0.5 < w_cell / w_row < 2.0
    assert cell.ci_lo <= row.auc <= cell.ci_hi
    assert row.ci_lo <= cell.auc <= row.ci_hi


def test_cell_w_cornish_fisher_moments():
    """Draw quality: over many md5 seeds the Cornish–Fisher surrogate
    must match Poisson(N)'s mean, variance, and skewness — the three
    moments the expansion is built to match."""
    n = 250
    m = 20000
    ws = [_cell_w(n, 7, 1, rep) for rep in range(1, m + 1)]
    mean = sum(ws) / m
    var = sum((w - mean) ** 2 for w in ws) / (m - 1)
    skew = (sum((w - mean) ** 3 for w in ws) / m) / var ** 1.5
    assert abs(mean - n) < 3 * math.sqrt(n / m) + 0.2   # ±~0.55
    assert abs(var - n) < 0.06 * n                       # ±6%
    assert abs(skew - 1 / math.sqrt(n)) < 0.05
    # never negative, and the r=0 arm is the exact count
    assert min(ws) >= 0
    assert _cell_w(n, 7, 1, 0) == n


# --------------------------------------------------------------------------
# Benjamini–Yekutieli vs Benjamini–Hochberg ordering property
# --------------------------------------------------------------------------


def test_by_fdr_never_rejects_more_than_bh(spark, sf_dir):
    bh = {
        (r.event_type, r.dow): r
        for r in get_query("stat_bh_fdr").fn(spark, sf_dir).collect()
    }
    by = {
        (r.event_type, r.dow): r
        for r in get_query("stat_by_fdr").fn(spark, sf_dir).collect()
    }
    assert set(bh) == set(by) and len(by) == 35
    # identical p-values and ranks; BY threshold is BH's / H(m) -> BY's
    # rejection set is a SUBSET of BH's (the defining property)
    for k in bh:
        assert bh[k].p_value == by[k].p_value
        assert bh[k].p_rank == by[k].p_rank
        if by[k].rejected:
            assert bh[k].rejected
    # step-up coherence: rejections are exactly ranks 1..k
    rej = sorted(r.p_rank for r in by.values() if r.rejected)
    assert rej == list(range(1, len(rej) + 1))


# --------------------------------------------------------------------------
# McNemar
# --------------------------------------------------------------------------


def test_mcnemar_matches_python_reference(spark, sf_dir):
    b: Counter = Counter()
    c: Counter = Counter()
    n: Counter = Counter()
    for r in _events(spark, sf_dir):
        ya = 1 if r.value > 50 else 0
        yb = _is_weekend(r.ts)
        n[r.event_type] += 1
        if ya and not yb:
            b[r.event_type] += 1
        if yb and not ya:
            c[r.event_type] += 1
    got = {
        r.event_type: r
        for r in get_query("eval_mcnemar_paired").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(n)
    for t in n:
        g = got[t]
        assert (g.n, g.b, g.c) == (n[t], b[t], c[t])
        bc = b[t] + c[t]
        assert abs(g.chi2 - round((b[t] - c[t]) ** 2 / bc, 6)) < 1e-9
        cc = max(abs(b[t] - c[t]) - 1, 0) ** 2 / bc
        assert abs(g.chi2_cc - round(cc, 6)) < 1e-9
        assert g.rejected == (cc > 3.841458820694124)


def test_mcnemar_closed_forms():
    # symmetric discordance -> 0; all-one-sided -> (b-1)^2/b with CC.
    assert (10 - 10) ** 2 / 20 == 0.0
    b, c = 10, 0
    assert (abs(b - c) - 1) ** 2 / (b + c) == 8.1
    # CC never exceeds the uncorrected statistic
    for b, c in ((5, 1), (9, 3), (100, 40)):
        assert (abs(b - c) - 1) ** 2 / (b + c) <= (b - c) ** 2 / (b + c)


# --------------------------------------------------------------------------
# Cochran's Q
# --------------------------------------------------------------------------


def _q_stat(rows):
    k = 3
    ca = sum(a for a, _, _ in rows)
    cb = sum(bb for _, bb, _ in rows)
    cc = sum(cv for _, _, cv in rows)
    g = ca + cb + cc
    sr2 = sum((a + bb + cv) ** 2 for a, bb, cv in rows)
    den = k * g - sr2
    if den == 0:
        return None
    return (k - 1) * (k * (ca * ca + cb * cb + cc * cc) - g * g) / den


def test_cochran_q_matches_python_reference(spark, sf_dir):
    per: dict[str, list] = {}
    for r in _events(spark, sf_dir):
        per.setdefault(r.event_type, []).append(
            (
                1 if r.value > 50 else 0,
                _is_weekend(r.ts),
                1 if int(r.event_id) % 2 == 0 else 0,
            )
        )
    got = {
        r.event_type: r
        for r in get_query("eval_cochran_q").fn(spark, sf_dir).collect()
    }
    for t, rows in per.items():
        g = got[t]
        q = _q_stat(rows)
        assert g.n == len(rows)
        assert abs(g.q_stat - round(q, 6)) < 1e-9, t
        assert g.rejected == (q > 5.991464547107979)


def test_cochran_q_closed_forms():
    # equal column totals with discordant rows -> Q = 0 (no marginal
    # differences; note fully concordant rows are degenerate, below)
    assert _q_stat([(1, 0, 0), (0, 1, 0), (0, 0, 1)]) == 0.0
    # one dominant column inflates Q
    q = _q_stat([(1, 0, 0)] * 6 + [(1, 1, 1)] * 2 + [(0, 0, 0)] * 2)
    assert q > 5.991  # A passes everywhere B/C don't: rejected
    # all-equal rows (r_i = 0 or 3 only) -> denominator 0 -> undefined
    assert _q_stat([(1, 1, 1), (0, 0, 0)]) is None


# --------------------------------------------------------------------------
# Krippendorff's alpha (nominal)
# --------------------------------------------------------------------------


def _kripp_ref(items):
    m = len(items[0])
    big_n = len(items)
    s_in = 0
    n_c: Counter = Counter()
    for it in items:
        cnt = Counter(it)
        s_in += sum(v * v for v in cnt.values())
        n_c.update(cnt)
    n_tot = big_n * m
    don = big_n * m * m - s_in
    den = n_tot * n_tot - sum(v * v for v in n_c.values())
    d_o = don / (big_n * m * (m - 1))
    d_e = den / (n_tot * (n_tot - 1))
    return d_o, d_e, 1 - (don * n_tot * (n_tot - 1)) / (
        big_n * m * (m - 1) * den
    )


def test_krippendorff_matches_python_reference(spark, sf_dir):
    by_user: dict[int, list] = {}
    for r in _events(spark, sf_dir):
        by_user.setdefault(r.user_id, []).append(r)
    items = []
    for rs in by_user.values():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        items.append([r.event_type for r in rs[:5]])
    d_o, d_e, alpha = _kripp_ref(items)
    row = get_query("stat_krippendorff_alpha").fn(spark, sf_dir).collect()[0]
    assert row.n_items == len(items)
    assert row.n_raters == 5
    assert abs(row.d_o - d_o) < 1e-6
    assert abs(row.d_e - d_e) < 1e-6
    assert abs(row.alpha - alpha) < 1e-6


def test_krippendorff_closed_forms():
    # perfect agreement -> alpha = 1 regardless of mix
    _, _, a1 = _kripp_ref([["x"] * 5, ["y"] * 5, ["x"] * 5])
    assert abs(a1 - 1.0) < 1e-12
    # alpha <= 1 always; systematic disagreement drives it negative
    _, _, a2 = _kripp_ref(
        [["a", "b", "a", "b", "a"], ["b", "a", "b", "a", "b"]]
    )
    assert a2 < 0.1
    # vs Fleiss on the same data: same D_o-style numerator, different
    # chance model — Krippendorff uses n_tot(n_tot-1) pairs (without
    # replacement), so alpha > kappa slightly for finite samples.
    items = [["a", "a", "a", "b", "b"], ["b", "b", "a", "a", "a"]]
    _, _, alpha = _kripp_ref(items)
    n, big_n = 5, 2
    p_bar = sum(
        (sum(v * v for v in Counter(it).values()) - n) / (n * (n - 1))
        for it in items
    ) / big_n
    tot = Counter(c for it in items for c in it)
    p_e = sum((v / (big_n * n)) ** 2 for v in tot.values())
    kappa = (p_bar - p_e) / (1 - p_e)
    assert alpha > kappa


# --------------------------------------------------------------------------
# DeLong SE
# --------------------------------------------------------------------------


def test_delong_matches_python_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    pos, neg = [], []
    for r in li:
        v = int(round(r.l_discount * 100))
        (pos if r.l_returnflag == "R" else neg).append(v)
    m, n = len(pos), len(neg)
    neg_cnt = Counter(neg)
    pos_cnt = Counter(pos)
    below = {}
    tied_n = {}
    acc = 0
    for v in range(0, 101):
        below[v] = acc
        tied_n[v] = neg_cnt.get(v, 0)
        acc += neg_cnt.get(v, 0)
    above_p = {}
    tied_p = {}
    acc = 0
    for v in range(100, -1, -1):
        above_p[v] = acc
        tied_p[v] = pos_cnt.get(v, 0)
        acc += pos_cnt.get(v, 0)
    v10 = [(below[v] + tied_n[v] / 2) / n for v in pos]
    v01 = [(above_p[v] + tied_p[v] / 2) / m for v in neg]
    auc = sum(v10) / m
    assert abs(auc - sum(v01) / n) < 1e-9  # DeLong identity
    s10 = sum((x - auc) ** 2 for x in v10) / (m - 1)
    s01 = sum((x - auc) ** 2 for x in v01) / (n - 1)
    se = math.sqrt(s10 / m + s01 / n)
    row = get_query("eval_auc_delong_se").fn(spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg) == (m, n)
    assert abs(row.auc - auc) < 1e-6
    assert abs(row.se_delong - se) < 1e-6
    assert abs(row.ci_lo - (auc - 1.959963984540054 * se)) < 2e-6
    assert abs(row.ci_hi - (auc + 1.959963984540054 * se)) < 2e-6


def test_delong_consistent_with_bootstrap_and_exact(spark, sf_dir):
    """The analytic CI and the cell-bootstrap CI estimate the same
    sampling distribution; the point estimate is the exact midrank
    AUC."""
    d = get_query("eval_auc_delong_se").fn(spark, sf_dir).collect()[0]
    e = get_query("eval_auc_exact").fn(spark, sf_dir).collect()[0]
    assert abs(d.auc - e.auc) < 1e-6
    b = get_query("eval_auc_bootstrap_cell_ci").fn(spark, sf_dir).collect()[0]
    w_d = d.ci_hi - d.ci_lo
    w_b = b.ci_hi - b.ci_lo
    assert 0.5 < w_d / w_b < 2.0  # same order; bootstrap has MC noise
    assert d.ci_lo <= d.auc <= d.ci_hi


# --------------------------------------------------------------------------
# Brier decomposition
# --------------------------------------------------------------------------


def test_brier_decomposition_matches_python_reference(spark, sf_dir):
    per: dict[str, list] = {}
    for r in _events(spark, sf_dir):
        q = math.floor(r.value * 100.0 + 0.5)
        per.setdefault(r.event_type, []).append((q, _is_weekend(r.ts)))
    got = {
        r.event_type: r
        for r in get_query("eval_brier_decomposition")
        .fn(spark, sf_dir)
        .collect()
    }
    for t, rows in per.items():
        n = len(rows)
        brier = sum((q - 10000 * o) ** 2 for q, o in rows) / 1e8 / n
        ob = sum(o for _, o in rows) / n
        bins: dict[int, list] = {}
        for q, o in rows:
            bins.setdefault(min(9, q // 1000), []).append((q, o))
        rel = sum(
            round(
                len(bs)
                * (
                    sum(q for q, _ in bs) / 10000.0 / len(bs)
                    - sum(o for _, o in bs) / len(bs)
                )
                ** 2,
                9,
            )
            for bs in bins.values()
        ) / n
        res = sum(
            round(len(bs) * (sum(o for _, o in bs) / len(bs) - ob) ** 2, 9)
            for bs in bins.values()
        ) / n
        unc = ob * (1 - ob)
        g = got[t]
        assert g.n == n
        assert abs(g.brier - brier) < 1e-6
        assert abs(g.reliability - rel) < 1e-6
        assert abs(g.resolution - res) < 1e-6
        assert abs(g.uncertainty - unc) < 1e-6
        # Murphy identity up to within-bin variance (>= 0):
        wbv = g.brier - (g.reliability - g.resolution + g.uncertainty)
        assert wbv > -1e-5
        assert g.resolution <= g.uncertainty + 1e-9  # RES bounded by UNC


def test_brier_decomposition_closed_forms():
    # perfectly calibrated constant forecast p = base rate: REL = 0,
    # RES = 0, brier = UNC + within-bin variance (0 for binary-matching
    # quantized p). With p = 0.3 and 30% outcomes in one bin:
    rows = [(3000, 1)] * 3 + [(3000, 0)] * 7
    n = len(rows)
    ob = 0.3
    rel = n * (3000 / 10000 - ob) ** 2 / n
    assert rel == 0.0
    brier = sum((q - 10000 * o) ** 2 for q, o in rows) / 1e8 / n
    unc = ob * (1 - ob)
    assert abs(brier - unc) < 1e-12  # identity: brier = UNC here


# --------------------------------------------------------------------------
# G-test
# --------------------------------------------------------------------------


def test_g_test_matches_python_reference(spark, sf_dir):
    marg: dict[str, list] = {}
    for r in _events(spark, sf_dir):
        wk = _is_weekend(r.ts)
        hi = 1 if r.value > 50 else 0
        m = marg.setdefault(r.event_type, [0, 0, 0, 0])
        m[0] += wk * hi
        m[1] += wk
        m[2] += hi
        m[3] += 1
    got = {
        r.event_type: r
        for r in get_query("stat_g_test").fn(spark, sf_dir).collect()
    }
    for t, (a, r1, c1, n) in marg.items():
        s = 0.0
        for o, rr, cc in (
            (a, r1, c1),
            (r1 - a, r1, n - c1),
            (c1 - a, n - r1, c1),
            (n - r1 - c1 + a, n - r1, n - c1),
        ):
            if o:
                s += round(o * math.log(o * n / (rr * cc)), 9)
        g2 = 2.0 * s
        g = got[t]
        assert g.n == n
        assert abs(g.g_stat - round(g2, 6)) < 1e-9, t
        assert g.rejected == (g2 > 3.841458820694124)


def test_g_test_closed_forms():
    # independence (perfectly proportional cells) -> G = 0
    a, r1, c1, n = 25, 50, 50, 100  # E11 = 25 = O11
    s = 0.0
    for o, rr, cc in (
        (a, r1, c1),
        (r1 - a, r1, n - c1),
        (c1 - a, n - r1, c1),
        (n - r1 - c1 + a, n - r1, n - c1),
    ):
        s += o * math.log(o * n / (rr * cc))
    assert abs(s) < 1e-12
    # G ~ Pearson X^2 to first order on mild departures
    a = 30
    g2 = 2 * sum(
        o * math.log(o * n / (rr * cc))
        for o, rr, cc in (
            (a, r1, c1),
            (r1 - a, r1, n - c1),
            (c1 - a, n - r1, c1),
            (n - r1 - c1 + a, n - r1, n - c1),
        )
    )
    x2 = sum(
        (o - rr * cc / n) ** 2 / (rr * cc / n)
        for o, rr, cc in (
            (a, r1, c1),
            (r1 - a, r1, n - c1),
            (c1 - a, n - r1, c1),
            (n - r1 - c1 + a, n - r1, n - c1),
        )
    )
    assert abs(g2 - x2) / x2 < 0.05


# --------------------------------------------------------------------------
# Rank-biased overlap
# --------------------------------------------------------------------------


def _rbo_ref(l1, l2, p=0.9, k=50):
    s1, s2 = set(), set()
    trunc = 0.0
    xd = 0
    for d in range(1, k + 1):
        s1.add(l1[d - 1])
        s2.add(l2[d - 1])
        xd = len(s1 & s2)
        trunc += round(round((1 - p) * p ** (d - 1), 12) * xd / d, 9)
    return trunc, xd, trunc + round(p**k, 12) * xd / k


def test_rbo_matches_python_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_chars = sorted(docs, key=lambda r: (-r.n_chars, r.doc_id))[:50]
    by_tok = sorted(
        docs, key=lambda r: (-len(r.text.split(" ")), r.doc_id)
    )[:50]
    trunc, xk, ext = _rbo_ref(
        [r.doc_id for r in by_chars], [r.doc_id for r in by_tok]
    )
    row = get_query("eval_rbo_rankings").fn(spark, sf_dir).collect()[0]
    assert row.k == 50
    assert row.overlap_at_k == xk
    assert abs(row.a_k - xk / 50) < 1e-9
    assert abs(row.rbo_trunc - round(trunc, 6)) < 1e-9
    assert abs(row.rbo_ext - round(ext, 6)) < 1e-6


def test_rbo_closed_forms():
    # identical rankings -> extrapolated RBO = 1 exactly
    ids = list(range(50))
    trunc, xk, ext = _rbo_ref(ids, ids)
    assert xk == 50
    assert abs(ext - 1.0) < 1e-9
    assert trunc < 1.0  # truncated form leaves the p^k tail on the table
    # disjoint rankings -> 0
    t0, x0, e0 = _rbo_ref(list(range(50)), list(range(100, 150)))
    assert (t0, x0, e0) == (0.0, 0, 0.0)
    # top-weighting: agreement at the TOP counts more than at the tail.
    # swap-in disagreement at depth 1 hurts more than at depth 50
    head = list(range(50))
    tail_diff = head[:-1] + [999]
    head_diff = [999] + head[1:]
    _, _, e_tail = _rbo_ref(head, tail_diff)
    _, _, e_head = _rbo_ref(head, head_diff)
    assert e_head < e_tail


# --------------------------------------------------------------------------
# CUPED
# --------------------------------------------------------------------------


def test_cuped_matches_python_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    cut = min(r.ts for r in rows) + __import__("datetime").timedelta(days=15)
    per: dict[int, list[int]] = {}
    for r in rows:
        q = math.floor(r.value * 100.0 + 0.5)
        x, y = per.setdefault(r.user_id, [0, 0])
        if r.ts < cut:
            per[r.user_id][0] = x + q
        else:
            per[r.user_id][1] = y + q
    n = len(per)
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    cxy, cxx, cyy = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    row = get_query("stat_cuped_adjustment").fn(spark, sf_dir).collect()[0]
    assert row.n_users == n
    assert abs(row.theta - cxy / cxx) < 1e-6
    assert abs(row.mean_y - sy / 100.0 / n) < 1e-6
    assert abs(row.var_y - cyy / 1e4 / n / n) < 1e-4
    assert abs(row.var_y_adj - (cyy - cxy**2 / cxx) / 1e4 / n / n) < 1e-4
    assert abs(row.var_reduction_pct - 100.0 * cxy**2 / (cxx * cyy)) < 1e-4
    # structure: adjustment can only help, and never past 100%
    assert 0.0 <= row.var_reduction_pct <= 100.0
    assert row.var_y_adj <= row.var_y + 1e-12


def test_cuped_closed_forms():
    # perfectly correlated covariate -> 100% variance reduction
    xs, ys = [1, 2, 3, 4], [10, 20, 30, 40]
    n = 4
    sx, sy = sum(xs), sum(ys)
    cxy = n * sum(x * y for x, y in zip(xs, ys)) - sx * sy
    cxx = n * sum(x * x for x in xs) - sx * sx
    cyy = n * sum(y * y for y in ys) - sy * sy
    assert abs(100.0 * cxy**2 / (cxx * cyy) - 100.0) < 1e-9
    # independent covariate (orthogonal) -> theta ~ 0, no reduction
    xs, ys = [1, -1, 1, -1], [5, 5, -5, -5]
    sx, sy = sum(xs), sum(ys)
    cxy = 4 * sum(x * y for x, y in zip(xs, ys)) - sx * sy
    assert cxy == 0


# --------------------------------------------------------------------------
# Group-sequential OBF
# --------------------------------------------------------------------------


def test_group_sequential_obf_matches_python_reference(spark, sf_dir):
    rows = _events(spark, sf_dir)
    allq = [math.floor(r.value * 100.0 + 0.5) for r in rows]
    ng = len(allq)
    mu0 = sum(allq) / 100.0 / ng
    var = sum(q * q for q in allq) / 1e4 / ng - mu0 * mu0
    sigma = math.sqrt(var)
    daily: dict[tuple, list[int]] = {}
    for r in rows:
        daily.setdefault((r.event_type, r.ts.date()), []).append(
            math.floor(r.value * 100.0 + 0.5)
        )
    got = {
        (r.event_type, r.look): r
        for r in get_query("stat_group_sequential_obf")
        .fn(spark, sf_dir)
        .collect()
    }
    bounds = {
        k: round(2.040 * math.sqrt(5 / k), 6) for k in range(1, 6)
    }
    types = sorted({t for t, _ in daily})
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        nd = len(days)
        cn = cs = 0
        cums = []
        for d in days:
            qs = daily[(t, d)]
            cn += len(qs)
            cs += sum(qs)
            cums.append((cn, cs))
        for k in range(1, 6):
            r = (k * nd) // 5
            if r == 0:
                continue
            n_k, s_k = cums[r - 1]
            z = (s_k / 100.0 / n_k - mu0) * math.sqrt(n_k) / sigma
            g = got[(t, k)]
            assert g.n_k == n_k
            assert abs(g.z - round(z, 6)) < 1e-9, (t, k)
            assert abs(float(g.bound) - bounds[k]) < 1e-9
            assert g.crossed == (abs(z) > bounds[k])
    assert len(got) == 5 * len(types)


def test_obf_boundary_shape():
    # boundaries decrease monotonically to ~the fixed-horizon z at the
    # final look, and spend almost no alpha early
    bounds = [2.040 * math.sqrt(5 / k) for k in range(1, 6)]
    assert all(a > b for a, b in zip(bounds, bounds[1:]))
    assert bounds[0] > 4.5  # look 1 nearly impossible to cross
    assert abs(bounds[-1] - 2.040) < 1e-12


# --------------------------------------------------------------------------
# Kendall's W (concordance)
# --------------------------------------------------------------------------


def _kendall_w_ref(matrix):
    """matrix: {judge: {item: score}} complete block; tie-corrected W
    via midranks, the exact integer identity the engines use."""
    judges = sorted(matrix)
    items = sorted(next(iter(matrix.values())))
    m, n = len(judges), len(items)
    d2 = {i: 0 for i in items}
    tt = 0
    for j in judges:
        scores = matrix[j]
        for i in items:
            below = sum(1 for i2 in items if scores[i2] < scores[i])
            tied = sum(1 for i2 in items if scores[i2] == scores[i])
            d2[i] += 2 * below + tied + 1
        ties = Counter(scores.values())
        tt += sum(t**3 - t for t in ties.values())
    s4 = sum((d2[i] - m * (n + 1)) ** 2 for i in items)
    den = m * m * (n**3 - n) - m * tt
    w = 3 * s4 / den
    return w, m * (n - 1) * w


def test_kendall_w_matches_python_reference(spark, sf_dir):
    mat: dict[str, dict[int, int]] = {}
    for r in _events(spark, sf_dir):
        dow = r.ts.isoweekday() % 7 + 1
        mat.setdefault(r.event_type, {}).setdefault(dow, 0)
        mat[r.event_type][dow] += 1
    # complete the block with zero counts (the operator densifies)
    items = sorted({i for sc in mat.values() for i in sc})
    for sc in mat.values():
        for i in items:
            sc.setdefault(i, 0)
    w, chi2 = _kendall_w_ref(mat)
    row = get_query("stat_kendall_w").fn(spark, sf_dir).collect()[0]
    assert row.n_items == len(items)
    assert row.n_judges == len(mat)
    assert abs(row.w - round(w, 6)) < 1e-9
    assert abs(row.chi2 - round(chi2, 6)) < 1e-9
    assert row.rejected == (chi2 > 12.591587243743977)
    assert 0.0 <= row.w <= 1.0


def test_kendall_w_closed_forms():
    # unanimous rankings -> W = 1 exactly
    mat = {j: {i: i * 10 for i in range(1, 6)} for j in "abc"}
    w, _ = _kendall_w_ref(mat)
    assert abs(w - 1.0) < 1e-12
    # perfectly opposed pair of judges -> W = 0
    mat2 = {
        "a": {i: i for i in range(1, 6)},
        "b": {i: 6 - i for i in range(1, 6)},
    }
    w2, _ = _kendall_w_ref(mat2)
    assert abs(w2) < 1e-12
    # all-tied scores: denominator fully tie-corrected; S = 0 -> W = 0/0
    # guarded upstream by design (not a valid concordance question) —
    # assert the identity's components vanish together
    mat3 = {"a": {1: 5, 2: 5}, "b": {1: 5, 2: 5}}
    judges = mat3.keys()
    tt = sum(
        sum(t**3 - t for t in Counter(mat3[j].values()).values())
        for j in judges
    )
    assert 2 * 2 * (2**3 - 2) - 2 * tt == 0


# --------------------------------------------------------------------------
# rbo_overlap id inference is now validated (ADVICE r13 #2)
# --------------------------------------------------------------------------


def _rank_frames(spark):
    t1 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_id int, r1 int"
    )
    t2 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_id int, r2 int"
    )
    return t1, t2


def test_rbo_overlap_rejects_ambiguous_t1(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    wide = t1.withColumn("extra", t1.doc_id * 2)
    with pytest.raises(ValueError, match="exactly two"):
        rbo_overlap(wide, t2, k=10)
    # explicit id_col rescues the wide frame
    row = rbo_overlap(wide, t2, k=10, id_col="doc_id").collect()[0]
    assert row.overlap_at_k == 10


def test_rbo_overlap_rejects_id_missing_from_t2(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    t1_renamed = t1.withColumnRenamed("doc_id", "other_id")
    with pytest.raises(ValueError, match="not in t2"):
        rbo_overlap(t1_renamed, t2, k=10)
    with pytest.raises(ValueError, match="must exist in both"):
        rbo_overlap(t1, t2, k=10, id_col="nope")


def test_rbo_overlap_identical_rankings_unchanged(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        rbo_overlap,
    )

    t1, t2 = _rank_frames(spark)
    row = rbo_overlap(t1, t2, k=10).collect()[0]
    assert row.overlap_at_k == 10
    assert abs(row.rbo_ext - 1.0) < 1e-6


# --------------------------------------------------------------------------
# collision-proof internal columns (ADVICE r13 #3)
# --------------------------------------------------------------------------


def test_events_sample_spark_survives_nr_column(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        _events_sample_spark,
    )

    e = spark.createDataFrame(
        [(i, i % 3, 7) for i in range(100)],
        "event_id long, event_type int, nr int",
    )
    out = _events_sample_spark(e)
    # under the cap -> identity sample; caller's nr column intact
    assert out.count() == 100
    assert "nr" in out.columns
    assert out.agg({"nr": "min"}).collect()[0][0] == 7


# --------------------------------------------------------------------------
# sampling scope visible in output (ADVICE r13 #1)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "key",
    [
        "stat_poisson_bootstrap_ci",
        "stat_randomization_dow",
        "eval_auc_bootstrap_ci",
    ],
)
def test_capped_fixtures_emit_sampled_flag(spark, sf_dir, key):
    df = get_query(key).fn(spark, sf_dir)
    assert "sampled" in df.columns
    vals = {r.sampled for r in df.select("sampled").distinct().collect()}
    # sf0.001 fixtures sit far below both caps -> flag must be False
    assert vals == {False}


# --------------------------------------------------------------------------
# r15 registry-wide ANSI sweep (REVIEW_r15_stats.md §older families):
# seven PRE-r14 library forms crashed on the same degenerate margins —
# including two whose REVIEW_r14 entries claimed "NULL on both engines
# (probed)" (cuped, krippendorff: that claim was WRONG under ANSI).
# --------------------------------------------------------------------------


def test_cuped_constant_covariate(spark):
    from avro_parquet_spark_example_spark.operators.inference import cuped

    r = cuped(
        spark.createDataFrame([(7, y) for y in range(10)], "x long, y long")
    ).collect()[0]
    assert r.theta is None and r.var_y_adj is None
    assert r.var_reduction_pct is None
    assert r.mean_y is not None and r.var_y is not None  # still defined


def test_agreement_single_category(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        fleiss_kappa,
        krippendorff_alpha,
    )

    ratings = spark.createDataFrame(
        [(i, "x") for i in range(6) for _ in range(3)],
        "item int, category string",
    )
    fk = fleiss_kappa(ratings, "item", "category", 3).collect()[0]
    assert fk.p_bar == 1.0 and fk.p_e == 1.0 and fk.kappa is None
    ka = krippendorff_alpha(ratings, "item", "category", 3).collect()[0]
    assert ka.d_o == 0.0 and ka.alpha is None


def test_two_sample_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        effect_sizes,
        power_mde,
    )

    allequal = spark.createDataFrame(
        [("a", w, 5) for w in (0, 1) for _ in range(5)],
        "event_type string, wk int, q long",
    )
    es = effect_sizes(allequal).collect()[0]
    assert es.cohens_d is None and es.hedges_g is None
    assert es.cliffs_delta == 0.0  # ties -> exactly no dominance
    empty = spark.createDataFrame(
        [("a", 0, v) for v in range(5)], "event_type string, wk int, q long"
    )
    assert effect_sizes(empty).collect()[0].cohens_d is None
    pm = power_mde(empty).collect()[0]
    assert pm.pooled_sd is None and pm.mde_abs is None
    zero = spark.createDataFrame(
        [("a", w, 0) for w in (0, 1) for _ in range(5)],
        "event_type string, wk int, q long",
    )
    pz = power_mde(zero).collect()[0]
    assert pz.mde_abs == 0.0 and pz.mde_rel is None  # zero-mean metric


def test_delong_kendall_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        auc_delong_se,
        kendall_w,
    )

    one_class = auc_delong_se(
        spark.createDataFrame([(v, 0) for v in range(5)], "v long, pos int")
    ).collect()[0]
    assert one_class.auc is None and one_class.se_delong is None
    one_pos = auc_delong_se(
        spark.createDataFrame(
            [(5, 1)] + [(v, 0) for v in range(5)], "v long, pos int"
        )
    ).collect()[0]
    assert one_pos.auc == 1.0  # AUC defined at np = 1...
    assert one_pos.se_delong is None  # ...but its variance df is 0
    kw = kendall_w(
        spark.createDataFrame(
            [(j, 1, 5) for j in range(3)], "judge int, item int, cnt long"
        )
    ).collect()[0]
    assert kw.w is None and kw.chi2 is None and kw.rejected is False
