"""Projection-group statistics (operators/projection.py) vs independent
Python references: the exact PR AUC and the Jensen–Shannon divergence
terms."""

from __future__ import annotations

import math

from avro_parquet_spark_example_spark.registry import get_query


def test_pr_auc_matches_python_reference(spark, sf_dir):
    row = get_query("eval_pr_auc_exact").fn(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    pairs = [
        (int(round(r.l_discount * 100)), r.l_returnflag == "R") for r in li
    ]
    n_pos = sum(1 for _, p in pairs if p)
    n_neg = len(pairs) - n_pos
    assert (row.n_pos, row.n_neg) == (n_pos, n_neg)
    # step-wise AP over distinct-score thresholds, descending
    by_v: dict[int, list[int]] = {}
    for v, p in pairs:
        c = by_v.setdefault(v, [0, 0])
        c[0 if p else 1] += 1
    tp = pp = 0
    ap_sum12 = 0
    for v in sorted(by_v, reverse=True):
        cp, cn = by_v[v]
        tp += cp
        pp += cp + cn
        # r12: the engine quantizes the precision RATIO (≤1) to 12
        # digits and scales by the exact count — overflow-safe at any
        # corpus size (see eval_pr_auc_exact docstring)
        ap_sum12 += cp * math.floor(tp / pp * 1e12)
    assert row.ap_sum12 == ap_sum12
    ap = ap_sum12 / 1e12 / n_pos
    assert abs(row.avg_precision - round(ap, 6)) < 1e-9
    # AP of a weak-signal score sits between the positive base rate
    # (random ranking) and 1; ROC AUC near 0.5 implies AP near base rate
    base = n_pos / (n_pos + n_neg)
    assert base * 0.5 < row.avg_precision <= 1.0


def test_jsd_terms_match_python_and_bound(spark, sf_dir):
    rows = get_query("dq_drift_jsd").fn(spark, sf_dir).collect()
    assert sorted(r.bucket for r in rows) == list(range(10))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    ref = [0] * 10
    cur = [0] * 10
    import datetime

    split = datetime.datetime(1997, 1, 1)
    for r in o:
        b = min(int(r.o_totalprice // 50000), 9)
        ts = r.o_orderdate
        if isinstance(ts, datetime.datetime):
            is_ref = ts.replace(tzinfo=None) < split
        else:
            is_ref = ts < split.date()
        (ref if is_ref else cur)[b] += 1
    n_ref, n_cur = sum(ref), sum(cur)
    total = 0.0
    for r in rows:
        assert (ref[r.bucket], cur[r.bucket]) == (r.c_ref, r.c_cur)
        p = (r.c_ref + 1.0) / (n_ref + 10)
        q = (r.c_cur + 1.0) / (n_cur + 10)
        m = (p + q) / 2
        term = 0.5 * (p * math.log2(p / m) + q * math.log2(q / m))
        assert abs(r.jsd_term - round(term, 9)) < 1e-12
        total += r.jsd_term
    # base-2 JSD of (sub-)distributions is bounded by 1 and non-negative
    # up to smoothing mass truncation
    assert -1e-9 <= total <= 1.0
