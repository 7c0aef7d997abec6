"""Projection-group statistics (operators/projection.py) vs independent
Python references: the exact PR AUC, the Jensen–Shannon divergence
terms, the column profile, ECE/Brier calibration, and KL, KS, Welch and
Mann–Whitney drift."""

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


def test_column_profile_matches_python_reference(spark, sf_dir):
    import datetime
    from decimal import Decimal

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    rows = {
        r.col_name: r
        for r in get_query("dq_column_profile").fn(spark, sf_dir).collect()
    }
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    }
    n = len(orders)
    keys = [r.o_orderkey for r in orders]
    r = rows["o_orderkey"]
    assert (r.n, r.n_null, r.n_distinct) == (n, 0, len(set(keys)))
    assert (r.min_s, r.max_s) == (str(min(keys)), str(max(keys)))
    prices = [
        Decimal(str(round(r.o_totalprice, 2))) for r in orders
    ]
    r = rows["o_totalprice"]
    assert r.n_distinct == len(set(prices))
    dates = [
        r.o_orderdate.date()
        if isinstance(r.o_orderdate, datetime.datetime)
        else r.o_orderdate
        for r in orders
    ]
    r = rows["o_orderdate"]
    assert (r.min_s, r.max_s) == (str(min(dates)), str(max(dates)))


def test_ece_brier_match_python_reference(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    pairs = [
        (int(round(r.l_discount * 100)), 1 if r.l_returnflag == "R" else 0)
        for r in li
    ]
    n = len(pairs)
    bins: dict[int, list[int]] = {}
    for pct, y in pairs:
        c = bins.setdefault(pct, [0, 0])
        c[0] += 1
        c[1] += y
    ece = sum(
        abs(10 * pos - pct * cnt) for pct, (cnt, pos) in bins.items()
    ) / (10 * n)
    row = get_query("eval_ece_calibration").fn(spark, sf_dir).collect()[0]
    assert (row.n_bins, row.n) == (len(bins), n)
    assert abs(row.ece - round(ece, 6)) < 1e-9

    brier = sum((pct - 10 * y) ** 2 for pct, y in pairs) / (100 * n)
    rb = get_query("eval_brier_score").fn(spark, sf_dir).collect()[0]
    assert rb.n == n
    assert abs(rb.brier - round(brier, 6)) < 1e-9

    # closed forms: a perfect 0/1 predictor has ECE = 0 and Brier = 0;
    # a constant p=0.5 predictor on balanced labels has Brier = 0.25
    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(spark=spark)
    perfect = spark.createDataFrame(
        [(10, 1)] * 5 + [(0, 0)] * 5, "pct long, y long"
    )
    assert eng.calibration_error(
        perfect, pred="pct", outcome="y", prob_denom=10
    ).collect()[0].ece == 0.0
    assert eng.brier(
        perfect, pred="pct", outcome="y", prob_denom=10
    ).collect()[0].brier == 0.0
    half = spark.createDataFrame(
        [(5, 1)] * 5 + [(5, 0)] * 5, "pct long, y long"
    )
    assert abs(
        eng.brier(half, pred="pct", outcome="y", prob_denom=10)
        .collect()[0]
        .brier
        - 0.25
    ) < 1e-9


def test_kl_drift_matches_python_reference(spark, sf_dir):
    import datetime
    import math as m

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    split = datetime.datetime(1997, 1, 1)
    ref = [0] * 10
    cur = [0] * 10
    for r in orders:
        b = min(int(r.o_totalprice // 50000), 9)
        od = r.o_orderdate
        if isinstance(od, datetime.date) and not isinstance(
            od, datetime.datetime
        ):
            od = datetime.datetime(od.year, od.month, od.day)
        (ref if od < split else cur)[b] += 1
    n_ref, n_cur = sum(ref), sum(cur)
    rows = {
        r.bucket: r
        for r in get_query("dq_drift_kl").fn(spark, sf_dir).collect()
    }
    total = 0.0
    for b in range(10):
        p_cur = (cur[b] + 1.0) / (n_cur + 10)
        p_ref = (ref[b] + 1.0) / (n_ref + 10)
        term = p_cur * m.log(p_cur / p_ref)
        r = rows[b]
        assert (r.c_ref, r.c_cur) == (ref[b], cur[b])
        assert abs(r.kl_term - round(term, 9)) < 1e-9
        total += term
    # smoothed KL of two non-identical samples is non-negative up to
    # smoothing wiggle; identical distributions would pin at ~0
    assert total > -1e-6


def test_ks_drift_matches_python_reference(spark, sf_dir):
    """The distributed two-phase KS equals a single-threaded recompute of
    max |CDF_ref − CDF_cur| over pooled observed values, and sits in
    [0, 1] with the period split conserving rows."""
    from avro_parquet_spark_example_spark.registry import get_query

    row = get_query("dq_drift_ks").fn(spark, sf_dir).collect()[0]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    import datetime

    split = datetime.datetime(1997, 1, 1)
    ref = sorted(o.o_totalprice for o in orders if o.o_orderdate < split)
    cur = sorted(o.o_totalprice for o in orders if o.o_orderdate >= split)
    assert (row.n_ref, row.n_cur) == (len(ref), len(cur))
    assert len(ref) + len(cur) == len(orders)
    import bisect

    ks = 0.0
    for v in set(ref) | set(cur):
        f1 = bisect.bisect_right(ref, v) / len(ref)
        f2 = bisect.bisect_right(cur, v) / len(cur)
        ks = max(ks, abs(f1 - f2))
    assert abs(row.ks_stat - ks) < 1e-8, (row.ks_stat, ks)
    assert 0.0 <= row.ks_stat <= 1.0


def test_welch_ttest_matches_python_reference(spark, sf_dir):
    from avro_parquet_spark_example_spark.registry import get_query

    row = get_query("dq_drift_welch_ttest").fn(spark, sf_dir).collect()[0]
    import datetime
    import statistics

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    split = datetime.datetime(1997, 1, 1)
    ref = [o.o_totalprice for o in orders if o.o_orderdate < split]
    cur = [o.o_totalprice for o in orders if o.o_orderdate >= split]
    assert (row.n1, row.n2) == (len(ref), len(cur))
    m1, m2 = statistics.fmean(ref), statistics.fmean(cur)
    s1, s2 = statistics.variance(ref), statistics.variance(cur)
    se2 = s1 / len(ref) + s2 / len(cur)
    t = (m1 - m2) / se2**0.5
    dof = se2**2 / (
        (s1 / len(ref)) ** 2 / (len(ref) - 1)
        + (s2 / len(cur)) ** 2 / (len(cur) - 1)
    )
    assert abs(row.mean_diff - (m1 - m2)) < 1e-4
    assert abs(row.t_stat - t) < 1e-4
    assert abs(row.dof - dof) < 1e-2
    assert min(len(ref), len(cur)) - 1 <= row.dof <= len(ref) + len(cur) - 2


def test_mannwhitney_identities_and_reference(spark, sf_dir):
    """U_ref + U_cur == n1·n2 exactly; rank-sum re-derives from a
    pure-Python midrank computation."""
    from avro_parquet_spark_example_spark.registry import get_query

    row = get_query("dq_drift_mannwhitney").fn(spark, sf_dir).collect()[0]
    import datetime

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    split = datetime.datetime(1997, 1, 1)
    pooled = sorted(
        (o.o_totalprice, o.o_orderdate < split) for o in orders
    )
    n1 = sum(1 for _, r in pooled if r)
    n2 = len(pooled) - n1
    assert (row.n1, row.n2) == (n1, n2)
    # midranks
    r1 = 0.0
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        midrank = (i + 1 + j) / 2.0  # ranks i+1..j
        r1 += midrank * sum(1 for k in range(i, j) if pooled[k][1])
        i = j
    assert abs(row.rank_sum_ref - r1) < 0.51  # both rounded at 1dp
    assert abs(row.u_ref - (r1 - n1 * (n1 + 1) / 2.0)) < 0.51
    assert abs(row.u_ref + row.u_cur - n1 * n2) < 1e-6
