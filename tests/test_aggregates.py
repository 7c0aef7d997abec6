"""Aggregate operators (operators/aggregates.py): the Theil index against an
independent Python reference over the collected fixture (the oracle pins
cross-engine equality; this pins the math), plus boundary pins on hand-built
frames for the rank correlations, HHI and mutual information. The robust
statistics (quantile bands, trimmed/winsorized means, MAD outliers,
Hodges–Lehmann) get the same pair: a Python reference and closed forms.
The bucketed equi-depth histogram must equal the window form and NTILE."""

from __future__ import annotations

import math

from avro_parquet_spark_example_spark.operators.aggregates import (
    hhi_index,
    kendall_tau_b,
    mutual_information,
    spearman_rho,
)
from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _frame, _type1


def test_theil_matches_python_reference(spark, sf_dir):
    row = get_query("agg_theil_index").fn(spark, sf_dir).collect()[0]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    per: dict[int, int] = {}
    for r in o:
        per[r.o_custkey] = per.get(r.o_custkey, 0) + int(
            round(r.o_totalprice * 100)
        )
    xs = list(per.values())
    n, sx = len(xs), sum(xs)
    assert (row.n, row.total_cents) == (n, sx)
    # reference mirrors the engine's 6-digit fixed-point x·ln x dsum
    xlx6 = sum(math.floor(x * math.log(x) * 1e6) for x in xs)
    theil = (xlx6 / 1e6) / sx + math.log(n) - math.log(sx)
    assert abs(row.theil_t - round(theil, 6)) < 1e-9
    # Theil T of a non-degenerate distribution: 0 < T <= ln(n)
    assert 0.0 < row.theil_t <= math.log(n)
    # cross-check against the unquantized definition (quantization noise
    # is ~1e-6/sx per row — invisible at 4 decimals)
    mu = sx / n
    t_exact = sum((x / sx) * math.log(x / mu) for x in xs)
    assert abs(row.theil_t - t_exact) < 1e-4


def test_rank_correlations_at_the_boundaries(spark):
    # perfectly monotone (with ties on neither axis): rho = tau = 1
    up = _frame(
        spark, [("g", i, i * 10) for i in range(1, 9)], "grp string, x int, y int"
    )
    assert spark is up.sparkSession
    r = spearman_rho(up, "x", "y", "grp").collect()[0]
    t = kendall_tau_b(up, "x", "y", "grp").collect()[0]
    assert (r.n, r.spearman_rho) == (8, 1.0)
    assert (t.n, t.kendall_tau_b) == (8, 1.0)
    # perfectly anti-monotone: -1
    down = _frame(
        spark, [("g", i, -i) for i in range(1, 9)], "grp string, x int, y int"
    )
    assert spearman_rho(down, "x", "y", "grp").collect()[0].spearman_rho == -1.0
    assert kendall_tau_b(down, "x", "y", "grp").collect()[0].kendall_tau_b == -1.0
    # heavy ties: all four quadrant cells equally filled -> 0 association
    flat_rows = [("g", x, y) for x in (0, 1) for y in (0, 1) for _ in range(5)]
    flat = _frame(spark, flat_rows, "grp string, x int, y int")
    assert abs(spearman_rho(flat, "x", "y", "grp").collect()[0].spearman_rho) < 1e-9
    assert abs(kendall_tau_b(flat, "x", "y", "grp").collect()[0].kendall_tau_b) < 1e-9


def test_hhi_at_the_boundaries(spark):
    # monopoly: one member holds everything -> HHI = 1
    mono = _frame(spark, [("m", 1, 1000)], "grp string, member int, cents long")
    row = hhi_index(mono, "grp", "cents").collect()[0]
    assert (row.n_members, row.hhi) == (1, 1.0)
    # k equal members -> HHI = 1/k (within the 1e-12 floor quantum)
    k = 8
    eq = _frame(
        spark,
        [("e", i, 500) for i in range(k)],
        "grp string, member int, cents long",
    )
    row = hhi_index(eq, "grp", "cents").collect()[0]
    assert row.n_members == k
    assert abs(row.hhi - 1 / k) < 1e-6


def test_mutual_information_at_the_boundaries(spark):
    # independent uniform 2x2 -> MI = 0
    indep_rows = [
        (1, str(x), str(y)) for x in (0, 1) for y in (0, 1) for _ in range(6)
    ]
    indep = _frame(spark, indep_rows, "seg int, x string, y string")
    assert abs(mutual_information(indep, "x", "y", "seg").collect()[0].mi_nats) < 1e-9
    # y == x (2 symbols, uniform) -> MI = H(X) = ln 2
    copy_rows = [(1, str(x), str(x)) for x in (0, 1) for _ in range(6)]
    copy = _frame(spark, copy_rows, "seg int, x string, y string")
    got = mutual_information(copy, "x", "y", "seg").collect()[0].mi_nats
    assert abs(got - round(math.log(2), 6)) < 1e-6


def _quantities(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    by_flag: dict[str, list[int]] = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(int(r.l_quantity))
    for xs in by_flag.values():
        xs.sort()
    return by_flag


def test_quantile_bands_match_python_reference(spark, sf_dir):
    by_flag = _quantities(spark, sf_dir)
    rows = {
        r.l_returnflag: r
        for r in get_query("agg_quantile_bands_exact")
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(by_flag)
    for flag, xs in by_flag.items():
        r = rows[flag]
        assert r.n == len(xs)
        for q in (25, 50, 75, 90):
            assert r[f"p{q}"] == _type1(xs, q), (flag, q)


def test_trimmed_winsorized_match_python_reference(spark, sf_dir):
    by_flag = _quantities(spark, sf_dir)
    rows = {
        r.l_returnflag: r
        for r in get_query("agg_trimmed_winsorized_mean")
        .fn(spark, sf_dir)
        .collect()
    }
    for flag, xs in by_flag.items():
        n = len(xs)
        k = n // 20
        mid = xs[k : n - k]
        tm = sum(mid) / (n - 2 * k)
        wm = (sum(mid) + k * xs[k] + k * xs[n - k - 1]) / n
        r = rows[flag]
        assert (r.n, r.n_trim) == (n, k)
        assert abs(r.trimmed_mean - round(tm, 6)) < 1e-9
        assert abs(r.winsorized_mean - round(wm, 6)) < 1e-9


def _median_type1(xs: list[int]) -> int:
    return xs[(len(xs) + 1) // 2 - 1]


def test_mad_and_outliers_match_python_reference(spark, sf_dir):
    by_flag = _quantities(spark, sf_dir)
    mads = {
        r.l_returnflag: r
        for r in get_query("agg_mad_robust").fn(spark, sf_dir).collect()
    }
    outs = {
        r.l_returnflag: r
        for r in get_query("dq_outlier_mad_flags").fn(spark, sf_dir).collect()
    }
    for flag, xs in by_flag.items():
        med = _median_type1(xs)
        devs = sorted(abs(x - med) for x in xs)
        mad = _median_type1(devs)
        r = mads[flag]
        assert (r.n, r.median, r.mad) == (len(xs), med, mad)
        n_out = sum(1 for x in xs if abs(x - med) > 3 * mad)
        o = outs[flag]
        assert (o.n, o.n_outlier) == (len(xs), n_out)
        assert abs(o.outlier_share - round(n_out / len(xs), 6)) < 1e-9


def test_hodges_lehmann_matches_python_reference(spark, sf_dir):
    from collections import Counter

    by_flag = _quantities(spark, sf_dir)
    xs, ys = by_flag["R"], by_flag["A"]
    cx, cy = Counter(xs), Counter(ys)
    diff = Counter()
    for vx, fx in cx.items():
        for vy, fy in cy.items():
            diff[vx - vy] += fx * fy
    total = sum(diff.values())
    cum = 0
    hl = None
    for d in sorted(diff):
        cum += diff[d]
        if 2 * cum >= total:
            hl = d
            break
    row = get_query("agg_hodges_lehmann_shift").fn(spark, sf_dir).collect()[0]
    assert (row.n_x, row.n_y, row.hl_shift) == (len(xs), len(ys), hl)


def test_robust_stats_closed_form_boundaries(spark):
    """Degenerate-input pins: MAD of a constant column is 0, a group's
    HL shift against itself is 0, trimming nothing reproduces the plain
    mean, and every quantile of a constant column is that constant."""
    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(spark=spark)
    const = spark.createDataFrame(
        [("g", 7)] * 10, "grp string, v long"
    )
    r = eng.mad(const, group="grp", value="v").collect()[0]
    assert (r.median, r.mad) == (7, 0)
    q = eng.quantile_bands(const, group="grp", value="v").collect()[0]
    assert (q.p25, q.p50, q.p75, q.p90) == (7, 7, 7, 7)

    mixed = spark.createDataFrame(
        [("g", v) for v in (1, 2, 2, 3, 9)], "grp string, v long"
    )
    t = eng.trimmed_mean(
        mixed, group="grp", value="v", trim_denom=100
    ).collect()[0]
    # k = 5 div 100 = 0: nothing trimmed → both estimates equal the mean
    assert t.n_trim == 0
    assert abs(t.trimmed_mean - 3.4) < 1e-9
    assert abs(t.winsorized_mean - 3.4) < 1e-9

    hl = eng.hl_shift(
        mixed.select("v"), mixed.select("v"), value="v"
    ).collect()[0]
    assert hl.hl_shift == 0


def test_median_ci_survives_flag_and_v_names(spark):
    from avro_parquet_spark_example_spark.operators.aggregates import (
        median_ci,
    )

    # group column named 'v', value column named 'flag' — the exact
    # collision class the r13 ADVICE flagged
    df = spark.createDataFrame(
        [("a", x) for x in range(1, 102)] + [("b", x) for x in range(5, 16)],
        "v string, flag int",
    )
    got = {r.v: r for r in median_ci(df, "v", "flag").collect()}
    assert got["a"].median == 51 and got["a"].n == 101
    assert got["b"].median == 10 and got["b"].n == 11
    # plain names still work
    df2 = df.withColumnRenamed("v", "g").withColumnRenamed("flag", "x")
    got2 = {r.g: r.median for r in median_ci(df2, "g", "x").collect()}
    assert got2 == {"a": 51, "b": 10}


def test_equidepth_bucketed_identical_to_window_form(spark, sf_dir):
    window_rows = sorted(
        map(
            tuple,
            get_query("agg_equidepth_histogram").fn(spark, sf_dir).collect(),
        )
    )
    bucketed_rows = sorted(
        map(
            tuple,
            get_query("agg_equidepth_histogram_bucketed")
            .fn(spark, sf_dir)
            .collect(),
        )
    )
    assert bucketed_rows == window_rows


def test_equidepth_bucketed_plan_has_no_per_type_sort(spark, sf_dir):
    import re

    plan = (
        get_query("agg_equidepth_histogram_bucketed")
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for m in re.finditer(
        r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan
    ):
        assert "__bk" in m.group(1), f"rank window not bucket-partitioned: {m.group(1)}"


def test_equidepth_bucketed_iso_remainder_rule(spark):
    # 10 rows into 8 tiles: ISO NTILE gives the FIRST n mod k = 2 tiles
    # 2 rows each (the library-form closed form must match NTILE exactly,
    # including at n < tiles where q = 0)
    from avro_parquet_spark_example_spark.operators.aggregates import (
        equidepth_histogram_bucketed,
    )

    e = spark.createDataFrame(
        [("a", float(v), v) for v in range(10)]
        + [("b", float(v), v) for v in range(5)],
        "event_type string, value double, event_id long",
    )
    got = {
        (r.event_type, r.bucket): (r.n, r.lo, r.hi)
        for r in equidepth_histogram_bucketed(e).collect()
    }
    assert [got[("a", b)][0] for b in range(1, 9)] == [2, 2, 1, 1, 1, 1, 1, 1]
    assert got[("a", 1)] == (2, 0.0, 1.0) and got[("a", 8)] == (1, 9.0, 9.0)
    # n < tiles: every row its own tile, tiles 1..5
    assert [got[("b", b)][0] for b in range(1, 6)] == [1] * 5
    assert ("b", 6) not in got
    # skewed: all values equal -> one range bucket, ranks still exact
    sk = spark.createDataFrame(
        [("a", 7.0, i) for i in range(10)],
        "event_type string, value double, event_id long",
    )
    counts = [
        r.n
        for r in sorted(
            equidepth_histogram_bucketed(sk).collect(), key=lambda r: r.bucket
        )
    ]
    assert counts == [2, 2, 1, 1, 1, 1, 1, 1]
