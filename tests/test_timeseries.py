"""Time-series operator invariants that go beyond the oracle hash: the
EWMA closed form must equal the sequential recursion EXACTLY (dyadic α),
transition counts must conserve events, pattern runs must be genuinely
increasing. ACF, Fano, Theil–Sen and Mann–Kendall are checked against
Python references and their closed forms; attribution conserves credit,
the seasonal baseline scores only days with history, and the seasonality
decomposition adds back up to the series."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _events, _frame


def _assert_ewma_is_recursion(spark, sf_dir, rel_tol):
    rows = get_query("ts_ewma").fn(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for series in by_type.values():
        y = None
        for r in series:
            y = float(r.n) if y is None else r.n / 2 + y / 2
            assert abs(r.ewma - y) <= rel_tol * y, (r.event_type, r.day, r.ewma, y)


def test_ewma_equals_sequential_recursion(spark, sf_dir):
    """The distributed closed form (2^n·y_n as an integer-valued running
    sum) is EXACTLY the recursion y_i = x_i/2 + y_{i−1}/2, y_1 = x_1 —
    dyadic arithmetic means equality is ==, not approx."""
    _assert_ewma_is_recursion(spark, sf_dir, rel_tol=0.0)


def test_ewma_long_series_does_not_overflow(spark, tmp_path):
    """100 days of one type: 2^rn weights overflowed a BIGINT past day 62;
    the double running sum rounds instead and still tracks the recursion."""
    spark.range(250).selectExpr(
        "id AS event_id",
        "'click' AS event_type",
        "timestamp_seconds(1704067200 + (id % 100) * 86400) AS ts",
    ).write.parquet(str(tmp_path / "events.parquet"))
    _assert_ewma_is_recursion(spark, str(tmp_path), rel_tol=1e-12)


def test_transition_matrix_conserves_events(spark, sf_dir):
    """Σ transition counts == total events − distinct users (each user's
    sequence of length L yields exactly L−1 transitions), and each
    prev_type's probabilities sum to 1."""
    rows = get_query("ts_transition_matrix").fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r.prev_type] = by_prev.get(r.prev_type, 0.0) + r.p
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-6, (prev, total)


def test_pattern_runs_are_strictly_increasing(spark, sf_dir):
    """Every emitted run really is ≥3 days and ends above where it
    started (strict increases compound), and runs never overlap within a
    user (maximality of the gaps-and-islands numbering)."""
    rows = get_query("ts_pattern_runs").fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.run_len >= 3
        # runs are over consecutive OBSERVATIONS (a user may skip days),
        # so the calendar span is at least, not exactly, run_len − 1
        assert (r.run_end - r.run_start).days >= r.run_len - 1
        assert r.end_close > r.start_close, r
        by_user.setdefault(r.user_id, []).append(r)
    for runs in by_user.values():
        runs.sort(key=lambda r: r.run_start)
        for a, b in zip(runs, runs[1:]):
            assert a.run_end < b.run_start


def test_benford_counts_conserve(spark, sf_dir):
    """Digit counts partition the positive values; expectations sum to
    the same total (Benford probabilities sum to 1)."""
    rows = get_query("dq_benford_digits").fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_pos = ev.filter(F.col("value") > 0).count()
    assert sum(r.n_obs for r in rows) == n_pos
    assert abs(sum(r.expected for r in rows) - n_pos) < 0.01
    assert sorted(r.digit for r in rows) == list(range(1, 10))


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile's two-phase rank + closed-form remainder rule must equal
    Spark's own NTILE over a true global window on every adversarial shape:
    heavy ties, skewed value ranges, n not divisible by k, and n < k."""
    from pyspark.sql import Window

    from avro_parquet_spark_example_spark.operators.timeseries import (
        global_ntile,
    )

    cases = [
        [(i, float(v)) for i, v in enumerate([5, 5, 5, 5, 1, 2, 2, 9, 9, 3, 7])],
        [(i, 42.0) for i in range(13)],  # all-equal: one bucket, pure tiebreak
        [(i, float(i**3)) for i in range(29)],  # skewed range
        [(0, 1.0), (1, 2.0), (2, 3.0)],  # n < k
    ]
    for k in (4, 5):
        for rows in cases:
            df = spark.createDataFrame(rows, "id int, v double")
            for desc in (False, True):
                got = {
                    r.id: r.tile
                    for r in global_ntile(
                        df, "v", k, "id", "tile", descending=desc
                    ).collect()
                }
                order = (F.col("v").desc() if desc else F.col("v").asc(), F.col("id"))
                want = {
                    r.id: r.t
                    for r in df.select(
                        "id", F.ntile(k).over(Window.orderBy(*order)).alias("t")
                    ).collect()
                }
                assert got == want, (k, desc, rows[:4], got, want)


def test_global_ntiles_fused_equals_sequential(spark):
    """The fused multi-metric global_ntiles (2 driver round-trips total,
    ADVICE r9) assigns the identical tiles the sequential single-metric
    calls did — per metric, per direction."""
    from avro_parquet_spark_example_spark.operators.timeseries import (
        global_ntile,
        global_ntiles,
    )

    rows = [
        (i, float(v), float((v * 7) % 13))
        for i, v in enumerate([5, 5, 1, 2, 9, 3, 7, 11, 4, 6, 8, 0, 2])
    ]
    df = spark.createDataFrame(rows, "id int, a double, b double")
    fused = global_ntiles(
        df,
        [("a", 4, "id", "qa", False), ("b", 5, "id", "qb", True)],
    )
    seq = global_ntile(df, "a", 4, "id", "qa")
    seq = global_ntile(seq, "b", 5, "id", "qb", descending=True)
    assert sorted(
        (r.id, r.qa, r.qb) for r in fused.collect()
    ) == sorted((r.id, r.qa, r.qb) for r in seq.collect())


def test_global_ntile_null_metric_raises(spark):
    """ADVICE r9: a NULL metric value must fail loudly, not be silently
    dropped by the bucket-offsets join (the oracle's single-sequence
    window would have ranked it)."""
    import pytest

    from avro_parquet_spark_example_spark.operators.timeseries import (
        global_ntile,
    )

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 3.0)], "id int, v double"
    )
    with pytest.raises(ValueError, match="NULL"):
        global_ntile(df, "v", 2, "id", "tile")


def test_rfm_quintile_population_balance(spark, sf_dir):
    """Each RFM dimension's quintile populations differ by at most 1 and
    sum to the customer count; quintile 1 really is the best tier."""
    rows = get_query("ts_rfm_segments").fn(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for dim, metric, best_is_min in (
        ("r_q", "recency_days", True),
        ("f_q", "frequency", False),
        ("m_q", "monetary", False),
    ):
        sizes: dict[int, int] = {}
        for r in rows:
            sizes[r[dim]] = sizes.get(r[dim], 0) + 1
        assert sum(sizes.values()) == n
        assert max(sizes.values()) - min(sizes.values()) <= 1, (dim, sizes)
        tier1 = [r[metric] for r in rows if r[dim] == 1]
        tier5 = [r[metric] for r in rows if r[dim] == max(sizes)]
        if best_is_min:
            assert max(tier1) <= min(tier5)
        else:
            assert min(tier1) >= max(tier5)


# ---------------------------------------------------------------------------
# ts_max_concurrency


def test_max_concurrency_matches_python_sweep(spark, sf_dir):
    """Per-day peaks equal a straight Python sessionize + sweep-line —
    validating the two-phase (within-day + carry) decomposition against
    the single-sequence definition."""
    from avro_parquet_spark_example_spark.operators.timeseries import (
        CONC_GAP_US,
    )

    got = {
        str(r.day): (r.n_boundaries, r.peak_concurrency)
        for r in get_query("ts_max_concurrency").fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    per_user: dict[int, list[int]] = {}
    for e in ev:
        us = e.ts if isinstance(e.ts, int) else int(e.ts.timestamp() * 1e6)
        us = us // 1000 if isinstance(e.ts, int) else us  # raw nanos → µs
        per_user.setdefault(e.user_id, []).append(us)
    deltas: dict[int, int] = {}
    for times in per_user.values():
        times.sort()
        start = times[0]
        prev = times[0]
        for t in times[1:]:
            if t - prev > CONC_GAP_US:
                deltas[start] = deltas.get(start, 0) + 1
                deltas[prev + 1] = deltas.get(prev + 1, 0) - 1
                start = t
            prev = t
        deltas[start] = deltas.get(start, 0) + 1
        deltas[prev + 1] = deltas.get(prev + 1, 0) - 1
    active = 0
    want: dict[str, list[int]] = {}
    from datetime import datetime, timezone

    for t in sorted(deltas):
        active += deltas[t]
        day = datetime.fromtimestamp(t / 1e6, tz=timezone.utc).date()
        want.setdefault(str(day), []).append(active)
    assert got == {
        d: (len(v), max(v)) for d, v in want.items()
    }


def test_max_concurrency_conservation(spark, sf_dir):
    """Every visit opens and closes: summing all net deltas is zero, so
    the final running value is zero and peaks are non-negative."""
    rows = get_query("ts_max_concurrency").fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a close-only day can legitimately bottom out at 0 active
        assert r.peak_concurrency >= 0


# ---------------------------------------------------------------------------
# ts_holt_linear


def test_holt_linear_matches_python_recursion(spark, sf_dir):
    """Level/trend replay exactly in Python integer arithmetic (trunc-
    toward-zero /4), per event type over the sorted day grid."""
    rows = get_query("ts_holt_linear").fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    daily: dict[tuple, int] = {}
    for e in ev:
        daily[(e.event_type, e.ts.date())] = (
            daily.get((e.event_type, e.ts.date()), 0) + 1
        )
    grids: dict[str, list] = {}
    for (t, d), n in daily.items():
        grids.setdefault(t, []).append((d, n))

    def sdiv4(v: int) -> int:
        return v // 4 if v >= 0 else -((-v) // 4)

    want = {}
    for t, g in grids.items():
        g.sort()
        l = g[0][1] * 1_000_000
        b = 0
        want[(t, g[0][0])] = (g[0][1], l, 0)
        for d, n in g[1:]:
            nl = sdiv4(n * 1_000_000 + 3 * (l + b))
            b = sdiv4(nl - l + 3 * b)
            l = nl
            want[(t, d)] = (n, l, b)
    got = {
        (r.event_type, r.day): (r.n, r.level_micro, r.trend_micro)
        for r in rows
    }
    assert got == want
    # the recursion genuinely exercises negative-trend division
    assert any(tr < 0 for _, _, tr in want.values())


def test_holt_winters_matches_python_reference(spark, sf_dir):
    """The fixed-point Holt-Winters recursion (level/trend/seasonal-queue,
    alpha=beta=gamma=1/4, sign-safe truncating /4) recomputed in plain
    Python from the raw daily grid must match the engine bit-for-bit."""
    from collections import defaultdict

    from avro_parquet_spark_example_spark.operators.timeseries import (
        _HOLT_S,
        _HW_M,
    )

    rows = get_query("ts_holt_winters").fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    daily: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r.event_type][r.ts.date()] += 1

    def sdiv4(x: int) -> int:
        return x // 4 if x >= 0 else -((-x) // 4)

    want = {}
    for et, days in daily.items():
        grid = sorted(days.items())
        if len(grid) <= _HW_M:
            continue
        ys = [n * _HOLT_S for _, n in grid[:_HW_M]]
        lvl = sum(ys) // _HW_M
        trd = 0
        season = [y - lvl for y in ys]
        for day, n in grid[_HW_M:]:
            shat = season[0]
            lvl_t = sdiv4(n * _HOLT_S - shat + 3 * (lvl + trd))
            trd_t = sdiv4(lvl_t - lvl + 3 * trd)
            sea_t = sdiv4(n * _HOLT_S - lvl_t + 3 * shat)
            want[(et, day)] = (n, lvl_t, trd_t, sea_t)
            season = season[1:] + [sea_t]
            lvl, trd = lvl_t, trd_t
    assert len(rows) == len(want)
    for r in rows:
        assert want[(r.event_type, r.day)] == (
            r.n,
            r.level_micro,
            r.trend_micro,
            r.season_micro,
        ), (r.event_type, r.day)


def test_cusum_constant_series_is_flat(spark):
    """A constant daily series has zero CUSUM excursion by definition —
    via the registered query's own fold machinery on a constructed grid
    (mu == every x, so every step clamps at 0)."""
    from pyspark.sql import functions as F

    daily = _frame(
        spark,
        [("t", f"2024-01-{d:02d}", 7) for d in range(1, 15)],
        "event_type string, day string, n long",
    ).select("event_type", F.col("day").cast("date").alias("day"), "n")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("CAST(sum(n) * 1000000 div count(*) AS BIGINT)").alias("mu6"),
    )
    grids = (
        daily.groupBy("event_type")
        .agg(F.sort_array(F.collect_list(F.struct("day", "n"))).alias("g"))
        .join(stats, "event_type")
    )
    folded = grids.withColumn(
        "out",
        F.expr(
            """
            aggregate(
                g,
                struct(CAST(0 AS BIGINT) AS cs, CAST(-1 AS BIGINT) AS best,
                       CAST(NULL AS DATE) AS bestday),
                (acc, x) -> struct(
                    GREATEST(CAST(0 AS BIGINT),
                             acc.cs + x.n * 1000000 - mu6) AS cs,
                    CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * 1000000 - mu6)
                              > acc.best
                         THEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * 1000000 - mu6)
                         ELSE acc.best END AS best,
                    CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * 1000000 - mu6)
                              > acc.best
                         THEN x.day ELSE acc.bestday END AS bestday
                )
            )
            """
        ),
    ).collect()[0]
    assert folded["out"]["best"] == 0
    assert str(folded["out"]["bestday"]) == "2024-01-01"


def test_acf_matches_python_reference_and_lag0_pins_at_one(spark, sf_dir):
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, dict] = {}
    for r in daily:
        series.setdefault(r.event_type, {})[r.day] = r.n
    got = {
        (r.event_type, r.lag): r
        for r in get_query("ts_autocorr_acf").fn(spark, sf_dir).collect()
    }
    import datetime

    for et, s in series.items():
        for lag in range(8):
            pairs = [
                (x, s[d + datetime.timedelta(days=lag)])
                for d, x in s.items()
                if d + datetime.timedelta(days=lag) in s
            ]
            n = len(pairs)
            key = (et, lag)
            if n < 2:
                continue
            sa = sum(a for a, _ in pairs)
            sb = sum(b for _, b in pairs)
            saa = sum(a * a for a, _ in pairs)
            sbb = sum(b * b for _, b in pairs)
            sab = sum(a * b for a, b in pairs)
            den = math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
            r = (n * sab - sa * sb) / den if den else float("nan")
            row = got[key]
            assert row.n_days == n
            if den:
                assert abs(row.acf - round(r, 6)) < 1e-5, key
            if lag == 0:
                # closed form: lag-0 autocorrelation of any
                # non-constant series is exactly 1
                assert abs(row.acf - 1.0) < 1e-9


def test_fano_matches_python_reference_and_poisson_line(spark, sf_dir):
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, list[int]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append(r.n)
    rows = {
        r.event_type: r
        for r in get_query("ts_burstiness_fano").fn(spark, sf_dir).collect()
    }
    for et, xs in series.items():
        n = len(xs)
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        mean = s1 / n
        fano = (n * s2 - s1 * s1) / (n * s1)
        r = rows[et]
        assert r.n_days == n
        assert abs(r.mean_daily - round(mean, 6)) < 1e-9
        assert abs(r.fano - round(fano, 6)) < 1e-9
        assert r.fano >= 0.0

    # closed form: a constant series is maximally regular — Fano 0
    from avro_parquet_spark_example_spark.engine import Engine

    const = spark.createDataFrame(
        [("g", i, 5) for i in range(10)], "k string, day long, n long"
    )
    f0 = Engine(spark=spark).fano(const, key="k", value="n").collect()[0]
    assert f0.fano == 0.0


def test_theil_sen_matches_python_reference(spark, sf_dir):
    import math as m

    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.n))
    rows = {
        r.event_type: r
        for r in get_query("ts_theil_sen_slope").fn(spark, sf_dir).collect()
    }
    for et, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dd = (pts[j][0] - pts[i][0]).days
                slopes.append(m.floor((pts[j][1] - pts[i][1]) * 1e6 / dd))
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1]
        r = rows[et]
        assert r.n_pairs == len(slopes)
        assert abs(r.sen_slope - round(med / 1e6, 6)) < 1e-9

    # closed form: a perfectly linear series has Theil-Sen slope exactly
    # its increment, regardless of an injected single outlier's pull on
    # the MEAN-based estimators
    from avro_parquet_spark_example_spark.engine import Engine

    import datetime

    base = datetime.date(2024, 1, 1)
    lin = [
        ("g", base + datetime.timedelta(days=i), 100 + 3 * i)
        for i in range(10)
    ]
    df = spark.createDataFrame(lin, "k string, day date, n long")
    r = (
        Engine(spark=spark)
        .theil_sen(df, key="k", order="day", value="n")
        .collect()[0]
    )
    assert r.sen_slope == 3.0


# --------------------------------------------------------------------------
# Mann-Kendall
# --------------------------------------------------------------------------


def _mk_ref(series):
    n = len(series)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (series[j] > series[i]) - (series[j] < series[i])
    ties = Counter(series)
    tie_adj = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_adj) / 18.0
    if s > 0:
        z = (s - 1) / math.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    return s, var_s, z


def test_mann_kendall_matches_python_reference(spark, sf_dir):
    daily: Counter = Counter()
    for r in _events(spark, sf_dir):
        daily[(r.event_type, r.ts.date())] += 1
    got = {
        r.event_type: r
        for r in get_query("ts_mann_kendall").fn(spark, sf_dir).collect()
    }
    types = sorted({t for t, _ in daily})
    for t in types:
        days = sorted(d for tt, d in daily if tt == t)
        series = [daily[(t, d)] for d in days]
        s, var_s, z = _mk_ref(series)
        g = got[t]
        assert g.n_days == len(days)
        assert g.s_stat == s
        assert abs(g.var_s - round(var_s, 6)) < 1e-9
        assert abs(g.z - round(z, 6)) < 1e-9
        want = (
            "increasing"
            if s > 0 and z > 1.959963984540054
            else "decreasing"
            if s < 0 and z < -1.959963984540054
            else "none"
        )
        assert g.trend == want, t


def test_mann_kendall_closed_forms():
    # strictly increasing -> S = n(n-1)/2, strong positive z
    s, _, z = _mk_ref(list(range(1, 11)))
    assert s == 45 and z > 1.96
    # strictly decreasing mirrors
    s2, _, z2 = _mk_ref(list(range(10, 0, -1)))
    assert s2 == -45 and z2 < -1.96
    # constant series -> S = 0, var fully tie-corrected to 0 -> z = 0
    s3, v3, z3 = _mk_ref([7] * 10)
    assert (s3, v3, z3) == (0, 0.0, 0.0)


# --------------------------------------------------------------------------
# r15 ANSI sweep, timeseries family: seven more library forms crashed on
# degenerate series (REVIEW_r15_stats.md §timeseries)
# --------------------------------------------------------------------------


def test_ts_degenerate_margins(spark):
    import datetime

    from avro_parquet_spark_example_spark.operators import timeseries as ts

    D = datetime.date
    days = [D(2024, 1, 1) + datetime.timedelta(days=i) for i in range(6)]
    const = spark.createDataFrame(
        [("k", d, 5) for d in days], "k string, day date, x long"
    )

    # ANOVA: single group level / zero within-group variance -> NULL F
    single = ts.anova_oneway(
        spark.createDataFrame(
            [("s", "g", 5), ("s", "g", 7), ("s", "g", 9)],
            "seg string, grp string, v long",
        ),
        "seg", "grp", "v",
    ).collect()[0]
    assert single.k == 1 and single.f_stat is None
    zw = ts.anova_oneway(
        spark.createDataFrame(
            [("s", "a", 5), ("s", "a", 5), ("s", "b", 9), ("s", "b", 9)],
            "seg string, grp string, v long",
        ),
        "seg", "grp", "v",
    ).collect()[0]
    assert zw.f_stat is None  # perfect separation: within-SS exactly 0

    # constant series: every ACF lag and every xcorr lag undefined
    assert all(
        r.acf is None for r in ts.autocorr(const, "k", "day", "x").collect()
    )
    lagg = spark.createDataFrame(
        [(d, i) for i, d in enumerate(days)], "day date, x long"
    )
    lead = spark.createDataFrame(
        [(d, 5) for d in days], "day date, x long"
    )
    assert all(
        r.xcorr is None
        for r in ts.lead_lag_xcorr(lead, lagg, max_lag=1).collect()
    )

    # zero-total series: Fano variance-to-mean undefined
    fz = ts.fano_factor(
        spark.createDataFrame([("k", 0)] * 6, "k string, x long"), "k", "x"
    ).collect()[0]
    assert fz.mean_daily == 0.0 and fz.fano is None

    # constant series: MASE scale 0 -> NULL; MAPE/sMAPE exact 0
    bc = ts.forecast_backtest(const, "k", "day", "x", season=2).collect()[0]
    assert (bc.mae, bc.mape, bc.smape, bc.mase) == (0.0, 0.0, 0.0, None)
    # all-zero series: MAPE undefined (zero actuals), sMAPE 0 by the
    # both-zero convention, MASE still NULL
    bz = ts.forecast_backtest(
        spark.createDataFrame(
            [("k", d, 0) for d in days], "k string, day date, x long"
        ),
        "k", "day", "x", season=2,
    ).collect()[0]
    assert bz.mape is None and bz.smape == 0.0 and bz.mase is None

    # 2-day series over 3 segments: single-day segments get NULL slope
    pw = ts.piecewise_trend(
        spark.createDataFrame(
            [("k", days[0], 5), ("k", days[1], 6)],
            "k string, day date, x long",
        ),
        "k", "day", "x", segments=3,
    ).collect()
    assert all(r.slope is None for r in pw if r.n_days == 1)


def test_attribution_credits_conserve(spark, sf_dir):
    rows = get_query("ts_attribution_linear").fn(spark, sf_dir).collect()
    assert rows
    total_purchases = sum(r["n_attributed_purchases"] for r in rows)
    total_credit = sum(r["total_credit"] for r in rows)
    # each attributed purchase distributes ~1.0 credit (round-9 per touch)
    assert abs(total_credit - total_purchases) < 1e-3 * max(total_purchases, 1)
    for r in rows:
        assert r["n_touches"] >= r["n_attributed_purchases"]


def test_seasonal_baseline_scores_only_with_history(spark, sf_dir):
    rows = get_query("ts_seasonal_baseline").fn(spark, sf_dir).collect()
    assert rows
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.col("ts").cast("date"))
        .count()
        .groupBy("event_type")
        .count()
        .collect()
    )
    n_days = {r["event_type"]: r["count"] for r in daily}
    for r in rows:
        assert r["mae"] >= 0
        # first occurrence of each weekday is unscored
        assert r["n_scored"] < n_days[r["event_type"]]


def test_seasonality_decomposition_identity(spark, sf_dir):
    """observed == grand_mean + dow_effect + residual (±2e-6 for the
    per-column 6dp rounding), and residuals average ≈ 0 within each
    day-of-week group (the defining property of the dow-mean fit)."""
    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("ts_seasonality_decompose").fn(spark, sf_dir).collect()
    assert rows
    by_dow: dict[int, list] = {}
    for r in rows:
        assert abs(r.n - (r.grand_mean + r.dow_effect + r.residual)) < 2e-6
        by_dow.setdefault(r.day.weekday(), []).append(r.residual)
    for dow, res in by_dow.items():
        assert abs(sum(res) / len(res)) < 1e-5, (dow, sum(res))
