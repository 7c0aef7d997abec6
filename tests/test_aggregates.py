"""Aggregate operators (operators/aggregates.py): the Theil index against an
independent Python reference over the collected fixture (the oracle pins
cross-engine equality; this pins the math), plus boundary pins on hand-built
frames for the rank correlations, HHI and mutual information."""

from __future__ import annotations

import math

from avro_parquet_spark_example_spark.operators.aggregates import (
    hhi_index,
    kendall_tau_b,
    mutual_information,
    spearman_rho,
)
from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _frame


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
