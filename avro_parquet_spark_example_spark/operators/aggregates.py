"""Group D — aggregation operators (SURVEY.md §2-D).

The reference demonstrated SQL aggregation over Avro/Parquet tables
(SURVEY.md §0 step 4: ``sqlContext.sql("SELECT ... GROUP BY ...")`` over a
registered table); these operators re-express that surface with the modern
DataFrame API and extend it across the standard aggregate inventory.

Float determinism (SURVEY.md §5 oracle-alignment rules): a double SUM is
order-dependent, and Spark's partial aggregation order differs from DuckDB's.
Every hash-checked SUM therefore goes through an exact DECIMAL accumulator
(``dsum``) and is cast back to double — bit-identical in both engines and,
at 100 TB, still a single map-side-combined hash aggregate (decimal sums are
Tungsten-native; no Python involved). AVGs are rounded: their error is
O(1e-13) relative, far below the rounding grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, spread, ts_us


def dsum(col: Column | str, scale: int = 4, round_to: int | None = None) -> Column:
    """Order-independent double SUM via an exact decimal accumulator.

    Two cross-engine hazards dictate the parameters (verified at sf0.1):

    * per-row double→decimal casts tie-break differently between engines
      when the data has exactly ``scale`` decimal digits (the cast lands on
      a midpoint ± 1 ulp) — so ``scale`` must exceed the data's true decimal
      precision. Raw 2-decimal columns are safe at 4; price *products*
      (4 decimals) use 8.
    * decimal→double conversion diverges once the unscaled value exceeds
      2^53 (DuckDB divides in floating point; the JVM rounds exactly). A
      high-scale sum crosses that at ~10^8 rows, so product sums are rounded
      (exact decimal op, same half-away-from-zero tie rule in both engines,
      verified) down to ``round_to=2`` before the final cast.
    """
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(f"decimal(30,{scale})"))
    if round_to is not None:
        total = F.round(total, round_to)
    return total.cast("double")


def dsum_sql(expr: str, scale: int = 4, round_to: int | None = None) -> str:
    """DuckDB-side twin of :func:`dsum` (same decimal width → same value)."""
    inner = f"SUM(CAST({expr} AS DECIMAL(30,{scale})))"
    if round_to is not None:
        inner = f"ROUND({inner}, {round_to})"
    return f"CAST({inner} AS DOUBLE)"


def iusum(col: Column | str, scale: int) -> Column:
    """Integer-unscaled exact SUM: quantize each row to ``scale`` decimals
    with ``floor(x·10^scale + 0.5)`` — pure IEEE-754 ops (multiply, add,
    floor), so the per-row integer is BIT-IDENTICAL on any engine by IEEE
    determinism, with none of the double→decimal cast-midpoint hazard dsum
    documents — then SUM the integers exactly (decimal(38,0) accumulator:
    compact long adds until ~9.2e18, exact BigDecimal past it, so no
    overflow at any corpus size). Replaces dsum on the q1 hot path: the
    per-row cost drops from a java.math.BigDecimal allocation to three FP
    instructions inside whole-stage codegen — measured 1.12 → 0.62 s on
    the sf0.1 fresh bench (~2× on the aggregate CPU, matching dsum's own
    documented decimal-vs-double estimate).

    Valid for non-negative data (half-up via +0.5/floor; TPC-H measures
    are non-negative). The caller divides the unscaled total back down —
    see :func:`iusum_finish` for the exactness envelope."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(
        F.floor(c * F.lit(float(10**scale)) + F.lit(0.5)).cast("decimal(38,0)")
    )


def iusum_finish(name: str, scale: int, round_to: int | None = None) -> Column:
    """Final per-group step for :func:`iusum` (runs on G rows, not N):
    with ``round_to=r``, round-half-up in EXACT integer arithmetic —
    ``(u + 5·10^(scale-r-1)) div 10^(scale-r)`` (IntegralDivide on the
    decimal accumulator, same as DuckDB's ``//`` on its HUGEINT sum) —
    then one exact int→double conversion and one IEEE division; the
    rounded unscaled value stays < 2^53, so both engines produce the same
    bits. Without rounding, the straight ``CAST(u AS DOUBLE)/10^scale``
    shares dsum's documented 2^53 envelope (diverges only past ~10^15 in
    unscaled units — ~sf10k for a 4-decimal money column)."""
    u = F.col(name)
    if round_to is not None:
        shift = 10 ** (scale - round_to)
        u = F.expr(f"({name} + {shift // 2}) div {shift}")
        return (u.cast("double") / F.lit(float(10**round_to))).alias(name)
    return (u.cast("double") / F.lit(float(10**scale))).alias(name)


def iusum_sql(expr: str, scale: int, round_to: int | None = None) -> str:
    """DuckDB twin of ``iusum`` + ``iusum_finish`` (same IEEE per-row
    quantization, HUGEINT sum, integer round, one final division)."""
    u = f"SUM(CAST(FLOOR(({expr}) * {float(10 ** scale)} + 0.5) AS BIGINT))"
    if round_to is not None:
        shift = 10 ** (scale - round_to)
        return (
            f"CAST(({u} + {shift // 2}) // {shift} AS DOUBLE)"
            f" / {float(10 ** round_to)}"
        )
    return f"CAST({u} AS DOUBLE) / {float(10 ** scale)}"


@register(
    "agg_scan_group",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {iusum_sql('l_quantity', 4)} AS sum_qty,
           {iusum_sql('l_extendedprice', 4)} AS sum_base_price,
           {iusum_sql('(l_extendedprice * (1 - l_discount))', 8, 2)} AS sum_disc_price,
           {iusum_sql('((l_extendedprice * (1 - l_discount)) * (1 + l_tax))', 8, 2)} AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_scan_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 flagship — TPC-H Q1 shape: filter → group → 6 aggregates.

    The reference's aggregation demo generalized; filter + pruned 8-column
    read both push into the Parquet scan, then one shuffle on a
    2×low-cardinality key with map-side partial aggregation — the plan
    that scales linearly to 100 TB. The money sums are exact and
    order-independent via :func:`iusum` (integer-unscaled accumulation —
    three FP instructions per row in whole-stage codegen instead of
    dsum's per-row BigDecimal; same bit-exact cross-engine contract,
    measured ~2× faster on the aggregate CPU: fresh q1 1.12 → 0.62 s at
    sf0.1)."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            iusum("l_quantity", 4).alias("sum_qty"),
            iusum("l_extendedprice", 4).alias("sum_base_price"),
            iusum(disc_price, 8).alias("sum_disc_price"),
            iusum(disc_price * (1 + F.col("l_tax")), 8).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            iusum_finish("sum_qty", 4),
            iusum_finish("sum_base_price", 4),
            iusum_finish("sum_disc_price", 8, round_to=2),
            iusum_finish("sum_charge", 8, round_to=2),
            "avg_qty",
            "avg_price",
            "avg_disc",
            "count_order",
        )
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_distinct_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — COUNT(DISTINCT) / SUM(DISTINCT); Spark expands via a two-phase
    distinct-aggregate rewrite (Expand + two shuffles) — no driver collect."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum_distinct(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double")
        .alias("sum_distinct_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — min/max/stddev/variance/exact median (``percentile`` ==
    DuckDB ``quantile_cont``: linear interpolation)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4a — hierarchical totals; NULL group keys mark subtotal rows
    identically in both engines (no real NULLs in these key columns)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4b — CUBE over both keys (all 2^2 grouping sets)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4c — explicit GROUPING SETS via SQL (Spark plans a single Expand)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
                         AS DECIMAL(30,4))) AS DOUBLE) AS qty_f,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
                         AS DECIMAL(30,4))) AS DOUBLE) AS qty_o,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — pivot: one column per l_linestatus value. Pivot values are
    declared explicitly (['F','O']) — at scale an undeclared pivot needs an
    extra distinct-values job before planning; declared pivots are a single
    pass. Spark rewrites to the same conditional aggregation the oracle
    spells out."""
    li = load(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dsum("l_quantity").alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT c_custkey, metric, value FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
    )
    WHERE c_custkey < 300
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7b — unpivot/melt (wide → long): the inverse of pivot, a generator
    expression (Expand) — no shuffle, output is n_metrics × input rows."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register("agg_approx_distinct")  # approx → rows-only check (no oracle)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — HyperLogLog++ distinct users per event type. Approximate by
    design (rsd=0.01): mergeable sketches, one shuffle of fixed-size state —
    the 100 TB substitute for exact COUNT(DISTINCT)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@register("agg_sketch_merge_rollup")  # sketch estimates → rows-only check
def agg_sketch_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5b — mergeable distinct-count sketches (Apache DataSketches HLL,
    Spark ≥3.5): build one sketch per (event_type, day), then UNION-MERGE
    the daily sketches into per-type totals WITHOUT rescanning events.

    This is the 100 TB pattern for incremental distincts: the expensive scan
    happens once per day-partition (map-side sketch build, ~KB of state per
    group); every later rollup — per week, per type, overall — is sketch
    algebra over kilobytes. Estimates are deterministic for fixed input, but
    approximate — rows-only driver check; the pytest suite asserts the
    estimate lands within 2% of the exact distinct count."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("user_sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
                "approx_users"
            ),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "events_agg",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id, event_type
    ORDER BY n DESC, user_id, event_type
    LIMIT 20
    """,
)
def events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1b (bench headline) — events grouped by user × type, top-20 by
    count; one shuffle + TakeOrderedAndProject."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("sum_value"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"), F.asc("event_type"))
        .limit(20)
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_s,
           ROUND(COVAR_POP(l_discount, l_tax), 8) AS covar_p
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 — bivariate statistics (Pearson correlation, covariance): single-
    pass streaming-moment aggregates, map-side combinable like any sum."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_s"),
        F.round(F.covar_pop("l_discount", "l_tax"), 8).alias("covar_p"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT LEAST(CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1, 21) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — equi-width histogram via width_bucket + count: the profiling
    primitive (one scan, one tiny shuffle of 22 buckets at any data size).
    DuckDB 1.0 has no width_bucket, so the oracle spells out the same
    bucket arithmetic (floor(v / width) + 1, clamped to n+1)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20)).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "agg_collect",
    oracle="""
    SELECT l_returnflag,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS statuses,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — collect_set with sorted, string-joined output for deterministic
    cross-engine hashing (array renderings differ between clients)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


#: Quantile levels and output columns of the two percentile queries.
_PCTS = ((0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.95, "p95"))


def _flag_quantiles(li: DataFrame, ps: Column) -> DataFrame:
    """(l_returnflag, n, p25..p95) per return flag, from ``ps``: an
    aggregate returning the array of the _PCTS quantiles."""
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), ps.alias("__ps"))
        .select(
            "l_returnflag",
            "n",
            *[
                F.round(F.col("__ps")[i], 4).alias(name)
                for i, (_, name) in enumerate(_PCTS)
            ],
        )
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3b — exact grouped percentiles (linear interpolation, the
    quantile_cont / percentile_cont semantics both engines share). Exact
    percentile is a sort-based aggregate: fine per group here, but at
    100 TB the scale path is ``approx_percentile`` (t-digest-style
    mergeable sketch, map-side combinable, no per-group sort) — the same
    trade already made by agg_approx_distinct vs agg_distinct; this
    operator is the exact twin the sketch is validated against."""
    li = load(spark, sf_dir, "lineitem")
    # spread: percentile's map-side partial buffers the whole column, and
    # the one-split scan builds it in a single task (guide §2.5 input
    # skew); widening parallelizes the partial build — the exact sorted
    # value sequence each group interpolates over is unchanged, so the
    # outputs are bit-identical (A/B-verified). Project to the two used
    # columns first so the widening exchange carries no dead bytes
    # (guide §2.3).
    pr = spread(li.select("l_returnflag", "l_extendedprice"), width_from=li)
    # ONE array-percentile aggregate instead of four scalar ones (r16,
    # guide §2.3/§7.2): each scalar percentile() builds and sorts its OWN
    # value buffer (an OpenHashMap counts-of-values partial shuffled per
    # aggregate), so the p25..p95 quartet paid the buffer build + merge +
    # sort 4x. percentile(col, array(...)) computes all four from a single
    # buffer and one sort — per-value results are the same linear
    # interpolation over the same sorted sequence, so the outputs are
    # bit-identical (A/B collect-compared; oracle hash PASS both SFs).
    # Measured warm noop 2.4 -> 1.1 s at sf0.1.
    return _flag_quantiles(
        pr,
        F.percentile("l_extendedprice", F.array(*[F.lit(p) for p, _ in _PCTS])),
    )


@register("agg_approx_percentile")  # sketch estimates → rows-only check
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5b — approx_percentile (Greenwald-Khanna sketch, accuracy 10000):
    the 100 TB path for quantiles. The sketch is mergeable, so the
    aggregation is map-side combinable and never sorts a group: partial
    sketches stream out of each scan task and merge on the reduce side,
    exactly like the HLL pair agg_approx_distinct/agg_distinct. Accuracy vs
    the exact twin ``agg_percentiles`` is pinned by a pytest property
    (relative error < 1e-3 at accuracy=10000)."""
    li = load(spark, sf_dir, "lineitem")
    # One array-quantile sketch instead of four scalar ones (r16, same
    # rewrite as agg_percentiles): the four scalar calls each built an
    # identical G-K sketch over the group; the array form builds it once
    # and queries all four quantiles — identical sketch, identical
    # estimates (A/B collect-compared). Warm noop 1.2 -> 0.5 s at sf0.1.
    return _flag_quantiles(
        li, F.percentile_approx("l_extendedprice", [p for p, _ in _PCTS], 10000)
    )


@register(
    "diag_observed_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def diag_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAG — the ``Observation`` API: metrics ride the SAME pass as the
    query (one scan, zero extra jobs), which is how production pipelines
    get row counts and quality aggregates without re-reading 100 TB —
    versus a separate metrics query that doubles the IO. The observed
    values are re-emitted as a one-row DataFrame and hash-checked against
    the oracle computing the same aggregates, proving in-band observation
    is lossless."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice"), 8, round_to=4).alias("sum_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], float(m["sum_price"]), m["min_qty"], m["max_qty"])],
        "n_rows long, sum_price double, min_qty double, max_qty double",
    )


#: Count-min sketch geometry: depth (independent hash rows) × width
#: (counters per row). 4×256 counters = 8 KB of sketch state regardless of
#: corpus size.
CMS_DEPTH = 4
CMS_WIDTH = 256


@register("agg_cms_heavy_hitters")  # xxhash64 buckets → rows-only check
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5c — count-min sketch, built NATIVELY as a DataFrame (no binary
    sketch blobs, no UDF): token frequencies over the document corpus are
    folded into a depth×width counter matrix — each token increments one
    counter per hash row, bucket = xxhash64(token, row) mod width — and a
    point query reads back min over the depth counters, the classic
    Cormode-Muthukrishnan estimate (upper-biased, overshoot ≤ εN with
    high probability). Output pairs the estimate with the exact count for
    the corpus's 20 heaviest tokens so the sketch error is directly
    observable; est_c ≥ true_c always (pytest-asserted, with the εN
    bound).

    Why this matters at 100 TB: exact vocabulary counting shuffles one
    row per DISTINCT token (billions for web corpora); the CMS shuffles
    into a FIXED 8 KB counter matrix — map-side combined, so executors
    exchange at most depth×width partials each regardless of corpus or
    vocabulary size. The same matrix answers any later point query
    without rescanning (the sketch-algebra pattern of
    agg_sketch_merge_rollup, for counts instead of distincts). Driver
    check is rows-only (DuckDB has no xxhash64), but the output is fully
    deterministic: hash of value only — stable under partitioning,
    scheduling, and reruns."""
    d = load(spark, sf_dir, "documents")
    tok_counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # feeds sketch build AND exact top-20
    )
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("row")
    buckets = tok_counts.select("token", "c", rows).select(
        "row",
        F.pmod(F.xxhash64("token", "row"), F.lit(CMS_WIDTH)).alias("bucket"),
        "c",
    )
    cms = buckets.groupBy("row", "bucket").agg(F.sum("c").alias("counter"))
    top = (
        tok_counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(20)
        .withColumnRenamed("c", "true_c")
    )
    probes = top.select(
        "token", "true_c", rows
    ).select(
        "token",
        "true_c",
        "row",
        F.pmod(F.xxhash64("token", "row"), F.lit(CMS_WIDTH)).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["row", "bucket"])
        .groupBy("token", "true_c")
        .agg(F.min("counter").alias("est_c"))
        .select("token", "true_c", "est_c")
    )


@register(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id AS mode_user, n AS n_events
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY n DESC, user_id) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — deterministic per-group mode: the most frequent user per event
    type, ties broken by lowest user id. Spark's ``mode()`` (and DuckDB's)
    leaves ties engine-defined, so the operator pins the tiebreak
    explicitly — count desc, then key asc — via max_by over a struct
    whose ordering encodes exactly that rule (negated user_id turns "min
    id" into a max), keeping the whole thing one aggregation pass rather
    than a rank window. Two map-side-combined aggregations; the second
    reduces |types|·|users| rows to |types| — mode over 100 TB is
    count-shuffle bound, identical to any distinct-count shape."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    best = F.max_by(
        F.struct(F.col("user_id"), F.col("n")),
        F.struct(F.col("n"), (-F.col("user_id")).alias("neg")),
    )
    return c.groupBy("event_type").agg(best.alias("b")).select(
        "event_type",
        F.col("b.user_id").alias("mode_user"),
        F.col("b.n").alias("n_events"),
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT n.n_name,
           STRING_AGG(DISTINCT c.c_mktsegment, ',' ORDER BY c.c_mktsegment)
               AS segments,
           STRING_AGG(CAST(c.c_custkey AS VARCHAR), '|'
                      ORDER BY c.c_custkey DESC)
               FILTER (WHERE c.c_custkey % 100 = 0) AS sample_keys
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6b — ordered string aggregation (``LISTAGG … WITHIN GROUP``, new
    in Spark 4 / ISO SQL:2023; DuckDB's twin is ``STRING_AGG … ORDER
    BY``): the report-building aggregate that turns a group's members
    into one delimited string. Exercised in both flavors that matter in
    practice — DISTINCT with ascending order, and FILTER'd with
    descending order — because ordering + dedup are where engines
    diverge (an unordered listagg is nondeterministic under shuffle and
    would never hash-match; the explicit WITHIN GROUP order is what makes
    this oracle-checkable).

    Scale: one hash aggregation; the sort is per-group over the collected
    members (groups here are nation-sized). Unboundedly large groups
    would need the explode/window form instead — the string must fit in
    one row either way."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.expr(
                "listagg(DISTINCT c_mktsegment, ',') "
                "WITHIN GROUP (ORDER BY c_mktsegment)"
            ).alias("segments"),
            F.expr(
                "listagg(CAST(c_custkey AS STRING), '|') "
                "WITHIN GROUP (ORDER BY c_custkey DESC) "
                "FILTER (WHERE c_custkey % 100 = 0)"
            ).alias("sample_keys"),
        )
    )


def _user_bitmap_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, word, bits): each type's users as 62-bit bitmap words
    (user u sets bit u % 62 of word u div 62)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") >= 0)
    return (
        e.select(
            "event_type",
            F.expr("user_id div 62").alias("word"),
            F.expr("shiftleft(1L, cast(user_id % 62 as int))").alias("mask"),
        )
        .groupBy("event_type", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
    WITH words AS (
        SELECT event_type, user_id // 62 AS word,
               BIT_OR(1::BIGINT << (user_id % 62)) AS bits
        FROM events WHERE user_id >= 0
        GROUP BY event_type, user_id // 62
    )
    SELECT event_type,
           CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_distinct_users,
           COUNT(*) AS n_words
    FROM words GROUP BY event_type
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5b — EXACT distinct counting by bitmap aggregation (the
    roaring-bitmap / BITMAP_COUNT_DISTINCT technique every warehouse ships
    for dense integer keys): bucket ids into 62-bit words, OR the bit
    masks per (group, word), popcount and sum. Unlike COUNT(DISTINCT) —
    whose distinct-expand shuffles every raw (group, id) pair — the bitmap
    form is a TWO-LEVEL mergeable aggregate: the per-word OR combines
    map-side, the shuffle carries at most one long per (group, word)
    bucket, and merging partial bitmaps is associative, so the same plan
    computes exact distincts incrementally or across partitions. 62 bits
    per word (not 64) keeps every shift below the sign bit — identical
    two's-complement semantics on both engines. The oracle cross-checks
    against the word-level BIT_OR in DuckDB; the pytest invariant pins it
    to plain COUNT(DISTINCT).

    At 100 TB: distinct-counting users per type shuffles ~(types ×
    max_user/62) longs — data-independent once ids are dense, which is
    why bitmap distinct is THE exact answer when HLL's ±2% won't do."""
    # the bitmap layout is defined for NON-NEGATIVE ids only (a negative id
    # would floor-div/mod inconsistently and shift by a negative count —
    # identically wrong on both engines, i.e. invisible to the oracle), so
    # the domain contract is an explicit filter, not an assumption
    words = _user_bitmap_words(spark, sf_dir)
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


@register(
    "agg_bitmap_set_ops",
    oracle="""
    WITH words AS (
        SELECT event_type, user_id // 62 AS word,
               BIT_OR(1::BIGINT << (user_id % 62)) AS bits
        FROM events WHERE user_id >= 0
        GROUP BY event_type, user_id // 62
    ),
    tot AS (
        SELECT event_type, CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n
        FROM words GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(SUM(BIT_COUNT(a.bits & b.bits)) AS BIGINT) AS n_both
        FROM words a JOIN words b
          ON a.word = b.word AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, ta.n AS n_a, tb.n AS n_b, i.n_both,
           ta.n + tb.n - i.n_both AS n_either,
           ta.n - i.n_both AS n_only_a,
           tb.n - i.n_both AS n_only_b
    FROM inter i
    JOIN tot ta ON ta.event_type = i.type_a
    JOIN tot tb ON tb.event_type = i.type_b
    """,
)
def agg_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5c — EXACT audience set algebra on bitmaps: for every event-type
    pair, the number of users doing both / either / only one — the
    audience-overlap matrix behind funnel design and segment dedup. The
    same 62-bit word bitmaps as agg_bitmap_exact_distinct, plus the
    insight that makes the op scale: intersections need only an INNER
    join of word-aligned bitmaps (words present in one side AND to zero
    anyway), and union/difference follow by inclusion–exclusion from the
    per-type totals — no full-outer join, no distinct-expand of raw
    pairs.

    At 100 TB the bitmap table is (types × id-range/62) longs; the pair
    matrix costs one word-keyed self-join of that compact table — the
    exact-set-ops equivalent of a theta-sketch union/intersection, with
    zero approximation error."""
    # same non-negative id contract as agg_bitmap_exact_distinct
    words = (
        _user_bitmap_words(spark, sf_dir)
        # the bitmap table is domain-bounded (types x id-range/62 words)
        # and feeds tot plus both sides of the pair self-join — the lazy
        # form re-planned the corpus scan 4x (r15)
        .localCheckpoint(eager=True)
    )
    tot = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n")
    )
    a = words.alias("a")
    b = words.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.sum(
                F.bit_count(F.expr("a.bits & b.bits"))
            ).alias("n_both")
        )
    )
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_either"),
            (F.col("n_a") - F.col("n_both")).alias("n_only_a"),
            (F.col("n_b") - F.col("n_both")).alias("n_only_b"),
        )
    )


#: Oracle of both equi-depth histogram queries (the window form and the
#: bucketed form are bit-identical twins of one definition).
_EQUIDEPTH_DUCK = """
    WITH b AS (
        SELECT event_type, value,
               NTILE(8) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT event_type, bucket, COUNT(*) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM b GROUP BY event_type, bucket
    """


def _bucket_bounds(rows: DataFrame) -> DataFrame:
    """(event_type, bucket, n, lo, hi): row count and value range of each
    (event_type, bucket) of ``rows``."""
    return (
        rows        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@register(
    "agg_equidepth_histogram_bucketed",
    oracle=_EQUIDEPTH_DUCK,
)
def agg_equidepth_histogram_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D3b' — :func:`agg_equidepth_histogram` with the per-type NTILE
    computed by the PARTITIONED TWO-PHASE BUCKETED rank (the
    agg_lorenz_curve_bucketed pattern — VERDICT r14 task #4's family
    audit found this operator's full-table per-type (value, event_id)
    window to be the registry's last row-scale low-cardinality-partition
    sort; its own docstring carried the skew caveat). Same oracle,
    bit-identical output (pinned); the window form stays registered as
    the semantics reference."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    return equidepth_histogram_bucketed(e)


def equidepth_histogram_bucketed(
    e: DataFrame, tiles: int = 8, n_buckets: int = 64
) -> DataFrame:
    """(event_type, bucket, n, lo, hi) per-type equi-depth NTILE
    histogram with no per-type full-population sort (the library form
    the Engine facade exposes).

    Frame-level core of :func:`agg_equidepth_histogram_bucketed`:
    ``e`` has columns (event_type, value orderable-numeric, event_id
    tiebreak). Range-buckets on a per-type [min, max] grid (monotone in
    the (value, event_id) total order), exclusive offsets via a
    bucket-grid theta join (≤ n_buckets² rows per type), within-bucket
    row_number partitioned by (type, bucket), then the closed-form ISO
    NTILE remainder rule applied to the exact rank with PER-TYPE
    column arithmetic (q = n div tiles, r = n mod tiles as columns —
    unlike ``global_ntile``'s driver-side constants, the type count
    varies per partition and never touches the driver)."""
    # stats (|types| rows) and btot (types x n_buckets rows) are bounded
    # grids consumed by multiple lazy branches; materializing them cuts
    # the re-planned corpus passes 6 -> 3 (r15, the consumed-3x
    # localCheckpoint precedent).
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("__mn"),
        F.max("value").alias("__mx"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    ).localCheckpoint(eager=True)
    span = (F.col("__mx") - F.col("__mn")).cast("double")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("__mn")).cast("double")
                / span
                * n_buckets
            ).cast("int"),
            F.lit(n_buckets - 1),
        )
    )
    pu = e.join(F.broadcast(stats), "event_type").withColumn("__bk", bucket)
    btot = pu.groupBy("event_type", "__bk").agg(
        F.count(F.lit(1)).cast("bigint").alias("__bt")
    ).localCheckpoint(eager=True)
    bb = btot.select(
        F.col("event_type").alias("__et"),
        F.col("__bk").alias("__bkb"),
        F.col("__bt").alias("__btb"),
    )
    # explicit broadcast hints (r15): the checkpointed grids lose their
    # size estimates, so AQE would otherwise plan SMJs — and shuffle the
    # corpus side of the ranked join — for kilobyte-scale build sides.
    boff = (
        btot.join(
            F.broadcast(bb),
            (F.col("__et") == F.col("event_type"))
            & (F.col("__bkb") < F.col("__bk")),
            "left",
        )
        .groupBy("event_type", "__bk")
        .agg(
            F.coalesce(F.sum("__btb"), F.lit(0))
            .cast("bigint")
            .alias("__off")
        )
    )
    wbk = Window.partitionBy("event_type", "__bk").orderBy(
        "value", "event_id"
    )
    ranked = (
        pu.join(F.broadcast(boff), ["event_type", "__bk"])
        .withColumn(
            "__rn",
            (F.col("__off") + F.row_number().over(wbk)).cast("bigint"),
        )
        .withColumn("__q", F.expr(f"__n div {tiles}"))
        .withColumn("__r", F.col("__n") % tiles)
    )
    # ISO NTILE remainder rule, column-wise: the first r tiles hold
    # q + 1 rows. The ELSE branch divides by greatest(q, 1) — at
    # n < tiles, q = 0 and the WHEN branch covers every rank, but ANSI
    # division-by-zero must stay unreachable in the compiled expression.
    tile = F.expr(
        "CASE WHEN __rn <= __r * (__q + 1)"
        "     THEN (__rn + __q) div (__q + 1) "
        "     ELSE __r + (__rn - __r * (__q + 1) + greatest(__q, 1) - 1)"
        "              div greatest(__q, 1) END"
    )
    return _bucket_bounds(ranked.withColumn("bucket", tile.cast("int")))


@register(
    "agg_equidepth_histogram",
    oracle=_EQUIDEPTH_DUCK,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3b — equi-DEPTH histogram (8 quantile buckets per event type, each
    holding the same row count, bucket bounds = observed min/max): the
    complement of the equi-width agg_histogram, and the structure query
    optimizers and drift monitors actually want, because equal-population
    buckets resolve the distribution's dense regions where equal-width
    bins collapse. NTILE over a TOTAL order (value, event_id) makes bucket
    assignment deterministic under ties — both engines share the ISO NTILE
    remainder rule (earlier buckets get the extra rows).

    Scale: one shuffle by event_type for the window, then a
    (types × 8)-row aggregate. Partitions are per-type — if one type were
    skew-heavy you'd pre-aggregate on (type, value) first; at this
    fixture's shape the direct window is the cheaper plan."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return _bucket_bounds(
        e.select("event_type", "value", F.ntile(8).over(w).alias("bucket"))
    )


@register(
    "agg_skew_kurtosis_exact",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type, COUNT(*) AS n, SUM(x) AS s1
        FROM daily GROUP BY event_type
    ),
    c AS (
        SELECT d.event_type, s.n,
               CAST(s.n * d.x - s.s1 AS DECIMAL(10,0)) AS c
        FROM daily d JOIN stats s ON s.event_type = d.event_type
    ),
    moments AS (
        SELECT event_type, MIN(n) AS n,
               SUM(CAST(c * c AS DECIMAL(19,0))) AS sc2,
               SUM(CAST(CAST(c * c AS DECIMAL(19,0)) * c AS DECIMAL(29,0)))
                   AS sc3,
               SUM(CAST(c * c AS DECIMAL(19,0))
                   * CAST(c * c AS DECIMAL(19,0))) AS sc4
        FROM c GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((CAST(sc3 AS DOUBLE) / n)
                 / POW(CAST(sc2 AS DOUBLE) / n, 1.5), 6) AS skewness,
           ROUND((CAST(sc4 AS DOUBLE) / n)
                 / POW(CAST(sc2 AS DOUBLE) / n, 2) - 3, 6) AS excess_kurtosis
    FROM moments
    """,
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3c — population skewness and excess kurtosis of the daily
    event-volume distribution per type — the shape statistics behind
    burstiness alerts and capacity planning (a long right tail of daily
    volumes means provisioned-for-mean pipelines fall behind). NOT the
    engines' built-in skewness/kurtosis — those disagree on bias
    correction between engines — but one explicit shared formula over
    EXACT integer central moments: counts are integers, so the centered
    series n·x−S is exact, its 2nd/3rd/4th power sums are exact decimals
    (widths chosen to force int128 in DuckDB), and skewness/kurtosis are
    shift/scale-invariant, so the n-scaled centering cancels. The only
    float ops are two divisions, one pow, one subtraction, one ROUND —
    a fixed IEEE sequence identical on both engines.

    Scale: one map-side-combined daily aggregation; everything after is
    (types × days) rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s1")
    )
    c = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "n",
        (F.col("n") * F.col("x") - F.col("s1")).cast("decimal(10,0)").alias("c"),
    )
    c2 = (F.col("c") * F.col("c")).cast("decimal(19,0)")
    moments = c.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.sum(c2).alias("sc2"),
        F.sum((c2 * F.col("c")).cast("decimal(29,0)")).alias("sc3"),
        F.sum(c2 * c2).alias("sc4"),
    )
    m2 = F.col("sc2").cast("double") / F.col("n")
    return moments.select(
        "event_type",
        "n",
        F.round(
            (F.col("sc3").cast("double") / F.col("n")) / F.pow(m2, 1.5), 6
        ).alias("skewness"),
        F.round(
            (F.col("sc4").cast("double") / F.col("n")) / F.pow(m2, 2) - 3, 6
        ).alias("excess_kurtosis"),
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_extendedprice * l_quantity
                              AS DECIMAL(30,8))), 2) AS DOUBLE) AS wsum,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS wtot,
           ROUND(CAST(ROUND(SUM(CAST(l_extendedprice * l_quantity
                                    AS DECIMAL(30,8))), 2) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE),
                 6) AS qty_weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3d — weighted mean (quantity-weighted average price): the
    aggregate behind fair unit economics, token-weighted quality scores,
    and exposure-weighted rates — anywhere plain AVG over-counts small
    rows. No built-in engine function is used (none is portable):
    Σ(w·x)/Σw from two exact decimal sums (the dsum rule — 8 decimals for
    the product, 4 for the raw weight), with one IEEE division + ROUND at
    the end. Both partial sums combine map-side, so this costs exactly
    one hash aggregate at any scale."""
    li = load(spark, sf_dir, "lineitem")
    # the product sum's unscaled decimal crosses 2^53 at sf0.01 — round to
    # 2 before the double cast (the dsum rule's round_to escape hatch)
    wsum = dsum(F.col("l_extendedprice") * F.col("l_quantity"), 8, round_to=2)
    wtot = dsum("l_quantity")
    return li.groupBy("l_returnflag").agg(
        wsum.alias("wsum"),
        wtot.alias("wtot"),
        F.round(wsum / wtot, 6).alias("qty_weighted_avg_price"),
    )


@register(
    "agg_arg_extremes",
    oracle="""
    SELECT user_id,
           ARG_MAX(event_id, LPAD(CAST(EPOCH_US(ts) AS VARCHAR), 20, '0')
                             || LPAD(CAST(event_id AS VARCHAR), 12, '0'))
               AS last_event_id,
           ARG_MIN(event_id, LPAD(CAST(EPOCH_US(ts) AS VARCHAR), 20, '0')
                             || LPAD(CAST(event_id AS VARCHAR), 12, '0'))
               AS first_event_id,
           ARG_MAX(event_type, LPAD(CAST(EPOCH_US(ts) AS VARCHAR), 20, '0')
                               || LPAD(CAST(event_id AS VARCHAR), 12, '0'))
               AS last_event_type
    FROM events GROUP BY user_id
    """,
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6c — argument-extreme aggregates (``max_by``/``min_by`` / DuckDB
    ``arg_max``/``arg_min``): each user's first and last event WITHOUT a
    window — one map-side-combined aggregate instead of a full sort, the
    cheap way to get "latest value per key" when you don't need ranks.
    Engines leave arg-extremes under ties UNDEFINED, so the comparator is
    a zero-padded (epoch-µs, event_id) string — totally ordered, making
    the winner deterministic cross-engine (DuckDB's arg_max takes no
    struct comparator; the padded key is the portable spelling).

    Scale: single hash aggregate; the combiner keeps one (key, winner)
    pair per group per partition — the minimal possible state."""
    e = load(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(ts_us(e).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.min_by("event_id", key).alias("first_event_id"),
        F.max_by("event_type", key).alias("last_event_type"),
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4d — GROUPING()/grouping-id disambiguation: in a ROLLUP result a
    NULL key can mean "subtotal row" OR "the data really was NULL" —
    GROUPING() is the bit that tells them apart, and every BI layer on
    top of cube results depends on it. Emitted per grouping column plus
    the packed id (flag·2 + status — spelled out arithmetically because
    Spark's GROUPING_ID() and DuckDB's GROUPING_ID() pack bits in
    opposite argument orders; the explicit form is the portable one, and
    discovering THAT is the point of cross-engine checking).

    Same single-Expand rollup plan as agg_rollup — the grouping flags are
    free metadata on rows the aggregation already produces."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        (
            F.grouping("l_returnflag").cast("bigint") * 2
            + F.grouping("l_linestatus").cast("bigint")
        ).alias("gid"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_time_multigrain",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               DATE_TRUNC('week', CAST(ts AS DATE)) AS wk,
               DATE_TRUNC('month', CAST(ts AS DATE)) AS mon
        FROM events
    )
    SELECT event_type, day, wk, mon, COUNT(*) AS n,
           GROUPING(day) * 4 + GROUPING(wk) * 2 + GROUPING(mon) AS grain
    FROM base
    GROUP BY GROUPING SETS ((event_type, day), (event_type, wk),
                            (event_type, mon))
    """,
)
def agg_time_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4e — multi-grain time rollup in ONE pass: daily, weekly, and
    monthly counts per event type from a single GROUPING SETS over
    derived calendar columns — the OLAP pattern that replaces three
    separate scans with one Expand (Spark materializes each row once per
    grouping set and aggregates all grains in the same shuffle). The
    grain id (packed GROUPING bits, spelled arithmetically per
    agg_grouping_id's portability rule) tells a dashboard which grain a
    row belongs to without NULL-sniffing the key columns.

    At 100 TB this is 3× fewer scans than grain-per-query; the Expand
    multiplies rows before the map-side combine, so partial aggregation
    still bounds the shuffle to (types × (days + weeks + months))."""
    e = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    base = e.select(
        "event_type",
        day.alias("day"),
        F.date_trunc("week", day).cast("date").alias("wk"),
        F.date_trunc("month", day).cast("date").alias("mon"),
    )
    base.createOrReplaceTempView("__multigrain_base")
    return spark.sql(
        """
        SELECT event_type, day, wk, mon, COUNT(*) AS n,
               GROUPING(day) * 4 + GROUPING(wk) * 2 + GROUPING(mon) AS grain
        FROM __multigrain_base
        GROUP BY GROUPING SETS ((event_type, day), (event_type, wk),
                                (event_type, mon))
        """
    )


@register(
    "agg_share_of_total",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS bal
        FROM customer GROUP BY c_mktsegment
    ),
    t AS (SELECT SUM(n) AS tn, SUM(CAST(bal AS DECIMAL(30,4))) AS tb FROM g)
    SELECT g.c_mktsegment, g.n, g.bal,
           ROUND(g.n * 1.0 / t.tn, 6) AS n_share,
           ROUND(g.bal / CAST(t.tb AS DOUBLE), 6) AS bal_share
    FROM g CROSS JOIN t
    """,
)
def agg_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1b — percent-of-total per group: each segment's share of customers
    and of balance — the normalization every mixture report and BI pie
    needs. Spelled as aggregate + 1-row-total broadcast rather than a
    ``SUM() OVER ()`` empty window, because the empty window is an
    Exchange SinglePartition (audited against) while the broadcast total
    costs one extra low-cardinality aggregate and keeps every stage
    parallel. The balance total re-sums the group DOUBLES through a
    decimal cast (exact: each group value carries ≤4 decimals by
    construction), so shares are order-independent."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal").alias("bal"),
    )
    t = g.agg(
        F.sum("n").alias("tn"),
        F.sum(F.col("bal").cast("decimal(30,4)")).alias("tb"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "c_mktsegment",
        "n",
        "bal",
        F.round(F.col("n") * 1.0 / F.col("tn"), 6).alias("n_share"),
        F.round(F.col("bal") / F.col("tb").cast("double"), 6).alias("bal_share"),
    )


@register(
    "agg_pareto_cut",
    oracle="""
    WITH rev AS (
        SELECT l_returnflag, l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS r
        FROM lineitem GROUP BY l_returnflag, l_suppkey
    ),
    tot AS (SELECT l_returnflag, SUM(r) AS t FROM rev GROUP BY l_returnflag),
    ranked AS (
        SELECT rev.l_returnflag, rev.l_suppkey, rev.r, tot.t,
               SUM(rev.r) OVER (PARTITION BY rev.l_returnflag
                                ORDER BY rev.r DESC, rev.l_suppkey) AS cum
        FROM rev JOIN tot ON tot.l_returnflag = rev.l_returnflag
    )
    SELECT l_returnflag,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CASE WHEN 5 * (cum - r) < 4 * t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_head_80pct
    FROM ranked GROUP BY l_returnflag
    """,
)
def agg_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1c — Pareto (80/20) concentration cut: per return flag, how many
    suppliers it takes to cover 80% of revenue — the concentration metric
    behind vendor-risk and long-tail analyses. A supplier is in the head
    while the cumulative revenue BEFORE it is under 80% of the total
    (``5·(cum−r) < 4·t`` — exact decimal cross-multiplication: revenue
    sums are exact DECIMAL(30,4), so the cut decision never touches a
    float), cumulated over a deterministic (revenue DESC, key) order.

    One supplier-keyed aggregate, one flag-partitioned window over
    supplier-cardinality rows, one roll-up — the fact scan dominates at
    any scale."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,4)")).alias("r")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.desc("r"), F.asc("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Flag totals ride the cumulative window's own exchange (unbounded
    # same-partition frame) instead of a groupBy branch broadcast-joined
    # back — the former shape planned the scan→supplier-aggregate
    # subtree twice (r15; same decimal Sum expression, values identical).
    ranked = rev.withColumn("cum", F.sum("r").over(w)).withColumn(
        "t", F.sum("r").over(Window.partitionBy("l_returnflag"))
    )
    in_head = 5 * (F.col("cum") - F.col("r")) < 4 * F.col("t")
    return ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.when(in_head, 1).otherwise(0)).alias("n_head_80pct"),
    )


@register(
    "agg_chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type, DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM cells GROUP BY dow),
    n AS (SELECT SUM(o) AS n FROM cells),
    terms AS (
        SELECT cells.o,
               CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
        FROM cells
        JOIN rt USING (event_type)
        JOIN ct USING (dow)
        CROSS JOIN n
    )
    SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST((SELECT (COUNT(*) - 1) FROM rt) AS BIGINT)
             * (SELECT (COUNT(*) - 1) FROM ct) AS dof
    FROM terms
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3c — Pearson chi-square test of independence on the
    event_type × day-of-week contingency table: are event types
    distributed evenly across weekdays, or does behavior shift by day?
    The categorical complement to ``agg_corr_covar`` (numeric
    association) and ``dq_drift_psi``/``dq_drift_ks`` (one-dimensional
    drift) — this is THE test for "are these two categorical columns
    related", used for feature screening and for validating that a
    sampled corpus kept the source's category mix.

    Exactness: observed counts and marginals are integers; each expected
    count divides those integers identically on both engines, and the
    single emitted statistic rounds at 6dp. Degrees of freedom
    (rows−1)(cols−1) is integer-exact.

    Scale: one (type × dow) aggregate — at most |types|·7 cells
    regardless of event volume (map-side combined) — then every later
    stage runs on cell-cardinality rows with broadcast marginals."""
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)  # cell table feeds 4 aggregates
    )
    rt = F.broadcast(cells.groupBy("event_type").agg(F.sum("o").alias("r")))
    ct = F.broadcast(cells.groupBy("dow").agg(F.sum("o").alias("c")))
    n = F.broadcast(cells.agg(F.sum("o").alias("n")))
    n_rows = rt.count()
    n_cols = ct.count()
    terms = (
        cells.join(rt, "event_type")
        .join(ct, "dow")
        .crossJoin(n)
        .select(
            "o",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
        )
    )
    return terms.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            6,
        ).alias("chi2"),
        F.lit((n_rows - 1) * (n_cols - 1)).cast("bigint").alias("dof"),
    )


@register("agg_hll_intersection")  # sketch estimate → rows-only check
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5c — approximate audience OVERLAP between every pair of event
    types via HLL inclusion-exclusion:
    ``|A∩B| ≈ hll(A) + hll(B) − hll(A∪B)``. HLL sketches union natively
    but not intersect — inclusion-exclusion over the mergeable union is
    the standard recipe (error grows with |A∪B|/|A∩B|, which is why the
    exact-bitmap twin ``agg_bitmap_set_ops`` exists for small domains;
    this is the estimator that still works when user ids number in the
    billions and bitmaps don't fit).

    Approximate by design → rows-only driver check;
    tests/test_sketches.py bounds the estimate against the exact overlap
    on every pair.

    Scale: ONE scan builds one DataSketches HLL per type (map-side, KB
    each); the pair stage is pure sketch algebra over the |types|-row
    sketch table (broadcast theta self-join) — raw user ids are never
    rescanned or replicated per pair, which is the entire point of
    mergeable sketches (the naive per-pair COUNT DISTINCT union rescans
    the corpus |types|−1 times)."""
    sk = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .localCheckpoint(eager=True)  # |types| rows of sketch bytes
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    nd_a = F.hll_sketch_estimate("sk_a")
    nd_b = F.hll_sketch_estimate("sk_b")
    nd_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            nd_a.alias("nd_a"),
            nd_b.alias("nd_b"),
            nd_union.alias("nd_union"),
            F.greatest(nd_a + nd_b - nd_union, F.lit(0)).alias("est_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# D3c — exact distributed median via rank selection (no per-group sort agg)


@register(
    "agg_exact_median_distributed",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    r AS (
        SELECT g, cents,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM v
    )
    SELECT g AS l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
              + SUM(CASE WHEN rn = (n + 2) // 2 THEN cents ELSE 0 END)
                AS BIGINT) AS median_x2_cents
    FROM r GROUP BY g
    """,
)
def agg_exact_median_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D3c — EXACT per-group median as a rank-selection problem, never a
    sort aggregate: ``agg_percentiles``' F.percentile collects each
    group's values into one task's memory (fine until one group is a
    terabyte); this twin computes the same middle element(s) from
    per-distinct-value COUNTS — state per task is the group's distinct-
    value histogram slice, not its rows. Shape: (group, value) count
    aggregate (map-side combined), cumulative counts over the distinct
    values (window partitioned BY GROUP — a per-group frame over the
    value domain, never the corpus; at a 100 TB value domain you'd
    range-bucket the cumulative exactly like ``ts_rfm_segments``), the
    group totals broadcast back, then the value(s) covering ranks
    ⌈n/2⌉ and ⌊n/2⌋+1 selected by two range predicates.

    Exactness: prices in integer cents; even-sized groups emit the SUM
    of the two middles (median × 2) rather than a halved double — the
    oracle's ROW_NUMBER selection reduces to the same integers."""
    v = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
    )
    dv = v.groupBy("g", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Group totals ride the SAME group-partitioned exchange as the
    # cumulative window (an unbounded frame needs no order) instead of a
    # separate groupBy + broadcast join — the former totals branch
    # planned the scan→agg subtree TWICE (8 Exchanges / 2 BHJ; r15).
    j = dv.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("g"))
    )
    lo_rank = F.expr("(n + 1) div 2")
    hi_rank = F.expr("(n + 2) div 2")
    # ONE pass selects the row(s) covering either middle rank (exactly one
    # distinct-value row covers each; a row covering both contributes its
    # value twice, same as the former m_lo ⋈ m_hi self-join) — r15: the
    # two-filter + join form planned the scan→agg→window subtree TWICE
    # (16 Exchanges); this conditional-sum form plans it once.
    covers_lo = (F.col("cum") - F.col("cnt") < lo_rank) & (
        F.col("cum") >= lo_rank
    )
    covers_hi = (F.col("cum") - F.col("cnt") < hi_rank) & (
        F.col("cum") >= hi_rank
    )
    return (
        j.filter(covers_lo | covers_hi)
        .select(
            "g",
            "n",
            F.when(covers_lo, F.col("cents")).otherwise(F.lit(0)).alias(
                "m_lo"
            ),
            F.when(covers_hi, F.col("cents")).otherwise(F.lit(0)).alias(
                "m_hi"
            ),
        )
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            (F.sum("m_lo") + F.sum("m_hi")).alias("median_x2_cents"),
        )
        .select(F.col("g").alias("l_returnflag"), "n", "median_x2_cents")
    )


@register(
    "agg_weighted_median_distributed",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    dv AS (SELECT g, cents, SUM(wt) AS w FROM v GROUP BY g, cents),
    r AS (
        SELECT g, cents, w,
               SUM(w) OVER (PARTITION BY g ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(w) OVER (PARTITION BY g) AS tot
        FROM dv
    )
    SELECT g AS l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
               AS weighted_median_cents
    FROM r GROUP BY g
    """,
)
def agg_weighted_median_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D3d — exact per-group WEIGHTED median (lower weighted median: the
    smallest value whose cumulative weight reaches half the total —
    here "the price point splitting each return-class's shipped
    QUANTITY in half", the inventory-planning median, not the row
    median). Same rank-selection shape as
    ``agg_exact_median_distributed``: per-(group, value) weight sums,
    a group-partitioned cumulative window over distinct values, totals
    broadcast back, one range predicate — no per-group sort aggregate,
    no global window, integer weights and cents throughout."""
    v = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    dv = v.groupBy("g", "cents").agg(F.sum("wt").alias("w"))
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Same-exchange group totals (r15) — see agg_exact_median_distributed.
    return (
        dv.withColumn("cum", F.sum("w").over(w))
        .withColumn("tot", F.sum("w").over(Window.partitionBy("g")))
        .filter(
            (2 * (F.col("cum") - F.col("w")) < F.col("tot"))
            & (2 * F.col("cum") >= F.col("tot"))
        )
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("tot").alias("total_weight"),
            F.col("cents").alias("weighted_median_cents"),
        )
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM cust
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sx,
               SUM(CAST(i AS HUGEINT) * cents) AS six
        FROM r
    )
    SELECT n, sx AS total_cents,
           CAST(six AS DOUBLE) AS rank_weighted_cents,
           ROUND((2.0 * six - (n + 1.0) * sx) / (1.0 * n * sx), 6) AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D — exact Gini coefficient of customer revenue concentration
    (G = (2Σᵢ i·x₍ᵢ₎ − (n+1)Σx) / (nΣx) over ascending per-customer
    revenue): the one-number inequality/concentration metric next to
    ``agg_pareto_cut``'s 80/20 curve. The hard part at scale is the
    GLOBAL value-ordered rank i — the oracle's single-sequence
    ROW_NUMBER sorts the world in one task; the engine reuses
    :func:`~...timeseries.global_ntile`'s range-bucketed two-phase rank
    (rank_col mode), so every per-row stage stays key-partitioned and
    driver traffic is 32 bucket counts.

    Exactness: revenues in integer cents, Σ i·x as DECIMAL; the single
    double expression at the end consumes identical integers in both
    engines. Ranks tiebreak on custkey — a total order, so Σ i·x is
    well-defined despite revenue ties (and any tie permutation leaves
    Σ i·x unchanged within a tie-class anyway)."""
    from avro_parquet_spark_example_spark.operators.timeseries import (
        global_ntile,
    )

    cust = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").alias("cents"))
    )
    ranked = global_ntile(
        cust, "cents", 1, "o_custkey", "__t", rank_col="i"
    ).drop("__t")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        # Σ i·cents is O(n²·avg_cents) — DECIMAL(38,0) internally and a
        # correctly-rounded DOUBLE on output (a BIGINT output column
        # would bound the operator at ~10^18.9; r12 overflow-headroom
        # audit — both engines round the same exact integer, so the
        # renders stay hash-identical).
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cents")
        ).alias("six"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total_cents"),
        F.col("six").cast("double").alias("rank_weighted_cents"),
        F.round(
            (2.0 * F.col("six").cast("double")
             - (F.col("n") + 1.0) * F.col("sx").cast("double"))
            / (1.0 * F.col("n") * F.col("sx").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "agg_theil_index",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sx,
               CAST(CAST(SUM(CAST(FLOOR(cents * LN(CAST(cents AS DOUBLE))
                                        * 1e6) AS DECIMAL(38,0)))
                         AS DECIMAL(38,0)) AS DOUBLE) AS xlx6
        FROM cust
    )
    SELECT n, sx AS total_cents,
           ROUND((xlx6 / 1e6) / sx
                 + LN(CAST(n AS DOUBLE)) - LN(CAST(sx AS DOUBLE)),
                 6) AS theil_t
    FROM s
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D — exact Theil T index of customer revenue concentration: the
    entropy-based inequality measure that complements
    ``agg_gini_concentration`` — unlike Gini it is additively
    DECOMPOSABLE (within-group + between-group), which is why
    concentration audits over segmented corpora report both.
    T = (1/n)·Σ (x/μ)·ln(x/μ), algebraically
    (Σ x·ln x)/S + ln n − ln S — so the ONLY order-sensitive piece is
    Σ x·ln x, and the engine handles it with the dsum rule: per-customer
    x·ln x quantized to 6-digit fixed point (floor) and summed as
    DECIMAL(38), making the statistic order-independent and the final
    expression a single identical double computation on both engines.
    No rank pass at all (vs Gini's global two-phase rank) — Theil is
    the cheaper inequality metric at 100 TB: two map-side-combined
    aggregates and a 1-row output."""
    cust = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").alias("cents"))
    )
    s = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(
            F.floor(
                F.col("cents") * F.log(F.col("cents").cast("double")) * 1e6
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("double")
        .alias("xlx6"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total_cents"),
        F.round(
            (F.col("xlx6") / 1e6) / F.col("sx")
            + F.log(F.col("n").cast("double"))
            - F.log(F.col("sx").cast("double")),
            6,
        ).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# Rank correlation (round 11): Spearman rho and Kendall tau-b, exact


@register(
    "agg_spearman_rank_corr",
    oracle="""
    WITH jm AS (
        SELECT l_returnflag AS grp, l_quantity AS x, l_discount AS y,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem GROUP BY 1, 2, 3
    ),
    xm AS (
        SELECT grp, x,
               CAST(2 * SUM(SUM(f)) OVER (
                   PARTITION BY grp ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - SUM(f) + 1 AS BIGINT) AS r2x
        FROM jm GROUP BY grp, x
    ),
    ym AS (
        SELECT grp, y,
               CAST(2 * SUM(SUM(f)) OVER (
                   PARTITION BY grp ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - SUM(f) + 1 AS BIGINT) AS r2y
        FROM jm GROUP BY grp, y
    ),
    sums AS (
        SELECT jm.grp,
               CAST(SUM(f) AS BIGINT) AS n,
               SUM(CAST(f AS DECIMAL(38,0)) * r2x) AS sx,
               SUM(CAST(f AS DECIMAL(38,0)) * r2y) AS sy,
               SUM(CAST(f AS DECIMAL(38,0)) * r2x * r2x) AS sxx,
               SUM(CAST(f AS DECIMAL(38,0)) * r2y * r2y) AS syy,
               SUM(CAST(f AS DECIMAL(38,0)) * r2x * r2y) AS sxy
        FROM jm
        JOIN xm ON xm.grp = jm.grp AND xm.x = jm.x
        JOIN ym ON ym.grp = jm.grp AND ym.y = jm.y
        GROUP BY jm.grp
    )
    SELECT grp AS l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS spearman_rho
    FROM sums
    """,
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8' — exact Spearman rank correlation (quantity vs discount per
    return flag) with textbook average-rank tie handling, computed WITHOUT
    ranking individual rows: both columns have bounded distinct domains,
    so the ranks come from the joint frequency matrix — doubled average
    rank r2 = 2·(cumulative count through the value) − count(value) + 1
    is an exact INTEGER (avoiding the half-rank rational), and Pearson on
    (r2x, r2y) equals Pearson on the average ranks by linear invariance.
    Moment sums are f-weighted DECIMAL(38,0)-exact over the matrix (the
    f·r2² terms' SUM overflows int64 at ~6M rows/group — the 10x
    scale-up leg caught exactly that); only the final correlation
    expression touches doubles, through one fixed IEEE tree on both
    engines (the dsum rule).

    Scale shape: one (grp, x, y)-keyed map-side-combined count, two
    value-domain window passes over domain-cardinality frames, two
    broadcast joins back onto the matrix, one tiny roll-up. No per-row
    window, no per-group global sort — the classic rank-then-correlate
    plan is a per-group sort hotspot at 100 TB; this one shuffles only
    value domains. Continuous columns would first pass through a shared
    quantization (the eval_pr_auc distinct-value precedent)."""
    li = load(spark, sf_dir, "lineitem")
    return spearman_rho(
        li, x="l_quantity", y="l_discount", group="l_returnflag"
    ).withColumnRenamed("grp", "l_returnflag")


def _joint_matrix(df: DataFrame, x: str, y: str, group: str) -> DataFrame:
    """(grp, x, y, f) joint frequency matrix — the shared substrate of the
    rank-correlation family (both statistics are functions of it)."""
    return df.groupBy(
        F.col(group).alias("grp"), F.col(x).alias("x"), F.col(y).alias("y")
    ).agg(F.count(F.lit(1)).alias("f"))


def spearman_rho(
    df: DataFrame, x: str, y: str, group: str
) -> DataFrame:
    """(grp, n, spearman_rho) exact average-rank Spearman correlation of
    two arbitrary columns per group — the library form
    the Engine facade exposes; ``agg_spearman_rank_corr`` is its
    registered oracle-checked instance (facade-parity single-source
    rule). Columns must have bounded distinct domains (quantize
    continuous ones first)."""
    # Domain-sized joint matrix materialized once (r15) — consumed by
    # both rank maps and the final decoration below.
    jm = _joint_matrix(df, x, y, group).localCheckpoint(eager=True)

    def rank_map(col: str, out: str) -> DataFrame:
        per_val = jm.groupBy("grp", col).agg(F.sum("f").alias("cf"))
        w = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return per_val.select(
            "grp",
            col,
            (2 * F.sum("cf").over(w) - F.col("cf") + 1)
            .cast("bigint")
            .alias(out),
        )

    joined = jm.join(F.broadcast(rank_map("x", "r2x")), ["grp", "x"]).join(
        F.broadcast(rank_map("y", "r2y")), ["grp", "y"]
    )
    # moment sums in DECIMAL(38,0): the f·r2x·r2y terms pass int64 at the
    # fixture SFs but their SUM overflows it at ~6M rows/group — caught
    # live by the 10x scale-up leg (ARITHMETIC_OVERFLOW under ANSI mode)
    fd = F.col("f").cast("decimal(38,0)")
    sums = joined.groupBy("grp").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.sum(fd * F.col("r2x")).alias("sx"),
        F.sum(fd * F.col("r2y")).alias("sy"),
        F.sum(fd * F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(fd * F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(fd * F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        F.sqrt(nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * F.sqrt(nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return sums.select(
        "grp",
        "n",
        F.round(rho, 6).alias("spearman_rho"),
    )


@register(
    "agg_kendall_tau_b",
    oracle="""
    WITH jm AS (
        SELECT l_returnflag AS grp, l_quantity AS x, l_discount AS y,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem GROUP BY 1, 2, 3
    ),
    conc AS (
        SELECT a.grp,
               SUM(CASE WHEN b.y < a.y
                        THEN CAST(a.f AS DECIMAL(38,0)) * b.f
                        ELSE 0 END) AS c,
               SUM(CASE WHEN b.y > a.y
                        THEN CAST(a.f AS DECIMAL(38,0)) * b.f
                        ELSE 0 END) AS d
        FROM jm a JOIN jm b ON b.grp = a.grp AND b.x < a.x
        GROUP BY a.grp
    ),
    xmarg AS (
        SELECT grp, CAST(SUM(f) AS BIGINT) AS tx
        FROM jm GROUP BY grp, x
    ),
    ymarg AS (
        SELECT grp, CAST(SUM(f) AS BIGINT) AS ty
        FROM jm GROUP BY grp, y
    ),
    marg AS (
        SELECT n0.grp, n0.n, x1.n1, y2.n2
        FROM (SELECT grp, CAST(SUM(f) AS BIGINT) AS n
              FROM jm GROUP BY grp) n0
        JOIN (SELECT grp, SUM(CAST(tx AS HUGEINT) * (tx - 1) // 2) AS n1
              FROM xmarg GROUP BY grp) x1 ON x1.grp = n0.grp
        JOIN (SELECT grp, SUM(CAST(ty AS HUGEINT) * (ty - 1) // 2) AS n2
              FROM ymarg GROUP BY grp) y2 ON y2.grp = n0.grp
    )
    SELECT m.grp AS l_returnflag, m.n,
           ROUND((CAST(c.c AS DOUBLE) - CAST(c.d AS DOUBLE))
                 / (SQRT(CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1) / 2
                         - CAST(m.n1 AS DOUBLE))
                    * SQRT(CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1) / 2
                           - CAST(m.n2 AS DOUBLE))),
                 6) AS kendall_tau_b
    FROM marg m JOIN conc c ON c.grp = m.grp
    """,
)
def agg_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8'' — exact Kendall tau-b (quantity vs discount per return flag)
    with the full tie correction, in O(V_x·V_y) per group instead of the
    textbook O(n²) pair scan: concordant/discordant pair counts come from
    a self-join of the joint frequency MATRIX (≤ |x-domain|·|y-domain|
    cells), where each unordered row pair is counted exactly once from
    its strictly-greater-x cell — C = Σ f_a·f_b over (x_b<x_a, y_b<y_a),
    D over (x_b<x_a, y_b>y_a); x-ties and y-ties contribute to neither.
    Tie terms n1 = Σ t_x(t_x−1)/2, n2 = Σ t_y(t_y−1)/2 come from the
    marginals. Everything is BIGINT-exact; tau-b's denominator is two
    separate SQRTs in doubles (their product overflows int64 at scale)
    through the same IEEE tree on both engines.

    Scale shape: the matrix self-join is an equi-join on grp with range
    predicates over domain-cardinality frames — thousands of cells even
    at 100 TB, never the row count. Continuous columns quantize into the
    matrix first (that changes the statistic's granularity, not its
    exactness — the standard trade for streaming Kendall)."""
    li = load(spark, sf_dir, "lineitem")
    return kendall_tau_b(
        li, x="l_quantity", y="l_discount", group="l_returnflag"
    ).withColumnRenamed("grp", "l_returnflag")


def kendall_tau_b(
    df: DataFrame, x: str, y: str, group: str
) -> DataFrame:
    """(grp, n, kendall_tau_b) exact tie-corrected Kendall tau-b of two
    arbitrary columns per group — the library form
    the Engine facade exposes; ``agg_kendall_tau_b`` is its registered
    oracle-checked instance (facade-parity single-source rule). Columns
    must have bounded distinct domains (quantize continuous ones
    first)."""
    # The joint matrix is domain-sized; materialize once — it feeds the
    # self-join's two sides plus the marginal/tie terms, so the lazy form
    # re-planned the corpus scan+aggregate five times (r15; the
    # "consumed 3x" localCheckpoint precedent, bounded frames only).
    jm = _joint_matrix(df, x, y, group).localCheckpoint(eager=True)
    a, b = jm.alias("a"), jm.alias("b")
    conc = (
        a.join(
            b,
            (F.col("b.grp") == F.col("a.grp")) & (F.col("b.x") < F.col("a.x")),
        )
        .groupBy(F.col("a.grp").alias("grp"))
        # pair-count sums in DECIMAL(38,0): C and D are O(n_group²/2) —
        # they pass int64 at the fixture SFs but overflow it at
        # ~4.3G rows/group (the r12 overflow-headroom audit; the
        # agg_spearman_rank_corr precedent). f itself stays BIGINT
        # (linear in rows); the CAST on the first factor widens the
        # product BEFORE it can wrap.
        .agg(
            F.sum(
                F.when(
                    F.col("b.y") < F.col("a.y"),
                    F.col("a.f").cast("decimal(38,0)") * F.col("b.f"),
                ).otherwise(F.lit(0))
            ).alias("c"),
            F.sum(
                F.when(
                    F.col("b.y") > F.col("a.y"),
                    F.col("a.f").cast("decimal(38,0)") * F.col("b.f"),
                ).otherwise(F.lit(0))
            ).alias("d"),
        )
    )
    def tie_term(col: str, out: str) -> DataFrame:
        # t(t-1)/2 is O(n_group²) too — same DECIMAL(38,0) widening;
        # t(t-1) is always even so the integer halving stays exact.
        t = jm.groupBy("grp", col).agg(F.sum("f").cast("bigint").alias("t"))
        return t.groupBy("grp").agg(
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * (F.col("t") - 1)
                / F.lit(2)
            )
            .cast("decimal(38,0)")
            .alias(out)
        )

    marg = (
        jm.groupBy("grp")
        .agg(F.sum("f").cast("bigint").alias("n"))
        .join(tie_term("x", "n1"), "grp")
        .join(tie_term("y", "n2"), "grp")
    )
    nd = F.col("n").cast("double")
    n0 = nd * (nd - 1) / 2
    tau = (F.col("c").cast("double") - F.col("d").cast("double")) / (
        F.sqrt(n0 - F.col("n1").cast("double"))
        * F.sqrt(n0 - F.col("n2").cast("double"))
    )
    return (
        marg.join(conc, "grp")
        .select(
            "grp",
            "n",
            F.round(tau, 6).alias("kendall_tau_b"),
        )
    )


@register(
    "agg_mutual_information",
    oracle="""
    WITH base AS (
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               o_orderpriority AS x, o_orderstatus AS y
        FROM orders
    ),
    cxy AS (
        SELECT yr, x, y, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM base GROUP BY 1, 2, 3
    ),
    cx AS (SELECT yr, x, CAST(COUNT(*) AS BIGINT) AS cx
           FROM base GROUP BY 1, 2),
    cy AS (SELECT yr, y, CAST(COUNT(*) AS BIGINT) AS cy
           FROM base GROUP BY 1, 2),
    cn AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1),
    terms AS (
        SELECT j.yr,
               CAST(ROUND((CAST(j.cxy AS DOUBLE) / n.n)
                          * LN(CAST(j.cxy AS DOUBLE) * CAST(n.n AS DOUBLE)
                               / (CAST(x.cx AS DOUBLE)
                                  * CAST(y.cy AS DOUBLE))), 9)
                    AS DECIMAL(18,9)) AS term
        FROM cxy j
        JOIN cx x ON x.yr = j.yr AND x.x = j.x
        JOIN cy y ON y.yr = j.yr AND y.y = j.y
        JOIN cn n ON n.yr = j.yr
    )
    SELECT t.yr, c.n,
           ROUND(CAST(SUM(t.term) AS DOUBLE), 6) AS mi_nats
    FROM terms t JOIN cn c ON c.yr = t.yr
    GROUP BY t.yr, c.n
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8''' — exact mutual information I(X;Y) between order priority and
    order status per order year, in nats: MI = Σ_xy p(x,y)·ln(p(x,y) /
    (p(x)p(y))) — the dependence measure feature-selection and drift
    pipelines use where chi-square (``agg_chi_square_independence``) only
    tests, and the categorical sibling of the text family's PMI. All four
    count frames are integer-exact; each cell's term is one fixed IEEE
    expression on BIGINT counts, rounded to 9 decimals and summed as
    DECIMAL(18,9) (the ``text_token_entropy`` dsum treatment), so the
    cross-engine hash is deterministic despite LN.

    Scale shape: four map-side-combined counts keyed by (year[,x][,y]),
    three broadcast joins over domain-cardinality frames (|X|·|Y| cells
    per year — dozens), one tiny roll-up. 100 TB of orders is one scan
    plus kilobyte-scale joins."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.col("o_orderpriority"),
        F.col("o_orderstatus"),
    )
    return mutual_information(
        base, x="o_orderpriority", y="o_orderstatus", segment="yr"
    ).withColumnRenamed("seg", "yr")


def mutual_information(
    df: DataFrame, x: str, y: str, segment: str
) -> DataFrame:
    """(seg, n, mi_nats) exact mutual information of two arbitrary
    categorical columns per segment —
    the library form the Engine facade exposes; ``agg_mutual_information``
    is its registered oracle-checked instance (facade-parity
    single-source rule)."""
    base = df.select(
        F.col(segment).alias("seg"), F.col(x).alias("x"), F.col(y).alias("y")
    )
    # The joint count table is domain-sized; materialize it once and fold
    # the marginals out of it (Σ over an axis = the axis count, exactly)
    # instead of four separate corpus scans (r15).
    cxy = (
        base.groupBy("seg", "x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .localCheckpoint(eager=True)
    )
    cx = cxy.groupBy("seg", "x").agg(F.sum("cxy").alias("cx"))
    cy = cxy.groupBy("seg", "y").agg(F.sum("cxy").alias("cy"))
    cn = cxy.groupBy("seg").agg(F.sum("cxy").alias("n"))
    term = F.round(
        (F.col("cxy").cast("double") / F.col("n"))
        * F.log(
            F.col("cxy").cast("double")
            * F.col("n").cast("double")
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        ),
        9,
    ).cast("decimal(18,9)")
    terms = (
        cxy.join(F.broadcast(cx), ["seg", "x"])
        .join(F.broadcast(cy), ["seg", "y"])
        .join(F.broadcast(cn), "seg")
        .select("seg", "n", term.alias("term"))
    )
    return terms.groupBy("seg", "n").agg(
        F.round(F.sum("term").cast("double"), 6).alias("mi_nats")
    )


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey AS supp,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT nation, CAST(SUM(cents) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY nation
    )
    SELECT t.nation, t.n_suppliers,
           CAST(SUM(CAST(FLOOR((CAST(r.cents AS DOUBLE) / t.total)
                               * (CAST(r.cents AS DOUBLE) / t.total)
                               * 1000000000000) AS BIGINT)) AS BIGINT)
             AS hhi12,
           ROUND(SUM(CAST(FLOOR((CAST(r.cents AS DOUBLE) / t.total)
                                * (CAST(r.cents AS DOUBLE) / t.total)
                                * 1000000000000) AS BIGINT))
                 / 1000000000000.0, 6) AS hhi
    FROM rev r JOIN tot t ON t.nation = r.nation
    GROUP BY t.nation, t.n_suppliers
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7' — Herfindahl–Hirschman concentration of supplier revenue per
    nation: HHI = Σ share², the antitrust-standard market-concentration
    index that completes the engine's inequality family (Gini ranks,
    Theil decomposes, Pareto cuts — HHI is the regulator's threshold
    number; 1/HHI is the effective number of suppliers). Revenues are
    exact BIGINT cent sums; each supplier's squared share is one fixed
    IEEE expression floored to 12-decimal fixed point and dsummed as
    BIGINT (the ``eval_pr_auc_exact`` term treatment), so the per-nation
    roll-up is order-independent and hash-identical cross-engine.

    Scale shape: one (nation, supp)-keyed map-side-combined revenue
    aggregate over the fact table (two broadcast dim joins), one
    nation-cardinality totals aggregate broadcast back, one roll-up —
    the share-of-total plan (``agg_share_of_total``) with a quadratic
    term; no stage exceeds |suppliers| rows after the first."""
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(su), li["l_suppkey"] == su["s_suppkey"]
        )
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    return hhi_index(
        rev, group="nation", amount="cents"
    ).withColumnRenamed("n_members", "n_suppliers")


def hhi_index(df: DataFrame, group: str, amount: str) -> DataFrame:
    """(group, n_members, hhi12, hhi) Herfindahl–Hirschman concentration
    over per-member exact integer amounts — the library form the Engine
    facade exposes; ``agg_hhi_concentration`` is its registered
    oracle-checked instance (facade-parity single-source rule). ``df``
    carries one row per (group, member) with its integer amount."""
    rev = df.select(F.col(group).alias("grp"), F.col(amount).alias("cents"))
    tot = rev.groupBy("grp").agg(
        F.sum("cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    share = F.col("cents").cast("double") / F.col("total")
    # zero-total group: shares undefined — ANSI Spark threw where
    # DuckDB returns NULL (r15 ANSI sweep); NULL hhi12/hhi
    t12 = F.when(
        F.col("total") == 0, F.lit(None).cast("bigint")
    ).otherwise(
        F.floor(share * share * F.lit(1000000000000)).cast("bigint")
    )
    return (
        rev.join(F.broadcast(tot), "grp")
        .groupBy("grp", "n_members")
        .agg(
            F.sum(t12).cast("bigint").alias("hhi12"),
            F.round(F.sum(t12) / F.lit(1000000000000.0), 6).alias("hhi"),
        )
        .withColumnRenamed("grp", group)
    )


@register(
    "agg_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT event_type, DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
           FROM cells GROUP BY event_type),
    ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY dow),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS nr,
                 CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS nc
          FROM cells),
    terms AS (
        SELECT CAST(ROUND(
                 (cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
                 * (cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
                 / (CAST(rt.r AS DOUBLE) * ct.c / n.n), 9)
               AS DECIMAL(28,9)) AS term
        FROM cells
        JOIN rt USING (event_type)
        JOIN ct USING (dow)
        CROSS JOIN n
    )
    SELECT n.n, ROUND(CAST(SUM(t.term) AS DOUBLE), 6) AS chi2,
           ROUND(SQRT(CAST(SUM(t.term) AS DOUBLE)
                      / (n.n * LEAST(n.nr - 1, n.nc - 1))), 6)
             AS cramers_v
    FROM terms t CROSS JOIN n
    GROUP BY n.n, n.nr, n.nc
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3c' — Cramér's V effect size on the event_type × day-of-week
    contingency table: the [0,1]-normalized strength of association that
    ``agg_chi_square_independence``'s raw statistic cannot give (chi²
    grows with n, so a huge corpus makes trivial dependence "significant";
    V = sqrt(chi²/(n·min(r−1, c−1))) is the size-free number analysts
    threshold). Per-cell chi² terms are rounded to 9 decimals and summed
    as DECIMAL(18,9) (the dsum rule — stricter than the older chi²
    query's float sum), then one sqrt.

    Scale shape: identical to the chi-square plan — one (type, dow)
    contingency aggregate, two marginal roll-ups, a 1-row totals cross
    join; cells = |types|·7 regardless of volume (the ``cramers_v``
    library form the Engine facade exposes)."""
    e = load(spark, sf_dir, "events")
    return cramers_v(
        e.select(
            "event_type",
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        ),
        x="event_type",
        y="dow",
    )


def cramers_v(df: DataFrame, x: str, y: str) -> DataFrame:
    """(n, chi2, cramers_v) Cramér's V effect size of the contingency
    table of two arbitrary categorical columns — the
    library form the Engine facade exposes; ``agg_cramers_v`` is its
    registered oracle-checked instance (facade-parity single-source
    rule). Domains must be bounded (the contingency table is |x|·|y|
    cells)."""
    # Contingency cells are domain-sized; materialize once — the lazy
    # form re-planned the corpus scan+aggregate four times (cells, rt,
    # ct, n; r15).
    cells = (
        df.groupBy(F.col(x).alias("xv"), F.col(y).alias("yv"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=True)
    )
    rt = cells.groupBy("xv").agg(F.sum("o").cast("bigint").alias("r"))
    ct = cells.groupBy("yv").agg(F.sum("o").cast("bigint").alias("c"))
    n = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("xv").cast("bigint").alias("nr"),
        F.countDistinct("yv").cast("bigint").alias("nc"),
    )
    ex = F.col("r").cast("double") * F.col("c") / F.col("n")
    # DECIMAL(28,9): a single cell's (o-e)²/e term is bounded by n, so
    # 19 integer digits give headroom past 10^18 corpus rows (r12
    # overflow-headroom audit; the old (18,9) capped terms at ~10^9).
    term = F.round((F.col("o") - ex) * (F.col("o") - ex) / ex, 9).cast(
        "decimal(28,9)"
    )
    terms = (
        cells.join(F.broadcast(rt), "xv")
        .join(F.broadcast(ct), "yv")
        .crossJoin(F.broadcast(n))
        .select("n", "nr", "nc", term.alias("term"))
    )
    return terms.groupBy("n", "nr", "nc").agg(
        F.round(F.sum("term").cast("double"), 6).alias("chi2"),
        # single-level factor on either axis: min(r−1, c−1) = 0 and V is
        # undefined (χ² is exactly 0 there) — ANSI Spark threw where
        # DuckDB returns NULL (r15 ANSI sweep)
        F.when(
            F.least(F.col("nr") - 1, F.col("nc") - 1) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sqrt(
                    F.sum("term").cast("double")
                    / (
                        F.col("n")
                        * F.least(F.col("nr") - 1, F.col("nc") - 1)
                    )
                ),
                6,
            )
        )
        .alias("cramers_v"),
    ).select("n", "chi2", "cramers_v")


# ---------------------------------------------------------------------------
# Robust statistics over the value-domain matrix (round 12)
#
# The percent_rank_cume reformulation proved the shape: every rank-based
# statistic of a bounded-domain column is a function of the (group, value,
# count) frequency matrix — domain-sized at ANY corpus size — so quantiles,
# trimmed means, MAD and Hodges-Lehmann all compute with one map-side-
# combined count, tiny matrix windows, and integer arithmetic. No per-group
# sort of rows exists in any of these plans.


def _value_matrix(df: DataFrame, group: str, value: str) -> DataFrame:
    """(p, v, f) frequency matrix of an integral value column per group —
    the shared substrate of the round-12 robust-statistics family."""
    return df.groupBy(
        F.col(group).alias("p"),
        F.col(value).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("f"))


def _cumulative_matrix(jm: DataFrame) -> DataFrame:
    """Decorate the matrix with the running count cf and partition total
    n — two window sums riding ONE sort of the domain-sized frame (the
    percent_rank_cume plan)."""
    wc = (
        Window.partitionBy("p")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("p").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return jm.withColumn("cf", F.sum("f").over(wc).cast("bigint")).withColumn(
        "n", F.sum("f").over(wp).cast("bigint")
    )


#: quantile band levels of the registered instance (percent, type-1).
QUANTILE_BANDS = (25, 50, 75, 90)

_QB_CTES = """
    WITH jm AS (
        SELECT l_returnflag AS p, CAST(l_quantity AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT p, v, f,
               CAST(SUM(f) OVER (
                   PARTITION BY p ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cf,
               CAST(SUM(f) OVER (PARTITION BY p) AS BIGINT) AS n
        FROM jm
    )
"""


@register(
    "agg_quantile_bands_exact",
    oracle=_QB_CTES
    + """
    SELECT p AS l_returnflag, MIN(n) AS n,
           MIN(CASE WHEN cf * 100 >= 25 * n THEN v END) AS p25,
           MIN(CASE WHEN cf * 100 >= 50 * n THEN v END) AS p50,
           MIN(CASE WHEN cf * 100 >= 75 * n THEN v END) AS p75,
           MIN(CASE WHEN cf * 100 >= 90 * n THEN v END) AS p90
    FROM cum GROUP BY p
    """,
)
def agg_quantile_bands_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — EXACT type-1 (inverse-CDF) quantile bands p25/p50/p75/p90 of
    lineitem quantity per return flag — the percentile summary every
    dataset card and drift monitor tabulates, computed WITHOUT
    approx_percentile's sketch error and WITHOUT any per-row sort: the
    q-th type-1 quantile is the smallest value whose running count
    reaches ceil(q·n), and the test cf·100 ≥ q·n is pure integer
    arithmetic (no division, no float) — hash-identical on both engines
    by construction.

    Scale shape: the ``window_percent_rank_cume`` plan — one
    map-side-combined (flag, qty) count, two window sums over the
    domain-sized matrix, a |flags|-row roll-up. (The ``quantile_bands``
    library form the Engine facade exposes.)"""
    li = load(spark, sf_dir, "lineitem")
    return quantile_bands(
        li, group="l_returnflag", value="l_quantity"
    ).withColumnRenamed("grp", "l_returnflag")


def quantile_bands(
    df: DataFrame,
    group: str,
    value: str,
    bands: tuple[int, ...] = QUANTILE_BANDS,
) -> DataFrame:
    """(grp, n, p{q}...) exact type-1 quantiles of an integral
    bounded-domain value column per group, computed from the value-domain
    matrix with no per-row sort — the library form the Engine
    facade exposes; ``agg_quantile_bands_exact`` is its registered
    oracle-checked instance (facade-parity single-source rule)."""
    cum = _cumulative_matrix(_value_matrix(df, group, value))
    aggs = [F.min("n").alias("n")]
    for q in bands:
        aggs.append(
            F.min(
                F.when(F.col("cf") * 100 >= q * F.col("n"), F.col("v"))
            ).alias(f"p{q}")
        )
    return cum.groupBy("p").agg(*aggs).withColumnRenamed("p", "grp")


#: trim share of the registered trimmed/winsorized instance: 1/20 = 5%.
TRIM_DENOM = 20


@register(
    "agg_trimmed_winsorized_mean",
    oracle=_QB_CTES
    + f"""
    , t AS (SELECT p, v, f, cf, n, n // {TRIM_DENOM} AS k FROM cum),
    mid AS (
        SELECT p, MIN(n) AS n, MIN(k) AS k,
               CAST(SUM(v * GREATEST(
                   0, LEAST(cf, n - k) - GREATEST(cf - f + 1, k + 1) + 1
               )) AS BIGINT) AS trimmed_sum,
               MIN(CASE WHEN cf >= k + 1 THEN v END) AS v_lo,
               MIN(CASE WHEN cf >= n - k THEN v END) AS v_hi
        FROM t GROUP BY p
    )
    SELECT p AS l_returnflag, n, k AS n_trim,
           ROUND(CAST(trimmed_sum AS DOUBLE) / (n - 2 * k), 6)
               AS trimmed_mean,
           ROUND(CAST(trimmed_sum + k * v_lo + k * v_hi AS DOUBLE) / n, 6)
               AS winsorized_mean
    FROM mid
    """,
)
def agg_trimmed_winsorized_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D9' — 5%-trimmed and 5%-winsorized means of lineitem quantity per
    return flag: the two classical outlier-robust location estimates
    (trimming DROPS the k = ⌊n/20⌋ smallest and largest observations;
    winsorizing CLAMPS them to the surviving boundary values) — what a
    data-quality dashboard reports when a raw mean is hostage to a fat
    tail. Entirely integer arithmetic on the value-domain matrix: each
    value's surviving multiplicity is the overlap of its rank interval
    [cf−f+1, cf] with [k+1, n−k], the boundary values are type-1
    quantile lookups, and the only floats are the two final divisions
    rounded identically on both engines.

    Scale shape: the quantile-bands plan — matrix windows + a
    |flags|-row roll-up; no per-row sort at any corpus size. (The
    ``trimmed_mean`` library form the Engine facade exposes.)"""
    li = load(spark, sf_dir, "lineitem")
    return trimmed_winsorized_mean(
        li, group="l_returnflag", value="l_quantity"
    ).withColumnRenamed("grp", "l_returnflag")


def trimmed_winsorized_mean(
    df: DataFrame, group: str, value: str, trim_denom: int = TRIM_DENOM
) -> DataFrame:
    """(grp, n, n_trim, trimmed_mean, winsorized_mean) robust location
    estimates of an integral bounded-domain value column per group,
    ⌊n/trim_denom⌋ values trimmed each side — the library form the
    Engine facade exposes; ``agg_trimmed_winsorized_mean`` is its
    registered oracle-checked instance (facade-parity single-source
    rule)."""
    cum = _cumulative_matrix(_value_matrix(df, group, value))
    t = cum.withColumn("k", F.expr(f"n div {trim_denom}"))
    surviving = F.greatest(
        F.lit(0),
        F.least(F.col("cf"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cf") - F.col("f") + 1, F.col("k") + 1)
        + 1,
    )
    mid = t.groupBy("p").agg(
        F.min("n").alias("n"),
        F.min("k").alias("k"),
        F.sum(F.col("v") * surviving).cast("bigint").alias("trimmed_sum"),
        F.min(
            F.when(F.col("cf") >= F.col("k") + 1, F.col("v"))
        ).alias("v_lo"),
        F.min(
            F.when(F.col("cf") >= F.col("n") - F.col("k"), F.col("v"))
        ).alias("v_hi"),
    )
    return mid.select(
        F.col("p").alias("grp"),
        "n",
        F.col("k").alias("n_trim"),
        F.round(
            F.col("trimmed_sum").cast("double")
            / (F.col("n") - 2 * F.col("k")),
            6,
        ).alias("trimmed_mean"),
        F.round(
            (
                F.col("trimmed_sum")
                + F.col("k") * F.col("v_lo")
                + F.col("k") * F.col("v_hi")
            ).cast("double")
            / F.col("n"),
            6,
        ).alias("winsorized_mean"),
    )


_MAD_CTES = _QB_CTES + """
    , med AS (
        SELECT p, MIN(n) AS n,
               MIN(CASE WHEN cf * 2 >= n THEN v END) AS median
        FROM cum GROUP BY p
    ),
    dev AS (
        SELECT jm.p, ABS(jm.v - med.median) AS d,
               CAST(SUM(jm.f) AS BIGINT) AS f
        FROM jm JOIN med ON med.p = jm.p
        GROUP BY 1, 2
    ),
    dcum AS (
        SELECT p, d, f,
               CAST(SUM(f) OVER (
                   PARTITION BY p ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cf,
               CAST(SUM(f) OVER (PARTITION BY p) AS BIGINT) AS n
        FROM dev
    ),
    madt AS (
        SELECT p, MIN(CASE WHEN cf * 2 >= n THEN d END) AS mad
        FROM dcum GROUP BY p
    )
"""


@register(
    "agg_mad_robust",
    oracle=_MAD_CTES
    + """
    SELECT med.p AS l_returnflag, med.n, med.median, madt.mad
    FROM med JOIN madt ON madt.p = med.p
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9'' — exact median and median-absolute-deviation (MAD) of
    lineitem quantity per return flag: THE robust scale estimate (50%
    breakdown point vs the standard deviation's zero) that anomaly
    thresholds and winsorization limits are built on. Both medians are
    type-1 with the integer test cf·2 ≥ n (no division); the deviation
    pass RE-BINS the value matrix by |v − median| — still domain-sized —
    so the second median needs no second scan of the table.

    Scale shape: one corpus scan into the (flag, qty) matrix; every
    later stage (median lookup, deviation re-bin, second cumulative) is
    domain-cardinality. (The ``mad_robust`` library form the Engine
    facade exposes.)"""
    li = load(spark, sf_dir, "lineitem")
    return mad_robust(
        li, group="l_returnflag", value="l_quantity"
    ).withColumnRenamed("grp", "l_returnflag")


def mad_robust(df: DataFrame, group: str, value: str) -> DataFrame:
    """(grp, n, median, mad) exact type-1 median + MAD of an integral
    bounded-domain value column per group — the library form the Engine
    facade exposes; ``agg_mad_robust`` is its registered oracle-checked
    instance (facade-parity single-source rule)."""
    # The value matrix is domain-sized and feeds both the median and the
    # deviation re-bin branches; materializing it once keeps the corpus
    # scan single (the lazy form re-planned it per branch — r15, the
    # consumed-3x localCheckpoint precedent).
    jm = _value_matrix(df, group, value).localCheckpoint(eager=True)
    cum = _cumulative_matrix(jm)
    med = cum.groupBy("p").agg(
        F.min("n").alias("n"),
        F.min(
            F.when(F.col("cf") * 2 >= F.col("n"), F.col("v"))
        ).alias("median"),
    )
    dev = (
        jm.join(F.broadcast(med.select("p", "median")), "p")
        .groupBy("p", F.abs(F.col("v") - F.col("median")).alias("d"))
        .agg(F.sum("f").cast("bigint").alias("f"))
    )
    wc = (
        Window.partitionBy("p")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("p").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dcum = dev.withColumn("cf", F.sum("f").over(wc).cast("bigint")).withColumn(
        "dn", F.sum("f").over(wp).cast("bigint")
    )
    madt = dcum.groupBy("p").agg(
        F.min(
            F.when(F.col("cf") * 2 >= F.col("dn"), F.col("d"))
        ).alias("mad")
    )
    return (
        med.join(madt, "p")
        .select(F.col("p").alias("grp"), "n", "median", "mad")
    )


#: MAD multiple beyond which a value is flagged as an outlier.
MAD_OUTLIER_K = 3


@register(
    "dq_outlier_mad_flags",
    oracle=_MAD_CTES
    + f"""
    SELECT med.p AS l_returnflag, med.n,
           CAST(COALESCE(SUM(CASE
               WHEN ABS(jm.v - med.median) > {MAD_OUTLIER_K} * madt.mad
               THEN jm.f ELSE 0 END), 0) AS BIGINT) AS n_outlier,
           ROUND(CAST(COALESCE(SUM(CASE
               WHEN ABS(jm.v - med.median) > {MAD_OUTLIER_K} * madt.mad
               THEN jm.f ELSE 0 END), 0) AS DOUBLE) / med.n, 6)
               AS outlier_share
    FROM med
    JOIN madt ON madt.p = med.p
    JOIN jm ON jm.p = med.p
    GROUP BY med.p, med.n
    """,
)
def dq_outlier_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — robust outlier counts per return flag: how many lineitem
    quantities sit more than 3 MADs from their group median — the
    Hampel-filter census a data-quality gate runs where a z-score test
    would let one extreme value inflate its own threshold (the MAD is
    immune to the very outliers it screens). Pure integer comparison
    |v − median| > 3·mad over the value matrix; one double division for
    the share, rounded identically.

    Scale shape: the agg_mad_robust plan plus one more domain-sized
    broadcast join — still a single corpus scan. (The ``outlier_flags``
    library form the Engine facade exposes.)"""
    li = load(spark, sf_dir, "lineitem")
    return outlier_flags(
        li, group="l_returnflag", value="l_quantity"
    ).withColumnRenamed("grp", "l_returnflag")


def outlier_flags(
    df: DataFrame, group: str, value: str, k: int = MAD_OUTLIER_K
) -> DataFrame:
    """(grp, n, n_outlier, outlier_share) Hampel-style |v−med| > k·MAD
    census of an integral bounded-domain value column per group — the
    library form the Engine facade exposes; ``dq_outlier_mad_flags`` is
    its registered oracle-checked instance (facade-parity single-source
    rule)."""
    jm = _value_matrix(df, group, value)
    stats = mad_robust(df, group=group, value=value).withColumnRenamed(
        "grp", "p"
    )
    out = F.when(
        F.abs(F.col("v") - F.col("median")) > k * F.col("mad"), F.col("f")
    ).otherwise(F.lit(0))
    return (
        jm.join(F.broadcast(stats), "p")
        .groupBy(F.col("p").alias("grp"), "n")
        .agg(
            F.coalesce(F.sum(out), F.lit(0)).cast("bigint").alias(
                "n_outlier"
            )
        )
        .select(
            "grp",
            "n",
            "n_outlier",
            F.round(
                F.col("n_outlier").cast("double") / F.col("n"), 6
            ).alias("outlier_share"),
        )
    )


#: the (x, y) return-flag pair whose location shift the registered
#: Hodges-Lehmann instance estimates.
HL_PAIR = ("R", "A")


@register(
    "agg_hodges_lehmann_shift",
    oracle=f"""
    WITH hx AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem WHERE l_returnflag = '{HL_PAIR[0]}' GROUP BY 1
    ),
    hy AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem WHERE l_returnflag = '{HL_PAIR[1]}' GROUP BY 1
    ),
    diffs AS (
        SELECT hx.v - hy.v AS d,
               SUM(CAST(hx.f AS HUGEINT) * hy.f) AS w
        FROM hx CROSS JOIN hy
        GROUP BY 1
    ),
    cum AS (
        SELECT d, w,
               SUM(w) OVER (
                   ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               SUM(w) OVER () AS npairs
        FROM diffs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_returnflag = '{HL_PAIR[0]}') AS n_x,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_returnflag = '{HL_PAIR[1]}') AS n_y,
           MIN(CASE WHEN cw * 2 >= npairs THEN d END) AS hl_shift
    FROM cum
    """,
)
def agg_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9''' — Hodges-Lehmann two-sample shift estimate between the 'R'
    and 'A' return-flag quantity distributions: the type-1 median of ALL
    n_x·n_y pairwise differences x_i − y_j — the robust, distribution-
    free answer to "how much bigger is group X than group Y" (the
    location estimator dual to the Mann-Whitney test ``eval_auc_exact``
    already computes). The textbook form is O(n²) pairs; over a bounded
    value domain the difference distribution is the CONVOLUTION of the
    two value histograms — a |V_x|·|V_y| cross join with exact pair
    weights f_x·f_y in DECIMAL(38,0) (pair counts are O(n²): the r12
    overflow-headroom rule), and the weighted median test cw·2 ≥ N is
    pure integer arithmetic.

    Scale shape: one corpus scan into two domain histograms, a
    domain×domain cross join (≤2500 cells here), one tiny window. (The
    ``hl_shift`` library form the Engine facade exposes.)"""
    li = load(spark, sf_dir, "lineitem")
    return hl_shift(
        li.filter(F.col("l_returnflag") == HL_PAIR[0]).select("l_quantity"),
        li.filter(F.col("l_returnflag") == HL_PAIR[1]).select("l_quantity"),
        value="l_quantity",
    )


def hl_shift(dfx: DataFrame, dfy: DataFrame, value: str) -> DataFrame:
    """(n_x, n_y, hl_shift) Hodges-Lehmann shift estimate between two
    frames' integral bounded-domain value columns, via histogram
    convolution — the library form the
    Engine facade exposes; ``agg_hodges_lehmann_shift`` is its
    registered oracle-checked instance (facade-parity single-source
    rule)."""
    hx = dfx.groupBy(F.col(value).cast("bigint").alias("vx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("fx")
    )
    hy = dfy.groupBy(F.col(value).cast("bigint").alias("vy")).agg(
        F.count(F.lit(1)).cast("bigint").alias("fy")
    )
    # The two corpus histograms are domain-sized; materialize them once —
    # hx/hy feed the convolution AND the n_x/n_y totals, and diffs feeds
    # three consumers (a, b, tot) below, so the unmaterialized form
    # re-planned the corpus scan 8 times (r15; the "consumed 3x"
    # localCheckpoint precedent, bounded frames only).
    hx = hx.localCheckpoint(eager=True)
    hy = hy.localCheckpoint(eager=True)
    diffs = (
        hx.crossJoin(F.broadcast(hy))
        .groupBy((F.col("vx") - F.col("vy")).alias("d"))
        .agg(
            F.sum(F.col("fx").cast("decimal(38,0)") * F.col("fy")).alias(
                "w"
            )
        )
    )
    # cumulative over the DIFFERENCE GRID via a bounded theta self-join
    # (≤ |Vx|·|Vy| cells) — a global window here would plan an
    # Exchange SinglePartition, which the plan audit forbids without
    # exception; the grid is domain-sized so the pair join is O(cells²)
    # on a tiny frame, never on rows.
    a, b = diffs.alias("a"), diffs.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.d") <= F.col("a.d"))
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.sum("b.w").alias("cw"))
    )
    tot = diffs.agg(F.sum("w").alias("npairs"))
    # Group sizes fold out of the checkpointed histograms (Σf = COUNT(*)
    # exactly, NULL value groups included) instead of two more corpus
    # scans.
    nx = hx.agg(
        F.coalesce(F.sum("fx"), F.lit(0)).cast("bigint").alias("n_x")
    )
    ny = hy.agg(
        F.coalesce(F.sum("fy"), F.lit(0)).cast("bigint").alias("n_y")
    )
    hl = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cw") * 2 >= F.col("npairs"), F.col("d"))
        ).alias("hl_shift")
    )
    return nx.crossJoin(F.broadcast(ny)).crossJoin(F.broadcast(hl))


@register(
    "agg_median_ci",
    oracle="""
    WITH per_val AS (
        SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, v, c,
               CAST(SUM(c) OVER (PARTITION BY flag ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc,
               CAST(SUM(c) OVER (PARTITION BY flag) AS BIGINT) AS n
        FROM per_val
    ),
    ranks AS (
        SELECT flag, n,
               CAST((n + 1) // 2 AS BIGINT) AS k_med,
               GREATEST(CAST(1 AS BIGINT),
                   CAST(FLOOR((n - 1.959963984540054 * SQRT(n)) / 2.0)
                        AS BIGINT)) AS k_lo,
               LEAST(n,
                   CAST(CEIL(1.0 + (n + 1.959963984540054 * SQRT(n)) / 2.0)
                        AS BIGINT)) AS k_hi
        FROM (SELECT flag, MIN(n) AS n FROM cum GROUP BY 1)
    )
    SELECT r.flag, r.n,
           MIN(CASE WHEN c.cc >= r.k_med THEN c.v END) AS median,
           MIN(CASE WHEN c.cc >= r.k_lo THEN c.v END) AS ci_lo,
           MIN(CASE WHEN c.cc >= r.k_hi THEN c.v END) AS ci_hi
    FROM ranks r JOIN cum c ON c.flag = r.flag
    GROUP BY 1, 2
    """,
)
def agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D — the MEDIAN with a DISTRIBUTION-FREE 95% confidence interval
    (order-statistic interval, normal approximation to the binomial
    ranks: k = (n ± z√n)/2): the uncertainty statement the robust-stats
    family (quantile bands, MAD, trimmed means) was missing — a median
    without an interval can't power a dashboard alert. Works for ANY
    distribution (the interval is exact order statistics; only the
    RANKS use the binomial normal approximation, standard for n > 50).

    Exactness: per-value counts + key-partitioned cumulative counts
    over the bounded quantity grid (the engine's standard distributed
    rank machinery); the three ranks are exact integers (floor/ceil of
    one fixed-order IEEE expression with the z literal, clamped to
    [1, n]); selection is MIN over the grid — no floats in the output.

    Scale: one distinct-value aggregate + value-grid windows; identical
    shape to agg_quantile_bands_exact."""
    rows = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    return median_ci(rows, group="flag", value="v")


def median_ci(df: DataFrame, group: str, value: str) -> DataFrame:
    """(group, n, median, ci_lo, ci_hi) — the median with a
    distribution-free 95% order-statistic confidence interval per
    group, over any integer-valued column (the library form the Engine
    facade exposes; ``agg_median_ci`` is its registered oracle-checked
    instance). One distinct-value aggregate + value-grid windows — the
    agg_quantile_bands_exact shape."""
    per_val = (
        df.groupBy(
            F.col(group).alias("__g"), F.col(value).alias("__v")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__g")
    cum = per_val.withColumn(
        "__cc", F.sum("__c").over(wcum).cast("bigint")
    ).withColumn("n", F.sum("__c").over(wall).cast("bigint"))
    z = F.expr("1.959963984540054")
    ranks = (
        cum.groupBy("__g")
        .agg(F.min("n").alias("n"))
        .select(
            "__g",
            "n",
            F.expr("(n + 1) div 2").cast("bigint").alias("k_med"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor((F.col("n") - z * F.sqrt(F.col("n"))) / 2.0).cast(
                    "bigint"
                ),
            ).alias("k_lo"),
            F.least(
                F.col("n"),
                F.ceil(
                    1.0 + (F.col("n") + z * F.sqrt(F.col("n"))) / 2.0
                ).cast("bigint"),
            ).alias("k_hi"),
        )
    )
    out = (
        ranks.join(cum.select("__g", "__v", "__cc"), "__g")
        .groupBy("__g", "n")
        .agg(
            F.min(
                F.when(F.col("__cc") >= F.col("k_med"), F.col("__v"))
            ).alias("median"),
            F.min(F.when(F.col("__cc") >= F.col("k_lo"), F.col("__v"))).alias(
                "ci_lo"
            ),
            F.min(F.when(F.col("__cc") >= F.col("k_hi"), F.col("__v"))).alias(
                "ci_hi"
            ),
        )
    )
    return out.withColumnRenamed("__g", group)
