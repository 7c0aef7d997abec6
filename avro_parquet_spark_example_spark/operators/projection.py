"""Group B — projection, filtering, predicates (SURVEY.md §2-B).

The reference's headline queries were projections + WHERE filters over the
registered Avro/Parquet table ("SELECT name FROM users WHERE ...", SURVEY.md
§0 step 4). Re-expressed declaratively: Catalyst pushes both the column set
(ReadSchema) and the predicates (PushedFilters) into the Parquet scan, so at
100 TB only the referenced columns / matching row groups are read —
the modern automatic form of the reference's manual
``AvroParquetInputFormat.setRequestedProjection``.

Float note: row-level arithmetic (e.g. price × (1-discount)) is a fixed
sequence of IEEE ops, bit-identical in Spark and DuckDB — no rounding needed
(only aggregates reorder; see operators/aggregates.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, ts_us


@register(
    "project_rename_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber AS line_no,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity * l_tax AS taxed_qty
    FROM lineitem
    WHERE l_orderkey % 12 = 0
    """,
)
def project_rename_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 — select, rename, arithmetic expressions; 4-column ReadSchema.

    ``% 12`` is a deterministic 1-in-12 sample (same on both engines) that
    bounds checker output to ~50k rows at sf0.1 without changing the
    projection surface under test."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 12 == 0)
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_quantity") * F.col("l_tax")).alias("taxed_qty"),
    )


@register(
    "filter_comparison",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity < 24
      AND l_extendedprice >= 10000
      AND l_shipdate > TIMESTAMP '1995-03-15'
      AND l_returnflag <> 'A'
    """,
)
def filter_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — <, >=, >, <> across numeric / timestamp / string; all predicates
    push into the Parquet scan (row-group stats skipping)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 24)
        & (F.col("l_extendedprice") >= 10000)
        & (F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@register(
    "filter_compound",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'F' OR o_totalprice > 200000)
      AND NOT (o_orderpriority = '1-URGENT' AND o_totalprice < 50000)
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 — AND / OR / NOT combinations."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        ((F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 200000))
        & ~((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") < 50000))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "filter_in_between_like",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND c_acctbal BETWEEN 100 AND 5000
      AND c_name LIKE 'Customer#%'
      AND REGEXP_MATCHES(c_name, '[02468]$')
    """,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 — IN, BETWEEN, LIKE, RLIKE (regexp) predicates."""
    c = load(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        & F.col("c_acctbal").between(100, 5000)
        & F.col("c_name").like("Customer#%")
        & F.col("c_name").rlike("[02468]$")
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@register(
    "filter_null_semantics",
    oracle="""
    SELECT c_custkey,
           NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
           NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building,
           NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY' AS nullsafe_mach
    FROM customer
    WHERE NULLIF(c_mktsegment, 'BUILDING') IS NULL
       OR NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 — IS [NOT] NULL and null-safe equality (<=> / IS NOT DISTINCT
    FROM); NULLs injected via NULLIF since the synthetic data has none."""
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        F.col("c_custkey"),
        seg.alias("seg_or_null"),
        seg.isNull().alias("is_building"),
        seg.eqNullSafe(F.lit("MACHINERY")).alias("nullsafe_mach"),
    ).filter(seg.isNull() | seg.isNotNull())


@register(
    "dq_constraint_checks",
    oracle="""
    SELECT 'pk_unique' AS check_name,
           COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'custkey_not_null', COUNT(*) FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'quantity_positive', COUNT(*) FROM lineitem WHERE l_quantity <= 0
    UNION ALL
    SELECT 'price_in_range', COUNT(*) FROM lineitem
    WHERE l_extendedprice < 0 OR l_extendedprice > 1000000
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — declarative data-quality validation (the Deequ/dbt-test shape):
    each constraint compiles to one aggregate — PK uniqueness via
    count-minus-distinct, NOT NULL counts, referential integrity via a
    LEFT ANTI join (never a full materialized join), and range predicates —
    and the per-check violation counts union into one report. Every leg is
    a map-side-combined aggregation or an anti join on the key, so the
    whole suite costs one scan per table leg at any scale; at 100 TB this
    runs as the pipeline's gate step, and a nonzero row blocks promotion.
    The synthetic lineitem actually violates the composite-PK assumption
    ((l_orderkey, l_linenumber) collides by construction), so the first
    check demonstrably fires with a nonzero count while the other four
    return 0 — both outcomes oracle-pinned."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.first("n"), F.lit(0)).alias("n_violations"),
        )

    pk = li.agg(
        (
            F.count(F.lit(1))
            - F.count_distinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("n")
    )
    nn = o.filter(F.col("o_custkey").isNull()).agg(F.count(F.lit(1)).alias("n"))
    fk = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qty = li.filter(F.col("l_quantity") <= 0).agg(F.count(F.lit(1)).alias("n"))
    rng = li.filter(
        (F.col("l_extendedprice") < 0) | (F.col("l_extendedprice") > 1000000)
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        one("pk_unique", pk)
        .unionByName(one("custkey_not_null", nn))
        .unionByName(one("orders_fk_customer", fk))
        .unionByName(one("quantity_positive", qty))
        .unionByName(one("price_in_range", rng))
    )


@register(
    "profile_table_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS orderkey_distinct,
           COUNT(*) - COUNT(l_quantity) AS quantity_nulls,
           CAST(MIN(l_quantity) AS DOUBLE) AS quantity_min,
           CAST(MAX(l_quantity) AS DOUBLE) AS quantity_max,
           COUNT(DISTINCT l_returnflag) AS returnflag_distinct,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS price_min,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS price_max
    FROM lineitem
    """,
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — table profiling (the ANALYZE TABLE statistics pass): row count,
    per-column distincts, null counts, min/max — one single-scan multi-agg,
    all map-side combinable except the exact distincts (which at 100 TB the
    optimizer collects as HLL sketches instead — agg_approx_distinct is
    that path; exact here so the oracle pins it). These are the stats
    Catalyst's CBO and every partition-pruning decision feed on."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("l_orderkey").alias("orderkey_distinct"),
        (F.count(F.lit(1)) - F.count("l_quantity")).alias("quantity_nulls"),
        F.min("l_quantity").cast("double").alias("quantity_min"),
        F.max("l_quantity").cast("double").alias("quantity_max"),
        F.count_distinct("l_returnflag").alias("returnflag_distinct"),
        F.min("l_extendedprice").cast("double").alias("price_min"),
        F.max("l_extendedprice").cast("double").alias("price_max"),
    )


@register(
    "diag_partition_skew",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey, COUNT(*) AS rows_per_key
        FROM orders GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_keys,
           MIN(rows_per_key) AS min_rows,
           MAX(rows_per_key) AS max_rows,
           ROUND(AVG(rows_per_key), 4) AS avg_rows,
           ROUND(MAX(rows_per_key) * 1.0 / AVG(rows_per_key), 4) AS skew_ratio,
           CAST(MAX(rows_per_key) * 1.0 / AVG(rows_per_key) > 4.0 AS BOOLEAN)
             AS needs_salting
    FROM per_key
    """,
)
def diag_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 — join-key skew diagnostics: per-key row counts rolled up to the
    max/avg skew ratio, the measurement that decides between a plain
    shuffle join, AQE's skew-join splitting, and explicit salting
    (join_salted_skew is the treatment; this is the diagnosis). Two
    map-side-combined aggregations — the first shuffles (key, partial
    count) pairs, the second reduces |keys| rows to one — so profiling a
    100 TB join key costs one pass over the key column only (column-pruned
    scan). avg is integer-count arithmetic divided once at the end, so both
    engines render identical doubles."""
    o = load(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("rows_per_key"))
    ratio = F.max("rows_per_key") * 1.0 / F.avg("rows_per_key")
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("rows_per_key").alias("min_rows"),
        F.max("rows_per_key").alias("max_rows"),
        F.round(F.avg("rows_per_key"), 4).alias("avg_rows"),
        F.round(ratio, 4).alias("skew_ratio"),
        (ratio > 4.0).alias("needs_salting"),
    )


def _drift_duck(term: str) -> str:
    """DuckDB oracle of a per-bucket drift divergence between the
    reference (orderdate < 1997) and current order-value distributions:
    ``term`` is the SQL of the named per-bucket term over the bucket
    counts c_ref/c_cur and the period totals t.n_ref/t.n_cur."""
    return f"""
    WITH bucketed AS (
        SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
               (o_orderdate < TIMESTAMP '1997-01-01') AS is_ref
        FROM orders
    ),
    totals AS (
        SELECT SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
        FROM bucketed
    ),
    agg AS (
        SELECT bucket,
               SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
               SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cur
        FROM bucketed GROUP BY bucket
    ),
    per_bucket AS (
        SELECT b.range AS bucket,
               CAST(COALESCE(a.c_ref, 0) AS BIGINT) AS c_ref,
               CAST(COALESCE(a.c_cur, 0) AS BIGINT) AS c_cur
        FROM RANGE(0, 10) b LEFT JOIN agg a ON a.bucket = b.range
    )
    SELECT bucket, c_ref, c_cur,
           {term}
    FROM per_bucket CROSS JOIN totals t
    """


def _drift_counts(spark: SparkSession, sf_dir: str):
    """(totals, agg) of the order-value drift queries: the period sizes
    (n_ref, n_cur) and the per-bucket counts (bucket, c_ref, c_cur) over
    10 fixed-width 50k buckets, reference period = orderdate < 1997."""
    o = load(spark, sf_dir, "orders")
    bucketed = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint"), F.lit(9)
        ).alias("bucket"),
        (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).alias(
            "is_ref"
        ),
    )
    totals = bucketed.agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    agg = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("c_cur"),
    )
    return totals, agg


@register(
    "dq_drift_psi",
    oracle=_drift_duck(
        """ROUND(((c_ref + 1.0) / (t.n_ref + 10) - (c_cur + 1.0) / (t.n_cur + 10))
                 * LN(((c_ref + 1.0) / (t.n_ref + 10))
                      / ((c_cur + 1.0) / (t.n_cur + 10))), 9) AS psi_term"""
    ),
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4 — distribution-drift monitoring via the Population Stability
    Index: the order-value distribution of the current period (orderdate ≥
    1997-01-01) against the reference period, over 10 fixed-width buckets.
    PSI = Σ (p_i − q_i)·ln(p_i/q_i); per-bucket terms are returned so a
    drifting bucket is attributable (total = SUM(psi_term); >0.2 is the
    conventional act threshold). Fractions are add-1-smoothed over the
    bucket count so empty buckets stay finite — the same formula on both
    engines makes each double bit-identical.

    Scale shape: one scan, a CASE-sum aggregate per bucket (map-side
    combined, 10 groups), a broadcast 1-row totals join — drift monitoring
    over 100 TB is scan-bound, no per-row state. The fixed bucket RANGE
    table is broadcast so never-hit buckets still report."""
    totals, agg = _drift_counts(spark, sf_dir)
    # aggregate FIRST (map-side combined, 10 groups), then left-join the
    # fixed grid so never-hit buckets report 0 — joining per-row orders
    # onto the 10-value grid would both skew the shuffle and count each
    # null-extended row of an empty bucket as a phantom observation
    grid = spark.range(0, 10).select(F.col("id").alias("bucket"))
    per_bucket = (
        grid.join(F.broadcast(agg), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
    )
    p = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 10)
    q = (F.col("c_cur") + 1.0) / (F.col("n_cur") + 10)
    return (
        per_bucket.join(F.broadcast(totals))
        .select(
            "bucket",
            "c_ref",
            "c_cur",
            F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
        )
    )


@register(
    "dq_freshness_completeness",
    oracle="""
    WITH per AS (
        SELECT event_type,
               MIN(EPOCH_US(ts)) AS first_us,
               MAX(EPOCH_US(ts)) AS last_us,
               COUNT(DISTINCT CAST(ts AS DATE)) AS days_observed,
               DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) + 1
                 AS span_days
        FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(last_us) AS global_last FROM per)
    SELECT event_type, first_us, last_us, days_observed, span_days,
           span_days - days_observed AS gap_days,
           ROUND(days_observed * 1.0 / span_days, 9) AS completeness,
           last_us < global_last - 86400000000 AS is_stale
    FROM per CROSS JOIN g
    """,
)
def dq_freshness_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5 — ingestion freshness + calendar completeness per stream: for
    each event type, the observed [first, last] span, how many calendar
    days inside it actually delivered data (gap_days = silent-outage
    days), and a staleness flag — last event more than 24 h behind the
    freshest stream. The triad (freshness / completeness / validity) is
    the standard data-SLA monitor (Deequ, Monte Carlo, dbt-source
    freshness) that belongs next to dq_constraint_checks in every
    pipeline gate.

    All arithmetic is integer (epoch-µs, day counts) except the final
    completeness ratio — one int/int division rendered identically by
    both engines. Scale: one map-side-combined aggregate to
    type-cardinality rows, then a broadcast 1-row global-max join; the
    whole monitor is one column-pruned scan of (event_type, ts) at any
    volume."""
    e = load(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.min(ts_us(e)).alias("first_us"),
        F.max(ts_us(e)).alias("last_us"),
        F.count_distinct(F.col("ts").cast("date")).alias("days_observed"),
        (
            F.datediff(F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date")))
            + 1
        ).alias("span_days"),
    )
    g = F.broadcast(per.agg(F.max("last_us").alias("global_last")))
    return per.crossJoin(g).select(
        "event_type",
        "first_us",
        "last_us",
        "days_observed",
        "span_days",
        (F.col("span_days") - F.col("days_observed")).alias("gap_days"),
        F.round(F.col("days_observed") * 1.0 / F.col("span_days"), 9).alias(
            "completeness"
        ),
        (F.col("last_us") < F.col("global_last") - 86_400_000_000).alias("is_stale"),
    )


@register(
    "dq_benford_digits",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(CAST(ABS(value) AS DECIMAL(20,6)) * 1000000
                                  AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        FROM events WHERE value > 0
    ),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit),
    tot AS (SELECT SUM(n_obs) AS n FROM obs)
    SELECT o.digit, o.n_obs,
           ROUND(t.n * ROUND(LOG10(1.0 + 1.0 / o.digit), 9), 4) AS expected,
           ROUND((o.n_obs - t.n * ROUND(LOG10(1.0 + 1.0 / o.digit), 9))
                 * (o.n_obs - t.n * ROUND(LOG10(1.0 + 1.0 / o.digit), 9))
                 / (t.n * ROUND(LOG10(1.0 + 1.0 / o.digit), 9)), 6) AS chi2_term
    FROM obs o CROSS JOIN tot t
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6 — Benford first-significant-digit conformance of the event
    value column: observed digit counts against the Benford expectation
    n·log10(1+1/d), with per-digit χ² contributions (Σ over the 9 rows vs
    χ²₈ critical values is the fraud/synthetic-data alarm — a fabricated
    metric column jumps out here long before a range check fires).

    Digit extraction is INTEGER-exact on both engines: abs(value) →
    DECIMAL(20,6) (the repo's established cross-engine cast) → ×10⁶ →
    BIGINT → first character of the integer's string form — no float
    formatting, no log10-of-data (log10 runs only on the 9 digit
    constants, rounded to 9 decimals as part of the spec before any
    arithmetic). Scale: one scan, 9-group map-side-combined count, a
    broadcast 1-row total — the whole monitor is column-pruned-scan
    bound."""
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    as_int = (F.abs(F.col("value")).cast("decimal(20,6)") * 1000000).cast("bigint")
    digit = F.substring(as_int.cast("string"), 1, 1).cast("int")
    obs = e.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = F.broadcast(obs.agg(F.sum("n_obs").alias("n")))
    exp = F.col("n") * F.round(F.log10(1.0 + 1.0 / F.col("digit")), 9)
    return obs.crossJoin(tot).select(
        "digit",
        "n_obs",
        F.round(exp, 4).alias("expected"),
        F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp, 6).alias(
            "chi2_term"
        ),
    )


@register(
    "dq_quarantine_rows",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CONCAT_WS(',',
               CASE WHEN l_quantity > 48 THEN 'qty_cap' END,
               CASE WHEN l_extendedprice > 99000 THEN 'price_band' END,
               CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                    THEN 'flag_domain' END) AS failed_rules,
           l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 48 OR l_extendedprice > 99000
       OR l_returnflag NOT IN ('A', 'N', 'R')
    """,
)
def dq_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ7 — ROW-level quarantine with rule attribution: dq_constraint_
    checks counts violations per rule; this is the other half every
    pipeline gate needs — the offending rows themselves, each tagged
    with the comma-joined list of rules it failed, routed to a
    quarantine table for triage while the clean rows promote. Rule
    evaluation is a pure per-row CASE chain fused into the scan
    (predicate pushdown carries the disjunction), and ``concat_ws``
    skips non-firing rules' NULLs identically on both engines, so the
    attribution string is deterministic. The third rule (returnflag
    domain) fires zero times — pinned by the oracle as zero, proving
    non-firing rules stay silent rather than tagging spuriously.

    Scale: one scan, no shuffle at all; quarantine volume is the
    violation rate, not the table size. The split-write form is two
    filtered writes of the same scan (layout family)."""
    li = load(spark, sf_dir, "lineitem")
    r_qty = F.col("l_quantity") > 48
    r_price = F.col("l_extendedprice") > 99000
    r_flag = ~F.col("l_returnflag").isin("A", "N", "R")
    failed = F.concat_ws(
        ",",
        F.when(r_qty, "qty_cap"),
        F.when(r_price, "price_band"),
        F.when(r_flag, "flag_domain"),
    )
    return li.filter(r_qty | r_price | r_flag).select(
        "l_orderkey",
        "l_linenumber",
        failed.alias("failed_rules"),
        "l_quantity",
        "l_extendedprice",
    )


@register(
    "dq_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    med AS (
        SELECT event_type, QUANTILE_CONT(n, 0.5) AS med
        FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, d.day, d.n, m.med,
               ABS(d.n - m.med) AS dev
        FROM daily d JOIN med m ON m.event_type = d.event_type
    ),
    mad AS (
        SELECT event_type, QUANTILE_CONT(dev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n,
           ROUND(d.med, 6) AS med,
           ROUND(m.mad, 6) AS mad,
           (d.dev > 2 * 1.4826 * m.mad) AS is_outlier
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    WHERE d.dev > 2 * 1.4826 * m.mad
    """,
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — ROBUST outlier days via median absolute deviation: flag days
    whose daily volume deviates from the median by more than 2 scaled
    MADs (the fixture's daily volumes are near-uniform, so the classic 3×
    cut flags nothing — 2× keeps the check non-vacuous at every SF) (1.4826·MAD ≈ σ under normality). The robust complement to
    ts_anomaly_zscore: a z-score's mean/stddev are dragged by the very
    outliers being hunted (masking), while median/MAD have a 50%
    breakdown point — the standard pairing in volume monitoring.

    Exactness: daily counts are integers; Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation definition
    (already pinned by agg_stats), the deviation median repeats it, and
    the final comparison is a fixed IEEE sequence.

    Scale: one map-side-combined daily aggregation; both medians run over
    the (types × days) grid — tiny at any corpus size."""
    e = load(spark, sf_dir, "events")
    # The (types × days) grid is calendar-bounded and feeds the
    # med/dev/mad/out branches; materializing it once keeps the corpus
    # scan single (the lazy form re-planned it 4× — r15, the
    # consumed-3x localCheckpoint precedent).
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    out = dev.join(F.broadcast(mad), "event_type").filter(
        F.col("dev") > 2 * 1.4826 * F.col("mad")
    )
    return out.select(
        "event_type",
        "day",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (F.col("dev") > 2 * 1.4826 * F.col("mad")).alias("is_outlier"),
    )


@register(
    "dq_k_anonymity",
    oracle="""
    WITH q AS (
        SELECT lang, source, n_chars // 100 AS len_bucket,
               COUNT(*) AS group_size
        FROM documents
        GROUP BY lang, source, n_chars // 100
    )
    SELECT lang, source, len_bucket, group_size,
           (group_size < 5) AS below_k
    FROM q
    WHERE group_size < 5
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ-privacy — k-anonymity audit (k=5) over the quasi-identifier
    tuple (lang, source, length-bucket): every equivalence class smaller
    than k is a re-identification risk — the release gate run before
    publishing "anonymized" corpora, and the pre-pass that decides which
    rows need suppression or coarser bucketing. Bucketing the continuous
    quasi-identifier (n_chars → 100-char buckets) is itself part of the
    technique: raw lengths make every row its own class.

    Integer-exact throughout (counts + integer division). One map-side-
    combined aggregate over the quasi-identifier key at any scale; the
    risky-class report is orders of magnitude smaller than the corpus."""
    d = load(spark, sf_dir, "documents")
    q = d.groupBy(
        "lang",
        "source",
        F.expr("n_chars div 100").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    return q.filter(F.col("group_size") < 5).select(
        "lang",
        "source",
        "len_bucket",
        "group_size",
        (F.col("group_size") < 5).alias("below_k"),
    )


@register(
    "dp_noisy_counts",
    oracle="""
    WITH counts AS (
        SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type
    ),
    draw AS (
        SELECT event_type, true_n,
               (((STRPOS('0123456789abcdef',
                         SUBSTR(MD5(event_type || ':dpseed42'), 1, 1)) - 1)
                   * 4096
                 + (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(event_type || ':dpseed42'), 2, 1)) - 1)
                   * 256
                 + (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(event_type || ':dpseed42'), 3, 1)) - 1)
                   * 16
                 + (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(event_type || ':dpseed42'), 4, 1)) - 1)
               ) + 1) / 65537.0 AS u
        FROM counts
    )
    SELECT event_type, true_n,
           ROUND(CASE WHEN u < 0.5
                      THEN (1.0 / 0.1) * LN(2 * u)
                      ELSE -(1.0 / 0.1) * LN(2 * (1 - u)) END, 6) AS noise,
           ROUND(true_n + CASE WHEN u < 0.5
                               THEN (1.0 / 0.1) * LN(2 * u)
                               ELSE -(1.0 / 0.1) * LN(2 * (1 - u)) END,
                 6) AS noisy_n
    FROM draw
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ-privacy — the Laplace-mechanism release pipeline: per-group
    counts plus Laplace(1/ε) noise (ε=0.1, sensitivity 1 for a count) via
    the inverse-CDF transform ``sign·(1/ε)·ln(...)`` of a uniform draw.
    The uniform here is DETERMINISTIC (md5 of the group key + a fixed
    seed, first 4 hex digits → (0,1)) so the release is oracle-checkable
    and reproducible — a production release swaps in a real entropy
    source AND must not publish the seed (a known seed voids the DP
    guarantee; this query demonstrates the mechanism's dataflow, not a
    certified DP release — the docstring is the warning label).

    Shape at scale: the noise is a per-GROUP map over the aggregate's
    (tiny) output — the scan and aggregation dominate, identical to the
    un-noised query; ln/division are one fixed IEEE sequence per group."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    hexes = "0123456789abcdef"
    h = F.md5(F.concat(F.col("event_type"), F.lit(":dpseed42")))
    digit = lambda i: F.instr(F.lit(hexes), F.substring(h, i, 1)) - 1  # noqa: E731
    u = (
        digit(1) * 16 * 16 * 16 + digit(2) * 16 * 16 + digit(3) * 16 + digit(4)
        + 1
    ) / 65537.0
    eps = 0.1
    noise = F.when(u < 0.5, (1.0 / eps) * F.log(2 * u)).otherwise(
        -(1.0 / eps) * F.log(2 * (1 - u))
    )
    return counts.select(
        "event_type",
        "true_n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
    )


@register(
    "dq_lateness_profile",
    oracle="""
    WITH arr AS (
        SELECT event_type, event_id, EPOCH_US(ts) AS ts_us,
               MAX(EPOCH_US(ts)) OVER (PARTITION BY event_type
                                       ORDER BY event_id
                                       ROWS UNBOUNDED PRECEDING)
                   AS frontier_us
        FROM events
    ),
    late AS (
        SELECT event_type,
               frontier_us - ts_us AS lateness_us
        FROM arr
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           MAX(lateness_us) AS max_lateness_us,
           CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY lateness_us)
                AS BIGINT) AS p95_lateness_us
    FROM late GROUP BY event_type
    """,
)
def dq_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ-streaming — event-time LATENESS profile: with event_id as the
    arrival order, each event's lateness is how far it lags the running
    event-time frontier (max ts seen so far) — exactly the quantity a
    watermark bounds. The per-type late-event count, max, and p95
    lateness are THE inputs to choosing ``withWatermark``: a 10-minute
    watermark is right only if p95 lateness sits under it (this fixture's
    profile is what justified the streaming queries' 10-minute choice).
    ``percentile_disc`` picks an actual observed value — integer-exact
    cross-engine, per the winsorize convention.

    One shuffle by type for the frontier window (arrival order within
    type), then a map-side-combined profile aggregate. On a live stream
    the same frontier is what the engine maintains internally; this
    query measures it offline from history."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = e.select(
        "event_type",
        "event_id",
        ts_us(e).alias("ts_us"),
    ).withColumn("frontier_us", F.max("ts_us").over(w))
    late = arr.select(
        "event_type", (F.col("frontier_us") - F.col("ts_us")).alias("lateness_us")
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("lateness_us") > 0, 1).otherwise(0)).alias("n_late"),
        F.max("lateness_us").alias("max_lateness_us"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY lateness_us)")
        .cast("bigint")
        .alias("p95_lateness_us"),
    )


def drift_value_cdfs(orders: DataFrame):
    """Shared two-phase machinery for the value-distribution drift tests
    (:func:`dq_drift_ks`, :func:`dq_drift_mannwhitney`): per distinct
    order value ``v``, the EXACT cumulative counts at-or-below ``v`` for
    the reference and current periods (1997-01-01 split), computed with
    the engine's distributed prefix-sum pattern — distinct-value counts,
    uniform range buckets on exact min/max, per-bucket running sums
    (key-partitioned windows) plus broadcast exclusive bucket offsets.
    Returns ``(df, n_ref, n_cur)`` where df carries one row per distinct
    value: ``v, c_ref, c_cur`` (tie counts at v) and ``r_ref, r_cur``
    (inclusive cumulative counts). Driver traffic is O(buckets) scalars;
    no stage is single-partition."""
    vals = orders.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).alias(
            "is_ref"
        ),
    )
    return two_class_value_cdfs(vals)


def two_class_value_cdfs(vals: DataFrame):
    """Generic core of :func:`drift_value_cdfs`: given a ``(v, is_ref)``
    frame, return ``(df, n_ref, n_cur)`` of per-distinct-value tie
    counts + inclusive cumulative counts for both classes — the shared
    substrate for KS / Mann–Whitney drift AND rank statistics like
    exact ROC AUC (``eval_auc_exact``), which is the same midrank
    algebra with (positive, negative) as the two classes.

    NULLs (ADVICE r9): a NULL ``v`` would get a NULL bucket and be
    silently DROPPED by the offsets join while a single-sequence oracle
    would rank it — so a NULL metric value fails LOUDLY here (the check
    rides the min/max aggregate this function already collects; callers
    with nullable metrics filter or impute first, explicitly)."""
    d = (
        vals.groupBy("v")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("c_cur"),
        )
        .localCheckpoint(eager=True)  # consumed 3x: range, offsets, window
    )
    mm = d.agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.when(F.col("v").isNull(), 1)).alias("n_null"),
    ).collect()[0]
    if mm.n_null:
        raise ValueError(
            "two_class_value_cdfs: metric column contains NULL values, "
            "which the bucketed prefix-sum would silently drop; filter "
            "or impute NULLs before computing rank statistics"
        )
    mn, mx = float(mm.mn), float(mm.mx)
    span = mx - mn
    n_buckets = 32
    bucket = (
        F.lit(0)
        if span <= 0
        else F.least(
            F.floor((F.col("v") - F.lit(mn)) / span * n_buckets).cast("int"),
            F.lit(n_buckets - 1),
        )
    )
    bucketed = d.withColumn("__bkt", bucket)
    sums = {
        r["__bkt"]: (r.sr, r.sc)
        for r in bucketed.groupBy("__bkt")
        .agg(F.sum("c_ref").alias("sr"), F.sum("c_cur").alias("sc"))
        .collect()
    }
    acc_r = acc_c = 0
    offset_rows = []
    for bkt in sorted(sums):
        offset_rows.append((bkt, acc_r, acc_c))
        acc_r += sums[bkt][0]
        acc_c += sums[bkt][1]
    n_ref, n_cur = acc_r, acc_c
    offsets = F.broadcast(
        d.sparkSession.createDataFrame(
            offset_rows, "__bkt int, __or long, __oc long"
        )
    )
    w = Window.partitionBy("__bkt").orderBy("v")
    cdfs = (
        bucketed.join(offsets, "__bkt")
        .select(
            "v",
            "c_ref",
            "c_cur",
            (F.sum("c_ref").over(w) + F.col("__or")).alias("r_ref"),
            (F.sum("c_cur").over(w) + F.col("__oc")).alias("r_cur"),
        )
    )
    return cdfs, n_ref, n_cur



@register(
    "dq_drift_ks",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v,
               (o_orderdate < TIMESTAMP '1997-01-01') AS is_ref
        FROM orders
    ),
    t AS (
        SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        FROM vals
    ),
    d AS (
        SELECT v,
               SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
               SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cur
        FROM vals GROUP BY v
    ),
    c AS (
        SELECT SUM(c_ref) OVER (ORDER BY v) AS r_ref,
               SUM(c_cur) OVER (ORDER BY v) AS r_cur
        FROM d
    )
    SELECT ROUND(MAX(ABS(r_ref * 1.0 / t.n_ref - r_cur * 1.0 / t.n_cur)), 9)
             AS ks_stat,
           MIN(t.n_ref) AS n_ref, MIN(t.n_cur) AS n_cur
    FROM c CROSS JOIN t
    """,
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4b — EXACT two-sample Kolmogorov–Smirnov drift statistic between
    the reference period's and the current period's order-value
    distributions (same 1997-01-01 split as ``dq_drift_psi``):
    ``KS = max over observed values of |CDF_ref − CDF_cur|``. PSI reads
    drift through 10 fixed bins (cheap, lossy); KS is the
    binning-free complement that catches shape drift PSI's coarse bins
    smear away — together they are the standard drift-monitor pair.

    The oracle computes the CDFs with a single-sequence running sum — the
    textbook form and, as always, the thing that does NOT scale (one task
    sorts every distinct value). The engine side reuses the engine's
    distributed prefix-sum pattern (``curation_token_budget_select``):
    distinct-value counts → uniform range buckets on exact min/max →
    per-bucket running sums (key-partitioned windows) + broadcast
    exclusive bucket offsets → exact global CDFs → one max aggregate.
    All counts are integers; the two divisions and the |·| happen on
    identical doubles on both engines, rounded at 9dp.

    At 100 TB the driver sees O(buckets) scalars and no stage is
    single-partition; a hot value range is AQE-splittable because ties
    collapse into ONE distinct-value row before the window."""
    cdfs, n_ref, n_cur = drift_value_cdfs(load(spark, sf_dir, "orders"))
    return cdfs.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("r_ref") * 1.0 / F.lit(n_ref)
                    - F.col("r_cur") * 1.0 / F.lit(n_cur)
                )
            ),
            9,
        ).alias("ks_stat"),
        F.lit(n_ref).cast("bigint").alias("n_ref"),
        F.lit(n_cur).cast("bigint").alias("n_cur"),
    )


@register(
    "dq_drift_welch_ttest",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
               (o_orderdate < TIMESTAMP '1997-01-01') AS is_ref
        FROM orders
    ),
    s AS (
        SELECT CAST(COUNT(*) FILTER (is_ref) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (NOT is_ref) AS BIGINT) AS n2,
               CAST(SUM(c) FILTER (is_ref) AS BIGINT) AS c1,
               CAST(SUM(c) FILTER (NOT is_ref) AS BIGINT) AS c2,
               CAST(CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) FILTER (is_ref)
                         AS DECIMAL(38,0)) AS DOUBLE) AS q1,
               CAST(CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) FILTER (NOT is_ref)
                         AS DECIMAL(38,0)) AS DOUBLE) AS q2
        FROM vals
    ),
    d AS (
        SELECT n1, n2,
               (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2) / 100
                   AS md,
               (q1 - CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE) / n1)
                   / (n1 - 1) / 10000 AS v1,
               (q2 - CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE) / n2)
                   / (n2 - 1) / 10000 AS v2
        FROM s
    )
    SELECT n1, n2,
           ROUND(md, 6) AS mean_diff,
           ROUND(md / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)),
                 4) AS dof
    FROM d
    """,
)
def dq_drift_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4c — Welch's unequal-variance two-sample t-test on the order
    values of the reference vs current period (same 1997-01-01 split as
    the PSI/KS drift pair): has the MEAN shifted, and by how many
    standard errors? Welch's form (never pooled variance) is the correct
    default when period sizes and variances differ — which in drift
    monitoring they always do. With the Welch–Satterthwaite dof the
    triple (KS = shape, t = location, PSI = binned mass) covers the
    standard drift-report page.

    Cross-engine exactness (ADVICE r9): plain double AVG/VAR_SAMP are
    partition-order-dependent and merge differently across engines, so
    the aggregates here are EXACT integers — prices quantized to cents
    (BIGINT Σx, DECIMAL(38) Σx²) — and means/variances are derived from
    those order-independent anchors with the IDENTICAL double expression
    tree on both engines (squares by multiplication, never POW, whose
    libm may differ), rounded at 6dp / 4dp. One scan, one map-side
    combined aggregate, 1-row output — trivially 100 TB-safe."""
    vals = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).alias(
            "is_ref"
        ),
    )
    sq = F.col("c").cast("decimal(19,0)") * F.col("c")
    s = vals.agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("n1"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n2"),
        F.sum(F.when(F.col("is_ref"), F.col("c"))).alias("c1"),
        F.sum(F.when(~F.col("is_ref"), F.col("c"))).alias("c2"),
        F.sum(F.when(F.col("is_ref"), sq))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("q1"),
        F.sum(F.when(~F.col("is_ref"), sq))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("q2"),
    )
    c1d, c2d = F.col("c1").cast("double"), F.col("c2").cast("double")
    d = s.select(
        "n1",
        "n2",
        ((c1d / F.col("n1") - c2d / F.col("n2")) / 100).alias("md"),
        (
            (F.col("q1") - c1d * c1d / F.col("n1"))
            / (F.col("n1") - 1)
            / 10000
        ).alias("v1"),
        (
            (F.col("q2") - c2d * c2d / F.col("n2"))
            / (F.col("n2") - 1)
            / 10000
        ).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return d.select(
        "n1",
        "n2",
        F.round(F.col("md"), 6).alias("mean_diff"),
        F.round(F.col("md") / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (
                se1 * se1 / (F.col("n1") - 1)
                + se2 * se2 / (F.col("n2") - 1)
            ),
            4,
        ).alias("dof"),
    )


@register(
    "dq_drift_mannwhitney",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v,
               (o_orderdate < TIMESTAMP '1997-01-01') AS is_ref
        FROM orders
    ),
    ranked AS (
        SELECT is_ref,
               RANK() OVER (ORDER BY v)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS avg_rank
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n2,
               SUM(CASE WHEN is_ref THEN avg_rank ELSE 0 END) AS r1
        FROM ranked
    )
    SELECT n1, n2,
           ROUND(r1, 1) AS rank_sum_ref,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_ref,
           ROUND(n1 * CAST(n2 AS DOUBLE) - (r1 - n1 * (n1 + 1) / 2.0), 1)
             AS u_cur
    FROM s
    """,
)
def dq_drift_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4d — Mann–Whitney U (Wilcoxon rank-sum) between the reference
    and current periods' order values: the NONPARAMETRIC location test
    that ignores outliers and heavy tails where Welch's t does not —
    U counts, across all cross-period pairs, how often a reference value
    exceeds a current one (ties at half weight). Exact tie handling via
    midranks; U values are exact multiples of 0.5.

    The oracle ranks with a single-sequence global RANK — one task sorts
    the world. The engine derives the SAME midrank sums from
    :func:`drift_value_cdfs`'s distributed per-distinct-value cumulative
    counts: a value with c ties and b = (cumulative − c) predecessors has
    midrank b + (c+1)/2, so the reference rank-sum is
    Σ c_ref·(b + (c+1)/2) — one more map over the CDF frame, no new
    shuffle, no global window.

    Identity U_ref + U_cur = n1·n2 holds exactly (tests pin it)."""
    cdfs, n1, n2 = drift_value_cdfs(load(spark, sf_dir, "orders"))
    c = F.col("c_ref") + F.col("c_cur")
    b = F.col("r_ref") + F.col("r_cur") - c
    r1 = cdfs.agg(
        F.sum(F.col("c_ref") * (b + (c + 1) / 2.0)).alias("r1")
    )
    # n1*(n1+1) exceeds int32 once n1 > ~46k, and a Column * python-int
    # multiply stays 32-bit — compute the triangular term in Python
    # (arbitrary-precision int, then the same /2.0 the oracle does).
    tri1 = n1 * (n1 + 1) / 2.0
    return r1.select(
        F.lit(n1).cast("bigint").alias("n1"),
        F.lit(n2).cast("bigint").alias("n2"),
        F.round(F.col("r1"), 1).alias("rank_sum_ref"),
        F.round(F.col("r1") - F.lit(tri1), 1).alias("u_ref"),
        F.round(
            F.lit(float(n1) * n2) - (F.col("r1") - F.lit(tri1)), 1
        ).alias("u_cur"),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphan_children,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey))
                AS BIGINT) AS childless_parents
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation n
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_nationkey = n.n_nationkey))
                AS BIGINT)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — referential-integrity audit across the schema's FK chain
    (lineitem→orders→customer→nation): per edge, ORPHAN CHILDREN (fact
    rows whose parent key is missing — broken ingestion, the rows every
    downstream join silently drops) and CHILDLESS PARENTS (dimension
    rows no fact references — not an error, but the dead weight a
    broadcast-dim build should know about). The generated fixture is
    orphan-free, which is itself the assertion a DQ gate exists to make
    loudly; childless-parent counts are non-trivial.

    Shape: each side is one LEFT ANTI join (the null-rejecting FK
    semantics — no null keys in this schema) + a 1-row count; anti joins
    against the smaller side broadcast. Linear, map-side combinable,
    100 TB-safe."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey")

    def audit(fk, child, ckey, parent, pkey):
        orphans = child.join(
            parent, child[ckey] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("orphan_children"))
        childless = parent.join(
            child, parent[pkey] == child[ckey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("childless_parents"))
        return orphans.crossJoin(childless).select(
            F.lit(fk).alias("fk"), "orphan_children", "childless_parents"
        )

    return (
        audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(audit("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(
            audit("customer->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


@register(
    "eval_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS pct,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    )
    SELECT pct AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_returned,
           ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS observed_rate
    FROM scored GROUP BY pct
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — calibration / reliability-diagram bins: bucket a candidate
    predictor (discount percentage) and report each bucket's observed
    outcome rate (lineitem returns) — the table behind every
    calibration curve and the uplift sanity-check ("does the signal's
    level actually track the outcome?"). Counts exact; one
    map-side-combined aggregate over ≤ |buckets| cells; the rate
    divides exact integers identically on both engines. At 100 TB this
    is the same single-pass shape — bucket cardinality, not corpus
    size, bounds the output."""
    return (
        load(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("bigint").alias(
                "discount_pct"
            ),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("discount_pct")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("n_returned"),
        )
        .withColumn(
            "observed_rate",
            F.round(F.col("n_returned") * 1.0 / F.col("n"), 6),
        )
    )


@register(
    "eval_auc_exact",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
               (l_returnflag = 'R') AS is_ref
        FROM lineitem
    ),
    ranked AS (
        SELECT is_ref,
               RANK() OVER (ORDER BY v)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS avg_rank
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN is_ref THEN 2 * avg_rank ELSE 0 END)
                    AS BIGINT) AS r2
        FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(CAST(r2 AS HUGEINT) - CAST(np AS HUGEINT) * (np + 1)
                AS DOUBLE) AS u_x2,
           ROUND(CAST(CAST(r2 AS HUGEINT) - CAST(np AS HUGEINT) * (np + 1)
                      AS DOUBLE) / (2.0 * np * nn), 6)
               AS auc
    FROM s
    """,
)
def eval_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — EXACT ROC AUC (ties at half credit) of a score against a
    binary outcome — here "does the discount level discriminate
    returned lineitems?", the same signal ``eval_calibration_bins``
    tabulates, reduced to the one-number ranking metric. AUC is the
    Mann–Whitney statistic in disguise (AUC = U/(n⁺n⁻)), so the engine
    reuses :func:`two_class_value_cdfs`' distributed midrank algebra:
    per-distinct-value class counts + cumulative prefix counts give
    each value's midrank without any global sort; the oracle runs the
    single-sequence RANK definition. Twice-the-rank-sum is an exact
    INTEGER (midranks are half-integers), carried in DECIMAL(38,0)
    (r12 overflow-headroom audit: the U statistic is O(n²), past int64
    at ~3G rows) and emitted as the correctly-rounded DOUBLE u_x2 on
    both engines; the final division happens once, identically.

    Scale: identical to the drift tests — one distinct-value aggregate,
    32-bucket two-phase prefix sums, O(buckets) driver scalars."""
    vals = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        (F.col("l_returnflag") == "R").alias("is_ref"),
    )
    cdfs, n_pos, n_neg = two_class_value_cdfs(vals)
    c = F.col("c_ref") + F.col("c_cur")
    b = F.col("r_ref") + F.col("r_cur") - c
    # midrank = b + (c+1)/2 → 2·midrank = 2b + c + 1 (integer); the
    # positives' doubled rank-sum is Σ c_ref·(2b + c + 1), exact.
    # rank-sum in DECIMAL(38,0): Σ c_ref·(2b+c+1) is O(n²) and passes
    # int64 at ~3G rows (r12 overflow-headroom audit; oracle: HUGEINT).
    # u_x2 is emitted as DOUBLE on both engines — the U statistic
    # itself is O(n²) so a BIGINT output column would bound the
    # operator; both engines correctly-round the same exact integer, so
    # the renders stay hash-identical.
    r2 = cdfs.agg(
        F.sum(
            F.col("c_ref").cast("decimal(38,0)") * (2 * b + c + 1)
        ).alias("r2")
    )
    trid = F.lit(n_pos).cast("decimal(38,0)") * F.lit(n_pos + 1)
    u = F.col("r2") - trid
    return r2.select(
        F.lit(n_pos).cast("bigint").alias("n_pos"),
        F.lit(n_neg).cast("bigint").alias("n_neg"),
        u.cast("double").alias("u_x2"),
        F.round(
            u.cast("double") / F.lit(2.0 * n_pos * n_neg),
            6,
        ).alias("auc"),
    )


@register(
    "eval_pr_auc_exact",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
               (l_returnflag = 'R') AS is_ref
        FROM lineitem
    ),
    d AS (
        SELECT v,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cn
        FROM vals GROUP BY v
    ),
    c AS (
        SELECT v, cp,
               CAST(SUM(cp) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
               CAST(SUM(cp + cn) OVER (ORDER BY v DESC) AS BIGINT) AS pp
        FROM d
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cn) AS BIGINT) AS nn
        FROM d
    ),
    terms AS (
        SELECT CAST(cp AS HUGEINT)
               * CAST(FLOOR(CAST(tp AS DOUBLE) / pp * 1e12) AS BIGINT)
                   AS t12
        FROM c
    )
    SELECT t.np AS n_pos, t.nn AS n_neg,
           CAST(SUM(s.t12) AS DOUBLE) AS ap_sum12,
           ROUND(CAST(SUM(s.t12) AS DOUBLE) / 1e12 / t.np, 6)
               AS avg_precision
    FROM terms s CROSS JOIN tot t GROUP BY t.np, t.nn
    """,
)
def eval_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — EXACT area under the precision-recall curve (average
    precision, the step-wise AP definition sklearn reports) of the same
    score/outcome pair as ``eval_auc_exact`` — the metric that matters
    when positives are rare and ROC AUC flatters (precision tracks the
    false-positive COUNT, not rate). Thresholds are the distinct score
    values descending; at each, ΔR = c⁺_v/n⁺ and P = TP_v/PP_v, so
    AP = Σ_v c⁺_v · (TP_v/PP_v) / n⁺ — every input an exact integer
    from :func:`two_class_value_cdfs`' distributed prefix sums (the
    descending cumulatives derive from the ascending ones: TP_v =
    n⁺ − r⁺_v + c⁺_v). Each threshold's PRECISION (≤1) is quantized to
    12-digit fixed point, then scaled by the exact integer count c⁺_v
    in DECIMAL(38,0) and summed (the engine's dsum rule — a raw double
    Σ over thresholds would be partition-order-dependent). Quantizing
    the ratio rather than the whole term keeps every intermediate in
    range at any corpus size (r12 overflow-headroom audit: the old
    per-term floor(c⁺·P·1e12) overflowed int64 once c⁺_v passed ~9.2M,
    i.e. ~60× the sf0.1 fixture); the quantization error is ≤1e-12 per
    ROW, so AP is still exact far past 6dp. ``ap_sum12`` is emitted as
    DOUBLE on both engines (correctly rounded from the same integer).

    Scale: identical to the AUC/drift family — one distinct-value
    aggregate, 32-bucket two-phase prefix sums, O(buckets) driver
    scalars, no global sort."""
    vals = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        (F.col("l_returnflag") == "R").alias("is_ref"),
    )
    cdfs, n_pos, n_neg = two_class_value_cdfs(vals)
    n_tot = n_pos + n_neg
    c_all = F.col("c_ref") + F.col("c_cur")
    r_all = F.col("r_ref") + F.col("r_cur")
    tp = F.lit(n_pos) - F.col("r_ref") + F.col("c_ref")
    pp = F.lit(n_tot) - r_all + c_all
    prec12 = F.floor(tp.cast("double") / pp * 1e12)
    t12 = F.col("c_ref").cast("decimal(38,0)") * prec12
    s = cdfs.agg(F.sum(t12).alias("ap_sum12"))
    return s.select(
        F.lit(n_pos).cast("bigint").alias("n_pos"),
        F.lit(n_neg).cast("bigint").alias("n_neg"),
        F.col("ap_sum12").cast("double").alias("ap_sum12"),
        F.round(
            F.col("ap_sum12").cast("double") / 1e12 / F.lit(n_pos), 6
        ).alias("avg_precision"),
    )


@register(
    "dq_drift_jsd",
    oracle=_drift_duck(
        """ROUND(0.5 * (((c_ref + 1.0) / (t.n_ref + 10))
                        * LOG2((2.0 * ((c_ref + 1.0) / (t.n_ref + 10)))
                               / (((c_ref + 1.0) / (t.n_ref + 10))
                                  + ((c_cur + 1.0) / (t.n_cur + 10))))
                        + ((c_cur + 1.0) / (t.n_cur + 10))
                        * LOG2((2.0 * ((c_cur + 1.0) / (t.n_cur + 10)))
                               / (((c_ref + 1.0) / (t.n_ref + 10))
                                  + ((c_cur + 1.0) / (t.n_cur + 10))))),
                 9) AS jsd_term"""
    ),
)
def dq_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4d — Jensen-Shannon divergence drift, per bucket (base-2:
    JSD ∈ [0, 1], symmetric, always finite — the modern default drift
    metric where PSI's ln-ratio blows up on near-empty buckets and KL
    is asymmetric). Same 10 fixed-width buckets, 1997-01-01 split, and
    add-1 smoothing as ``dq_drift_psi`` so the three drift lenses (PSI
    = binned mass, KS = shape, JSD = symmetric information) read the
    same binning. Per-bucket terms returned — total = SUM(jsd_term),
    and a drifting bucket stays attributable; the identical smoothed
    double expression on both engines makes each term bit-stable at
    9dp.

    Scale shape: one scan, a 10-group CASE-sum aggregate (map-side
    combined), broadcast 1-row totals, broadcast 10-row bucket range —
    the PSI plan verbatim."""
    totals, agg = _drift_counts(spark, sf_dir)
    buckets = spark.range(0, 10).select(F.col("id").alias("bucket"))
    per_bucket = (
        buckets.join(F.broadcast(agg), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("c_ref"), F.lit(0)).cast("bigint").alias("c_ref"),
            F.coalesce(F.col("c_cur"), F.lit(0)).cast("bigint").alias("c_cur"),
        )
    )
    p = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 10)
    q = (F.col("c_cur") + 1.0) / (F.col("n_cur") + 10)
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "c_ref",
        "c_cur",
        F.round(
            0.5
            * (
                p * F.log2((2.0 * p) / (p + q))
                + q * F.log2((2.0 * q) / (p + q))
            ),
            9,
        ).alias("jsd_term"),
    )


@register(
    "dq_simpsons_reversal",
    oracle="""
    WITH base AS (
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS segment,
               (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS is_high,
               (o_orderstatus = 'F') AS hit
        FROM orders
    ),
    seg AS (
        SELECT segment,
               CAST(SUM(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_high,
               CAST(SUM(CASE WHEN is_high AND hit THEN 1 ELSE 0 END)
                    AS BIGINT) AS f_high,
               CAST(SUM(CASE WHEN is_high THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_low,
               CAST(SUM(CASE WHEN NOT is_high AND hit THEN 1 ELSE 0 END)
                    AS BIGINT) AS f_low
        FROM base GROUP BY segment
        UNION ALL
        SELECT CAST(0 AS BIGINT),
               CAST(SUM(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN is_high AND hit THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN is_high THEN 0 ELSE 1 END) AS BIGINT),
               CAST(SUM(CASE WHEN NOT is_high AND hit THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM base
    )
    SELECT segment, n_high, f_high, n_low, f_low,
           CAST(f_high * 1000000000000 // n_high AS BIGINT) AS rate_high12,
           CAST(f_low * 1000000000000 // n_low AS BIGINT) AS rate_low12,
           (f_high * 1000000000000 // n_high
            > f_low * 1000000000000 // n_low) AS high_wins
    FROM seg
    """,
)
def dq_simpsons_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — Simpson's-paradox audit: the completion rate
    (o_orderstatus = 'F') of high-priority vs low-priority orders, per
    order-year segment AND pooled (segment 0) — the aggregation-bias
    check every metrics pipeline needs, because a pooled comparison can
    point the OPPOSITE way from every segment when segment sizes are
    confounded with the grouping (the classic Simpson reversal; a
    reversal shows as pooled ``high_wins`` disagreeing with the segment
    rows). All counts are exact integers; rates are 12-decimal
    fixed-point INTEGER quotients (positive operands, so Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree), making the
    comparison — not just the rates — hash-checkable.

    Scale shape: two map-side-combined aggregations over one scan (the
    per-segment and pooled branches), segment-cardinality output. 100 TB
    of orders is one pass."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("bigint").alias("segment"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_high"),
        (F.col("o_orderstatus") == "F").alias("hit"),
    )

    def aggs():
        return [
            F.sum(F.when(F.col("is_high"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.sum(F.when(F.col("is_high") & F.col("hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("f_high"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(~F.col("is_high") & F.col("hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("f_low"),
        ]

    seg = base.groupBy("segment").agg(*aggs())
    pooled = base.agg(*aggs()).select(
        F.lit(0).cast("bigint").alias("segment"),
        "n_high",
        "f_high",
        "n_low",
        "f_low",
    )
    out = seg.unionByName(pooled)
    rh = F.expr("CAST(f_high * 1000000000000 div n_high AS BIGINT)")
    rl = F.expr("CAST(f_low * 1000000000000 div n_low AS BIGINT)")
    return out.select(
        "segment",
        "n_high",
        "f_high",
        "n_low",
        "f_low",
        rh.alias("rate_high12"),
        rl.alias("rate_low12"),
        (rh > rl).alias("high_wins"),
    )


#: Columns the registered profile instance sweeps (name, render rule).
PROFILE_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "dq_column_profile",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl1,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd1,
               CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
               CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl2,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd2,
               CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
               CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl3,
               CAST(COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS nd3,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS mn3,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS mx3,
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl4,
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd4,
               CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn4,
               CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx4,
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl5,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd5,
               CAST(MIN(o_orderpriority) AS VARCHAR) AS mn5,
               CAST(MAX(o_orderpriority) AS VARCHAR) AS mx5
        FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n, nl1 AS n_null, nd1 AS n_distinct,
           mn1 AS min_s, mx1 AS max_s FROM s
    UNION ALL
    SELECT 'o_custkey', n, nl2, nd2, mn2, mx2 FROM s
    UNION ALL
    SELECT 'o_totalprice', n, nl3, nd3, mn3, mx3 FROM s
    UNION ALL
    SELECT 'o_orderdate', n, nl4, nd4, mn4, mx4 FROM s
    UNION ALL
    SELECT 'o_orderpriority', n, nl5, nd5, mn5, mx5 FROM s
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ — per-column profile of the orders table: row count, NULL
    count, exact distinct count, min and max (rendered as strings so one
    schema carries every column type) — the dataset-card / schema-drift
    primitive run on every ingested table before anything else trusts
    it. Render alignment across engines: numeric-key and date columns
    cast to VARCHAR from identical exact types; the double price column
    goes through DECIMAL(12,2) FIRST (double→string rendering differs
    between JVM and DuckDB; decimal→string does not).

    Scale shape: ONE aggregate pass computes every column's moments
    (Spark plans the multi-distinct via Expand — a bounded ×|cols|
    row blow-up, the standard exact-profile cost; swap in
    approx_count_distinct when ±2% is acceptable, the
    ``agg_approx_distinct`` precedent), then a 5-row literal unpivot.
    No per-column rescans."""
    from avro_parquet_spark_example_spark.sources.catalog import spread

    o = load(spark, sf_dir, "orders")
    rendered = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_totalprice": F.col("o_totalprice").cast("decimal(12,2)"),
        "o_orderdate": F.col("o_orderdate").cast("date"),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    # spread (r16, guide §2.5): the multi-distinct profile plans an
    # Expand ×(|cols|+1) — 6 rows per input row — and the one-split scan
    # ran that blow-up plus the partial aggregate in ONE task (projected
    # first so the widening exchange carries only the 5 profiled
    # columns, §2.3). Exact aggregates (count/distinct/min/max) are
    # partitioning-insensitive; interleaved A/B 2.4-2.9 -> 1.4-1.7 s,
    # outputs identical.
    return column_profile(
        spread(o.select(*PROFILE_COLUMNS), width_from=o),
        PROFILE_COLUMNS,
        rendered=rendered,
    )


def column_profile(
    df: DataFrame,
    columns: tuple[str, ...] | list[str],
    rendered: dict | None = None,
) -> DataFrame:
    """(col_name, n, n_null, n_distinct, min_s, max_s) per-column
    dataset-card profile in one aggregate pass — the library form the
    Engine facade exposes; ``dq_column_profile`` is its registered
    oracle-checked instance (facade-parity single-source rule).
    ``rendered`` optionally maps a column name to the Column expression
    used for distinct/min/max (e.g. a decimal cast for doubles, whose raw
    string render is engine-specific)."""
    rendered = rendered or {}
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, c in enumerate(columns, start=1):
        col = rendered.get(c, F.col(c))
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1))
            .cast("bigint")
            .alias(f"nl{i}"),
            F.countDistinct(col).cast("bigint").alias(f"nd{i}"),
            F.min(col).cast("string").alias(f"mn{i}"),
            F.max(col).cast("string").alias(f"mx{i}"),
        ]
    s = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', nl{i}, nd{i}, mn{i}, mx{i}"
        for i, c in enumerate(columns, start=1)
    )
    return s.select(
        F.expr(
            f"stack({len(columns)}, {parts}) AS "
            "(col_name, n_null, n_distinct, min_s, max_s)"
        ),
        "n",
    ).select("col_name", "n", "n_null", "n_distinct", "min_s", "max_s")


@register(
    "eval_ece_calibration",
    oracle="""
    WITH b AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS pct,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    bins AS (
        SELECT pct, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM b GROUP BY pct
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n,
           ROUND(CAST(SUM(ABS(10 * n_pos - pct * n)) AS DOUBLE)
                 / (10 * SUM(n)), 6) AS ece
    FROM bins
    """,
)
def eval_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — expected calibration error of the discount-as-probability
    predictor (p = discount_pct/10) against lineitem returns: ECE =
    Σ_b (n_b/N)·|acc_b − conf_b| — the one-number summary of the
    reliability diagram ``eval_calibration_bins`` tabulates (a model can
    have great AUC and terrible calibration; ECE is what probability
    consumers — samplers, routers, filters with probability thresholds —
    actually depend on). Bins are the exact predictor values, so conf_b
    is constant per bin and the whole statistic collapses to INTEGER
    arithmetic: ECE = Σ_b |10·pos_b − pct_b·n_b| / (10·N) — one double
    division at the very end, nothing else floats. (Headroom: each
    |term| ≤ 10·n_b so Σ ≤ 10·N — int64-safe past 10^17 rows.)

    Scale shape: one map-side-combined per-value aggregate (≤ |values|
    bins), a 1-row roll-up. One scan at any volume."""
    b = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("pct"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return calibration_error(b, pred="pct", outcome="y", prob_denom=10)


def calibration_error(
    df: DataFrame, pred: str, outcome: str, prob_denom: int
) -> DataFrame:
    """(n_bins, n, ece) expected calibration error of an integral
    predictor column (probability = pred/prob_denom) against a 0/1
    outcome — the library form the Engine facade exposes;
    ``eval_ece_calibration`` is its registered oracle-checked instance
    (facade-parity single-source rule). Entirely integer arithmetic up
    to the final division."""
    bins = df.groupBy(F.col(pred).alias("pct")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(outcome).cast("bigint").alias("n_pos"),
    )
    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n").cast("bigint").alias("n"),
        F.round(
            F.sum(
                F.abs(
                    prob_denom * F.col("n_pos") - F.col("pct") * F.col("n")
                )
            )
            .cast("double")
            / (prob_denom * F.sum("n")),
            6,
        ).alias("ece"),
    )


@register(
    "eval_brier_score",
    oracle="""
    WITH b AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS pct,
               CASE WHEN l_returnflag = 'R' THEN 10 ELSE 0 END AS y10
        FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM((pct - y10) * (pct - y10)) AS DOUBLE)
                 / (100.0 * COUNT(*)), 6) AS brier
    FROM b
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — Brier score (mean squared error of the probability forecast)
    of the same discount-as-probability predictor: the PROPER scoring
    rule that, unlike accuracy or AUC, rewards calibrated probabilities
    directly — the standard joint test of calibration + resolution
    (Brier = calibration − resolution + uncertainty by the Murphy
    decomposition). With p = pct/10 and y ∈ {0,1}: (p − y)² =
    (pct − 10y)²/100 — an INTEGER square per row, so the mean is one
    exact integer sum and a single double division (headroom: per-row
    term ≤ 100, Σ ≤ 100·N — int64-safe past 10^16 rows; the overflow
    audit's 10^4-row-scale line passes with 10^7 to spare).

    Scale shape: one map-side-combined 1-row aggregate. Scan-bound at
    any volume."""
    b = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("pct"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return brier_score(b, pred="pct", outcome="y", prob_denom=10)


def brier_score(
    df: DataFrame, pred: str, outcome: str, prob_denom: int
) -> DataFrame:
    """(n, brier) Brier score of an integral predictor column
    (probability = pred/prob_denom) against a 0/1 outcome — the library
    form the Engine facade exposes; ``eval_brier_score`` is its
    registered oracle-checked instance (facade-parity single-source
    rule). One exact integer sum, one double division."""
    d = F.col(pred) - prob_denom * F.col(outcome)
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(d * d).cast("double")
            / (float(prob_denom * prob_denom) * F.count(F.lit(1))),
            6,
        ).alias("brier"),
    )


@register(
    "dq_drift_kl",
    oracle=_drift_duck(
        """ROUND(((c_cur + 1.0) / (t.n_cur + 10))
                 * LN(((c_cur + 1.0) / (t.n_cur + 10))
                      / ((c_ref + 1.0) / (t.n_ref + 10))), 9) AS kl_term"""
    ),
)
def dq_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4'' — Kullback-Leibler drift KL(current ‖ reference) per bucket,
    completing the drift-lens trio: PSI (symmetrized, the banking
    convention), JSD (bounded, metric-like) and now raw KL — the
    information-theoretic "surprise of the new distribution under the
    old" that mixture/curation tooling optimizes directly (DSIR's
    importance weights ARE likelihood ratios; this is their aggregate).
    Identical bucketing, add-1 smoothing, fixed RANGE grid and 1-row
    totals broadcast as ``dq_drift_psi``/``dq_drift_jsd`` — the same
    double expression tree on both engines, so per-bucket terms
    hash-check at 9dp. Total = SUM(kl_term); asymmetric by design
    (KL(ref ‖ cur) is the other direction — swap the periods).

    Scale shape: the PSI plan verbatim — one scan, a 10-group
    CASE-sum, a broadcast totals join."""
    totals, agg = _drift_counts(spark, sf_dir)
    grid = spark.range(0, 10).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    per_bucket = (
        F.broadcast(grid)
        .join(agg, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("c_ref"), F.lit(0)).cast("bigint").alias(
                "c_ref"
            ),
            F.coalesce(F.col("c_cur"), F.lit(0)).cast("bigint").alias(
                "c_cur"
            ),
        )
    )
    p_cur = (F.col("c_cur") + 1.0) / (F.col("n_cur") + 10)
    p_ref = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 10)
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "c_ref",
        "c_cur",
        F.round(p_cur * F.log(p_cur / p_ref), 9).alias("kl_term"),
    )
