"""Group C — joins (SURVEY.md §2-C).

The reference joined implicitly via SQL over registered tables; here the
full join surface is declared with the DataFrame API and the physical
strategy is steered for scale:

  * bounded dims (region/nation/supplier/part) → ``broadcast()`` hint: no
    shuffle of the fact side, scales to any fact size;
  * fact⋈fact (orders⋈lineitem) → shuffle hash / sort-merge on the key,
    with AQE skew-splitting enabled (session.py) — the only plan that
    works when both sides are tens of TB;
  * as-of (C8) → union + ordered window carry-forward, ONE shuffle by key,
    instead of the range-join-then-reduce that explodes quadratically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.aggregates import dsum
from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, ts_us


@register(
    "join_broadcast_equi",
    oracle="""
    SELECT r.r_name AS region_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — fact ⋈ broadcast dims (customer⋈nation⋈region): zero shuffle on
    the fact table until the final low-cardinality aggregation."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
    )


@register(
    "join_shuffle_equi",
    oracle="""
    SELECT l.l_orderkey, o.o_orderdate,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_shuffle_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — TPC-H Q3 shape: filtered customer⋈orders⋈lineitem, grouped
    revenue, top-10. orders⋈lineitem shuffles on the join key (sort-merge /
    shuffle-hash under AQE); customer side broadcasts after its filter.
    Deterministic tiebreak on l_orderkey for the LIMIT."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8, round_to=2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 150000
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3a — left outer with an extra join-side predicate; customers with no
    qualifying orders keep count 0 (COUNT over NULLs)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 150000)
    return (
        c.join(o, cond, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3b — full outer of per-nation customer vs supplier counts."""
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, "nk", "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — left semi: customers with ≥1 large order; no row multiplication,
    the probe side streams (EXISTS decorrelated to a semi-join by Catalyst)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — left anti: customers with no urgent orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_range_band",
    oracle="""
    SELECT p.p_partkey, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
    FROM part p
    JOIN lineitem l
      ON l.l_partkey = p.p_partkey
     AND l.l_extendedprice BETWEEN p.p_retailprice * 10 AND p.p_retailprice * 40
    GROUP BY p.p_partkey
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6a — equi key + range band: the equi part keeps it a hash/merge join
    (the band is a post-join filter), so it scales — unlike a pure range
    theta-join which Spark would plan as a nested loop."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_extendedprice >= p.p_retailprice * 10)
        & (li.l_extendedprice <= p.p_retailprice * 40)
    )
    return (
        li.join(F.broadcast(p), cond)
        .groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_theta",
    oracle="""
    SELECT n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey < r.r_regionkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b — pure non-equi theta join (broadcast nested loop; only sane for
    bounded inputs — both sides here are dimension-sized)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey < r.r_regionkey).select(
        "n_name", "r_name"
    )


@register(
    "join_cross",
    oracle="SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — cartesian product (bounded inputs only)."""
    r1 = load(spark, sf_dir, "region").select(F.col("r_name").alias("a"))
    r2 = load(spark, sf_dir, "region").select(F.col("r_name").alias("b"))
    return r1.crossJoin(F.broadcast(r2))


@register(
    "subquery_scalar_correlated",
    oracle="""
    SELECT c_custkey,
           (SELECT CAST(MAX(o.o_totalprice) AS DOUBLE) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE c_acctbal > 9000
    """,
)
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12a — correlated scalar subquery; Catalyst decorrelates it into a
    left outer aggregate join (RewriteCorrelatedScalarSubquery) — no
    per-row re-execution, one shuffle at any scale."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT CAST(MAX(o.o_totalprice) AS DOUBLE) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM customer c
        WHERE c_acctbal > 9000
        """
    )


@register(
    "subquery_uncorrelated_filter",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_uncorrelated_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12b — uncorrelated scalar subquery in a predicate: computed once,
    broadcast into the filter (both engines compute the same double AVG in
    their own order; the 1.5× margin keeps the threshold decision stable)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "join_multiway_q5",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 — TPC-H Q5 shape: six-table join (two fact⋈fact shuffles, four
    broadcast dims) with local-supplier correlation, grouped revenue per
    nation. The integration query: Catalyst must order the joins so the
    region/nation filter prunes customers before the fact joins."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8, round_to=2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — bucketed co-located join: both fact tables are written
    ``bucketBy(8, key).sortBy(key)``, so the join needs NO exchange and NO
    sort (asserted in tests/test_plans.py) — the pre-shuffle pattern that
    turns every subsequent fact⋈fact join at 100 TB into a zero-shuffle
    merge. The one-time bucketed write is the amortized cost."""
    from avro_parquet_spark_example_spark.sources.catalog import scratch_suffix
    from avro_parquet_spark_example_spark.sources.scans import _scratch

    # injective per-sf_dir token — plain sanitization would alias e.g.
    # '/data/sf0.01' and '/data/sf0_01' onto one bucketed table
    suffix = scratch_suffix(sf_dir)
    names = {}
    for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{table}_{suffix}"
        names[table] = name
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, table)
                # repartition by the bucket hash first → exactly one file per
                # bucket, which is what lets the read side skip the Sort too
                .repartition(8, F.col(key))
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", _scratch(name, sf_dir))
                .mode("overwrite")
                .saveAsTable(name)
            )
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT l.l_returnflag, f.flag_desc,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN (VALUES ('A', 'returned'), ('N', 'active'), ('R', 'refunded'))
         f(flag, flag_desc)
      ON l.l_returnflag = f.flag
    GROUP BY l.l_returnflag, f.flag_desc
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 — manual salting for skewed keys: l_returnflag has 3 values
    (~200k rows each at sf0.1 — pathological shuffle skew). The fact side
    appends salt = hash(row) % 16; the dim side explodes ×16; the join key
    becomes (flag, salt), spreading each hot key over 16 reducers. AQE skew
    splitting handles sort-merge cases automatically; explicit salting is
    the pattern for aggregations and broadcast-ineligible skews."""
    n_salts = 16
    li = load(spark, sf_dir, "lineitem")
    flags = spark.createDataFrame(
        [("A", "returned"), ("N", "active"), ("R", "refunded")],
        ["flag", "flag_desc"],
    )
    salted_dim = flags.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    salted_fact = li.withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(n_salts))
    )
    return (
        salted_fact.join(
            salted_dim,
            (salted_fact.l_returnflag == salted_dim.flag)
            & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("l_returnflag", "flag_desc")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8, round_to=2).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_asof_event",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — as-of join: each purchase matched to the same user's latest
    click at-or-before it.

    Scalable plan: UNION both event sets, ONE shuffle by user_id, in-partition
    sort by ts, carry the last click timestamp forward with an ordered window
    (``last(ignorenulls)``), keep purchase rows. O(n log n) per partition and
    a single exchange — vs the naive range-join + max-reduce whose
    intermediate is |purchases| × |earlier clicks| (quadratic in the tail).
    At same-ts ties the click sorts first (side=0) so ``ts >= c.ts`` matches
    DuckDB's ASOF semantics.
    """
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("side"), F.lit(None).cast("timestamp").alias("click_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("ts").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(clicks)
        .withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "asof_click_ts")
    )


@register(
    "join_bloom_pruned",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 — runtime bloom-filter join pruning: a selective dimension-side
    filter (urgent 1997+ orders) is turned by Spark's InjectRuntimeFilter
    rule into a ``bloom_filter_agg`` over the build keys and a
    ``might_contain`` predicate ON THE FACT SCAN, so lineitem rows for
    non-qualifying orders die at the reader instead of crossing the
    shuffle — at 100 TB the difference between shuffling the whole fact
    table and shuffling ~the matching fraction. The MERGE hint keeps the
    join a sort-merge (broadcast joins don't need the bloom path; at real
    scale the filtered orders side exceeds any broadcast threshold).
    Injection fires when the probe scan crosses
    ``runtime.bloomFilter.applicationSideScanSizeThreshold`` (10 GiB
    default — always true at target scale; asserted with a lowered
    threshold in tests/test_plans.py since local data is small). Results
    are plan-invariant, so the oracle checks this like any join."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.hint("merge")
        .join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH seg AS (
        SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg_key, COUNT(*) AS n
        FROM customer GROUP BY 1
    )
    SELECT a.seg_key, a.n AS n_left, b.n AS n_right
    FROM seg a JOIN seg b ON a.seg_key IS NOT DISTINCT FROM b.seg_key
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 — null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL group joins itself instead of silently vanishing, which is what a
    plain equi-join does — the classic bug when join keys are nullable
    (unparsed ids, optional foreign keys). Aggregate-then-join keeps both
    sides bounded; Spark plans ``<=>`` as a hash join key like ordinary
    equality (null-safe comparison is still hashable), so the shape costs
    the same as `=` at any scale."""
    c = load(spark, sf_dir, "customer")
    seg = c.select(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_key")
    ).groupBy("seg_key").agg(F.count(F.lit(1)).alias("n"))
    a, b = seg.alias("a"), seg.alias("b")
    return a.join(b, F.col("a.seg_key").eqNullSafe(F.col("b.seg_key"))).select(
        F.col("a.seg_key").alias("seg_key"),
        F.col("a.n").alias("n_left"),
        F.col("b.n").alias("n_right"),
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT MIN(c.ts) FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts >= p.ts) AS next_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8b — FORWARD as-of: each purchase matched to the same user's
    earliest click at-or-after it (the "what happened next" direction —
    attribution windows, next-touch analysis). Same single-shuffle shape
    as the backward form (C8), with the window scanned in DESCENDING time:
    the last click seen while walking backward from the future is exactly
    MIN(click ts >= this row's ts). At same-ts ties the click orders
    before the purchase in the DESC scan (side ascending), so ``>=``
    matches the oracle's correlated MIN. One exchange, O(n log n) per
    user partition — never a range join."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("ts").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(clicks)
        .withColumn("next_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "next_click_ts")
    )


#: Identical SQL text on both engines: the NOT IN tri-state probe.
_NAAJ_SQL = """
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT o_custkey FROM orders
              WHERE o_totalprice > 450000)) AS n_clean,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                          ELSE o_custkey END
              FROM orders WHERE o_totalprice > 450000)) AS n_nullable,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT k FROM (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                                         ELSE o_custkey END AS k
                             FROM orders WHERE o_totalprice > 450000)
              WHERE k IS NOT NULL)) AS n_guarded
"""


@register("join_not_in_null_aware", oracle=_NAAJ_SQL)
def join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5b — null-aware anti join (``NOT IN`` with a nullable list): the
    classic SQL tri-state footgun, pinned as an oracle check. Three counts
    in one row: (1) NOT IN over a null-free list — an ordinary anti join;
    (2) the SAME list with a NULL smuggled in — per ANSI three-valued
    logic ``x NOT IN (…, NULL)`` is never TRUE, so the count collapses to
    0, which Spark implements as a special null-aware anti join rather
    than a plain hash anti join; (3) the same nullable list with the
    production escape hatch — ``WHERE k IS NOT NULL`` inside the list —
    which restores plain anti-join planning and a non-degenerate count. Both
    engines run the IDENTICAL SQL text, so the check verifies Spark's
    three-valued NOT IN semantics against DuckDB's rather than any
    rewrite of them.

    Scale: the list side is a filtered single column (broadcast); Spark
    plans the null-aware case as BroadcastHashJoin(LeftAnti, isNullAware)
    — one scan per subquery, no shuffle. NOT-IN lists that don't fit a
    broadcast should be rewritten to explicit NOT EXISTS (join_anti) —
    that boundary is exactly why both forms are in the registry."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NAAJ_SQL)


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               MIN(EPOCH_US(ts)) AS s, MAX(EPOCH_US(ts)) AS e
        FROM events
        WHERE user_id % 20 = 0
        GROUP BY user_id, CAST(ts AS DATE)
        HAVING MAX(EPOCH_US(ts)) - MIN(EPOCH_US(ts)) >= 3600000000
    )
    SELECT a.day, a.user_id AS u, b.user_id AS v,
           GREATEST(a.s, b.s) AS overlap_start,
           LEAST(a.e, b.e) AS overlap_end,
           LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b — interval-overlap self-join via bucket binning: which user
    activity intervals overlap, and by how much (co-presence /
    concurrency detection — the scheduling-conflict, ad-exposure-overlap,
    and A/B-contamination query). Intervals are per-(user, day) activity
    spans ≥ 1 h, from a sampled user cohort (id ≡ 0 mod 20) so pair
    volume stays proportional to cohort², not corpus².

    The scale pattern is the point: a naive interval join is a full
    cartesian with a theta filter; binning every interval to its
    day-bucket turns it into an EQUI-join on the bucket (shuffle
    hash-partitioned by day) with the overlap predicate
    ``a.s ≤ b.e AND b.s ≤ a.e`` applied post-probe, and ``u < v``
    de-duplicates the symmetric pair. Intervals crossing bucket
    boundaries would be replicated per bucket and deduped — day-bounded
    here by construction (per-day MIN/MAX). At 100 TB you pick the bucket
    width to balance replication vs per-bucket pair count — the same knob
    as in the dedup band joins."""
    e = load(spark, sf_dir, "events")
    iv = (
        e.filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.min(ts_us(e)).alias("s"), F.max(ts_us(e)).alias("e"))
        .filter(F.col("e") - F.col("s") >= 3_600_000_000)
    )
    a, b = iv.alias("a"), iv.alias("b")
    return a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    ).select(
        F.col("a.day").alias("day"),
        F.col("a.user_id").alias("u"),
        F.col("b.user_id").alias("v"),
        F.greatest("a.s", "b.s").alias("overlap_start"),
        F.least("a.e", "b.e").alias("overlap_end"),
        (F.least("a.e", "b.e") - F.greatest("a.s", "b.s")).alias("overlap_us"),
    )


#: Feature freshness TTL for the tolerance as-of join: 6 h in microseconds.
ASOF_TOL_US = 6 * 3600 * 1_000_000


def _purchases_and_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, user_id, ts_us, side, click_us) — purchases (side 1,
    click_us NULL) unioned with clicks (side 0, event_id NULL, click_us
    = ts_us), the input of the ordered as-of carries."""
    ev = load(spark, sf_dir, "events")
    us = ts_us(ev)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("click_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        us.alias("ts_us"),
        F.lit(0).alias("side"),
        us.alias("click_us"),
    )
    return purchases.unionByName(clicks)


@register(
    "join_asof_tolerance",
    oracle=f"""
    SELECT p.event_id, p.user_id, EPOCH_US(p.ts) AS ts_us,
           CASE WHEN EPOCH_US(p.ts) - EPOCH_US(c.ts) <= {ASOF_TOL_US}
                THEN EPOCH_US(c.ts) END AS fresh_click_us,
           CASE WHEN EPOCH_US(p.ts) - EPOCH_US(c.ts) <= {ASOF_TOL_US}
                THEN EPOCH_US(p.ts) - EPOCH_US(c.ts) END AS staleness_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8b — point-in-time join with a freshness TTL (the feature-store
    as-of: each purchase may only use a click feature observed at most 6 h
    before it — older state is stale and must be NULL, never silently
    served). Same single-shuffle union + ordered carry-forward plan as
    join_asof_event — the tolerance is a post-carry NULL-out, NOT a
    different join, which is exactly why TTL'd point-in-time joins stay
    O(n log n): the staleness check costs one comparison per row, and no
    range-join blowup ever enters the plan. All event-time arithmetic in
    integer epoch-microseconds.

    The DuckDB twin composes ASOF LEFT JOIN with the same TTL CASE,
    pinning both the match choice (latest at-or-before, ties to the
    click) and the staleness rule cross-engine."""
    events = _purchases_and_clicks(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        events.withColumn("asof_us", F.last("click_us", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    fresh = F.col("ts_us") - F.col("asof_us") <= ASOF_TOL_US
    return carried.select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(fresh, F.col("asof_us")).alias("fresh_click_us"),
        F.when(fresh, F.col("ts_us") - F.col("asof_us")).alias("staleness_us"),
    )


#: Identical SQL text on both engines: EXISTS/NOT EXISTS as projected flags.
_EXISTENCE_SQL = """
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderpriority = '1-URGENT') AS has_urgent,
           NOT EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000) AS never_big
    FROM customer c
"""


@register("join_existence_flag", oracle=_EXISTENCE_SQL)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4b — EXISTS as a projected BOOLEAN (existence join): unlike the
    semi/anti joins that FILTER rows, this keeps every customer and adds
    flag columns — the feature-engineering spelling ("has the user ever
    X") that becomes model features and segmentation columns. Catalyst
    plans each correlated EXISTS in the SELECT list as an ExistenceJoin
    (a hash join emitting a boolean instead of dropping rows) — both
    correlations here are equi-keyed, so they become BroadcastHashJoin /
    shuffle-hash, never a nested loop. Identical SQL text runs on both
    engines, pinning the three-valued EXISTS semantics themselves."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTENCE_SQL)


#: DuckDB oracle for the nearest as-of: both directional carries via
#: windows, then pick the closer (ties to the earlier click). The Spark
#: side is the same algorithm in DataFrame form (the engines disagree on
#: IGNORE NULLS syntax placement, so the text cannot be shared).
_ASOF_NEAREST_SQL = """
    WITH unioned AS (
        SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, 1 AS side,
               CAST(NULL AS BIGINT) AS click_us
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT NULL, user_id, EPOCH_US(ts), 0, EPOCH_US(ts)
        FROM events WHERE event_type = 'click'
    ),
    carried AS (
        SELECT event_id, user_id, ts_us, side,
               LAST_VALUE(click_us IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS prev_click,
               FIRST_VALUE(click_us IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, side
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS next_click
        FROM unioned
    )
    SELECT event_id, user_id, ts_us,
           CASE
             WHEN prev_click IS NULL THEN next_click
             WHEN next_click IS NULL THEN prev_click
             WHEN ts_us - prev_click <= next_click - ts_us THEN prev_click
             ELSE next_click
           END AS nearest_click_us
    FROM carried WHERE side = 1
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8c — NEAREST as-of join: each purchase matched to the same user's
    closest click in EITHER direction (ties to the earlier one) —
    pandas' ``merge_asof(direction='nearest')``, the alignment rule for
    sensor fusion and feature snapping where "latest before" is wrong
    half the time. Completes the repo's as-of family: backward
    (join_asof_event), backward+TTL (join_asof_tolerance), forward
    (join_asof_forward), nearest (this).

    Same single-shuffle plan as the others — union both sides, ONE
    exchange by user, and now TWO ordered carries (last-before and
    first-after) over the same sort, so the nearest pick is a per-row
    CASE with no extra shuffle. Same-timestamp clicks sort before
    purchases (side 0 < 1), making a co-timed click 'before' — distance
    0, always wins — identically in both engines."""
    events = _purchases_and_clicks(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("ts_us", "side")
    w_prev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    carried = (
        events.withColumn(
            "prev_click", F.last("click_us", ignorenulls=True).over(w_prev)
        )
        .withColumn("next_click", F.first("click_us", ignorenulls=True).over(w_next))
        .filter(F.col("side") == 1)
    )
    t, p, n = F.col("ts_us"), F.col("prev_click"), F.col("next_click")
    nearest = (
        F.when(p.isNull(), n)
        .when(n.isNull(), p)
        .when(t - p <= n - t, p)
        .otherwise(n)
    )
    return carried.select(
        "event_id", "user_id", "ts_us", nearest.alias("nearest_click_us")
    )
