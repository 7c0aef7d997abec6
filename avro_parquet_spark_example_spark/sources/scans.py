"""Group A — scans, sources, sinks (SURVEY.md §2-A).

The reference's whole program was this group: write Avro records as Parquet
(``AvroParquetWriter``), read them back with requested-projection pushdown
(``AvroParquetInputFormat.setRequestedProjection``), register, query
(SURVEY.md §0). Each operator below is the Spark-native form; the write
queries round-trip through ``/tmp`` scratch space and are oracle-checked
against the ORIGINAL table, so the check proves write+read preserves values.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.avro_schema import parse_avro_schema
from avro_parquet_spark_example_spark.sources.catalog import (
    load,
    scratch_suffix,
    table_path,
)

SCRATCH = "/tmp/avro_parquet_spark_example_spark_scratch"


def _scratch(name: str, sf_dir: str) -> str:
    """Per-(sf_dir, name) scratch path: outputs from different scale factors
    must never alias (queries are plan-cached per sf_dir and re-read their
    output lazily, so a shared path would serve one sf_dir's data to
    another's cached plan). Isolation token shared with the streaming
    sinks via :func:`catalog.scratch_suffix`."""
    path = os.path.join(SCRATCH, scratch_suffix(sf_dir))
    os.makedirs(path, exist_ok=True)
    return os.path.join(path, name)


@register(
    "parquet_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — plain Parquet scan; schema comes from the file footer."""
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "parquet_write_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def parquet_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — write snappy Parquet, read it back; oracle-equality with the
    source table proves the round trip is lossless."""
    out = _scratch("supplier_roundtrip.parquet", sf_dir)
    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    src.write.mode("overwrite").option("compression", "snappy").parquet(out)
    return spark.read.parquet(out)


@register(
    "parquet_write_partitioned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def parquet_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — hive-style ``partitionBy`` layout; the read filter prunes to the
    single ``l_returnflag=R`` directory (partition pruning — at 100 TB the
    other partitions are never opened)."""
    out = _scratch("lineitem_by_flag.parquet", sf_dir)
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


#: The documents table's schema expressed in Avro JSON — the reference's
#: pattern (schema declared in Avro, storage in Parquet; SURVEY.md §1.2).
DOCUMENTS_AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Document",
        "namespace": "example.avro",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": ["string", "null"]},
            {"name": "lang", "type": ["string", "null"]},
            {"name": "source", "type": ["string", "null"]},
            {"name": "n_chars", "type": ["long", "null"]},
        ],
    }
)


@register(
    "avro_schema_read",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
)
def avro_schema_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — declared-schema read: an Avro schema document is translated to a
    StructType and applied to the Parquet scan (the reference's Avro-as-
    schema-language essence without its Hadoop-era plumbing)."""
    st = parse_avro_schema(DOCUMENTS_AVRO_SCHEMA)
    df = spark.read.schema(st).parquet(table_path(sf_dir, "documents"))
    return df.select("doc_id", "lang", "n_chars")


@register(
    "projection_pushdown_scan",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_orderkey % 12 = 0",
)
def projection_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — two-column projection; Catalyst ColumnPruning shrinks the scan's
    ReadSchema to exactly these columns (asserted in tests/test_plans.py) —
    the automatic form of the reference's ``setRequestedProjection``. The
    ``% 12`` predicate references only an already-projected column, so
    ReadSchema stays 2-wide; it deterministically bounds checker output to
    ~50k rows at sf0.1."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 12 == 0)
        .select("l_orderkey", "l_extendedprice")
    )


@register(
    "parquet_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, NULL AS n_comment_v2 FROM nation
    UNION ALL
    SELECT n_nationkey + 1000 AS n_nationkey, n_name,
           'v2:' || n_name AS n_comment_v2
    FROM nation
    """,
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2b — schema evolution, the Avro reader/writer-schema story on
    Parquet: two file generations with different columns land in one
    directory; ``mergeSchema`` reconciles them (old rows read NULL for the
    added column). The reference's Avro schemas made this contract explicit;
    Spark's Parquet source honors the same additive-evolution rules."""
    out = _scratch("nation_evolving.parquet", sf_dir)
    v1 = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    v2 = load(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        "n_name",
        F.concat(F.lit("v2:"), F.col("n_name")).alias("n_comment_v2"),
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "n_nationkey", "n_name", "n_comment_v2"
    )


@register(
    "events_partitioned_by_day",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-05'
    GROUP BY 1, 2
    """,
)
def events_partitioned_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3b — the event-log layout rule at 100 TB: land the stream
    partitioned by event date, so any time-bounded query prunes to the
    matching directories before a single byte is read. Writes the events
    table ``partitionBy(event_date)``, reads back one day."""
    from avro_parquet_spark_example_spark.sources.catalog import load

    out = _scratch("events_by_day.parquet", sf_dir)
    src = load(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    src.write.mode("overwrite").partitionBy("event_date").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_date") == F.lit("2024-01-05").cast("date"))
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "upsert_partition_overwrite",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE WHEN l_returnflag = 'R' THEN ROUND(l_discount + 0.01, 4)
                ELSE l_discount END AS l_discount
    FROM lineitem
    WHERE l_orderkey % 12 = 0
    """,
)
def upsert_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — upsert via dynamic partition overwrite (the pre-lakehouse
    MERGE): updated rows are written back and ONLY the partitions they touch
    are replaced (``partitionOverwriteMode=dynamic``) — at 100 TB an update
    confined to one day/flag rewrites gigabytes, not the table. The oracle
    replays the update logically over the source. The write path covers the
    FULL table (that's the surface under test); only the returned check rows
    carry the deterministic ``% 12`` 1-in-12 bound (~50k rows at sf0.1)."""
    out = _scratch("lineitem_upsert.parquet", sf_dir)
    cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_discount"]
    src = load(spark, sf_dir, "lineitem").select(*cols)
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)

    updates = (
        spark.read.parquet(out)
        .filter(F.col("l_returnflag") == "R")
        .withColumn("l_discount", F.round(F.col("l_discount") + 0.01, 4))
    )
    # overwrite mode + dynamic → replaces ONLY the l_returnflag=R dir;
    # the per-write option leaves the session's conf untouched
    updates.select(*cols).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("l_returnflag").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("l_orderkey") % 12 == 0)
        .select(*cols)
    )


@register(
    "sql_text_query",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
    """,
)
def sql_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 — the reference's SQL entry point: register tables as temp views,
    run ANSI SQL text through the same Catalyst pipeline as the DataFrame
    API (SURVEY.md §3.1: ``registerTempTable`` + ``sqlContext.sql``)."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY c.c_mktsegment
        """
    )


@register(
    "csv_scan_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6a — CSV sink + source with explicit schema (header, no inference —
    schema inference is a full extra pass at scale)."""
    out = _scratch("nation_csv", sf_dir)
    load(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", "true"
    ).csv(out)
    return spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").option(
        "header", "true"
    ).csv(out)


@register(
    "json_scan_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6b — JSON-lines sink + source with explicit schema."""
    out = _scratch("region_json", sf_dir)
    load(spark, sf_dir, "region").write.mode("overwrite").json(out)
    return spark.read.schema("r_regionkey INT, r_name STRING").json(out)


@register(
    "orc_scan_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6c — ORC sink + source: the other columnar format Spark ships a
    vectorized reader for; same pushdown/pruning machinery as Parquet."""
    out = _scratch("nation_orc", sf_dir)
    load(spark, sf_dir, "nation").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "text_scan_lines",
    oracle="""
    SELECT lang || '|' || CAST(doc_id AS VARCHAR) AS value
    FROM documents WHERE doc_id < 100
    """,
)
def text_scan_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6d — line-oriented text sink + source (``spark.read.text``): the
    raw-corpus entry format for LLM pipelines (one document per line, parse
    downstream)."""
    out = _scratch("doc_lines_text", sf_dir)
    (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            # null-propagating concat to match the oracle's `||` semantics
            F.concat(
                F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(out)
    )
    return spark.read.text(out)


@register(
    "layout_zorder_write",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 5000 AND l_partkey BETWEEN 100 AND 900
    """,
)
def layout_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — Z-order clustered layout: interleave the bits of two filter
    dimensions into one clustering key, then range-partition and sort the
    files by it, so each file's parquet min/max stats cover a small
    rectangle in (l_orderkey, l_partkey) space and a two-dimensional
    filter skips row groups on BOTH dimensions — the OPTIMIZE ZORDER
    technique from the lakehouse engines. The interleave is a flat
    bitwise-OR of 62 shift terms built by a Python loop over Column
    expressions (codegen-eligible — a higher-order ``aggregate`` fold
    would run interpreted per row); 31 bits per key covers the full
    int32 domain so the clustering never silently collapses at large
    key ranges. At 100 TB the write is one range-partition shuffle
    whose partition count is chosen from target file size (the constant
    here stands in at test scale), and the read opens only files whose
    rectangle intersects the query box. The oracle checks the filtered
    round-trip contents; the plan test asserts both predicates reach
    the reader."""
    out = _scratch("lineitem_zorder.parquet", sf_dir)
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    z = F.lit(0).cast("long")
    for i in range(31):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("l_orderkey"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("l_partkey"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    (
        src.withColumn("z", z)
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("l_orderkey").between(1000, 5000))
        .filter(F.col("l_partkey").between(100, 900))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    )


@register(
    "upsert_merge_keyed",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    upd AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
                 AS o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 500 = 0
    )
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                  THEN 'update'
                WHEN b.o_orderkey IS NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def upsert_merge_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — row-level MERGE semantics (the lakehouse ``MERGE INTO`` shape:
    WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT), expressed as a
    full-outer join on the key with per-column COALESCE and an action tag.
    The update set mixes matched updates (keys % 100, repriced) and fresh
    inserts (shifted keys). Physically this is one key-partitioned shuffle
    join — broadcast when the update batch is small, sort-merge with AQE
    skew handling otherwise; at 100 TB the production version prunes to the
    partitions the update keys touch (join the update keys' partition values
    first — dynamic file pruning) and rewrites only those files, which is
    exactly what upsert_partition_overwrite demonstrates on the write side.
    Repricing is computed in DECIMAL and rounded half-up before the double
    cast so both engines render identical values."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    reprice = F.expr(
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))"
        " * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)"
    )
    upd = (
        base.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_custkey", reprice.alias("o_totalprice"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
            )
        )
    )
    b, u = base.alias("b"), upd.alias("u")
    action = (
        F.when(
            F.col("u.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull(),
            "update",
        )
        .when(F.col("b.o_orderkey").isNull(), "insert")
        .otherwise("keep")
    )
    return b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full").select(
        F.coalesce("u.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.o_custkey", "b.o_custkey").alias("o_custkey"),
        F.coalesce("u.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
        action.alias("action"),
    )


@register(
    "join_dpp_partitioned",
    oracle="""
    WITH dim AS (
        SELECT STRFTIME(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
          AND EXTRACT(QUARTER FROM o_orderdate) = 1
        GROUP BY 1
    )
    SELECT f.ship_month,
           dim.n_orders,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(f.l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
    FROM (SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month, l_quantity
          FROM lineitem) f
    JOIN dim ON f.ship_month = dim.month
    GROUP BY f.ship_month, dim.n_orders
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — dynamic partition pruning: the fact table lands in scratch
    partitioned by ship month (~83 directories), and the dim side is an
    AGGREGATED month list (1997-Q1) whose filter can't be statically pushed
    into the fact scan. Catalyst's DPP inserts a runtime subquery filter on
    the partition column, so the fact scan reads 3 of 83 directories — the
    star-schema pattern that at 100 TB turns a full-table scan into a
    touched-partitions scan. tests/test_plans.py asserts ``dynamicpruning``
    in the optimized plan and that the pruned scan reads fewer files than
    the table holds."""
    from avro_parquet_spark_example_spark.sources.catalog import load

    out = _scratch("lineitem_by_month.parquet", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        load(spark, sf_dir, "lineitem").select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"), "l_quantity"
        ).write.mode("overwrite").partitionBy("ship_month").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.year("o_orderdate") == 1997) & (F.quarter("o_orderdate") == 1)
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        fact.join(dim, fact["ship_month"] == dim["month"])
        .groupBy("ship_month", "n_orders")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@register(
    "matview_incremental_update",
    oracle="""
    SELECT event_type,
           user_id % 10 AS cohort,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type, user_id % 10
    """,
)
def matview_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — incremental materialized-view maintenance by partial-aggregate
    merge: a base aggregate over ~80% of events is materialized to scratch,
    then the remaining ~20% arrive as a delta and the view is refreshed by
    aggregating ONLY the delta and merging the two partials
    (sum-of-counts / sum-of-sums) — the base rows are never rescanned. This
    is the mergeability property every incremental ETL pipeline at 100 TB
    relies on: refresh cost tracks the delta, not the table. Sums stay in
    DECIMAL(30,4) through materialization and merge, so the refreshed view
    is bit-identical to the full recompute the oracle runs (associativity
    holds exactly in decimal, which double sums can't promise)."""
    from avro_parquet_spark_example_spark.sources.catalog import load

    out = _scratch("events_matview.parquet", sf_dir)
    events = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") % 10).alias("cohort"),
        F.col("value").cast("decimal(30,4)").alias("value"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "cohort").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
        )

    partial(events.filter(F.col("event_id") % 10 < 8)).write.mode(
        "overwrite"
    ).parquet(out)
    base = spark.read.parquet(out)
    delta = partial(events.filter(F.col("event_id") % 10 >= 8))
    return (
        base.unionByName(delta)
        .groupBy("event_type", "cohort")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sv"))
        .select(
            "event_type",
            "cohort",
            "n",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )


#: Shared SQL text for sql_recursive_cte: the customer→nation→region
#: hierarchy as a parent-child edge list, walked from the roots by a
#: recursive CTE to find every node's root region and depth. Same ANSI
#: text runs on Spark (WITH RECURSIVE landed in Spark 4) and DuckDB.
_RECURSIVE_HIERARCHY_SQL = """
    WITH RECURSIVE edges AS (
        SELECT CONCAT('c', CAST(c_custkey AS STRING)) AS node,
               CONCAT('n', CAST(c_nationkey AS STRING)) AS parent
        FROM customer
        UNION ALL
        SELECT CONCAT('n', CAST(n_nationkey AS STRING)),
               CONCAT('r', CAST(n_regionkey AS STRING))
        FROM nation
        UNION ALL
        SELECT CONCAT('r', CAST(r_regionkey AS STRING)), NULL FROM region
    ),
    walk(node, root, depth) AS (
        SELECT node, node, 0 FROM edges WHERE parent IS NULL
        UNION ALL
        SELECT e.node, w.root, w.depth + 1
        FROM edges e JOIN walk w ON e.parent = w.node
    )
    SELECT root, depth, COUNT(*) AS n_nodes
    FROM walk GROUP BY root, depth
"""


@register(
    "sql_recursive_cte",
    oracle=_RECURSIVE_HIERARCHY_SQL.replace("AS STRING", "AS VARCHAR"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3b — recursive CTE (WITH RECURSIVE, new in Spark 4): walk the
    customer→nation→region containment hierarchy from its region roots,
    emitting node counts per (root, depth) — the org-chart/BOM-explosion
    query shape classic warehouses answer with recursion. Spark executes
    each recursion step as an incremental union (same iterative-join shape
    as the engine's hand-rolled connected components, but planned by
    Catalyst); depth is bounded by the hierarchy (3 here), so at 100 TB the
    cost is steps × one equi-join of the frontier against the edge list —
    frontier-partitioned, no global stage. Oracle: the identical query text
    on DuckDB (VARCHAR cast spelling aside)."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_HIERARCHY_SQL)


@register(
    "join_lateral_topk",
    oracle="""
    SELECT c.c_custkey, b.o_orderkey, b.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    ) b
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — LATERAL correlated subquery join (Spark 3.2+): each customer's
    single highest-value order, expressed as the per-row dependent subquery
    SQL users write, not a hand-rolled window. Catalyst decorrelates the
    LATERAL into the same shuffle-window/aggregate plan as the explicit
    row_number form — asserting the SQL surface exists AND optimizes is the
    point; a nested-loop execution of this would be O(customers × orders).
    Customers with no orders drop out (inner lateral). Oracle: identical
    LATERAL text on DuckDB."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, b.o_orderkey, b.o_totalprice
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
        ) b
        """
    )


@register(
    "xml_scan_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6d — native XML sink + source (built into Spark 4; previously the
    external spark-xml package): nation rows land as <row> elements and
    read back with an explicit schema (inference would type everything
    string AND cost an extra pass — same rule as CSV/JSON). XML's niche is
    ingest of legacy enterprise feeds; one task per file split either way."""
    out = _scratch("nation_xml", sf_dir)
    load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").option("rowTag", "row").format("xml").save(out)
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("rowTag", "row")
        .format("xml")
        .load(out)
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice BETWEEN 1000.0 AND 150000.0
      AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3c — parameterized SQL (named-parameter binding, Spark 3.4+): the
    injection-safe templating surface applications use instead of string
    interpolation. Parameters bind as typed literals BEFORE analysis, so
    Catalyst constant-folds and pushes them down exactly like inline
    literals — plan-identical, safer. The oracle inlines the same values."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice BETWEEN :lo AND :hi
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lo": 1000.0, "hi": 150000.0, "status": "O"},
    )


@register(
    "layout_compact_small_files",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
)
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — small-file compaction, the table-maintenance pass every large
    deployment schedules: streaming/batch ingest leaves thousands of tiny
    files per partition, and at 100 TB an uncompacted table pays per-file
    open/footer cost and driver-side listing memory on every scan. The op
    writes the table deliberately fragmented (repartition(64) on a 5k-row
    table ⇒ ~64 tiny files), then compacts by rewriting at target file
    size (repartition to max(1, bytes/128 MB) — here 1 file). Content must
    be byte-equal through both rewrites (the oracle checks against the
    SOURCE table, so fragment + compact must both preserve every row);
    tests/test_plans.py asserts the file-count collapse. Spark's
    maxPartitionBytes-driven split merging already coalesces small files
    at READ time; compaction fixes the layout permanently so every future
    reader benefits."""
    import glob as _glob

    cols = ["doc_id", "lang", "n_chars"]
    fragmented = _scratch("docs_fragmented.parquet", sf_dir)
    compacted = _scratch("docs_compacted.parquet", sf_dir)
    src = load(spark, sf_dir, "documents").select(*cols)
    src.repartition(64).write.mode("overwrite").parquet(fragmented)

    frag_df = spark.read.parquet(fragmented)
    n_bytes = sum(
        os.path.getsize(p) for p in _glob.glob(os.path.join(fragmented, "*.parquet"))
    )
    target_files = max(1, n_bytes // (128 * 1024 * 1024))
    frag_df.repartition(int(target_files)).write.mode("overwrite").parquet(compacted)
    return spark.read.parquet(compacted).select(*cols)


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP4 — SQL pipe syntax (Spark 4 / the |> operator): the same Catalyst
    pipeline as ANSI text, written as a linear dataflow — the SQL dialect
    closest to how the reference era's users thought about RDD chains, now
    first-class in the engine's SQL entry point. The pipe program below is
    plan-identical to its ANSI twin (the oracle), so pushdown and
    map-side aggregation behave exactly as in agg-group queries."""
    from avro_parquet_spark_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity < 25
        |> EXTEND l_extendedprice * (1 - l_discount) AS rev
        |> AGGREGATE COUNT(*) AS n_lines,
                     CAST(ROUND(SUM(CAST(rev AS DECIMAL(30,8))), 2) AS DOUBLE)
                       AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_lines, revenue
        """
    )


@register(
    "export_jsonl_maxrecords",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def export_jsonl_maxrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-export — size-capped JSONL export: the standard hand-off format to
    training jobs (one JSON object per line, shards capped at a fixed
    record count so downstream loaders stream them uniformly). Written with
    ``maxRecordsPerFile`` — Spark's writer-side cap that splits task output
    into multiple files WITHOUT an extra repartition shuffle — then read
    back with an explicit schema for the round-trip oracle. The text
    column is excluded from the export projection (column pruning reaches
    the parquet scan), keeping the check about the writer path, not text
    escaping — JSON string escaping is pinned separately by fn_json.

    Scale: the cap is enforced per writer task as it streams rows, so a
    1000-executor export of 100 TB emits uniformly-sized shards with zero
    coordination; no global sort, no single-partition stage."""
    out = _scratch("docs_jsonl_capped", sf_dir)
    (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .json(out)
    )
    return spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"
    ).json(out)


@register(
    "layout_manifest_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           1 AS n_files
    FROM documents GROUP BY lang
    """,
)
def layout_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-layout — data-skipping MANIFEST construction: write the table
    partitioned by its filter key, then derive per-partition file stats
    (row count, min/max of the prunable columns, file count) by scanning
    the layout back with ``input_file_name()``. This is the table-format
    manifest (Iceberg/Delta stats) built with nothing but Spark
    primitives — the structure a planner consults to skip files whose
    [min,max] can't match a predicate. Pre-shuffling by the partition key
    before ``partitionBy`` makes exactly ONE file per partition
    (deterministic: each lang hashes to one task), which the oracle's
    ``1 AS n_files`` pins — a second file appearing would mean the write
    layout regressed into small files.

    At 100 TB the same two-step (cluster-by-key write → stats scan) emits
    a manifest of (partitions × files) rows — megabytes — and the stats
    scan reads only footer-cheap columns."""
    out = _scratch("docs_by_lang_manifest", sf_dir)
    (
        load(spark, sf_dir, "documents")
        .repartition("lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn(
        # input_file_name() is per-row nondeterministic to the analyzer —
        # project it BEFORE the aggregate (the aggregate itself is then
        # deterministic over the projected name)
        "__file", F.input_file_name()
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("__file").cast("int").alias("n_files"),
    )


@register(
    "export_dataset_card",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM((STRPOS('0123456789abcdef', SUBSTR(MD5(text), 1, 1)) - 1)
               * 4096
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(text), 2, 1)) - 1)
               * 256
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(text), 3, 1)) - 1)
               * 16
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(text), 4, 1)) - 1))
               % 140737488355328 AS BIGINT) AS content_checksum
    FROM documents WHERE text IS NOT NULL
    """,
)
def export_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-export — dataset-card statistics row: the single-row summary
    every published corpus ships (doc/lang/source counts, total size, id
    range) plus an ORDER-INDEPENDENT content checksum — the sum of each
    document's 16-bit md5 prefix — so two exports can be compared for
    content drift without row-order agreement (a concatenated hash would
    depend on ordering; a commutative sum doesn't, at the price of
    weaker collision resistance — a drift DETECTOR, not an integrity
    proof, which the per-doc fn_content_hash sha256 column provides).

    One map-side-combined aggregate pass; at 100 TB the card costs one
    scan and the checksum rides the same pass as the counts."""
    hexes = "0123456789abcdef"
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = F.md5("text")
    digit = lambda i: F.instr(F.lit(hexes), F.substring(h, i, 1)) - 1  # noqa: E731
    chk = digit(1) * 4096 + digit(2) * 256 + digit(3) * 16 + digit(4)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        # mod-reduce to 2^47 on BOTH engines: DuckDB sums in int128 while
        # Spark sums in int64. The modulus keeps DuckDB's HUGEINT sum
        # castable to BIGINT and the two values aligned while Spark's
        # int64 accumulator has not itself overflowed (~1.4e14 docs at
        # 2^16 max per row — practically unreachable; past that Spark
        # would wrap/throw and no shared modulus could reconcile them)
        (F.sum(chk) % F.lit(140737488355328).cast("bigint")).alias(
            "content_checksum"
        ),
    )


@register(
    "lakehouse_time_travel",
    oracle="""
    WITH v1 AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'es')),
         v2 AS (SELECT doc_id FROM documents)
    SELECT (SELECT COUNT(*) FROM v1) AS v1_docs,
           (SELECT COUNT(*) FROM v2) AS v2_docs,
           (SELECT COUNT(*) FROM v2
            WHERE doc_id NOT IN (SELECT doc_id FROM v1)) AS added_in_v2,
           (SELECT MAX(doc_id) FROM v1) AS v1_max_id
    """,
)
def lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-lakehouse — time-travel reads via immutable version directories:
    write snapshot v1 (the en/es subset), then v2 (the full corpus) into
    SIBLING version paths — never overwriting v1 — and answer "what did
    the table look like at v1?" by reading that path after v2 exists.
    This is the storage contract under Iceberg/Delta time travel
    (snapshots are append-only directory trees; a manifest picks the
    version), built from plain Parquet + a version-naming convention.
    The query reads BOTH versions and reports the card a reviewer asks
    for: row counts per version, rows added, and a v1 aggregate proving
    v1 still answers queries untouched by the v2 write.

    At 100 TB versions share unchanged files via the manifest instead of
    copying — the read path (pin a version, scan its file set) is
    exactly what this exercises."""
    base = load(spark, sf_dir, "documents")
    v1_path = _scratch("docs_version_v1", sf_dir)
    v2_path = _scratch("docs_version_v2", sf_dir)
    base.filter(F.col("lang").isin("en", "es")).write.mode("overwrite").parquet(
        v1_path
    )
    base.write.mode("overwrite").parquet(v2_path)
    v1 = spark.read.parquet(v1_path)
    v2 = spark.read.parquet(v2_path)
    added = v2.join(v1.select("doc_id"), "doc_id", "left_anti").count()
    return spark.createDataFrame(
        [
            (
                v1.count(),
                v2.count(),
                added,
                v1.agg(F.max("doc_id")).first()[0],
            )
        ],
        "v1_docs bigint, v2_docs bigint, added_in_v2 bigint, v1_max_id bigint",
    )
