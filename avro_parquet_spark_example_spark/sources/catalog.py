"""Table catalog over the driver's Parquet test universe.

The reference's entire read path — ``newAPIHadoopFile`` + ``ParquetInputFormat``
+ ``AvroReadSupport`` → ``SchemaRDD`` → ``registerTempTable`` (SURVEY.md §3.1
EP2) — collapses to ``spark.read.parquet`` + ``createOrReplaceTempView`` on
modern Spark; Catalyst supplies projection/predicate pushdown automatically
(SURVEY.md §4).

``events.ts`` is Parquet INT64 TIMESTAMP(NANOS). How Spark reads that
physical type has DRIFTED across sandbox Spark builds (verified by probe,
2026-08-13):

  * older builds honored ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    surfaced ``ts`` as LongType nanos;
  * the current Spark 4.1.2 build ignores that flag and reads the column as
    ``TIMESTAMP_NTZ`` (wall time, nanos truncated to µs) — and no longer
    raises PARQUET_TYPE_ILLEGAL without the flag either.

:func:`normalize_events` is therefore total over all three observed read
types (bigint nanos / timestamp_ntz / timestamp) and raises loudly on
anything else, so the next dtype drift is a one-line fix HERE instead of six
broken downstream queries. The session timezone is pinned UTC, so NTZ wall
time == the UTC instant and all three paths yield identical µs values to
DuckDB's read of the same column (EPOCH_US truncates nanos the same way —
verified value-identical by probe).
"""

from __future__ import annotations

import os

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.session import session_state

#: All driver-generated tables (TESTDATA.md): TPC-H-ish star schema +
#: events stream + LLM-pipeline tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_suffix(sf_dir: str) -> str:
    """Injective filesystem-safe token for an sf_dir, shared by every
    scratch-writing operator (batch sinks and streaming landing dirs must
    apply the SAME isolation rule). Sanitized name for readability + a short
    content hash so two sf_dirs can never collide after sanitization."""
    safe = re.sub(r"[^A-Za-z0-9]", "_", sf_dir.strip("/"))
    digest = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    return f"{safe}_{digest}"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. ``events`` gets its ``ts`` normalized to TimestampType.

    One frame per table and session, kept on the session: DataFrames are
    immutable plan handles, so sharing one mirrors registering a view once
    (file listing, footer schema and analyzed relation are reused)."""

    def read() -> DataFrame:
        df = spark.read.parquet(table_path(sf_dir, name))
        return normalize_events(df) if name == "events" else df

    state = session_state(spark)
    return state.get(state.tables, (sf_dir, name), read)


def spread(df: DataFrame, width_from: DataFrame | None = None) -> DataFrame:
    """Widen a narrow frame to the session's default parallelism before
    heavy map-side work (×R explode expansions, per-row md5 draws, wide
    sign/dot folds).

    The test tables are single small parquet files, so a scan yields ONE
    input split (maxPartitionBytes ≫ file size) and everything map-side
    downstream — including a ×100 explode — runs in one task: the
    input-parallelism skew of guide §2.5, measured as the dominant cost
    of the randomization/bootstrap family at sf0.1 (r15). The dial is
    ``defaultParallelism`` (follows the master's core count locally, the
    cluster width in production) and the repartition only fires when the
    frame is NARROWER than it, so production-size inputs — which already
    carry enough splits — never pay a gratuitous shuffle.

    Round-robin repartition is deterministic here (sort-before-repartition
    is on by default, SPARK-23207) and every caller's downstream
    aggregation is exact (integer/decimal sums or per-row projections),
    so results are unchanged by the new partitioning.

    ``width_from``: the frame whose partition count decides whether to
    fire. Pass the RAW scan when ``df``'s own plan carries exchanges or
    broadcasts — materializing ``.rdd`` under AQE executes the plan's
    query stages (an extra job), while on a plain scan+project it is
    metadata-only.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    probe = width_from if width_from is not None else df
    if probe.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: ``events.ts`` read types this catalog knows how to normalize. Anything
#: else is environment drift and must fail loudly (see module docstring).
HANDLED_TS_DTYPES = ("bigint", "timestamp_ntz", "timestamp")


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to µs TimestampType whatever Spark read it as.

    Matches DuckDB's reading of the same Parquet column (µs TIMESTAMP —
    truncation, not rounding). Keeps all other columns untouched. Raises
    TypeError on an unrecognized ``ts`` dtype rather than letting a new
    Spark read behavior slip through to every downstream consumer.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # Integer division: float division of ~1.7e18 nanos loses µs precision.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # Session TZ is pinned UTC, so wall time == UTC instant; values are
        # identical to the old nanos-div-1000 path (probe-verified).
        df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    elif dtype != "timestamp":
        raise TypeError(
            f"events.ts read as unhandled dtype {dtype!r}; Spark's Parquet "
            f"TIMESTAMP(NANOS) read behavior has drifted again — add a "
            f"branch to catalog.normalize_events (handled: {HANDLED_TS_DTYPES})"
        )
    return df


def ts_us(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds Column for an event-time column, total over every
    dtype ``normalize_events`` handles — the ONE place epoch-µs derivation
    lives, so the next read-type drift is fixed here, not per-query.

    Works on columns that bypassed normalization too (raw reads, renamed
    stream columns): branches on the DataFrame's actual dtype.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # raw nanos
        return F.expr(f"{col} div 1000")
    if dtype == "timestamp_ntz":
        return F.unix_micros(F.to_utc_timestamp(col, "UTC"))
    if dtype == "timestamp":
        return F.unix_micros(col)
    raise TypeError(
        f"{col} has unhandled dtype {dtype!r} (handled: {HANDLED_TS_DTYPES})"
    )


def cents():
    """events.value quantized to exact integer cents (iusum rule)."""
    return F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")


def q12(c):
    """``c`` quantized to 12 decimals as DECIMAL(20,12): sums of it are exact
    and order-independent (the dsum rule inside an iterative score)."""
    return F.round(c, 12).cast("decimal(20,12)")


def iterate(state: DataFrame, step, rounds: int) -> DataFrame:
    """``rounds`` fixed rounds of ``state = step(state)``, each round's state
    eagerly local-checkpointed so lineage never grows past one round."""
    for _ in range(rounds):
        state = step(state).localCheckpoint(eager=True)
    return state


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (the modern ``registerTempTable``)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
