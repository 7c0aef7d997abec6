"""Custom connector via the Python Data Source API (SURVEY.md §2-A
extension) — the PySpark-4 pluggable-source surface.

The reference's source story was "teach the engine a new format by wiring a
reader class" (its Avro+Parquet input format); the modern Spark equivalent
is ``pyspark.sql.datasource.DataSource``: declare a schema, plan input
partitions, and yield rows per partition — the engine handles distribution,
projection, and everything downstream. This module registers a
deterministic synthetic source ("rangelog") so the correctness gate can pin
the whole pipeline against a closed-form oracle: every (id, bucket, score)
is a pure function of id, so DuckDB reproduces the table from RANGE().

Scale note: ``partitions()`` is the parallelism contract — each
InputPartition becomes one Spark task, so a real connector returns one
partition per file/shard/offset-range and the source scales exactly like
the built-ins. The reader runs in Python (Arrow-batched back to the JVM);
for a 100 TB feed you either return enough partitions to saturate the
cluster or, when the format has a JVM reader, prefer it — this API's niche
is sources only Python can speak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.session import register_source

#: rows per partition and partition count — the synthetic table is
#: N_PARTS * PART_ROWS rows of (id, bucket, score), all derived from id.
N_PARTS = 8
PART_ROWS = 1250


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class RangeLogReader(DataSourceReader):
    def partitions(self):
        return [
            _RangePartition(i * PART_ROWS, (i + 1) * PART_ROWS)
            for i in range(N_PARTS)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            # closed-form columns: reproducible by any engine from id alone
            yield (i, i % 7, (i * 37 % 1000) / 10.0)


class RangeLogDataSource(DataSource):
    """`spark.read.format("rangelog")` — deterministic synthetic log."""

    @classmethod
    def name(cls) -> str:
        return "rangelog"

    def schema(self) -> str:
        return "id bigint, bucket bigint, score double"

    def reader(self, schema) -> DataSourceReader:
        return RangeLogReader()


@register(
    "pysource_custom_reader",
    oracle=f"""
    SELECT r.range AS id,
           r.range % 7 AS bucket,
           (r.range * 37 % 1000) / 10.0 AS score
    FROM RANGE(0, {N_PARTS * PART_ROWS}) r
    WHERE r.range % 11 = 0
    """,
)
def pysource_custom_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — a custom connector registered through the Python Data Source
    API and driven like any table: ``spark.read.format("rangelog")``, then
    ordinary DataFrame filters over it. The source plans 8 InputPartitions
    (one task each); rows are a closed form of ``id`` so the DuckDB oracle
    regenerates the identical table from RANGE() — pinning that partition
    planning, the Python→Arrow row path, and downstream relational ops all
    compose correctly. ``sf_dir`` is unused: the source IS the data."""
    from pyspark.sql import functions as F

    register_source(spark, RangeLogDataSource)
    df = spark.read.format("rangelog").load()
    return df.filter(F.col("id") % 11 == 0).select("id", "bucket", "score")


# ---------------------------------------------------------------------------
# A12b — the STREAMING half of the Python Data Source API


class RangeLogStreamReader(DataSourceStreamReader):
    """Offset-tracked streaming reader over the same closed-form log.

    The offset is a plain row index: ``latestOffset`` declares everything
    available (this source is bounded), ``partitions(start, end)`` splits
    the pending range into N_PARTS executor-side tasks, and ``commit`` has
    nothing to persist because the data is a pure function of the index —
    a real feed (queue, ledger, bucket listing) would checkpoint its
    cursor here. Exactly-once comes from the engine replaying
    (start, end] deterministically on recovery, which this source
    guarantees by construction."""

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        return {"index": N_PARTS * PART_ROWS}

    def partitions(self, start, end):
        s, e = start["index"], end["index"]
        step = max((e - s) // N_PARTS, 1)
        parts = []
        while s < e:
            parts.append(_RangePartition(s, min(s + step, e)))
            s = min(s + step, e)
        return parts

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, i % 7, (i * 37 % 1000) / 10.0)

    def commit(self, end):
        pass


class RangeLogStreamDataSource(DataSource):
    """``spark.readStream.format("rangelog_stream")`` — the streaming
    registration of the same source (one DataSource class may serve both;
    kept separate here so each query pins one API surface)."""

    @classmethod
    def name(cls) -> str:
        return "rangelog_stream"

    def schema(self) -> str:
        return "id bigint, bucket bigint, score double"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return RangeLogStreamReader()


@register(
    "pysource_stream_reader",
    oracle=f"""
    SELECT r.range AS id,
           r.range % 7 AS bucket,
           (r.range * 37 % 1000) / 10.0 AS score
    FROM RANGE(0, {N_PARTS * PART_ROWS}) r
    WHERE r.range % 11 = 0
    """,
)
def pysource_stream_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12b — a custom STREAMING connector through the Python Data Source
    API (Spark 4): offset management, per-batch partition planning, and
    executor-side reads, drained through a checkpointed memory sink with
    Trigger.AvailableNow. The drained table must hash-equal the closed-form
    oracle — pinning that offsets, partitioning, the Python→Arrow batch
    path, and streaming execution compose exactly-once. ``sf_dir`` unused:
    the source IS the data."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.streaming.stateful import run_to_table

    register_source(spark, RangeLogStreamDataSource)
    stream = spark.readStream.format("rangelog_stream").load()
    filtered = stream.filter(F.col("id") % 11 == 0).select("id", "bucket", "score")
    return run_to_table(filtered, "append")


# ---------------------------------------------------------------------------
# A12c — the WRITER half of the Python Data Source API


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the file the task wrote and its row count
    (picklable — it travels executor → driver)."""

    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class CsvSinkWriter(DataSourceWriter):
    """Each Spark task streams its partition's rows into one uniquely-named
    CSV file; ``commit`` runs on the driver with every task's message and
    seals the directory with a manifest — the classic two-phase commit a
    real sink (object store, database) implements at this exact seam."""

    def __init__(self, options):
        self.path = options.get("path")

    def write(self, iterator):
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.csv")
        n = 0
        with open(out, "w") as f:
            for row in iterator:
                f.write(f"{row.doc_id},{row.lang},{row.n_chars}\n")
                n += 1
        return _FileCommit(out, n)

    def commit(self, messages):
        import json
        import os

        manifest = {
            "files": sorted(m.path for m in messages),
            "rows": sum(m.n_rows for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class CsvSinkDataSource(DataSource):
    """Batch-write registration of the custom sink."""

    @classmethod
    def name(cls) -> str:
        return "pycsvsink"

    def writer(self, schema, overwrite):
        return CsvSinkWriter(self.options)


@register(
    "pysource_custom_writer",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
)
def pysource_custom_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12c — a custom SINK through the Python Data Source writer API:
    ``df.write.format("pycsvsink")`` fans the DataFrame out to one
    Python-written CSV file per task, with per-task WriterCommitMessages
    collected into a driver-side two-phase commit (manifest only written
    if every task succeeded; ``abort`` deletes partials) — the contract a
    real Python-only sink (vector DB, feature store, annotation service)
    implements. The round-trip is the check: reading the sink's files
    back must reproduce the source projection exactly, which the oracle
    pins against the documents table.

    Scale: one task per input partition, streaming row iterators (no
    materialization); commit messages are O(tasks). In local mode the
    tasks share a filesystem; a production sink targets a shared store —
    the two-phase structure is identical."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from avro_parquet_spark_example_spark.sources.catalog import load
    from avro_parquet_spark_example_spark.sources.scans import _scratch

    register_source(spark, CsvSinkDataSource)

    out_dir = _scratch("pycsvsink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.format("pycsvsink").option("path", out_dir).mode("append").save()

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.schema(schema).csv(out_dir + "/part-*.csv")
