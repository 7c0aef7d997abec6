"""Distributed Avro object-container IO over the pure-Python codec
(SURVEY.md §2 A4 — the reference's OWN storage path, completed).

The reference repo writes Avro ``User`` records through ``AvroParquetWriter``
and reads them back via Hadoop input formats (SURVEY.md §0 steps 2-3). Its
*container-file* capability — actual ``.avro`` files on disk — is the one
surface rounds 1-2 could not offer (no spark-avro jar, no Python avro lib in
this environment). ``avro_binary.py`` supplies the codec; this module makes
it a real Spark source and sink:

- **Read**: a Python Data Source (``spark.read.format("avrofile")``) that
  plans one InputPartition per byte split per file and decodes only the
  blocks owned by each split into Arrow record batches
  (``read_container_batches``), which PySpark passes to the JVM as they
  are. The container format is splittable by design — every block ends
  with the file's 16-byte sync marker — so a 100 TB directory of .avro
  files fans out to one task per ~128 MB split with zero coordination
  beyond the driver-side header parse, exactly like Hadoop's
  AvroInputFormat.
- **Write**: ``write_distributed`` first spreads a narrow input (a
  one-split catalog scan) to ``defaultParallelism`` partitions
  (``catalog.spread``), then encodes each partition's Arrow batches inside
  ``mapInArrow`` (executor-side; the driver never sees a row, and no row
  becomes a Python object) and emits ``part-NNNNN.avro`` shards
  (``write_shard``), the same layout every Spark file sink uses. Shards =
  parallelism, so the read fans out to one task per shard even at the
  default split size.

The registered queries round-trip a real table through both halves and are
oracle-checked against the ORIGINAL parquet, so the gate proves
encode → container layout → split planning → decode preserves every value.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.session import register_source
from avro_parquet_spark_example_spark.sources import avro_binary
from avro_parquet_spark_example_spark.sources.avro_schema import parse_avro_schema
from avro_parquet_spark_example_spark.sources.catalog import spread

#: Default split size for the read planner. Production-sized; the registered
#: queries shrink it via option to force many splits even on KB-scale
#: fixtures so the alignment logic is what the gate actually exercises.
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


def _list_avro_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.avro")))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    return files


class _AvroSplit(InputPartition):
    def __init__(
        self,
        path: str,
        start: int,
        end: int,
        schema_json: str,
        codec: str,
        sync_hex: str,
    ):
        self.path = path
        self.start = start
        self.end = end
        self.schema_json = schema_json
        self.codec = codec
        self.sync_hex = sync_hex


class AvroContainerReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avrofile source requires option('path', ...)")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))

    def partitions(self):
        """One InputPartition per byte split per file — the parallelism
        contract. Header parse happens once per file on the driver; tasks
        receive (byte range, schema, codec, sync) and nothing else."""
        splits: list[_AvroSplit] = []
        first_schema: str | None = None
        for path in _list_avro_files(self.path):
            with open(path, "rb") as fo:
                schema_json, codec, sync, body_offset = avro_binary.read_header(fo)
            if codec not in ("null", "deflate"):
                raise avro_binary.AvroBinaryError(
                    f"{path}: unsupported avro.codec {codec!r}"
                )
            # Each split decodes with its own file's embedded schema while
            # DataSource.schema() announced the FIRST file's — a mixed
            # directory would silently emit rows that don't conform. Refuse
            # heterogeneous directories at plan time instead.
            if first_schema is None:
                first_schema = schema_json
            elif schema_json != first_schema:
                raise ValueError(
                    f"heterogeneous Avro schemas under {self.path}: {path} "
                    f"does not match the first file's schema"
                )
            size = os.path.getsize(path)
            # First split starts at the header's trailing sync so block 1
            # has a preceding sync inside some split (the ownership rule).
            lo = body_offset - avro_binary.SYNC_SIZE
            step = max(self.split_bytes, 1)
            while lo < size:
                hi = min(lo + step, size)
                splits.append(
                    _AvroSplit(path, lo, hi, schema_json, codec, sync.hex())
                )
                lo = hi
        return splits

    def read(self, partition: _AvroSplit):
        """Arrow record batches, one per owned block, in the Arrow form of
        the source's Spark schema; PySpark hands them to the JVM as they
        are, with no per-row conversion on either side."""
        yield from avro_binary.read_container_batches(
            partition.path,
            partition.start,
            partition.end,
            partition.schema_json,
            partition.codec,
            partition.sync_hex,
            to_arrow_schema(parse_avro_schema(partition.schema_json)),
        )


class AvroContainerDataSource(DataSource):
    """``spark.read.format("avrofile").option("path", ...)`` — splittable
    reader for Avro Object Container Files."""

    @classmethod
    def name(cls) -> str:
        return "avrofile"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("avrofile source requires option('path', ...)")
        with open(_list_avro_files(path)[0], "rb") as fo:
            schema_json, _, _, _ = avro_binary.read_header(fo)
        return parse_avro_schema(schema_json)

    def reader(self, schema) -> DataSourceReader:
        return AvroContainerReader(self.options)


def ensure_registered(spark: SparkSession) -> None:
    register_source(spark, AvroContainerDataSource)


def write_shard(
    batches,
    staging: str,
    pid: int,
    attempt: int,
    schema_json: str,
    codec: str,
    block_records: int,
) -> None:
    """Encode one partition's Arrow batches into ``staging/part-NNNNN.avro``.

    The shard is written under an attempt-unique temp name and
    ``os.replace``d into place — the rename-commit Spark's file sinks use,
    so a retried or speculative attempt can never interleave bytes with
    another attempt on the same shard. An attempt that fails removes its
    temp file, so a job that succeeds on retry leaves only shards behind.
    The sync marker is seeded by partition id, so every attempt writes the
    same bytes."""
    part_path = os.path.join(staging, f"part-{pid:05d}.avro")
    tmp_path = f"{part_path}.attempt-{attempt}.tmp"
    try:
        avro_binary.write_container_batches(
            tmp_path,
            schema_json,
            batches,
            codec=codec,
            block_records=block_records,
            sync_seed=pid + 1,
        )
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp_path)
        raise
    os.replace(tmp_path, part_path)


def write_distributed(
    df: DataFrame,
    out_dir: str,
    avro_schema: dict | str,
    codec: str = "null",
    block_records: int = 1000,
) -> None:
    """Executor-side sharded container write: each partition's Arrow batches
    are encoded into ``part-NNNNN.avro`` (deterministic name from the
    partition id) inside ``mapInArrow`` — rows never cross to the driver
    and never become Python objects, so the write scales like Spark's
    built-in file sinks: one shard per task, no coordination. Columns map
    to the Avro record's fields by position. An input narrower than
    ``defaultParallelism`` (a catalog Parquet scan arrives as one split)
    is first round-robin spread to that width (``catalog.spread``), so
    every core encodes and the read of the result runs one task per shard;
    a wide input is written as it is, without a shuffle. Shard sync markers
    are seeded by partition id and the round-robin is deterministic,
    keeping output bytes deterministic run-to-run. An empty partition
    still writes a header-only shard.

    Each shard commits by rename (``write_shard``). Assumes a rename-atomic
    filesystem (local/HDFS-style; object stores need a committer, as they
    do for every Spark file sink). Overwrite is all-or-nothing: shards land
    in a sibling staging directory that replaces ``out_dir`` only once the
    job succeeds."""
    schema_json = (
        avro_schema if isinstance(avro_schema, str) else json.dumps(avro_schema)
    )
    stem, tag = os.path.normpath(out_dir), uuid.uuid4().hex
    staging, old = f"{stem}.staging-{tag}", f"{stem}.old-{tag}"
    os.makedirs(staging)

    def write_part(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        write_shard(
            batches,
            staging,
            ctx.partitionId(),
            ctx.taskAttemptId(),
            schema_json,
            codec,
            block_records,
        )
        return iter(())

    try:
        # the tasks return no rows: collect() only runs them
        spread(df).mapInArrow(write_part, "part int").collect()
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.isdir(out_dir):
        os.rename(out_dir, old)
    os.rename(staging, out_dir)
    shutil.rmtree(old, ignore_errors=True)


#: Avro twin of the supplier columns used by the round-trip queries
#: (int32→"int", int64→"long", utf8→"string", float64→"double").
SUPPLIER_AVRO_SCHEMA = {
    "type": "record",
    "name": "Supplier",
    "namespace": "example.avro",
    "fields": [
        {"name": "s_suppkey", "type": "long"},
        {"name": "s_name", "type": "string"},
        {"name": "s_nationkey", "type": "int"},
        {"name": "s_acctbal", "type": "double"},
    ],
}

_SUPPLIER_ORACLE = "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"


def _roundtrip(spark: SparkSession, sf_dir: str, codec: str, tag: str) -> DataFrame:
    from avro_parquet_spark_example_spark.sources.scans import _scratch

    ensure_registered(spark)
    src = _load_supplier(spark, sf_dir)
    out_dir = _scratch(f"supplier_{tag}.avro.d", sf_dir)
    # Tiny blocks + 256 B splits so that, at 4 shards, every shard of both
    # fixtures (~0.7-1 KB at sf0.01, ~4.5-8 KB at sf0.1) spans several
    # splits and every split-alignment branch runs under the gate.
    write_distributed(
        src, out_dir, SUPPLIER_AVRO_SCHEMA, codec=codec, block_records=16
    )
    return (
        spark.read.format("avrofile")
        .option("path", out_dir)
        .option("split_bytes", 256)
        .load()
    )


def _load_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from avro_parquet_spark_example_spark.sources.catalog import load

    return load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@register("avro_container_roundtrip", oracle=_SUPPLIER_ORACLE)
def avro_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4b — full Avro object-container round trip, distributed both ways:
    supplier rows are encoded shard-per-partition into ``part-*.avro``
    (``write_distributed``), then read back through the splittable
    ``avrofile`` data source with 256 B splits (many splits per shard).
    Oracle-equality with the ORIGINAL parquet table proves the pure-Python
    binary codec, the block/sync container layout, and the Hadoop-style
    split-ownership rule preserve every value. This is the reference's own
    storage capability (Avro files on disk) that rounds 1-2 lacked."""
    return _roundtrip(spark, sf_dir, codec="null", tag="null")


@register("avro_container_deflate", oracle=_SUPPLIER_ORACLE)
def avro_container_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4c — same round trip with the ``deflate`` codec (raw zlib per the
    Avro spec): blocks are compressed record runs, sync markers stay
    uncompressed so split alignment is unchanged — compression and
    splittability compose, which is exactly why the container format beats
    naive whole-file gzip at 100 TB."""
    return _roundtrip(spark, sf_dir, codec="deflate", tag="deflate")
