"""Avro binary codec + object-container tests (SURVEY.md §5 model: pin the
storage layer with round-trip and split-coverage properties). Round 7 adds
CROSS-IMPLEMENTATION validation against the reference Java Avro library
(avro-1.12.1, already on Spark's JVM classpath, driven via py4j) — the
codec is no longer only self-consistent: Java must parse Python-written
containers and Python must parse Java-written ones, and the split protocol
must agree with Java's own sync()/pastSync()."""

from __future__ import annotations

import datetime
import io
import json
import os
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.sources import avro_binary as ab

FULL_SCHEMA = {
    "type": "record",
    "name": "Everything",
    "namespace": "example.avro",
    "fields": [
        {"name": "f_long", "type": "long"},
        {"name": "f_int", "type": "int"},
        {"name": "f_bool", "type": "boolean"},
        {"name": "f_float", "type": "float"},
        {"name": "f_double", "type": "double"},
        {"name": "f_str", "type": "string"},
        {"name": "f_bytes", "type": "bytes"},
        {"name": "f_opt", "type": ["null", "string"]},
        {"name": "f_arr", "type": {"type": "array", "items": "long"}},
        {"name": "f_map", "type": {"type": "map", "values": "double"}},
        {"name": "f_enum", "type": {"type": "enum", "name": "Color",
                                    "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "f_fixed", "type": {"type": "fixed", "name": "F8", "size": 8}},
        {"name": "f_date", "type": {"type": "int", "logicalType": "date"}},
        {"name": "f_ts_ms", "type": {"type": "long",
                                     "logicalType": "timestamp-millis"}},
        {"name": "f_ts_us", "type": {"type": "long",
                                     "logicalType": "timestamp-micros"}},
        {"name": "f_time_ms", "type": {"type": "int",
                                       "logicalType": "time-millis"}},
        {"name": "f_time_us", "type": {"type": "long",
                                       "logicalType": "time-micros"}},
        {"name": "f_dec", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 10, "scale": 2}},
        {"name": "f_nested", "type": {
            "type": "record", "name": "Inner",
            "fields": [{"name": "a", "type": "long"},
                       {"name": "b", "type": ["null", "double"]}]}},
        # second uses of named types: a bare name resolves in the enclosing
        # namespace (Java writes these), a dotted name is a fullname
        {"name": "f_enum_ref", "type": "Color"},
        {"name": "f_fixed_ref", "type": "F8"},
        {"name": "f_nested_ref", "type": "example.avro.Inner"},
        # the object form of a reference, which Java's Schema.Parser accepts
        {"name": "f_enum_obj_ref", "type": {"type": "Color"}},
    ],
}


def _mk_row(i: int) -> tuple:
    return (
        i,
        -i,
        i % 2 == 0,
        float(i) / 4,  # exactly representable in float32
        i * 1.5,
        f"row-{i}" * (i % 3 + 1),
        bytes([i % 256, (i * 7) % 256]),
        None if i % 3 == 0 else f"opt-{i}",
        list(range(i % 5)),
        {f"k{j}": j * 0.5 for j in range(i % 3)},
        ["RED", "GREEN", "BLUE"][i % 3],
        bytes([i % 256]) * 8,
        datetime.date(1970, 1, 1) + datetime.timedelta(days=i * 37),
        datetime.datetime(2020, 1, 1) + datetime.timedelta(milliseconds=i * 999),
        datetime.datetime(2020, 1, 1) + datetime.timedelta(microseconds=i * 31),
        i * 86_399 % 86_400_000,
        i * 86_399_999 % 86_400_000_000,
        Decimal(i * 100 - 5000).scaleb(-2),
        (i * 2, None if i % 2 else float(i)),
        ["BLUE", "RED", "GREEN"][i % 3],
        bytes([(i * 3) % 256]) * 8,
        (-i, float(i) / 2 if i % 2 else None),
        ["GREEN", "BLUE", "RED"][i % 3],
    )


ROWS = [_mk_row(i) for i in range(257)]

_FIELD_NAMES = [f["name"] for f in FULL_SCHEMA["fields"]]


def _edge_row(i: int, **values) -> tuple:
    row = list(_mk_row(i))
    for name, v in values.items():
        row[_FIELD_NAMES.index(name)] = v
    return tuple(row)


#: Values a columnar codec can get wrong: NaN, ±Inf and -0.0 in both float
#: widths, the long and int extremes, empty and non-ASCII strings, both
#: branches of each ["null", T] union, and the first and last instant of a
#: day in both time-of-day types (read back as the int/long Spark declares).
EDGE_ROWS = [
    _edge_row(1, f_long=-(2**63), f_int=-(2**31), f_float=float("nan"),
              f_double=float("nan"), f_str="", f_opt=None, f_bytes=b"",
              f_nested=(0, None), f_time_ms=0, f_time_us=0,
              f_fixed_ref=b"\x00" * 8, f_nested_ref=(-(2**63), None)),
    _edge_row(2, f_long=2**63 - 1, f_int=2**31 - 1, f_float=float("inf"),
              f_double=float("-inf"), f_str="żółw · 日本語 · \U0001f980",
              f_opt="", f_nested=(-(2**63), -0.0), f_time_ms=86_399_999,
              f_time_us=86_399_999_999, f_enum_ref="GREEN",
              f_fixed_ref=b"\xff" * 8, f_nested_ref=(2**63 - 1, -0.0)),
    _edge_row(3, f_float=-0.0, f_double=-0.0, f_str="é", f_opt="ünï",
              f_nested=(2**63 - 1, float("nan"))),
    _edge_row(4, f_float=float("-inf"), f_double=float("inf"), f_opt=None),
]


def _canon(v):
    """Comparable form of a decoded or collected value: Rows and lists
    become tuples, maps sorted pairs, and floats their bit pattern, so NaN
    equals NaN and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return "nan" if v != v else struct.pack("<d", v)
    if isinstance(v, (tuple, list)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def test_value_roundtrip_all_types():
    enc = ab.compile_encoder(FULL_SCHEMA)
    dec = ab.compile_decoder(FULL_SCHEMA)
    buf = io.BytesIO()
    for r in ROWS:
        enc(buf, r)
    buf.seek(0)
    out = [dec(buf) for _ in ROWS]
    assert out == ROWS
    assert not buf.read(1)


def test_varint_zigzag_edge_values():
    for v in (0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        buf = io.BytesIO()
        ab.write_long(buf, v)
        buf.seek(0)
        assert ab.read_long(buf) == v


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    path = str(tmp_path / f"all_{codec}.avro")
    n = ab.write_container(path, FULL_SCHEMA, ROWS, codec=codec, block_records=10)
    assert n == len(ROWS)
    schema_json, it = ab.read_container(path)
    assert '"Everything"' in schema_json
    assert list(it) == ROWS


def test_container_empty(tmp_path):
    path = str(tmp_path / "empty.avro")
    assert ab.write_container(path, FULL_SCHEMA, []) == 0
    _, it = ab.read_container(path)
    assert list(it) == []


def test_bad_magic(tmp_path):
    path = str(tmp_path / "bad.avro")
    with open(path, "wb") as fo:
        fo.write(b"PAR1" + b"\x00" * 32)
    with pytest.raises(ab.AvroBinaryError):
        ab.read_container(path)


def test_sync_mismatch_detected(tmp_path):
    path = str(tmp_path / "corrupt.avro")
    ab.write_container(path, FULL_SCHEMA, ROWS[:50], block_records=10)
    data = bytearray(open(path, "rb").read())
    data[-1] ^= 0xFF  # flip a byte in the final sync marker
    open(path, "wb").write(bytes(data))
    _, it = ab.read_container(path)
    with pytest.raises(ab.AvroBinaryError):
        list(it)


def _one_block_container(path: str) -> int:
    """Write ROWS[:50] as a single-block container; return the block's byte
    offset (the end of the header)."""
    ab.write_container(path, FULL_SCHEMA, ROWS[:50], block_records=100)
    with open(path, "rb") as fo:
        return ab.read_header(fo)[3]


def test_missing_schema_names_file_and_offset(tmp_path):
    path = str(tmp_path / "noschema.avro")
    buf = io.BytesIO()
    buf.write(ab.MAGIC)
    ab.write_long(buf, 1)
    ab.write_bytes(buf, b"avro.codec")
    ab.write_bytes(buf, b"null")
    ab.write_long(buf, 0)
    buf.write(b"\x01" * ab.SYNC_SIZE)
    open(path, "wb").write(buf.getvalue())
    with pytest.raises(ab.AvroBinaryError) as err:
        ab.read_container(path)
    assert path in str(err.value)
    assert f"byte {len(buf.getvalue())}" in str(err.value)


@pytest.fixture(params=["read_container", "avrofile"])
def read_all(request):
    """(read every record of a container path, the error type it raises):
    the sequential row reader, or a collect through the ``avrofile`` data
    source, whose task error carries the reader's message."""
    if request.param == "read_container":
        return (lambda path: list(ab.read_container(path)[1])), ab.AvroBinaryError
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        ensure_registered,
    )

    spark = request.getfixturevalue("spark")
    ensure_registered(spark)
    return (
        lambda path: spark.read.format("avrofile").option("path", path).load().collect()
    ), Exception


def test_truncated_block_names_file_and_offset(tmp_path, read_all):
    read, error = read_all
    path = str(tmp_path / "truncated.avro")
    block_at = _one_block_container(path)
    data = open(path, "rb").read()
    open(path, "wb").write(data[: len(data) - ab.SYNC_SIZE - 5])
    with pytest.raises(error, match="unexpected EOF") as err:
        read(path)
    assert f"{path}: block at byte {block_at}:" in str(err.value)


def test_flipped_sync_byte_names_file_and_offset(tmp_path, read_all):
    read, error = read_all
    path = str(tmp_path / "flipped.avro")
    block_at = _one_block_container(path)
    data = bytearray(open(path, "rb").read())
    data[-ab.SYNC_SIZE] ^= 0x01  # first byte of the block's trailing sync
    open(path, "wb").write(bytes(data))
    with pytest.raises(error, match="sync marker mismatch") as err:
        read(path)
    assert f"{path}: block at byte {block_at}:" in str(err.value)


def _recodec(path: str, codec: str) -> int:
    """Rewrite the container at ``path`` with its header's ``avro.codec``
    set to ``codec`` and the blocks left as written; return the first
    block's new byte offset."""
    data = open(path, "rb").read()
    with open(path, "rb") as fo:
        schema_json, _, sync, body_offset = ab.read_header(fo)
    buf = io.BytesIO()
    buf.write(ab.MAGIC)
    ab.write_long(buf, 2)
    ab.write_bytes(buf, b"avro.schema")
    ab.write_bytes(buf, schema_json.encode())
    ab.write_bytes(buf, b"avro.codec")
    ab.write_bytes(buf, codec.encode())
    ab.write_long(buf, 0)
    buf.write(sync)
    block_at = buf.tell()
    open(path, "wb").write(buf.getvalue() + data[body_offset:])
    return block_at


def test_codec_mismatch_names_file_and_offset(tmp_path, read_all):
    """Null-coded blocks under a header that says deflate fail with the
    file and block offset, not a bare zlib error."""
    read, error = read_all
    path = str(tmp_path / "mislabelled.avro")
    _one_block_container(path)
    block_at = _recodec(path, "deflate")
    with pytest.raises(error, match="deflate") as err:
        read(path)
    assert f"{path}: block at byte {block_at}:" in str(err.value)


def test_unsupported_codec_rejected_at_plan_time(tmp_path):
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        AvroContainerReader,
    )

    path = str(tmp_path / "snappy.avro")
    _one_block_container(path)
    _recodec(path, "snappy")
    with pytest.raises(ab.AvroBinaryError, match="snappy") as err:
        AvroContainerReader({"path": str(tmp_path)}).partitions()
    assert path in str(err.value)


@pytest.mark.parametrize("split_bytes", [64, 257, 1000, 4096, 10**9])
@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_split_coverage_exact_once(tmp_path, split_bytes, codec):
    """THE splittability property: for ANY split granularity, the union of
    all splits' records equals the sequential read, each record exactly
    once. This is what lets one container file fan out to N tasks."""
    path = str(tmp_path / f"split_{codec}_{split_bytes}.avro")
    ab.write_container(path, FULL_SCHEMA, ROWS, codec=codec, block_records=7)
    with open(path, "rb") as fo:
        schema_json, got_codec, sync, body_offset = ab.read_header(fo)
    size = os.path.getsize(path)
    lo = body_offset - ab.SYNC_SIZE
    out = []
    while lo < size:
        hi = min(lo + split_bytes, size)
        out.extend(
            ab.read_container_split(path, lo, hi, schema_json, got_codec, sync.hex())
        )
        lo = hi
    assert out == ROWS  # block order is file order, so exact equality holds


def test_datasource_exact_once_at_many_splits(spark, sf_dir, tmp_path):
    """Exactly-once through the REGISTERED avrofile source (not just the
    codec-level split reader): one container file, forced >=8 byte-splits,
    the scan's row multiset must equal the source table exactly — no
    dropped boundary block, no double-owned block."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        AvroContainerReader,
        ensure_registered,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = tmp_path / "supplier_many_splits.avro.d"
    out.mkdir()
    shard = str(out / "part-00000.avro")
    out = str(out)
    # one container so all splits hit one file; tiny blocks so splits land
    # mid-file rather than all past EOF
    ab.write_container(
        shard, SUPPLIER_AVRO_SCHEMA, map(tuple, src.collect()), block_records=4
    )
    size = os.path.getsize(shard)
    # the first split starts after the header, so budget ~20 splits of the
    # full file size to guarantee >=8 land inside the body
    split_bytes = max(size // 20, 1)

    n_splits = len(
        AvroContainerReader(
            {"path": out, "split_bytes": str(split_bytes)}
        ).partitions()
    )
    assert n_splits >= 8, f"only {n_splits} splits planned for {size} bytes"

    ensure_registered(spark)
    back = (
        spark.read.format("avrofile")
        .option("path", out)
        .option("split_bytes", split_bytes)
        .load()
    )
    expect = sorted(map(tuple, src.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == expect


@pytest.mark.parametrize("split_bytes", [97, 1000, 10**9])
def test_datasource_rows_equal_split_reader(spark, tmp_path, split_bytes):
    """The columnar read path (Arrow batches out of ``avrofile``) gives the
    same rows as the row reader ``read_container_split`` over the same
    planned splits, for every kernel and fallback type and the edge values,
    at split sizes from many splits per block run to one split per file."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        AvroContainerReader,
        ensure_registered,
    )

    rows = ROWS + EDGE_ROWS
    path = str(tmp_path / "edges.avro")
    ab.write_container(path, FULL_SCHEMA, rows, codec="deflate", block_records=7)
    splits = AvroContainerReader(
        {"path": path, "split_bytes": str(split_bytes)}
    ).partitions()
    assert len(splits) > 1 or split_bytes == 10**9
    want = [
        r
        for s in splits
        for r in ab.read_container_split(
            s.path, s.start, s.end, s.schema_json, s.codec, s.sync_hex
        )
    ]
    assert _canon(want) == _canon(rows)

    ensure_registered(spark)
    got = (
        spark.read.format("avrofile")
        .option("path", path)
        .option("split_bytes", split_bytes)
        .load()
        .collect()
    )
    assert _canon(got) == _canon(want)


def test_datasource_rejects_heterogeneous_schemas(tmp_path):
    """A directory mixing .avro files with different schemas must fail at
    plan time (splits decode with per-file schemas while the source
    announces the first file's — silent nonconforming rows otherwise)."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        AvroContainerReader,
    )

    s1 = {"type": "record", "name": "A",
          "fields": [{"name": "x", "type": "long"}]}
    s2 = {"type": "record", "name": "B",
          "fields": [{"name": "y", "type": "string"}]}
    ab.write_container(str(tmp_path / "a.avro"), s1, [(1,), (2,)])
    ab.write_container(str(tmp_path / "b.avro"), s2, [("u",)])
    with pytest.raises(ValueError, match="heterogeneous"):
        AvroContainerReader({"path": str(tmp_path)}).partitions()


@pytest.mark.parametrize("py_codec,j_codec", [("null", "deflate"), ("deflate", "null")])
def test_java_avro_cross_validation(spark, tmp_path, py_codec, j_codec):
    """The reference implementation gate: the Java Avro library
    (org.apache.avro 1.12.1, on Spark's classpath) must (a) open and
    fully decode a Python-written container — magic, header meta map,
    schema JSON, blocks, codec, sync markers, every record of the
    all-types schema — and (b) produce a container (GenericDatumWriter +
    DataFileWriter, its own random sync, its own codec) that the Python
    codec decodes back to the ORIGINAL values. Logical types (decimal,
    date, timestamps) pass through Java as their raw encodings, so value
    equality after the Java round-trip proves the Python logical
    encodings are the spec's. Both codec directions are exercised."""
    jvm = spark._jvm
    p_py = str(tmp_path / "py_written.avro")
    p_j = str(tmp_path / "java_written.avro")
    ab.write_container(p_py, FULL_SCHEMA, ROWS, codec=py_codec, block_records=13)

    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p_py), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    jschema = reader.getSchema()
    assert jschema.getFullName() == "example.avro.Everything"
    assert reader.getMetaString("avro.codec") == py_codec
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    )
    if j_codec == "deflate":
        writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    writer.create(jschema, jvm.java.io.File(p_j))
    n = 0
    while reader.hasNext():
        writer.append(reader.next())
        n += 1
    writer.close()
    reader.close()
    assert n == len(ROWS), "Java reader must see every Python-written record"

    schema_json, it = ab.read_container(p_j)
    assert list(it) == ROWS, "values must survive the Java decode/encode cycle"

    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        ensure_registered,
    )

    ensure_registered(spark)
    back = spark.read.format("avrofile").option("path", p_j).load().collect()
    assert _canon(back) == _canon(ROWS), "the avrofile source must read Java's container"


def test_java_avro_split_protocol_agrees(spark, tmp_path):
    """Splittability against the REFERENCE split protocol: for arbitrary
    byte ranges [lo, hi), Java's DataFileReader.sync(lo) + pastSync(hi)
    (exactly Hadoop AvroInputFormat's ownership rule) must yield the same
    per-split record partition as ab.read_container_split — same counts,
    same first field values, exact-once union."""
    schema = {
        "type": "record",
        "name": "S",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }
    rows = [(i, f"value-{i:04d}" * (i % 4 + 1)) for i in range(211)]
    path = str(tmp_path / "split_xcheck.avro")
    ab.write_container(path, schema, rows, codec="null", block_records=9)
    with open(path, "rb") as fo:
        schema_json, codec, sync, body_offset = ab.read_header(fo)
    size = os.path.getsize(path)

    jvm = spark._jvm
    for split_bytes in (97, 512, 2048):
        lo = body_offset - ab.SYNC_SIZE
        union: list = []
        while lo < size:
            hi = min(lo + split_bytes, size)
            ours = list(
                ab.read_container_split(path, lo, hi, schema_json, codec, sync.hex())
            )
            reader = jvm.org.apache.avro.file.DataFileReader(
                jvm.java.io.File(path),
                jvm.org.apache.avro.generic.GenericDatumReader(),
            )
            reader.sync(lo)
            theirs = []
            while reader.hasNext() and not reader.pastSync(hi):
                theirs.append(reader.next().get(0))
            reader.close()
            assert [r[0] for r in ours] == theirs, (
                f"split [{lo},{hi}) disagrees with Java: "
                f"ours={len(ours)} theirs={len(theirs)}"
            )
            union.extend(ours)
            lo = hi
        assert union == rows


def test_write_distributed_leaves_no_tmp_files(spark, sf_dir, tmp_path):
    """The rename-commit protocol must clean up: only part-*.avro shards in
    the output directory, every one a readable container."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        write_distributed,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = str(tmp_path / "commit_check.avro.d")
    write_distributed(src.repartition(4), out, SUPPLIER_AVRO_SCHEMA)
    names = sorted(os.listdir(out))
    assert names and all(
        n.startswith("part-") and n.endswith(".avro") for n in names
    ), names
    total = sum(
        len(list(ab.read_container(os.path.join(out, n))[1])) for n in names
    )
    assert total == src.count()


def test_write_distributed_failed_overwrite_keeps_previous_output(
    spark, sf_dir, tmp_path
):
    """A job that fails mid-overwrite leaves the previous shards readable and
    unchanged, and no staging or old directory behind."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        write_distributed,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = str(tmp_path / "overwrite.avro.d")
    write_distributed(src.repartition(2), out, SUPPLIER_AVRO_SCHEMA)

    def snapshot() -> dict[str, bytes]:
        return {n: open(os.path.join(out, n), "rb").read() for n in os.listdir(out)}

    before = snapshot()
    bad = src.select(
        F.col("s_name").alias("s_suppkey"), "s_name", "s_nationkey", "s_acctbal"
    )
    with pytest.raises(Exception):
        write_distributed(bad, out, SUPPLIER_AVRO_SCHEMA)
    assert snapshot() == before
    assert os.listdir(tmp_path) == ["overwrite.avro.d"]
    back = [r for n in before for r in ab.read_container(os.path.join(out, n))[1]]
    assert sorted(back) == sorted(map(tuple, src.collect()))


def test_write_distributed_spreads_narrow_input(spark, sf_dir, tmp_path):
    """A one-split catalog scan is written as defaultParallelism non-empty
    shards, and the default-split read plans one task per shard."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        AvroContainerReader,
        ensure_registered,
        write_distributed,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    assert src.rdd.getNumPartitions() == 1
    width = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "spread.avro.d")
    write_distributed(src, out, SUPPLIER_AVRO_SCHEMA)
    shards = [os.path.join(out, n) for n in sorted(os.listdir(out))]
    assert len(shards) == width
    assert all(
        os.path.basename(p).startswith("part-") and next(ab.read_container(p)[1], None)
        for p in shards
    )
    assert len(AvroContainerReader({"path": out}).partitions()) == width
    ensure_registered(spark)
    back = spark.read.format("avrofile").option("path", out).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_write_distributed_matches_write_container(spark, tmp_path, codec):
    """Every shard of the columnar writer is byte-identical to
    ``write_container`` on the same partition's rows, seed and codec: every
    kernel and fallback type with nulls and edge values, a partition longer
    than one Arrow batch (so blocks straddle batch boundaries) and an empty
    partition, which still writes a header-only shard."""
    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        write_distributed,
    )
    from avro_parquet_spark_example_spark.sources.avro_schema import (
        parse_avro_schema,
    )

    sc = spark.sparkContext
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    groups = [
        [_mk_row(i) for i in range(batch_rows + 37)] + EDGE_ROWS,
        [],
        ROWS[:40],
        EDGE_ROWS + ROWS[40:45],
    ]
    groups += [ROWS[:3]] * (sc.defaultParallelism - len(groups))
    df = spark.createDataFrame(
        sc.parallelize(groups, len(groups)).flatMap(lambda g: g),
        parse_avro_schema(FULL_SCHEMA),
    )
    parts = df.rdd.glom().collect()
    assert len(parts[0]) > batch_rows and parts[1] == []

    out = str(tmp_path / "columnar.avro.d")
    write_distributed(df, out, FULL_SCHEMA, codec=codec, block_records=333)
    assert sorted(os.listdir(out)) == [f"part-{i:05d}.avro" for i in range(len(parts))]
    for pid, rows in enumerate(parts):
        want = str(tmp_path / f"want-{pid}.avro")
        ab.write_container(
            want, FULL_SCHEMA, map(tuple, rows), codec=codec,
            block_records=333, sync_seed=pid + 1,
        )
        got = open(os.path.join(out, f"part-{pid:05d}.avro"), "rb").read()
        assert got == open(want, "rb").read(), f"shard {pid} differs"


def test_write_shard_failure_removes_attempt_file(tmp_path):
    """A task whose encode raises leaves no ``.attempt-N.tmp`` file in the
    staging directory, which a retry that succeeds would turn into the
    output."""
    import pyarrow as pa

    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        write_shard,
    )

    good = pa.RecordBatch.from_pylist(
        [{"s_suppkey": i, "s_name": f"s{i}", "s_nationkey": i, "s_acctbal": 1.5}
         for i in range(3)]
    )

    def batches():
        yield good
        raise RuntimeError("encode failed mid-partition")

    staging = tmp_path / "staging"
    staging.mkdir()
    with pytest.raises(RuntimeError, match="mid-partition"):
        write_shard(
            batches(), str(staging), 3, 17, json.dumps(SUPPLIER_AVRO_SCHEMA),
            "deflate", 1,
        )
    assert os.listdir(staging) == []


def test_avro_path_job_counts(spark, sf_dir, tmp_path):
    """One ``write_distributed`` call runs 2 Spark jobs (under AQE the
    round-robin spread's shuffle stage, then the encode stage), and one
    ``avrofile`` read + ``count()`` runs 2 (the scan's partial count, then
    the final merge). A change that adds a job to the paper's storage path
    fails here."""
    from perfbench.tracing import StatusStore

    from avro_parquet_spark_example_spark.sources.avro_datasource import (
        SUPPLIER_AVRO_SCHEMA,
        ensure_registered,
        write_distributed,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    ensure_registered(spark)
    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = str(tmp_path / "jobs.avro.d")
    status = StatusStore(spark)
    for _ in range(2):  # the first round is a warm-up
        status.new_jobs()
        write_distributed(src, out, SUPPLIER_AVRO_SCHEMA, codec="deflate")
        write_jobs = len(status.new_jobs())
        spark.read.format("avrofile").option("path", out).load().count()
        read_jobs = len(status.new_jobs())
    assert (write_jobs, read_jobs) == (2, 2)


def test_python_workers_skip_unchanged_zip_rereads(spark):
    """A Python worker that unpickles engine code imports the package, which
    installs the stat-checked ``zipimporter.invalidate_caches``. Each task
    starts with ``importlib.invalidate_caches()``; once the wrapper is in,
    that re-reads no unchanged archive, however many zip importers the
    worker holds for ``pyspark.zip``."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        # ``ab`` is a package module, so unpickling ``probe`` imports the package
        assert issubclass(ab.AvroBinaryError, ValueError)
        installer = zipimport.zipimporter.invalidate_caches.__module__
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"installer": installer, "zips": zips, "rereads": len(reads)}]
        )

    df = spark.range(1, numPartitions=1)
    schema = "installer string, zips long, rereads long"
    runs = [df.mapInArrow(probe, schema).collect()[0] for _ in range(2)]
    assert all(r.zips > 0 for r in runs), runs  # workers import from a zip
    wrapper = "avro_parquet_spark_example_spark._zipimport"
    assert [(r.installer, r.rereads) for r in runs] == [(wrapper, 0)] * 2, runs
